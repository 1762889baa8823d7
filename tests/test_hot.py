"""Driver-side hot-query tier (operators/hot.py): row parity with the
distributed ``search()`` path, zero Spark touches on a warm repeat, LRU
eviction, k1/b param parity, and the big-term fallback."""

from __future__ import annotations

import pandas as pd
import pytest

from searchengine_spark.operators.hot import hot_search
from searchengine_spark.operators.indexer import build_index
from searchengine_spark.operators.search import search


@pytest.fixture(scope="module")
def hot_index(spark):
    rows = []
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    for i in range(60):
        text = " ".join(words[j % len(words)]
                        for j in range(i, i + 3 + i % 5))
        rows.append((f"c{i:03d}", 0, "user", text, None,
                     "2026-01-01 00:00:00"))
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    return build_index(df, mode="general", bucket_range=64, block_size=16)


QUERIES = ["alpha", "alpha gamma", "beta delta epsilon", "zeta alpha",
           "nosuchterm", "gamma gamma beta"]


def _spark_rows(index, q, k=10, **kw):
    return [(r["doc_id"], r["conv_id"], r["turn_idx"], round(r["score"], 9))
            for r in search(index, q, k=k, mode="bm25", prune_blocks=False,
                            **kw).collect()]


def _hot_rows(pdf: pd.DataFrame):
    return [(int(r.doc_id), r.conv_id, int(r.turn_idx),
             round(float(r.score), 9))
            for r in pdf.itertuples(index=False)]


def test_hot_parity_with_search(hot_index):
    for q in QUERIES:
        exp = _spark_rows(hot_index, q)
        got = _hot_rows(hot_search(hot_index, q, k=10))
        assert got == exp, q


def test_hot_parity_custom_k1_b(hot_index):
    exp = _spark_rows(hot_index, "alpha gamma", k1=0.9, b=0.4)
    got = _hot_rows(hot_search(hot_index, "alpha gamma", k1=0.9, b=0.4))
    assert got == exp


def test_warm_hit_touches_no_spark(hot_index):
    """After one populating call, a repeat of the same query must answer
    from driver memory alone: swap every DataFrame in the index for a
    tripwire and re-run."""
    q = "alpha gamma"
    first = _hot_rows(hot_search(hot_index, q, k=10))

    class _Boom:
        def __getattr__(self, name):
            raise AssertionError(f"warm hot_search touched Spark (.{name})")

    trapped = dict(hot_index)  # shares _hotcache/_terms_pdf/stats refs
    trapped["postings"] = _Boom()
    trapped["docs"] = _Boom()
    trapped["terms"] = _Boom()
    again = _hot_rows(hot_search(trapped, q, k=10))
    assert again == first
    # a DIFFERENT combination of already-cached terms is also job-free
    # (per-term cache, not a (query → result) cache)
    exp = _spark_rows(hot_index, "gamma")
    # winners of "gamma" were all seen while scoring "alpha gamma"?
    # not necessarily — so allow the meta fill to run on the REAL index,
    # then re-ask through the tripwire copy
    _ = hot_search(hot_index, "gamma", k=10)
    got = _hot_rows(hot_search(trapped, "gamma", k=10))
    assert got == exp


def test_big_term_falls_back_to_search(hot_index, monkeypatch):
    import searchengine_spark.operators.hot as H
    monkeypatch.setattr(H, "HOT_MAX_DF_FETCH", 0)
    exp = _spark_rows(hot_index, "alpha gamma")
    got = _hot_rows(hot_search(hot_index, "alpha gamma", k=10))
    assert got == exp
    with pytest.raises(ValueError, match="HOT_MAX_DF_FETCH"):
        hot_search(hot_index, "alpha gamma", fallback=False)


def test_lru_eviction_respects_budget(hot_index, monkeypatch):
    import searchengine_spark.operators.hot as H
    from searchengine_spark.operators.search import resolve_terms
    # one entry at a time: each term fits the budget, both do not
    dfs = [r["df"] for r in resolve_terms(hot_index, ["alpha", "beta"],
                                          "bm25")]
    assert len(dfs) == 2 and sum(dfs) > max(dfs)
    monkeypatch.setattr(H, "HOT_MAX_ROWS", max(dfs))
    idx = dict(hot_index)
    idx.pop("_hotcache", None)
    _ = hot_search(idx, "alpha", k=5)
    _ = hot_search(idx, "beta", k=5)
    cache = idx["_hotcache"]
    assert len(cache["terms"]) == 1  # alpha evicted, beta resident
    # and correctness survives eviction (alpha refetches)
    exp = _spark_rows(hot_index, "alpha")
    assert _hot_rows(hot_search(idx, "alpha", k=10)) == exp


def test_upserted_index_starts_cold_no_staleness(hot_index, spark):
    """upsert returns a NEW dict → the hot tier can never serve stale
    rows; the upserted index's hot answers match its own search()."""
    from pyspark.sql import functions as F

    from searchengine_spark.operators.upsert import upsert_turns
    delta = spark.createDataFrame(
        [("c000", 0, "user", "alpha alpha alpha zeta", None,
          "2026-01-02 00:00:00")],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    up = upsert_turns(hot_index, delta)
    assert "_hotcache" not in up
    exp = _spark_rows(up, "alpha zeta")
    assert _hot_rows(hot_search(up, "alpha zeta", k=10)) == exp


def test_hot_search_many_parity(hot_index):
    from searchengine_spark.operators.hot import hot_search_many
    qs = {"qa": "alpha gamma", "qb": "beta delta", "qc": "nosuchterm"}
    out = hot_search_many(hot_index, qs, k=5)
    for qid, q in qs.items():
        exp = _spark_rows(hot_index, q, k=5)
        sub = out[out["query_id"] == qid].drop(columns=["query_id"])
        assert _hot_rows(sub) == exp, qid


def test_hot_ref_compat_parity(hot_index):
    """ref_compat through the hot tier == search(mode='ref_compat'):
    Q3 prune, conjunctive AND over resolved terms, tf-sum rank, max
    normalization — row for row."""
    for q in ["alpha gamma", "alpha beta gamma", "zeta", "nosuchterm",
              "alpha nosuchterm"]:
        exp = [(r["doc_id"], r["conv_id"], round(r["score"], 9))
               for r in search(hot_index, q, k=10, mode="ref_compat",
                               prune_blocks=False).collect()]
        got = [(int(r.doc_id), r.conv_id, round(float(r.score), 9))
               for r in hot_search(hot_index, q, k=10,
                                   mode="ref_compat")
               .itertuples(index=False)]
        assert got == exp, q


def test_hot_rejects_unknown_mode(hot_index):
    with pytest.raises(ValueError, match="bm25/ref_compat"):
        hot_search(hot_index, "alpha", mode="phrase")


def test_hot_tier_never_stale_across_streaming(spark, tmp_path_factory):
    """VERDICT r4 #8 tripwire: a warm hot tier must never serve
    pre-upsert rows across the STREAMING maintenance path. The serving
    contract is load-per-snapshot: the cache lives inside the loaded
    index dict, a streamed merge commits a NEW snapshot, and serving the
    new snapshot means load_index → a fresh dict → cold cache. This test
    warms the old snapshot's tier, streams a merge that rewrites the hot
    doc, reloads current, and pins (a) the reload carries no cache and
    (b) its hot answers equal its own search() — i.e. post-upsert rows."""
    import pandas as pd

    from searchengine_spark.plans.manifest import (commit_snapshot,
                                                   load_index, read_current,
                                                   save_index)
    from searchengine_spark.streaming.stream_index import stream_index_turns

    def _mk(rows):
        pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                          "text", "tool", "ts"])
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        return spark.createDataFrame(
            pdf, schema="conv_id string, turn_idx int, role string, "
                        "text string, tool string, ts timestamp")

    t0 = "2026-01-01 00:00:00"
    base_rows = [("c0", 0, "user", "alpha beta", None, t0),
                 ("c1", 0, "user", "alpha gamma", None, t0),
                 ("c2", 0, "user", "beta gamma", None, t0)]
    root = str(tmp_path_factory.mktemp("hot_stream_root"))
    src = str(tmp_path_factory.mktemp("hot_stream_src"))
    ckpt = str(tmp_path_factory.mktemp("hot_stream_ckpt"))
    base = build_index(_mk(base_rows), mode="general",
                       bucket_range=64, block_size=16)
    save_index(base, f"{root}/snap-00000")
    commit_snapshot(root, "snap-00000")

    served_old = load_index(spark, read_current(root))
    warm_old = _hot_rows(hot_search(served_old, "alpha", k=10))
    assert {r[1] for r in warm_old} == {"c0", "c1"}

    # streamed merge rewrites c0 to drop 'alpha' and adds an alpha-heavy c3
    _mk([("c0", 0, "user", "beta beta", None, "2026-01-02 00:00:00"),
         ("c3", 0, "user", "alpha alpha alpha", None,
          "2026-01-02 00:00:00")]).write.parquet(f"{src}/d1")
    q = stream_index_turns(spark, f"{src}/*", root, ckpt,
                           available_now=True)
    q.awaitTermination(120)

    served_new = load_index(spark, read_current(root))
    assert served_new is not served_old
    assert "_hotcache" not in served_new  # reload starts cold
    exp = _spark_rows(served_new, "alpha")
    got = _hot_rows(hot_search(served_new, "alpha", k=10))
    assert got == exp
    convs = {r[1] for r in got}
    assert "c3" in convs and "c0" not in convs  # post-upsert rows only
    # the OLD dict's warm cache is untouched (snapshot isolation, not
    # shared mutable state): same pre-upsert answer as before the merge
    assert _hot_rows(hot_search(served_old, "alpha", k=10)) == warm_old


def test_dense_and_unique_merges_identical(hot_index, monkeypatch):
    """The O(n) dense bincount merge and the O(n log n) unique-merge
    fallback (id space > HOT_DENSE_MAX) must produce row-identical
    frames — bm25 multi-term and ref_compat both."""
    import searchengine_spark.operators.hot as H
    for mode in ("bm25", "ref_compat"):
        idx = dict(hot_index)
        idx.pop("_hotcache", None)
        a = hot_search(idx, "alpha gamma", k=10, mode=mode)
        monkeypatch.setattr(H, "HOT_DENSE_MAX", 0)
        b = hot_search(idx, "alpha gamma", k=10, mode=mode)
        monkeypatch.undo()
        assert _hot_rows(a) == _hot_rows(b), mode
        if mode == "bm25":
            assert _hot_rows(a) == _spark_rows(hot_index, "alpha gamma")
