"""``search()``'s two tiers: a plain bm25/ref_compat query is answered by
the driver tier (operators/hot.py) with the rows, scores (9 dp), columns
and types of the exhaustive distributed decode (``prune_blocks=False``),
on built, upserted, deleted, emptied and loaded indexes; collecting its
frame starts no Spark job; ``explain_query`` reports the tier ``search``
takes; threads may share one index dict; ``ts`` is exact under any driver
time zone; and an empty answer has no partitions."""

from __future__ import annotations

import os
import threading
import time
import uuid

import pandas as pd
import pytest

import searchengine_spark.operators.hot as H
import searchengine_spark.operators.search as S
from tests.conftest import load_queries

QUERIES = load_queries() + ["nosuchterm", "и в на"]
K = 10
# (mode, extra search() arguments): the golden shapes of the driver tier
SHAPES = [("bm25", {}), ("ref_compat", {}), ("bm25", {"exclude": "лес"}),
          ("ref_compat", {"exclude": "код"}), ("bm25", {"k1": 0.9, "b": 0.4})]
SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
          "tool string, ts timestamp")


def _rows(rows) -> list[tuple]:
    return [(r["doc_id"], r["conv_id"], r["turn_idx"], r["role"], r["tool"],
             r["ts"], round(r["score"], 9)) for r in rows]


def _collect_jobs(df) -> tuple:
    """(rows, Spark jobs the collect started)."""
    sc = df.sparkSession.sparkContext
    gid = f"driver-tier-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "collect")
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(gid))


def _check_parity(index, queries):
    for q in queries:
        for mode, kw in SHAPES:
            tier = S.explain_query(index, q, k=K, mode=mode,
                                   exclude=kw.get("exclude"))["tier"]
            assert tier["name"] == "driver", (q, mode, kw, tier)
            got = S.search(index, q, k=K, mode=mode, **kw)
            exp = S.search(index, q, k=K, mode=mode, prune_blocks=False, **kw)
            assert got.dtypes == exp.dtypes, (q, mode, kw)
            rows, jobs = _collect_jobs(got)
            if rows:
                assert jobs == 0, (q, mode, kw)
            else:
                assert got.rdd.getNumPartitions() == 0, (q, mode, kw)
            assert _rows(rows) == _rows(exp.collect()), (q, mode, kw)


def _delta(spark, rows):
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                      "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    return spark.createDataFrame(pdf, schema=SCHEMA)


@pytest.fixture(scope="module")
def upserted(spark, index_general, corpus_pdf):
    from searchengine_spark.operators.upsert import upsert_turns
    old = corpus_pdf.iloc[:3]
    rows = [(r.conv_id, int(r.turn_idx), r.role, "лес дом код ошибка",
             r.tool, "2026-02-01 10:00:00") for r in old.itertuples()]
    rows.append(("zz-new", 0, "user", "система файл код лес", None,
                 "2026-02-01 11:00:00"))
    return upsert_turns(index_general, _delta(spark, rows))


def test_built_index_parity(index_general):
    _check_parity(index_general, QUERIES)


def test_upserted_deleted_loaded_parity(spark, upserted, tmp_path):
    from searchengine_spark.operators.upsert import delete_turns
    from searchengine_spark.plans.manifest import load_index, save_index
    few = QUERIES[:6]
    _check_parity(upserted, few)
    keys = _delta(spark, [("zz-new", 0, "user", "", None,
                           "2026-02-01 11:00:00")]).select("conv_id",
                                                           "turn_idx")
    _check_parity(delete_turns(upserted, keys), few)
    save_index(upserted, str(tmp_path / "snap"))
    _check_parity(load_index(spark, str(tmp_path / "snap")), few)


def test_emptied_index_parity(spark):
    from searchengine_spark.operators.indexer import build_index
    from searchengine_spark.operators.upsert import delete_turns
    rows = [("c0", 0, "user", "лес дом", None, "2026-01-01 00:00:00"),
            ("c1", 0, "user", "дом код", None, "2026-01-01 00:00:01")]
    built = build_index(_delta(spark, rows), mode="general",
                        bucket_range=64, block_size=16)
    empty = delete_turns(built, _delta(spark, rows).select("conv_id",
                                                           "turn_idx"))
    assert empty["stats"]["n_docs"] == 0
    _check_parity(empty, ["лес дом", "код"])


def test_explain_tier_matches_search(index_general, monkeypatch):
    served = []
    real = H._top_k
    monkeypatch.setattr(H, "_top_k",
                        lambda *a, **kw: served.append(1) or real(*a, **kw))
    cases = [({}, "driver"), ({"scope": "conv00001"}, "distributed"),
             ({"prune_blocks": False}, "distributed"),
             ({"prune_blocks": True}, "distributed"),
             ({"mode": "ref_compat"}, "driver")]
    for kw, want in cases:
        ex = S.explain_query(index_general, "лес дом", **kw)
        assert ex["tier"]["name"] == want, kw
        del served[:]
        S.search(index_general, "лес дом", **kw).collect()
        assert len(served) == (want == "driver"), kw
    for opts in ({"offset": 1}, {"with_titles": True}, {"min_match": 1},
                 {"collapse": "conv_id"}, {"term_boosts": {"лес": 2.0}}):
        del served[:]
        S.search(index_general, "лес дом", **opts).collect()
        assert not served, opts
    # budgets: a term over HOT_MAX_DF_FETCH, or Σdf over HOT_MAX_ROWS
    for name in ("HOT_MAX_DF_FETCH", "HOT_MAX_ROWS"):
        with monkeypatch.context() as m:
            m.setattr(H, name, 1)
            ex = S.explain_query(index_general, "лес дом")
            assert ex["tier"]["name"] == "distributed", name
            assert name in ex["tier"]["why"]
            del served[:]
            S.search(index_general, "лес дом").collect()
            assert not served, name
    with monkeypatch.context() as m:  # NOT terms count toward the budget
        m.setattr(H, "HOT_MAX_DF_FETCH",
                  max(r["df"] for r in S.resolve_terms(
                      index_general, S._query_terms("лес", "general"),
                      "bm25")))
        ex = S.explain_query(index_general, "лес", exclude="ошибка")
        assert ex["tier"]["name"] == "distributed"
    # from the WAND gate's bound on, search() keeps the block pipeline;
    # hot_search, which names the tier, keeps it up to the LRU budgets
    with monkeypatch.context() as m:
        m.setattr(S, "PRUNE_MIN_POSTINGS", 1)
        ex = S.explain_query(index_general, "лес дом")
        assert ex["tier"]["name"] == "distributed"
        assert "PRUNE_MIN_POSTINGS" in ex["tier"]["why"]
        assert ex["wand"]["prunes"]
        del served[:]
        S.search(index_general, "лес дом").collect()
        assert not served
        H.hot_search(index_general, "лес дом")
        assert len(served) == 1


def test_hot_search_follows_the_tier_budgets(index_general, monkeypatch):
    served = []
    real = H._top_k
    monkeypatch.setattr(H, "_top_k",
                        lambda *a, **kw: served.append(1) or real(*a, **kw))
    want = H.hot_search(index_general, "лес дом", k=K)
    assert len(served) == 1
    monkeypatch.setattr(H, "HOT_MAX_ROWS", 1)
    del served[:]
    got = H.hot_search(index_general, "лес дом", k=K)  # falls back
    assert not served
    pd.testing.assert_frame_equal(got, want)
    with pytest.raises(ValueError, match="HOT_MAX_ROWS"):
        H.hot_search(index_general, "лес дом", fallback=False)


def test_distributed_call_resolves_terms_once(index_general, monkeypatch):
    calls = []
    real = S.resolve_terms
    monkeypatch.setattr(S, "resolve_terms",
                        lambda *a, **kw: calls.append(a[1]) or real(*a, **kw))
    monkeypatch.setattr(S, "PRUNE_MIN_POSTINGS", 1)  # over the WAND bound
    S.search(index_general, "лес дом", k=K, exclude="ошибка").collect()
    assert calls == [S._query_terms("лес дом", "general"),
                     S._query_terms("ошибка", "general")]


def test_threads_share_one_index(index_general, monkeypatch):
    idx = dict(index_general)
    idx.pop("_hotcache", None)
    monkeypatch.setattr(H, "HOT_META_MAX", 30)  # force metadata evictions
    cases = [(q, mode, kw) for q in QUERIES[:5] for mode, kw in SHAPES[:3]]
    want = {i: _rows(S.search(idx, q, k=K, mode=m, **kw).collect())
            for i, (q, m, kw) in enumerate(cases)}
    idx.pop("_hotcache", None)
    errors, done = [], []

    def client(t):
        try:
            for j in range(25):
                i = (t * 7 + j) % len(cases)
                q, m, kw = cases[i]
                got = _rows(S.search(idx, q, k=K, mode=m, **kw).collect())
                if got != want[i]:
                    errors.append((t, j, cases[i]))
            done.append(t)
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append((t, repr(e)))

    threads = [threading.Thread(target=client, args=(t,)) for t in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []
    assert sorted(done) == list(range(8))


def test_ts_exact_under_a_non_utc_driver(index_general):
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        idx = dict(index_general)
        idx.pop("_hotcache", None)  # the metadata fill runs under this zone
        for q in ("лес дом", "ошибка"):
            got = S.search(idx, q, k=K).collect()
            exp = S.search(idx, q, k=K, prune_blocks=False).collect()
            assert got and [r["ts"] for r in got] == [r["ts"] for r in exp]
            pdf = H.hot_search(idx, q, k=K)
            assert list(pdf["ts"]) == list(
                S.search(idx, q, k=K, prune_blocks=False).toPandas()["ts"])
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time.tzset()


def test_empty_result_has_no_partitions(spark):
    schema = ("doc_id long, conv_id string, turn_idx int, role string, "
              "tool string, ts timestamp, score double")
    df = S._empty(spark, schema)()
    assert df.rdd.getNumPartitions() == 0
    assert df.schema == spark.createDataFrame([], schema).schema
    assert df.collect() == []
