"""S6 incremental upsert vs full rebuild (SURVEY.md §2.1 S6, §5.4).

Reference semantics under test (reference:
services/IndexingPageServiceImpl.java:37-135): replacing a doc decrements df
for its old lemmas (lemma deleted at df==0), removes old postings, inserts
the new analysis; new docs are plain inserts. The upserted index must be
query-equivalent to rebuilding from scratch on the mutated corpus.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from searchengine_spark.operators.indexer import build_index
from searchengine_spark.operators.search import search
from searchengine_spark.operators.upsert import merge_into_path, upsert_turns
from searchengine_spark.plans.manifest import commit_snapshot, read_current

SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def _mk_df(spark, rows):
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    return spark.createDataFrame(pdf, schema=SCHEMA)


def _row(conv, turn, text):
    return (conv, turn, "user", text, None, "2026-01-01 00:00:00")


@pytest.fixture(scope="module")
def tiny(spark):
    base_rows = [
        _row("c0", 0, "alpha beta"),
        _row("c0", 1, "beta gamma"),
        _row("c1", 0, "gamma delta alpha"),
        _row("c1", 1, "unique beta beta"),
    ]
    delta_rows = [
        _row("c1", 1, "gamma gamma epsilon"),  # replace: kills 'unique', beta 3→2
        _row("c2", 0, "alpha beta"),           # new conversation
        _row("c0", 2, "delta"),                # new turn in existing conv
    ]
    mutated = {(r[0], r[1]): r for r in base_rows}
    for r in delta_rows:
        mutated[(r[0], r[1])] = r
    base = build_index(_mk_df(spark, base_rows), mode="general",
                       bucket_range=256, block_size=32)
    delta = _mk_df(spark, delta_rows)
    upserted = upsert_turns(base, delta, bucket_range=256, block_size=32)
    rebuilt = build_index(_mk_df(spark, list(mutated.values())), mode="general",
                          bucket_range=256, block_size=32)
    return base, delta, upserted, rebuilt


def test_terms_df_matches_rebuild(tiny):
    _, _, upserted, rebuilt = tiny
    up = {r["term"]: r["df"] for r in upserted["terms"].collect()}
    rb = {r["term"]: r["df"] for r in rebuilt["terms"].collect()}
    assert up == rb
    assert "unique" not in up  # df hit 0 → lemma deleted (ref :108-121)


def test_stats_match_rebuild(tiny):
    _, _, upserted, rebuilt = tiny
    assert upserted["stats"]["n_docs"] == rebuilt["stats"]["n_docs"]
    assert upserted["stats"]["total_tokens"] == rebuilt["stats"]["total_tokens"]
    assert abs(upserted["stats"]["avgdl"] - rebuilt["stats"]["avgdl"]) < 1e-12


def test_dead_term_postings_gone(tiny):
    base, _, upserted, _ = tiny
    dead_tid = [r["term_id"] for r in base["terms"].collect() if r["term"] == "unique"]
    assert dead_tid
    assert upserted["postings"].filter(F.col("term_id") == dead_tid[0]).count() == 0


@pytest.mark.parametrize("query,mode", [
    ("beta gamma", "bm25"), ("alpha", "bm25"),
    ("gamma epsilon", "bm25"), ("beta gamma", "ref_compat"),
])
def test_search_matches_rebuild(tiny, query, mode):
    _, _, upserted, rebuilt = tiny
    cols = ["conv_id", "turn_idx", "score"]
    got = [(r["conv_id"], r["turn_idx"], r["score"])
           for r in search(upserted, query, k=10, mode=mode).select(*cols).collect()]
    want = [(r["conv_id"], r["turn_idx"], r["score"])
            for r in search(rebuilt, query, k=10, mode=mode).select(*cols).collect()]
    assert [(c, t) for c, t, _ in got] == [(c, t) for c, t, _ in want]
    for (_, _, a), (_, _, b) in zip(got, want):
        assert abs(a - b) < 1e-9


def test_upsert_on_fixture_corpus(spark, corpus_df, index_general):
    """Micro-batch upsert over the session fixture: replace 3 turns + add 2,
    compare terms df and a hot+rare query against a scratch rebuild."""
    sample = corpus_df.filter((F.col("conv_id") == "conv000003") & (F.col("turn_idx") < 3))
    delta_rows = [(r["conv_id"], int(r["turn_idx"]), r["role"],
                   "лес ошибку timeout", r["tool"], str(r["ts"]))
                  for r in sample.collect()]
    delta_rows += [_row("zzz_new", 0, "лес дом merge"), _row("zzz_new", 1, "ошибка scan")]
    delta = _mk_df(spark, delta_rows)

    upserted = upsert_turns(index_general, delta, bucket_range=256, block_size=32)

    mutated = corpus_df.join(delta.select("conv_id", "turn_idx"),
                             ["conv_id", "turn_idx"], "left_anti").unionByName(delta)
    rebuilt = build_index(mutated, mode="general", bucket_range=256, block_size=32)

    up = {r["term"]: r["df"] for r in upserted["terms"].collect()}
    rb = {r["term"]: r["df"] for r in rebuilt["terms"].collect()}
    assert up == rb

    for q in ("лес ошибку", "timeout merge"):
        cols = ["conv_id", "turn_idx", "score"]
        got = search(upserted, q, k=10, mode="bm25").select(*cols).collect()
        want = search(rebuilt, q, k=10, mode="bm25").select(*cols).collect()
        assert [(r["conv_id"], r["turn_idx"]) for r in got] == \
               [(r["conv_id"], r["turn_idx"]) for r in want]
        for a, b in zip(got, want):
            assert abs(a["score"] - b["score"]) < 1e-9


def test_merge_into_path_snapshot_flow(spark, tiny, tmp_path_factory):
    """Persisted MERGE: save → commit → merge_into_path → CURRENT flips →
    loaded search equals the in-memory upsert."""
    from searchengine_spark.plans.manifest import load_index, save_index
    base, delta, upserted, _ = tiny
    root = str(tmp_path_factory.mktemp("snapshots"))
    save_index(base, f"{root}/snap-00000")
    commit_snapshot(root, "snap-00000")

    new_dir = merge_into_path(spark, root, delta)
    assert read_current(root) == new_dir

    loaded = load_index(spark, new_dir)
    assert loaded["stats"].get("tf_bounds") is True
    cols = ["conv_id", "turn_idx", "score"]
    got = search(loaded, "beta gamma", k=10, mode="bm25").select(*cols).collect()
    want = search(upserted, "beta gamma", k=10, mode="bm25").select(*cols).collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in got] == \
           [(r["conv_id"], r["turn_idx"]) for r in want]
    for a, b in zip(got, want):
        assert abs(a["score"] - b["score"]) < 1e-9


def test_upsert_chain_bounds_sound_and_tight(spark, corpus_df):
    """VERDICT r2 #4: over a long chain of micro-batch upserts, the WAND
    bounds must stay (a) SOUND — every per-term driver bound ≥ the true max
    doc score under the final stats — and (b) TIGHT — within a small factor
    of a fresh rebuild's exact bound (formerly the dl→0 fallback loosened
    forever), and pruned search must stay rank-identical to exhaustive."""
    import numpy as np
    from searchengine_spark.operators.indexer import K1, B

    base = corpus_df.filter(F.col("conv_id") < "conv000040")
    index = build_index(base, mode="general", bucket_range=256, block_size=32)
    corpus = {(r["conv_id"], int(r["turn_idx"])): r for r in base.collect()}
    # 5-round upsert chain: each round replaces one turn and inserts one doc
    for i in range(5):
        delta_rows = [
            _row("conv000003", i, f"лес merge ошибка round{i}"),
            _row(f"zz_up{i:02d}", 0, "timeout scan дом лес"),
        ]
        delta = _mk_df(spark, delta_rows)
        index = upsert_turns(index, delta, bucket_range=256, block_size=32)
        for r in delta.collect():
            corpus[(r["conv_id"], int(r["turn_idx"]))] = r
    assert index["stats"].get("tf_bounds") is True

    mutated = _mk_df(spark, [tuple(r) for r in corpus.values()])
    rebuilt = build_index(mutated, mode="general", bucket_range=256, block_size=32)

    # (a)+(b): per-term bound quality, exactly as the query path derives it
    n_docs, avgdl = index["stats"]["n_docs"], index["stats"]["avgdl"]
    true_max = {}  # term → exact max BM25 score under the FINAL stats
    flat = (rebuilt["postings_flat"]
            .join(rebuilt["docs"].select("doc_id", "dl"), "doc_id")
            .join(rebuilt["terms"].select("term_id", "term", "df"), "term_id"))
    for r in flat.collect():
        idf = float(np.log(1.0 + (n_docs - r["df"] + 0.5) / (r["df"] + 0.5)))
        s = idf * (r["tf"] * (K1 + 1.0)) / (
            r["tf"] + K1 * (1.0 - B + B * r["dl"] / avgdl))
        true_max[r["term"]] = max(true_max.get(r["term"], 0.0), s)
    dfs = {r["term"]: r["df"] for r in index["terms"].collect()}
    for r in index["terms"].collect():
        t = r["term"]
        if r["max_tf"] is None:
            continue
        idf = float(np.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5)))
        bmt, bmd = float(r["max_tf"]), float(r["min_dl"] or 0)
        bound = idf * bmt * (K1 + 1.0) / (bmt + K1 * (1.0 - B)
                                          + K1 * B * bmd / avgdl)
        assert bound >= true_max[t] - 1e-9, f"UNSOUND bound for {t}"
        assert bound <= true_max[t] * 2.0 + 1e-9, f"loose bound for {t}"

    # rank-identity: pruned == exhaustive on the chained index
    for q in ("лес ошибку", "timeout merge", "дом"):
        cols = ["conv_id", "turn_idx", "score"]
        got = search(index, q, k=10, mode="bm25", prune_blocks=True).select(*cols).collect()
        want = search(index, q, k=10, mode="bm25", prune_blocks=False).select(*cols).collect()
        assert [(r["conv_id"], r["turn_idx"]) for r in got] == \
               [(r["conv_id"], r["turn_idx"]) for r in want]
        for a, b in zip(got, want):
            assert abs(a["score"] - b["score"]) < 1e-9


def test_upsert_into_emptied_index_matches_fresh_build(spark):
    """Delete every turn, then upsert a delta: the new keys take doc_ids
    from 0 (no max(doc_id) left to append after), n_docs is the delta
    size, and search over the result ranks and scores like a fresh build
    over the delta alone."""
    from searchengine_spark.operators.upsert import delete_turns

    base = build_index(_mk_df(spark, [_row("c0", 0, "alpha beta"),
                                      _row("c0", 1, "beta gamma")]),
                       mode="general", bucket_range=256, block_size=32)
    emptied = delete_turns(base, F.lit(True))
    assert emptied["stats"]["n_docs"] == 0
    delta_rows = [_row("d0", 0, "alpha beta beta"),
                  _row("d1", 0, "gamma delta alpha")]
    up = upsert_turns(emptied, _mk_df(spark, delta_rows))
    assert up["stats"]["n_docs"] == len(delta_rows)
    fresh = build_index(_mk_df(spark, delta_rows), mode="general",
                        bucket_range=256, block_size=32)
    cols = ["conv_id", "turn_idx", "score"]
    for q in ("alpha", "beta gamma", "delta"):
        got = search(up, q, k=10, mode="bm25").select(*cols).collect()
        want = search(fresh, q, k=10, mode="bm25").select(*cols).collect()
        assert got
        assert [(r["conv_id"], r["turn_idx"]) for r in got] == \
               [(r["conv_id"], r["turn_idx"]) for r in want]
        for a, b in zip(got, want):
            assert abs(a["score"] - b["score"]) < 1e-9
