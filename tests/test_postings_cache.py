"""Serving-tier postings cache (operators/pcache.py).

Invariants: cached and uncached queries return BIT-IDENTICAL rows (the
cached-row score is recomputed in codegen with the numpy decode path's
exact operation order), the cache is LRU-bounded with the running query's
terms pinned, WAND pruning stays exact when the query mixes cached and
direct terms, and `search_many` unions cached rows into its shared decode.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import searchengine_spark.operators.pcache as PC
from searchengine_spark.operators.pcache import clear_postings_cache, pcache_split
from searchengine_spark.operators.search import _query_terms, search, search_many
from tests.conftest import load_queries

QUERIES = load_queries()
K = 10
PREFIX = "conv00001"


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


@pytest.fixture
def cold(index_general):
    """Start and finish with a cold cache on the shared session index."""
    clear_postings_cache(index_general)
    yield index_general
    clear_postings_cache(index_general)


def test_cached_scores_bit_identical(cold, monkeypatch):
    """Cold (populating), warm (hitting) and cache-bypassed searches return
    the same doc ids AND the same float64 scores, bitwise."""
    index = cold
    for q in QUERIES[:6]:
        monkeypatch.setattr(PC, "PCACHE_MIN_DF", 10**9)  # bypass
        base = _rows(search(index, q, k=K, mode="bm25", prune_blocks=False))
        monkeypatch.setattr(PC, "PCACHE_MIN_DF", 1)  # everything eligible
        clear_postings_cache(index)
        populating = _rows(search(index, q, k=K, mode="bm25", prune_blocks=False))
        hitting = _rows(search(index, q, k=K, mode="bm25", prune_blocks=False))
        assert populating == base, q
        assert hitting == base, q
        assert index["_pcache"]["entries"], q  # the cache actually engaged


def test_ref_compat_and_scoped_parity(cold, monkeypatch):
    index = cold
    q = QUERIES[2]  # 2-term conjunction
    monkeypatch.setattr(PC, "PCACHE_MIN_DF", 10**9)
    base_ref = _rows(search(index, q, k=K, mode="ref_compat"))
    base_sc = _rows(search(index, q, k=K, mode="bm25", scope=PREFIX))
    monkeypatch.setattr(PC, "PCACHE_MIN_DF", 1)
    clear_postings_cache(index)
    assert _rows(search(index, q, k=K, mode="ref_compat")) == base_ref
    assert _rows(search(index, q, k=K, mode="ref_compat")) == base_ref  # warm
    assert _rows(search(index, q, k=K, mode="bm25", scope=PREFIX)) == base_sc
    assert _rows(search(index, q, k=K, mode="bm25", scope=PREFIX)) == base_sc


def test_wand_mixed_cache_exact(cold, monkeypatch):
    """prune_blocks=True with the query's hot terms cached and the rest
    direct == exhaustive with the cache bypassed (WAND exactness argument
    survives the split: M_t sums over all terms, skips hit direct blocks
    only)."""
    index = cold
    for q in (QUERIES[5], QUERIES[4], QUERIES[2]):
        qt = _query_terms(q, "general")
        dfs = sorted(r["df"] for r in
                     index["terms"].filter(F.col("term").isin(qt)).collect())
        if len(dfs) < 2 or dfs[0] == dfs[-1]:
            continue
        monkeypatch.setattr(PC, "PCACHE_MIN_DF", dfs[-1])  # max-df terms cached
        clear_postings_cache(index)
        pruned = _rows(search(index, q, k=K, mode="bm25", prune_blocks=True))
        assert index["_pcache"]["entries"], q  # split actually happened
        monkeypatch.setattr(PC, "PCACHE_MIN_DF", 10**9)
        clear_postings_cache(index)
        full = _rows(search(index, q, k=K, mode="bm25", prune_blocks=False))
        assert pruned == full, q


def test_all_cached_forced_prune_ok(cold, monkeypatch):
    """All terms cached + prune_blocks=True: nothing to prune, still exact,
    and the in-memory scan shows up in the executed plan."""
    index = cold
    q = QUERIES[2]
    monkeypatch.setattr(PC, "PCACHE_MIN_DF", 10**9)
    base = _rows(search(index, q, k=K, mode="bm25", prune_blocks=False))
    monkeypatch.setattr(PC, "PCACHE_MIN_DF", 1)
    clear_postings_cache(index)
    out = search(index, q, k=K, mode="bm25", prune_blocks=True)
    assert _rows(out) == base
    warm = search(index, q, k=K, mode="bm25", prune_blocks=True)
    assert _rows(warm) == base
    plan = warm._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan


def test_lru_eviction_and_pinning(cold, monkeypatch):
    index = cold
    monkeypatch.setattr(PC, "PCACHE_MIN_DF", 1)
    monkeypatch.setattr(PC, "PCACHE_MAX_ROWS", 10)
    c1, d1 = pcache_split(index, [{"term_id": 901, "df": 8}])
    assert c1 is not None and d1 == []
    pcache_split(index, [{"term_id": 902, "df": 8}])
    ents = index["_pcache"]["entries"]
    assert list(ents) == [("", 902)]  # 901 evicted (LRU); 902 pinned
    assert index["_pcache"]["rows"] == 8
    # a single query exceeding the budget runs over budget: both its terms
    # are pinned (902 evicted), trimming happens on the NEXT query
    pcache_split(index, [{"term_id": 903, "df": 8}, {"term_id": 904, "df": 8}])
    assert list(index["_pcache"]["entries"]) == [("", 903), ("", 904)]
    assert index["_pcache"]["rows"] == 16
    # a term bigger than the whole budget is never cached
    c4, d4 = pcache_split(index, [{"term_id": 905, "df": 99}])
    assert c4 is None and [r["term_id"] for r in d4] == [905]
    # ...and that next query trims the over-budget leftovers it doesn't use
    assert index["_pcache"]["rows"] <= 10


def test_explain_query_leaves_cache_untouched(cold, monkeypatch):
    """explain_query reports cache eligibility without touching the cache:
    with room for one term only, the term search() cached survives an
    explain_query on a different eligible term."""
    from searchengine_spark.operators.search import explain_query
    index = cold
    (ta,), (tb,) = _query_terms("лес", "general"), _query_terms("дом", "general")
    dfs = {r["term"]: r for r in index["terms"]
           .filter(F.col("term").isin([ta, tb])).collect()}
    monkeypatch.setattr(PC, "PCACHE_MIN_DF", 1)
    monkeypatch.setattr(PC, "PCACHE_MAX_ROWS",
                        max(dfs[ta]["df"], dfs[tb]["df"]))
    search(index, "лес", k=K, prune_blocks=False).collect()
    cached = [("", dfs[ta]["term_id"])]
    assert list(index["_pcache"]["entries"]) == cached
    ex = explain_query(index, "дом")
    assert [(t["term"], t["cached"]) for t in ex["terms"]] == [(tb, True)]
    assert list(index["_pcache"]["entries"]) == cached


def test_fielded_cache_parity(spark, monkeypatch):
    """bm25f_search with every field term cached == cache-bypassed, exactly
    (fielded scoring is JVM-side either way, so rows are identical by
    construction); entries are namespaced per field."""
    import pandas as pd

    from searchengine_spark.operators.fielded import bm25f_search, build_fielded_index

    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    docs = ["merge conflict in the scan tool", "scan the merge output twice",
            "gardens and weather", "merge merge merge storms"]
    rows = [(f"c{i:03d}", 0, "user", t, None, "2026-01-01 00:00:00")
            for i, t in enumerate(docs)]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                      "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    findex = build_fielded_index(spark.createDataFrame(pdf, schema=schema),
                                 mode="general")
    try:
        monkeypatch.setattr(PC, "PCACHE_MIN_DF", 10**9)
        base = _rows(bm25f_search(findex, "merge scan", k=4))
        monkeypatch.setattr(PC, "PCACHE_MIN_DF", 1)
        populating = _rows(bm25f_search(findex, "merge scan", k=4))
        hitting = _rows(bm25f_search(findex, "merge scan", k=4))
        assert populating == base
        assert hitting == base
        nss = {k[0] for k in findex["_pcache"]["entries"]}
        assert nss and all(ns.startswith("f:") for ns in nss)
    finally:
        clear_postings_cache(findex)


def test_search_many_uses_cache(cold, monkeypatch):
    index = cold
    batch = {"a": QUERIES[2], "b": QUERIES[4]}
    monkeypatch.setattr(PC, "PCACHE_MIN_DF", 10**9)
    base = search_many(index, batch, k=K).collect()
    monkeypatch.setattr(PC, "PCACHE_MIN_DF", 1)
    clear_postings_cache(index)
    populating = search_many(index, batch, k=K).collect()
    hitting = search_many(index, batch, k=K).collect()
    assert index["_pcache"]["entries"]
    for got in (populating, hitting):
        assert sorted([tuple(r) for r in got], key=lambda t: (t[0], t[1])) == \
            sorted([tuple(r) for r in base], key=lambda t: (t[0], t[1]))
