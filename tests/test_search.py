"""Query-path parity: Spark engine vs golden model, rank-identical top-k.

Covers ref_compat (conjunctive AND + 80% prune + normalized tf-sum) and BM25,
compressed-vs-flat equivalence, and block-max pruning exactness.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from searchengine_spark.operators.search import search, search_flat
from tests.conftest import load_queries

QUERIES = load_queries()
K = 10


def _spark_topk(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _assert_rank_identical(got, expected, ctx):
    assert len(got) == len(expected), (ctx, got, expected)
    for (gd, gs), (ed, es) in zip(got, expected):
        assert gd == ed, (ctx, got, expected)
        assert abs(gs - es) < 1e-9, (ctx, gd, gs, es)


@pytest.mark.parametrize("query", QUERIES)
def test_ref_compat_rank_identical(index_ref, golden_ref, query):
    got = _spark_topk(search(index_ref, query, k=K, mode="ref_compat"))
    expected = golden_ref.search(query, k=K, mode="ref_compat")
    _assert_rank_identical(got, expected, ("ref_compat", query))


@pytest.mark.parametrize("query", QUERIES)
def test_bm25_rank_identical(index_general, golden_general, query):
    got = _spark_topk(search(index_general, query, k=K, mode="bm25"))
    expected = golden_general.search(query, k=K, mode="bm25")
    _assert_rank_identical(got, expected, ("bm25", query))


@pytest.mark.parametrize("query", QUERIES[:6])
def test_pruned_equals_exhaustive(index_general, query):
    pruned = _spark_topk(search(index_general, query, k=K, mode="bm25", prune_blocks=True))
    full = _spark_topk(search(index_general, query, k=K, mode="bm25", prune_blocks=False))
    _assert_rank_identical(pruned, full, ("wand", query))


@pytest.mark.parametrize("query", QUERIES[:6])
def test_flat_equals_compressed(index_ref, golden_ref, query):
    flat = [(r["doc_id"], r["score"]) for r in
            search_flat(index_ref, query, k=K, mode="ref_compat").collect()]
    expected = golden_ref.search(query, k=K, mode="ref_compat")
    _assert_rank_identical(flat, expected, ("flat", query))


def test_empty_query(index_general):
    assert search(index_general, "", k=K).count() == 0
    assert search(index_general, "   !!! ", k=K).count() == 0


def test_metadata_projection(index_general, golden_general):
    """Q9: top-k rows carry the doc metadata, matching the source row."""
    rows = search(index_general, "лес дом", k=5, mode="bm25").collect()
    assert rows, "expected matches for 'лес дом'"
    by_key = {(d["conv_id"], d["turn_idx"]): d for d in golden_general.docs}
    for r in rows:
        src = by_key[(r["conv_id"], r["turn_idx"])]
        assert r["role"] == src["role"]
        assert (r["tool"] or None) == (src["tool"] or None)


@pytest.mark.parametrize("rmode", ["bm25", "ref_compat", "scoped"])
def test_paged_dictionary_resolution(index_general, monkeypatch, rmode):
    """Dictionary sharding above TERMS_LOCAL_MAX (roadmap #5): term
    resolution goes through the LRU page cache — the first query pays one
    page-fetch job per cold page, a repeat query sharing those pages pays
    ZERO, and results are identical to the driver-cached path. Both
    branches of resolve_terms return identical row dicts in every mode."""
    import searchengine_spark.operators.search as S

    qterms = sorted({t for q in QUERIES for t in S._query_terms(q, "general")})
    driver = S._resolve_terms_driver(index_general, qterms, rmode)
    idx = dict(index_general)
    idx["stats"] = dict(index_general["stats"])
    idx.pop("_terms_pdf", None)
    idx.pop("_terms_page_cache", None)
    monkeypatch.setattr(S, "TERMS_LOCAL_MAX", 0)  # force the paged path
    assert S._resolve_terms_driver(idx, qterms, rmode) is None
    paged = S.resolve_terms(idx, qterms, rmode)
    idx.pop("_terms_page_cache")

    def by_term(rows):
        return sorted(rows, key=lambda r: r["term"])

    assert driver and by_term(paged) == by_term(driver)
    assert set(driver[0]) == {"term", "term_id", "df", "max_score",
                              "max_tf", "min_dl"}
    kw = {"scope": "conv000"} if rmode == "scoped" else {"mode": rmode}
    fetches: list[int] = []
    orig = S._fetch_terms_page

    def counting(index, page):
        fetches.append(page)
        return orig(index, page)

    monkeypatch.setattr(S, "_fetch_terms_page", counting)
    got1 = S.search(idx, "лес дом", k=5, **kw).collect()
    n_cold = len(fetches)
    assert n_cold >= 1  # cold pages fetched once
    got2 = S.search(idx, "лес дом", k=5, **kw).collect()
    assert len(fetches) == n_cold  # warm repeat: zero resolution jobs
    base = S.search(index_general, "лес дом", k=5, **kw).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got2] == \
           [(r["doc_id"], round(r["score"], 9)) for r in base]
    assert [(r["doc_id"], round(r["score"], 9)) for r in got1] == \
           [(r["doc_id"], round(r["score"], 9)) for r in base]


def test_paged_dictionary_pruned_on_saved_index(spark, index_general,
                                                tmp_path_factory, monkeypatch):
    """A saved big-dictionary index partitions terms by term_page; the page
    fetch must hit PartitionFilters (directory pruning, not a scan)."""
    import io
    from contextlib import redirect_stdout

    import searchengine_spark.operators.search as S
    from searchengine_spark.plans.manifest import load_index, save_index

    path = str(tmp_path_factory.mktemp("paged_idx"))
    idx = dict(index_general)
    idx["stats"] = dict(index_general["stats"])
    idx["stats"]["n_terms"] = 200_000  # pretend big → page-partitioned save
    save_index(idx, path)
    loaded = load_index(spark, path)
    assert "term_page" in loaded["terms"].columns
    page = S._term_page("лес")
    buf = io.StringIO()
    with redirect_stdout(buf):
        loaded["terms"].filter(F.col("term_page") == page).explain(mode="formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "term_page" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    # and resolution through the paged path matches the direct dictionary
    monkeypatch.setattr(S, "TERMS_LOCAL_MAX", 0)
    rows = S._resolve_terms_paged(loaded, ["лес", "дом"], "bm25")
    direct = {r["term"]: r for r in
              loaded["terms"].filter(F.col("term").isin(["лес", "дом"])).collect()}
    assert {r["term_id"] for r in rows} == {r["term_id"] for r in direct.values()}


def test_explain_query_strategy(index_general, index_ref):
    """explain_query reports the engine's actual choices: resolution,
    cache split, WAND gating + θ path, scope kind, bounds mode."""
    from searchengine_spark.operators.search import (PRUNE_MIN_POSTINGS,
                                                     explain_query)
    ex = explain_query(index_general, "лес дом", mode="bm25")
    assert ex["analyzed"] and all(t["idf"] > 0 for t in ex["terms"])
    assert ex["bounds"] == "stored_exact"
    assert ex["sum_df_direct"] == sum(t["df"] for t in ex["terms"]
                                      if not t["cached"])
    # tiny corpus → below the WAND cost gate
    assert ex["wand"]["prunes"] is False
    assert str(PRUNE_MIN_POSTINGS) in ex["wand"]["why"]
    # forcing pruning flips the decision and picks the driver θ path
    ex2 = explain_query(index_general, "лес дом", prune_blocks=True)
    assert ex2["wand"]["prunes"] is True
    assert ex2["wand"]["theta_path"] == "driver_max_by"
    # contiguous conv-prefix scope
    ex3 = explain_query(index_general, "лес дом", scope="conv000")
    assert ex3["scope"]["kind"] == "contiguous_range"
    assert ex3["scope"]["site_semantics"] is True
    # ref_compat reports the 80%-rule prunes (if any) and no WAND
    ex4 = explain_query(index_ref, "лес дом", mode="ref_compat")
    assert ex4["wand"]["prunes"] is False
    assert "ref_compat" in ex4["wand"]["why"]
    assert all(t["idf"] is None for t in ex4["terms"] if t["pruned"])
