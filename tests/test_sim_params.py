"""Query-time BM25 similarity parameters (`search(k1=, b=)`).

The Elasticsearch per-query similarity surface (no reference analog — its
score has no parameters at all, a raw tf sum at
services/SearchingServiceImpl.java:300-329). Invariants:

- explicit defaults are BIT-identical to the unparameterized call;
- custom (k1, b) match a brute-force golden recomputation, including the
  k1=0 (presence-only) and b=0 / b=1 (no / full length norm) edges;
- WAND block-max pruning stays EXACT under custom params (the stored
  bounds are stale, so the stats-independent (block_max_tf, block_min_dl)
  derivation is evaluated under the query's constants);
- postings-cache hits score bit-identically to the decode path under
  custom params (entries store raw (tf, dl) rows, not scores);
- the batched / grouped / export / explain surfaces agree with the single
  path under the same params;
- validation: ref_compat rejects the params, out-of-range values raise.
"""

from __future__ import annotations

import pytest

import searchengine_spark.operators.pcache as PC
from searchengine_spark.operators.pcache import clear_postings_cache
from searchengine_spark.operators.search import (
    explain_score, search, search_grouped, search_many, search_select)
from tests.golden_model import golden_analyze

K = 10
QUERIES = ["лес дом", "система файл код", "ошибка лес", "timeout merge"]
PARAMS = [(0.9, 0.4), (2.0, 0.0), (0.0, 1.0), (1.2, 0.75)]


def _golden_topk(g, query: str, k1: float, b: float, k: int = K):
    qterms = sorted(set(golden_analyze(query, g.mode)))
    acc: dict[int, float] = {}
    for t in qterms:
        if g.df.get(t, 0) == 0:
            continue
        idf = g._idf(t)
        for did in range(g.n_docs):
            tf = g.tf[did].get(t, 0)
            if tf:
                s = idf * (tf * (k1 + 1.0)) / (
                    tf + k1 * (1.0 - b + b * g.dl[did] / g.avgdl))
                acc[did] = acc.get(did, 0.0) + s
    scored = sorted(acc.items(), key=lambda p: (-round(p[1], 9), p[0]))
    return scored[:k]


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_explicit_defaults_bit_identical(index_general):
    for q in QUERIES:
        base = _rows(search(index_general, q, k=K))
        expl = _rows(search(index_general, q, k=K, k1=1.2, b=0.75))
        assert expl == base, q  # same floats, bitwise


@pytest.mark.parametrize("k1,b", PARAMS)
def test_custom_params_brute_force(index_general, golden_general, k1, b):
    for q in QUERIES:
        got = _rows(search(index_general, q, k=K, k1=k1, b=b,
                           prune_blocks=False))
        expected = _golden_topk(golden_general, q, k1, b)
        assert len(got) == len(expected), (q, k1, b, got, expected)
        for (gd, gs), (ed, es) in zip(got, expected):
            assert gd == ed and abs(gs - es) < 1e-9, (q, k1, b, got, expected)


@pytest.mark.parametrize("k1,b", [(0.9, 0.4), (0.0, 1.0), (3.0, 0.2)])
def test_wand_exact_under_custom_params(index_general, k1, b):
    """Forced block-max pruning == exhaustive decode under custom params:
    the stale stored bounds are replaced by the stats-independent
    derivation evaluated at the query's (k1, b)."""
    for q in QUERIES:
        pruned = _rows(search(index_general, q, k=K, k1=k1, b=b,
                              prune_blocks=True))
        full = _rows(search(index_general, q, k=K, k1=k1, b=b,
                            prune_blocks=False))
        assert pruned == full, (q, k1, b)


def test_pcache_bit_identical_under_custom_params(index_general, monkeypatch):
    """Cache hits score raw (tf, dl) rows at query time, so a warm cache
    returns bitwise the same result for ANY (k1, b) — including switching
    params between queries against the same warm entries."""
    clear_postings_cache(index_general)
    try:
        q = QUERIES[0]
        monkeypatch.setattr(PC, "PCACHE_MIN_DF", 10**9)  # bypass
        cold_a = _rows(search(index_general, q, k=K, k1=0.9, b=0.4,
                              prune_blocks=False))
        cold_b = _rows(search(index_general, q, k=K, k1=2.0, b=0.1,
                              prune_blocks=False))
        monkeypatch.setattr(PC, "PCACHE_MIN_DF", 1)  # everything eligible
        _rows(search(index_general, q, k=K, prune_blocks=False))  # populate
        assert index_general["_pcache"]["entries"]
        warm_a = _rows(search(index_general, q, k=K, k1=0.9, b=0.4,
                              prune_blocks=False))
        warm_b = _rows(search(index_general, q, k=K, k1=2.0, b=0.1,
                              prune_blocks=False))
        assert warm_a == cold_a and warm_b == cold_b
    finally:
        clear_postings_cache(index_general)


def test_search_many_matches_single(index_general):
    qd = {f"q{i}": q for i, q in enumerate(QUERIES)}
    batched = search_many(index_general, qd, k=K, k1=0.9, b=0.4)
    got = {}
    for r in batched.collect():
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in qd.items():
        single = _rows(search(index_general, q, k=K, k1=0.9, b=0.4))
        assert got.get(qid, []) == single, q


def test_grouped_and_select_and_explain_agree(index_general):
    q = "ошибка лес"
    k1, b = 0.5, 0.9
    hits = search(index_general, q, k=K, k1=k1, b=b).collect()
    assert hits
    # explain: per-(doc, term) weights sum to the search score bit-for-bit
    exp = explain_score(index_general, q, k=K, k1=k1, b=b).collect()
    sums: dict[int, float] = {}
    for r in exp:
        sums[r["doc_id"]] = sums.get(r["doc_id"], 0.0) + r["weight"]
    for h in hits:
        assert abs(sums[h["doc_id"]] - h["score"]) < 1e-9
    # select: the full-export score for the top doc matches
    sel = {r["doc_id"]: r["score"]
           for r in search_select(index_general, q, k1=k1, b=b).collect()}
    for h in hits:
        assert abs(sel[h["doc_id"]] - h["score"]) < 1e-9
    # grouped(max): each group's score is its best turn's single score
    grp = search_grouped(index_general, q, k=5, agg="max",
                         k1=k1, b=b).collect()
    by_doc = {r["doc_id"]: r["score"]
              for r in search_select(index_general, q, k1=k1, b=b).collect()}
    for g in grp:
        assert abs(g["best_doc_score"] - by_doc[g["best_doc_id"]]) < 1e-9


def test_k1_zero_is_presence_scoring(index_general, golden_general):
    """k1=0 degenerates to score = Σ idf over matched terms — tf and dl
    drop out entirely."""
    q = "лес дом"
    got = _rows(search(index_general, q, k=K, k1=0.0, b=0.75))
    g = golden_general
    qterms = sorted(set(golden_analyze(q, g.mode)))
    acc: dict[int, float] = {}
    for t in qterms:
        if g.df.get(t, 0) == 0:
            continue
        for did in range(g.n_docs):
            if g.tf[did].get(t, 0):
                acc[did] = acc.get(did, 0.0) + g._idf(t)
    expected = sorted(acc.items(), key=lambda p: (-round(p[1], 9), p[0]))[:K]
    for (gd, gs), (ed, es) in zip(got, expected):
        assert gd == ed and abs(gs - es) < 1e-9


def test_validation(index_general):
    with pytest.raises(ValueError, match="ref_compat"):
        search(index_general, "лес", mode="ref_compat", k1=0.9)
    with pytest.raises(ValueError, match="k1"):
        search(index_general, "лес", k1=-0.1)
    with pytest.raises(ValueError, match="b must"):
        search(index_general, "лес", b=1.5)
    with pytest.raises(ValueError):
        search_many(index_general, {"a": "лес"}, mode="ref_compat", b=0.2)


def test_search_many_per_query_params(index_general):
    """A per-query {query_id: k1/b} dict replays an A/B similarity sweep
    in one job, row-identical to per-query search(k1=, b=) — including a
    query left at the defaults."""
    qd = {"a": QUERIES[0], "b": QUERIES[1], "c": QUERIES[2]}
    k1d = {"a": 0.9, "b": 2.0}          # "c" defaults
    bd = {"a": 0.4, "b": 0.0}
    batched = search_many(index_general, qd, k=K, k1=k1d, b=bd)
    got = {}
    for r in batched.collect():
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in qd.items():
        single = _rows(search(index_general, q, k=K,
                              k1=k1d.get(qid), b=bd.get(qid)))
        assert got.get(qid, []) == single, qid


def test_search_many_per_query_validation(index_general):
    with pytest.raises(ValueError, match="b must"):
        search_many(index_general, {"a": "лес"}, b={"a": 2.0})
    with pytest.raises(ValueError, match="ref_compat"):
        search_many(index_general, {"a": "лес"}, mode="ref_compat",
                    k1={"a": 0.5})


def _golden_boosted(g, query: str, boosts: dict, k: int = K):
    qterms = sorted(set(golden_analyze(query, g.mode)))
    bl = {}
    for w, bv in boosts.items():
        for lem in golden_analyze(w, g.mode):
            bl[lem] = float(bv)
    acc: dict[int, float] = {}
    for t in qterms:
        if g.df.get(t, 0) == 0:
            continue
        idf = g._idf(t) * bl.get(t, 1.0)
        for did in range(g.n_docs):
            tf = g.tf[did].get(t, 0)
            if tf:
                s = idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75
                                                    * g.dl[did] / g.avgdl))
                acc[did] = acc.get(did, 0.0) + s
    return sorted(acc.items(), key=lambda p: (-round(p[1], 9), p[0]))[:k]


def test_term_boosts_brute_force_and_wand(index_general, golden_general):
    """Caret boosts scale the boosted term's additive contribution (idf
    scaling); block-max pruning stays exact because every bound consumer
    reads the boosted idf."""
    q, boosts = "лес дом", {"дом": 2.5}
    got = _rows(search(index_general, q, k=K, term_boosts=boosts,
                       prune_blocks=False))
    expected = _golden_boosted(golden_general, q, boosts)
    assert len(got) == len(expected)
    for (gd, gs), (ed, es) in zip(got, expected):
        assert gd == ed and abs(gs - es) < 1e-9
    pruned = _rows(search(index_general, q, k=K, term_boosts=boosts,
                          prune_blocks=True))
    assert pruned == got
    # a boosted term alone: every block bound must carry the boost, or
    # WAND's boosted θ prunes every block
    for bq, bb in (("дом", {"дом": 2.5}), ("лес дом", {"лес": 3.0})):
        exact = _rows(search(index_general, bq, k=K, term_boosts=bb,
                             prune_blocks=False))
        assert len(exact) == K
        assert _rows(search(index_general, bq, k=K, term_boosts=bb,
                            prune_blocks=True)) == exact, bq
    # neutral boost is a no-op
    assert _rows(search(index_general, q, k=K,
                        term_boosts={"дом": 1.0})) == _rows(
        search(index_general, q, k=K))


def test_grammar_caret_boost(index_general):
    """`word^2` in the query string == search(term_boosts=)."""
    from searchengine_spark.operators.querylang import query_search
    got = _rows(query_search(index_general, "лес дом^2.5", k=K))
    ref = _rows(search(index_general, "лес дом", k=K,
                       term_boosts={"дом": 2.5}))
    assert got == ref
    with pytest.raises(ValueError, match="bm25"):
        search(index_general, "лес", mode="ref_compat",
               term_boosts={"лес": 2.0})
    with pytest.raises(ValueError, match="must be > 0"):
        search(index_general, "лес", term_boosts={"лес": 0.0})


def test_prf_search_golden(index_general, golden_general):
    """RM3-lite PRF == a full golden recomputation: bm25 first pass →
    feedback-term selection by (fb tf desc, df asc, term asc) → expanded
    query with fb_weight-scaled expansion contributions."""
    import math

    from searchengine_spark.operators.search import prf_search
    g = golden_general
    query, FB_D, FB_T, W = "ошибка лес", 5, 3, 0.5
    got = _rows(prf_search(index_general, query, k=K,
                           fb_docs=FB_D, fb_terms=FB_T, fb_weight=W))

    def bm25(terms, weights, k):
        acc = {}
        for t in terms:
            if g.df.get(t, 0) == 0:
                continue
            idf = g._idf(t) * weights.get(t, 1.0)
            for did in range(g.n_docs):
                tf = g.tf[did].get(t, 0)
                if tf:
                    s = idf * (tf * 2.2) / (
                        tf + 1.2 * (0.25 + 0.75 * g.dl[did] / g.avgdl))
                    acc[did] = acc.get(did, 0.0) + s
        return sorted(acc.items(), key=lambda p: (-round(p[1], 9), p[0]))[:k]

    orig = sorted(set(golden_analyze(query, g.mode)))
    first = [d for d, _ in bm25(orig, {}, FB_D)]
    fbtf: dict = {}
    for did in first:
        for t, c in g.tf[did].items():
            fbtf[t] = fbtf.get(t, 0) + c
    cand = [t for t in fbtf if t not in set(orig) and g.df.get(t, 0) > 0]
    sel = sorted(cand, key=lambda t: (-fbtf[t], g.df[t], t))[:FB_T]
    expected = bm25(sorted(set(orig) | set(sel)),
                    {t: W for t in sel}, K)
    assert len(got) == len(expected)
    for (gd, gs), (ed, es) in zip(got, expected):
        assert gd == ed and abs(gs - es) < 1e-9
    # expansion actually engaged (the corpus has co-occurring vocabulary)
    assert sel
