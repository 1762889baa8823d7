"""explain_score: per-(doc, term) breakdown must reassemble search's scores.

The Elasticsearch `_explain` analog; weights are the exact additive terms
of the doc score, so Σ weight per doc == search()'s reported score (bm25)
and == the raw tf_sum (ref_compat, whose reported score further divides by
the match-set max).
"""

from __future__ import annotations

import pytest

from searchengine_spark.operators.search import explain_score, search

K = 10


@pytest.mark.parametrize("query", ["лес дом", "система файл код"])
def test_weights_sum_to_bm25_score(index_general, query):
    hits = {r["doc_id"]: r["score"]
            for r in search(index_general, query, k=K, mode="bm25").collect()}
    rows = explain_score(index_general, query, k=K).collect()
    by_doc: dict[int, float] = {}
    for r in rows:
        by_doc[r["doc_id"]] = by_doc.get(r["doc_id"], 0.0) + r["weight"]
    assert set(by_doc) == set(hits)
    for did, s in hits.items():
        assert abs(by_doc[did] - s) < 1e-9, (did, by_doc[did], s)


def test_ref_compat_weights_are_tf(index_ref, golden_ref):
    q = "лес дом"
    rows = explain_score(index_ref, q, k=K, mode="ref_compat").collect()
    for r in rows:
        assert r["weight"] == float(r["tf"])
        assert golden_ref.tf[r["doc_id"]][r["term"]] == r["tf"]


def test_components_match_golden(index_general, golden_general):
    q = "ошибка лес"
    rows = explain_score(index_general, q, k=K).collect()
    assert rows, "expected matches"
    for r in rows:
        assert golden_general.df[r["term"]] == r["df"]
        assert golden_general.tf[r["doc_id"]][r["term"]] == r["tf"]
        assert golden_general.dl[r["doc_id"]] == r["dl"]
        assert abs(golden_general._idf(r["term"]) - r["idf"]) < 1e-12


def test_explicit_doc_ids(index_general):
    q = "лес дом"
    top = [r["doc_id"] for r in search(index_general, q, k=5).collect()]
    rows = explain_score(index_general, q, doc_ids=top[:2]).collect()
    assert {r["doc_id"] for r in rows} <= set(top[:2])
    assert rows


def test_oov_empty(index_general):
    assert explain_score(index_general, "феноменальность").count() == 0


def test_term_vectors_match_golden(index_general, golden_general):
    from searchengine_spark.operators.search import term_vectors
    ids = [0, 5, 17]
    rows = term_vectors(index_general, ids).collect()
    got = {(r["doc_id"], r["term"]): (r["tf"], r["df"]) for r in rows}
    exp = {(d, t): (tf, golden_general.df[t])
           for d in ids for t, tf in golden_general.tf[d].items()}
    assert got == exp
    # single id, no df
    one = term_vectors(index_general, 5, include_df=False).collect()
    assert {(r["doc_id"], r["term"]): r["tf"] for r in one} == \
        {(5, t): tf for t, tf in golden_general.tf[5].items()}


def test_doc_term_weights_reproduce_search(index_general):
    """Corpus-wide sparse vectors: per-doc weight sums over the query's
    resolved terms == search scores, bit-for-bit at 1e-9."""
    from searchengine_spark.operators.search import doc_term_weights, search
    from pyspark.sql import functions as F
    q = "ошибка лес"
    hits = {r["doc_id"]: r["score"]
            for r in search(index_general, q, k=10).collect()}
    terms = [r["term"] for r in
             index_general["terms"].filter(
                 F.col("term").isin(["ошибка", "лес"])).collect()]
    assert terms
    w = (doc_term_weights(index_general, as_terms=True)
         .filter(F.col("term").isin(terms))
         .groupBy("doc_id").agg(F.sum("weight").alias("s")).collect())
    sums = {r["doc_id"]: r["s"] for r in w}
    for did, score in hits.items():
        assert abs(sums[did] - score) < 1e-9


def test_doc_term_weights_restricted_and_ids(index_general):
    from searchengine_spark.operators.search import doc_term_weights
    rows = doc_term_weights(index_general, doc_ids=[3, 7]).collect()
    assert rows and {r["doc_id"] for r in rows} <= {3, 7}
    assert all(isinstance(r["term_id"], int) for r in rows)
    assert all(r["weight"] > 0 for r in rows)


def test_explain_theta_path_follows_exclusions(index_general, monkeypatch):
    """With WAND engaged, a NOT clause moves phase 1 to the distributed
    job (θ must come from docs the anti-join keeps): explain_query
    reports the θ path that search() takes, with and without exclude."""
    from searchengine_spark.operators import search as S

    monkeypatch.setattr(S, "PRUNE_MIN_POSTINGS", 1)
    taken = []
    orig = S._driver_theta
    monkeypatch.setattr(S, "_driver_theta",
                        lambda *a: taken.append(orig(*a)) or taken[-1])
    for exclude, path in ((None, "driver_max_by"),
                          ("ошибка", "distributed_phase1")):
        wand = S.explain_query(index_general, "лесом", exclude=exclude)["wand"]
        assert wand["prunes"] and wand["theta_path"] == path, (exclude, wand)
        del taken[:]
        S.search(index_general, "лесом", exclude=exclude).collect()
        assert taken[-1:] == [path == "driver_max_by"], (exclude, taken)
