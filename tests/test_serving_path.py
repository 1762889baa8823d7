"""Per-query costs of the serving path: dictionary resolution through the
per-index term map (rows equal the dictionary table's, in value, type and
frame order), one column-built hot-tier frame with the same dtypes at
every exit, one fetch job for a query's cold hot-tier terms, no eager
empty result frame in a matching ``search()``, and empty exits that start
no task."""

from __future__ import annotations

import warnings

import pandas as pd
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import searchengine_spark.operators.hot as H
import searchengine_spark.operators.search as S
from searchengine_spark.operators.indexer import build_index
from tests.conftest import load_queries

QUERIES = load_queries()


def _qterms(index) -> list[list[str]]:
    """Every reference query's analysed terms, plus a duplicate of the
    first term and a term absent from the dictionary."""
    out = []
    for q in QUERIES:
        qt = S._query_terms(q, index["mode"], index.get("dictionary", "fixture"))
        out.append(qt + qt[:1] + ["nosuchterm"])
    return out


def _reference(terms_pdf: pd.DataFrame, n_docs: int, qterms, mode) -> list[dict]:
    """Rows of ``qterms`` read off the collected dictionary in frame order."""
    q = set(qterms)
    out = []
    for rec in terms_pdf.to_dict("records"):
        if rec["term"] not in q:
            continue
        if mode == "ref_compat" and not rec["df"] / n_docs < S.PRUNE_THRESHOLD:
            continue

        def opt(c, cast):
            v = rec.get(c)
            return None if v is None or pd.isna(v) else cast(v)

        out.append({"term": rec["term"], "term_id": int(rec["term_id"]),
                    "df": int(rec["df"]), "max_score": opt("max_score", float),
                    "max_tf": opt("max_tf", int), "min_dl": opt("min_dl", int)})
    return out


def _typed(per_query):
    return [[[(k, v, type(v)) for k, v in r.items()] for r in rows]
            for rows in per_query]


def _dictionaries(index):
    """The full dictionary, a legacy one without bound columns, and one
    whose bounds are null on every other term."""
    nulls = index["terms"]
    for c in ("max_score", "max_tf", "min_dl"):
        nulls = nulls.withColumn(c, F.when(F.col("term_id") % 2 == 0, None)
                                 .otherwise(F.col(c)))
    return {"full": index["terms"],
            "legacy": index["terms"].select("term", "term_id", "df"),
            "null_bounds": nulls.localCheckpoint(eager=True)}


@pytest.mark.parametrize("dictionary", ["full", "legacy", "null_bounds"])
@pytest.mark.parametrize("mode", ["bm25", "ref_compat", "scoped"])
def test_resolution_matches_dictionary_table(index_general, monkeypatch,
                                             dictionary, mode):
    terms = _dictionaries(index_general)[dictionary]
    idx = {k: v for k, v in index_general.items() if not k.startswith("_")}
    idx["terms"] = terms
    idx["stats"] = dict(index_general["stats"])
    tpdf = terms.toPandas()
    n_docs = idx["stats"]["n_docs"]
    cases = _qterms(idx)
    expected = [_reference(tpdf, n_docs, qt, mode) for qt in cases]
    assert any(expected)
    driver = [S.resolve_terms(idx, qt, mode) for qt in cases]
    assert _typed(driver) == _typed(expected)
    if dictionary == "legacy":
        assert all(r["max_score"] is None for rows in driver for r in rows)
    # returned rows are fresh dicts: mutating one leaves the cache intact
    driver[0][0]["df"] = -1
    assert S.resolve_terms(idx, cases[0], mode) == expected[0]

    # the paged branch: page order, then the page frame's order
    monkeypatch.setattr(S, "TERMS_LOCAL_MAX", 0)
    paged_idx = {k: v for k, v in idx.items() if not k.startswith("_")}
    paged = [S.resolve_terms(paged_idx, qt, mode) for qt in cases]
    by_page = [sorted(rows, key=lambda r: S._term_page(r["term"]))
               for rows in expected]
    assert _typed(paged) == _typed(by_page)


def test_term_map_follows_the_driver_frame(index_general):
    """A fresh ``_terms_pdf`` gets a fresh map: dropping the frame forces
    a new resolution from the (here shrunk) dictionary."""
    idx = {k: v for k, v in index_general.items() if not k.startswith("_")}
    idx["stats"] = dict(index_general["stats"])
    qt = S._query_terms("лес дом", "general")
    full = S.resolve_terms(idx, qt, "bm25")
    assert len(full) == 2
    idx["terms"] = index_general["terms"].filter(F.col("term") != qt[0])
    assert S.resolve_terms(idx, qt, "bm25") == full  # cached frame + map
    idx.pop("_terms_pdf")
    assert [r["term"] for r in S.resolve_terms(idx, qt, "bm25")] == [qt[1]]


@pytest.fixture(scope="module")
def hot_index(spark):
    rows = [("c0", 0, "alpha beta gamma"), ("c1", 0, "alpha beta"),
            ("c2", 0, "gamma delta"), ("c3", 0, "delta epsilon alpha"),
            ("c4", 1, "beta beta zeta")]
    df = spark.createDataFrame(
        [(c, t, "user", text, None, "2026-01-01 00:00:00")
         for c, t, text in rows],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string").withColumn("ts", F.col("ts").cast("timestamp"))
    return build_index(df, mode="general", bucket_range=64, block_size=16)


def _cold(index):
    idx = dict(index)
    idx.pop("_hotcache", None)
    return idx


def test_hot_frames_share_dtypes_at_every_exit(hot_index, monkeypatch):
    idx = _cold(hot_index)
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        frames = {
            "hit": H.hot_search(idx, "alpha gamma"),
            "ref_compat": H.hot_search(idx, "alpha beta", mode="ref_compat"),
            "empty": H.hot_search(idx, "beta delta", mode="ref_compat"),
            "no_terms": H.hot_search(idx, "nosuchterm"),
        }
        monkeypatch.setattr(H, "HOT_MAX_DF_FETCH", 0)
        frames["fallback"] = H.hot_search(idx, "alpha gamma")
        monkeypatch.undo()
        many = H.hot_search_many(idx, {"a": "alpha", "b": "nosuchterm",
                                       "c": "delta zeta"}, k=3)
    for name in ("hit", "ref_compat", "fallback"):
        assert len(frames[name]) > 0, name
    assert len(frames["empty"]) == len(frames["no_terms"]) == 0
    want = frames["hit"].dtypes
    assert str(want["ts"]) == "datetime64[ns]"
    assert want["doc_id"] == want["turn_idx"] == "int64"
    for name, pdf in frames.items():
        pd.testing.assert_series_equal(pdf.dtypes, want, obj=name)
    pd.testing.assert_series_equal(many.dtypes.drop("query_id"), want)
    assert set(many["query_id"]) == {"a", "c"}
    pd.testing.assert_frame_equal(frames["fallback"], frames["hit"])


def test_cold_terms_cost_one_fetch_job(hot_index, monkeypatch):
    sc = hot_index["docs"].sparkSession.sparkContext
    idx = _cold(hot_index)
    S.resolve_terms(idx, ["alpha"], "bm25")  # dictionary collected up front
    calls = []
    orig = H._fetch_term_rows

    def fetch(index, term_ids):
        calls.append(sorted(term_ids))
        sc.setJobGroup("hot-fetch", "cold terms of one query")
        try:
            return orig(index, term_ids)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(H, "_fetch_term_rows", fetch)
    got = H.hot_search(idx, "alpha beta gamma")
    assert len(calls) == 1 and len(calls[0]) == 3
    assert len(sc.statusTracker().getJobIdsForGroup("hot-fetch")) == 1
    exp = S.search(hot_index, "alpha beta gamma", k=10,
                   prune_blocks=False).toPandas()
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert [round(s, 9) for s in got["score"]] == \
           [round(s, 9) for s in exp["score"]]
    # a warm repeat fetches nothing
    H.hot_search(idx, "alpha beta gamma")
    assert len(calls) == 1


def test_matching_search_builds_no_empty_frame(index_general, monkeypatch):
    calls = []
    orig = SparkSession.createDataFrame

    def counting(self, *a, **kw):
        calls.append(a[:2])
        return orig(self, *a, **kw)

    monkeypatch.setattr(SparkSession, "createDataFrame", counting)
    # the distributed path
    rows = S.search(index_general, "лес дом", k=5, prune_blocks=False).collect()
    assert rows and calls == []
    assert S.search(index_general, "nosuchterm", k=5,
                    prune_blocks=False).collect() == []
    assert len(calls) == 1  # the empty result is built where it is returned
    # the driver tier: its answer is the one Arrow-built frame
    del calls[:]
    got = S.search(index_general, "лес дом", k=5).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == \
        [(r["doc_id"], round(r["score"], 9)) for r in rows]
    assert len(calls) == 1
    assert S.search(index_general, "nosuchterm", k=5).collect() == []
    assert len(calls) == 2


def test_empty_exits_have_no_partitions(index_general):
    """The export and flat-postings operators' empty answers are built by
    ``search._empty``: zero partitions, so a collect starts no task, and
    the same schema as a list-built empty frame."""
    spark = index_general["docs"].sparkSession
    for df, cols in (
            (S.search_select(index_general, "nosuchterm"),
             "doc_id long, conv_id string, turn_idx int, role string, "
             "tool string, ts timestamp, nt long, score double"),
            (S.search_select(index_general, "nosuchterm", with_text=True),
             "doc_id long, conv_id string, turn_idx int, role string, "
             "tool string, ts timestamp, nt long, score double, text string"),
            (S.search_flat(index_general, "nosuchterm"),
             "doc_id long, score double")):
        assert df.rdd.getNumPartitions() == 0
        assert df.schema == spark.createDataFrame([], cols).schema
        assert df.collect() == []
