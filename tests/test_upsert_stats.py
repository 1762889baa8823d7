"""Dictionary size through incremental writes: ``upsert_turns`` and
``delete_turns`` carry ``stats["n_terms"]`` (old + fresh − dead terms), so
the first read, ``compact_index`` and ``save_index`` need no
``terms.count()`` job after a write."""

from __future__ import annotations

import pandas as pd
import pytest

from searchengine_spark.operators.indexer import build_index
from searchengine_spark.operators.upsert import delete_turns, upsert_turns

SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def _mk_df(spark, rows):
    pdf = pd.DataFrame([(c, t, "user", text, None, "2026-01-01 00:00:00")
                        for c, t, text in rows],
                       columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    return spark.createDataFrame(pdf, schema=SCHEMA)


def _terms(index) -> set:
    return {r["term"] for r in index["terms"].select("term").collect()}


@pytest.fixture(scope="module")
def base(spark):
    return build_index(_mk_df(spark, [("c0", 0, "alpha beta"),
                                      ("c0", 1, "beta gamma"),
                                      ("c1", 0, "gamma delta alpha"),
                                      ("c1", 1, "unique beta beta")]),
                       mode="general", bucket_range=256, block_size=32)


def _check(index):
    assert index["stats"]["n_terms"] == index["terms"].count()


def test_upsert_adding_and_killing_terms_carries_n_terms(spark, base):
    before = _terms(base)
    up = upsert_turns(base, _mk_df(spark, [("c1", 1, "gamma epsilon"),
                                          ("c2", 0, "zeta alpha")]))
    after = _terms(up)
    assert before - after == {"unique"} and after - before == {"epsilon", "zeta"}
    _check(up)


def test_delete_carries_n_terms(spark, base):
    keys = _mk_df(spark, [("c1", 1, "")]).select("conv_id", "turn_idx")
    gone = delete_turns(base, keys)
    assert "unique" not in _terms(gone)
    _check(gone)


def test_upsert_chain_carries_n_terms(spark, base):
    idx = base
    for rows in ([("c3", 0, "eta theta")],
                 [("c3", 0, "theta iota"), ("c0", 1, "kappa")],
                 [("c4", 0, "lambda alpha"), ("c0", 0, "beta")]):
        idx = upsert_turns(idx, _mk_df(spark, rows))
        _check(idx)


def test_stats_without_n_terms_stay_without(spark, base):
    """An older snapshot without ``n_terms`` keeps the count fallbacks."""
    legacy = dict(base, stats={k: v for k, v in base["stats"].items()
                               if k != "n_terms"})
    up = upsert_turns(legacy, _mk_df(spark, [("c5", 0, "mu")]))
    assert "n_terms" not in up["stats"]


def _max_id(index) -> int:
    from pyspark.sql import functions as F
    top = index["docs"].agg(F.max("doc_id")).collect()[0][0]
    return -1 if top is None else top


def test_max_doc_id_carried_through_writes(spark, base, tmp_path):
    """``stats["max_doc_id"]`` equals the docs' max(doc_id) after a build,
    an upsert, a delete of the largest doc, a 3-upsert chain, compaction
    with reassigned ids and a save/load, so no upsert collects it."""
    from searchengine_spark.operators.compact import compact_index
    from searchengine_spark.plans.manifest import load_index, save_index
    assert base["stats"]["max_doc_id"] == _max_id(base)
    up = upsert_turns(base, _mk_df(spark, [("c1", 1, "gamma epsilon"),
                                          ("c2", 0, "zeta alpha")]))
    assert up["stats"]["max_doc_id"] == _max_id(up)
    newest = _mk_df(spark, [("c2", 0, "")]).select("conv_id", "turn_idx")
    gone = delete_turns(up, newest)
    assert gone["stats"]["max_doc_id"] == _max_id(gone) < _max_id(up)
    inner = _mk_df(spark, [("c0", 1, "")]).select("conv_id", "turn_idx")
    holed = delete_turns(gone, inner)
    assert holed["stats"]["max_doc_id"] == _max_id(holed)
    idx = holed
    for rows in ([("c3", 0, "eta theta")],
                 [("c3", 0, "theta iota"), ("c0", 1, "kappa")],
                 [("c4", 0, "lambda alpha"), ("c0", 0, "beta")]):
        idx = upsert_turns(idx, _mk_df(spark, rows))
        assert idx["stats"]["max_doc_id"] == _max_id(idx)
    comp = compact_index(idx, reassign_ids=True)
    assert comp["stats"]["max_doc_id"] == _max_id(comp) < _max_id(idx)
    save_index(idx, str(tmp_path / "snap"))
    loaded = load_index(spark, str(tmp_path / "snap"))
    assert loaded["stats"]["max_doc_id"] == _max_id(loaded) == _max_id(idx)


def test_stats_without_max_doc_id_fall_back_to_a_collect(spark, base):
    """An older snapshot without ``max_doc_id`` gets its ids from the
    max(doc_id) collect, and the upsert's stats carry it from then on."""
    legacy = dict(base, stats={k: v for k, v in base["stats"].items()
                               if k != "max_doc_id"})
    up = upsert_turns(legacy, _mk_df(spark, [("c6", 0, "nu")]))
    assert up["stats"]["max_doc_id"] == _max_id(up) == _max_id(base) + 1
