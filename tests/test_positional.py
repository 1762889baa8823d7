"""Contracts of the shared positional path (``_match_positions`` + the
ranking tail) that the per-family tests do not pin: near's exact distance
check at ``max_dist=0``, and the batched operators' cursor/offset guard."""

from __future__ import annotations

import pandas as pd
import pytest

from searchengine_spark.functions.analysis import analyze_text
from searchengine_spark.operators.search import (
    near_search, near_search_many, phrase_search_many, span_search_many)
from tests.test_phrase import XDOCS


@pytest.fixture(scope="module")
def xpos_index(spark):
    from searchengine_spark.operators.indexer import build_index
    pdf = pd.DataFrame([(f"x{i:03d}", 0, "user", t, None,
                         "2026-01-01 00:00:00") for i, t in enumerate(XDOCS)],
                       columns=["conv_id", "turn_idx", "role", "text",
                                "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    sdf = spark.createDataFrame(
        pdf, schema="conv_id string, turn_idx int, role string, text string,"
                    " tool string, ts timestamp")
    return build_index(sdf, mode="general", bucket_range=256, block_size=32,
                       with_positions=True)


def _golden_near(ta: str, tb: str, w: int) -> dict:
    out = {}
    for i, text in enumerate(XDOCS):
        toks = analyze_text(text, "general")
        n = sum(1 for x, a in enumerate(toks) for y, b in enumerate(toks)
                if a == ta and b == tb and abs(x - y) <= w)
        if n:
            out[f"x{i:03d}"] = n
    return out


@pytest.mark.parametrize("w", [0, 1, 2])
def test_near_max_dist_matches_golden(xpos_index, w):
    exp = _golden_near("alpha", "beta", w)
    single = {r["conv_id"]: r["n_pairs"] for r in
              near_search(xpos_index, "alpha", "beta", max_dist=w,
                          k=100).collect()}
    batched = {r["conv_id"]: r["n_pairs"] for r in
               near_search_many(xpos_index, {"q": ("alpha", "beta")},
                                max_dist=w, k=100).collect()}
    assert single == exp and batched == exp, (w, single, batched, exp)
    if w == 1:
        assert exp  # adjacent pairs exist: the w=0 emptiness is not vacuous


def test_near_negative_max_dist_raises(xpos_index):
    with pytest.raises(ValueError, match="max_dist"):
        near_search(xpos_index, "alpha", "beta", max_dist=-1)
    with pytest.raises(ValueError, match="max_dist"):
        near_search_many(xpos_index, {"q": ("alpha", "beta")}, max_dist=-1)


@pytest.mark.parametrize("call", [
    lambda idx, **kw: phrase_search_many(idx, {"q": "alpha beta"}, **kw),
    lambda idx, **kw: near_search_many(idx, {"q": ("alpha", "beta")}, **kw),
    lambda idx, **kw: span_search_many(idx, {"q": "alpha beta"}, **kw),
], ids=["phrase", "near", "span"])
def test_batched_rejects_offset_with_search_after(xpos_index, call):
    with pytest.raises(ValueError, match="mutually exclusive"):
        call(xpos_index, offset=1, search_after=(1, 0))
