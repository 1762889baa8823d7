"""Plan-regression guards (VERDICT r3 #8): the top query families'
physical plans must keep the shapes the 100 TB design depends on. A
refactor that silently introduces a cartesian product, a corpus-wide
Window, or un-prunes the bucket-partitioned postings scan fails HERE,
not in a production profile.

Guarded families: bm25 top-k, BM25F, phrase, querylang, passages —
each over a SAVED+LOADED index (the partition-pruned serving layout)."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

BANNED_NODES = ("CartesianProduct", "Window", "BroadcastNestedLoopJoin")


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _nodes(plan: str) -> list[str]:
    """Operator names from a formatted plan ('(3) SomeExec ...')."""
    return re.findall(r"^\(\d+\) (\w+)", plan, flags=re.M)


def _assert_guards(plan: str, family: str, want_bucket_prune: bool = True):
    nodes = _nodes(plan)
    for banned in BANNED_NODES:
        assert banned not in nodes, (
            f"{family}: {banned} in plan\n{plan[:4000]}")
    if want_bucket_prune:
        assert "PartitionFilters" in plan, (
            f"{family}: no PartitionFilters on any scan\n{plan[:4000]}")
        seg = plan.split("PartitionFilters", 1)[1][:400]
        assert "term_bucket" in seg or "term_bucket" in plan.split(
            "PartitionFilters", 1)[1], (
            f"{family}: postings scan not pruned by term_bucket")


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    for i in range(80):
        text = " ".join(words[(i + j) % len(words)] for j in range(6))
        rows.append((f"c{i:03d}", 0, "user", text, None,
                     "2026-01-01 00:00:00"))
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp"))


@pytest.fixture(scope="module")
def loaded_positional(spark, corpus, tmp_path_factory):
    from searchengine_spark.operators.indexer import build_index
    from searchengine_spark.plans.manifest import load_index, save_index
    p = str(tmp_path_factory.mktemp("plan_pos"))
    save_index(build_index(corpus, mode="general", with_positions=True,
                           bucket_range=64, block_size=16), p)
    return load_index(spark, p)


@pytest.fixture(scope="module")
def loaded_fielded(spark, corpus, tmp_path_factory):
    from searchengine_spark.operators.fielded import (build_fielded_index,
                                                      load_fielded_index,
                                                      save_fielded_index)
    p = str(tmp_path_factory.mktemp("plan_fld"))
    save_fielded_index(build_fielded_index(corpus, mode="general"), p)
    return load_fielded_index(spark, p)


@pytest.fixture(scope="module")
def loaded_passages(spark, corpus, tmp_path_factory):
    from searchengine_spark.operators.passages import build_passage_index
    from searchengine_spark.plans.manifest import load_index, save_index
    p = str(tmp_path_factory.mktemp("plan_pas"))
    docs = corpus.select(F.col("conv_id").alias("doc_id"),
                         F.col("text"))
    save_index(build_passage_index(docs, chunk_tokens=4, overlap=1), p)
    return load_index(spark, p)


def test_plan_bm25_topk(loaded_positional):
    from searchengine_spark.operators.search import search
    out = search(loaded_positional, "alpha gamma", k=10, mode="bm25",
                 prune_blocks=False)
    _assert_guards(_plan(out), "bm25")


def test_plan_bm25f(loaded_fielded):
    from searchengine_spark.operators.fielded import bm25f_search
    out = bm25f_search(loaded_fielded, "alpha gamma", k=10)
    _assert_guards(_plan(out), "bm25f")


def test_plan_phrase(loaded_positional):
    from searchengine_spark.operators.search import phrase_search
    out = phrase_search(loaded_positional, "alpha beta", k=10)
    _assert_guards(_plan(out), "phrase")


def test_plan_querylang(loaded_positional):
    from searchengine_spark.operators.querylang import query_search
    out = query_search(loaded_positional, 'alpha "beta gamma" -zeta',
                       k=10, mode="bm25")
    _assert_guards(_plan(out), "querylang")


def test_plan_passages(loaded_passages):
    from searchengine_spark.operators.passages import passage_search
    out = passage_search(loaded_passages, "alpha gamma", k=10, agg="max")
    _assert_guards(_plan(out), "passages")


def test_plan_collapse_window_is_match_set_only(loaded_positional):
    """collapse uses row_number — a Window IS expected, but it must sit
    above the match-set join, never over the corpus scan: the Window's
    subtree must contain the term-pruned postings path, not a bare
    full-table docs scan feeding it directly."""
    from searchengine_spark.operators.search import search
    out = search(loaded_positional, "alpha gamma", k=10, mode="bm25",
                 collapse="conv_id")
    plan = _plan(out)
    nodes = _nodes(plan)
    assert "CartesianProduct" not in nodes
    assert "Window" in nodes  # collapse legitimately windows the matches
    assert "PartitionFilters" in plan and "term_bucket" in plan.split(
        "PartitionFilters", 1)[1]
