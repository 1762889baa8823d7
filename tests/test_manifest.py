"""Checkpointed build + kill-and-resume (O3/O4/S5, SURVEY.md §5.5).

Reference semantics re-expressed: site status rows INDEXING/INDEXED/FAILED
(reference: model/SiteEntity.java:27-35, dto/indexing/SiteIndexer.java:64-84)
become per-partition manifest rows; destructive truncate-and-reload
(dto/indexing/SiteIndexer.java:108-129) becomes idempotent resume that skips
DONE partitions and reproduces the identical index.
"""

from __future__ import annotations

import glob
import os

import pytest

import searchengine_spark.plans.manifest as M
from searchengine_spark.operators.indexer import build_index
from searchengine_spark.operators.search import search
from searchengine_spark.plans.manifest import (
    finalize_index, load_index, read_manifest, save_index, stage_partitions)

N_PARTS = 4


def _terms_map(index):
    return {r["term"]: r["df"] for r in index["terms"].collect()}


def _topk(index, q, mode="bm25"):
    return [(r["conv_id"], r["turn_idx"], round(r["score"], 9))
            for r in search(index, q, k=10, mode=mode).collect()]


@pytest.fixture(scope="module")
def oneshot(corpus_df):
    idx = build_index(corpus_df, mode="general", bucket_range=256, block_size=32)
    idx["postings"].count()
    return idx


def test_staged_build_equals_oneshot(spark, corpus_df, oneshot, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("staged"))
    manifest = stage_partitions(corpus_df, path, n_parts=N_PARTS, mode="general")
    assert sorted(manifest) == list(range(N_PARTS))
    assert all(row["status"] == "DONE" for row in manifest.values())
    # lineage metrics present per partition (the O4 requirement)
    for row in manifest.values():
        assert row["docs"] > 0 and row["tokens"] > 0
        assert row["docs_per_sec"] > 0 and row["bytes"] > 0

    staged = finalize_index(spark, path, mode="general",
                            bucket_range=256, block_size=32)
    assert _terms_map(staged) == _terms_map(oneshot)
    assert staged["stats"]["n_docs"] == oneshot["stats"]["n_docs"]
    assert _topk(staged, "лес ошибку") == _topk(oneshot, "лес ошибку")
    # dense doc ids agree with the one-shot build (global prefix-sum order)
    a = sorted((r["doc_id"], r["conv_id"], r["turn_idx"])
               for r in staged["docs"].select("doc_id", "conv_id", "turn_idx").collect())
    b = sorted((r["doc_id"], r["conv_id"], r["turn_idx"])
               for r in oneshot["docs"].select("doc_id", "conv_id", "turn_idx").collect())
    assert a == b


def test_kill_and_resume_reproduces_index(spark, corpus_df, oneshot,
                                          tmp_path_factory, monkeypatch):
    path = str(tmp_path_factory.mktemp("resume"))

    # simulate a crash after 2 partitions: append_manifest raises on the 3rd
    real_append = M.append_manifest
    calls = {"n": 0}

    def dying_append(p, row):
        if row["status"] == "DONE":
            calls["n"] += 1
            if calls["n"] == 3:
                raise RuntimeError("simulated crash before partition-3 commit")
        real_append(p, row)

    monkeypatch.setattr(M, "append_manifest", dying_append)
    with pytest.raises(RuntimeError, match="simulated crash"):
        stage_partitions(corpus_df, path, n_parts=N_PARTS, mode="general")
    monkeypatch.setattr(M, "append_manifest", real_append)

    partial = read_manifest(path)
    done_before = {p for p, row in partial.items() if row["status"] == "DONE"}
    assert len(done_before) == 2  # crashed mid-build

    # completed stage dirs must not be rewritten on resume
    done_files = {}
    for pid in done_before:
        for f in glob.glob(os.path.join(path, f"stage/part={pid:05d}", "*.parquet")):
            done_files[f] = os.path.getmtime(f)

    manifest = stage_partitions(corpus_df, path, n_parts=N_PARTS, mode="general")
    assert all(row["status"] == "DONE" for row in manifest.values())
    for f, mtime in done_files.items():
        assert os.path.getmtime(f) == mtime, f"resume rewrote completed {f}"

    resumed = finalize_index(spark, path, mode="general",
                             bucket_range=256, block_size=32)
    assert _terms_map(resumed) == _terms_map(oneshot)
    assert _topk(resumed, "timeout merge") == _topk(oneshot, "timeout merge")
    assert _topk(resumed, "лес дом", "ref_compat") == _topk(oneshot, "лес дом", "ref_compat")


def test_cancel_and_resume(spark, corpus_df, oneshot, tmp_path_factory,
                           monkeypatch):
    """O3 cooperative stop (reference GET /api/stopIndexing): a CANCEL
    marker stops the build at the next partition boundary with a CANCELLED
    manifest row; clearing it resumes from the completed partitions."""
    path = str(tmp_path_factory.mktemp("cancel"))

    real_append = M.append_manifest
    calls = {"n": 0}

    def cancelling_append(p, row):
        real_append(p, row)
        if row["status"] == "DONE":
            calls["n"] += 1
            if calls["n"] == 2:
                M.request_cancel(path)  # user hits stop after 2 partitions

    monkeypatch.setattr(M, "append_manifest", cancelling_append)
    with pytest.raises(M.BuildCancelled):
        stage_partitions(corpus_df, path, n_parts=N_PARTS, mode="general")
    monkeypatch.setattr(M, "append_manifest", real_append)

    partial = read_manifest(path)
    assert sum(1 for r in partial.values() if r["status"] == "DONE") == 2
    assert any(r["status"] == "CANCELLED" for r in partial.values())

    M.clear_cancel(path)
    manifest = stage_partitions(corpus_df, path, n_parts=N_PARTS, mode="general")
    assert all(row["status"] == "DONE" for row in manifest.values())
    resumed = finalize_index(spark, path, mode="general",
                             bucket_range=256, block_size=32)
    assert _terms_map(resumed) == _terms_map(oneshot)


def test_save_load_round_trip(spark, oneshot, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("saved"))
    save_index(oneshot, path, term_buckets=8)
    loaded = load_index(spark, path)
    assert loaded["stats"]["term_buckets"] == 8
    assert _terms_map(loaded) == _terms_map(oneshot)
    assert _topk(loaded, "лес ошибку") == _topk(oneshot, "лес ошибку")
    # partition pruning is plannable: the scan must carry term_bucket
    plan = search(loaded, "лес", k=5)._jdf.queryExecution().executedPlan().toString()
    assert "term_bucket" in plan


def test_record_postings_metrics(spark, tmp_path):
    """Per-bucket postings lineage rows + totals: bucket rows partition
    the block/posting/byte counts exactly, totals carry postings/sec and
    bytes/posting (the north rule's encode-side metrics beside the
    staging manifest's docs/sec)."""
    import json
    import os

    from pyspark.sql import functions as F

    from searchengine_spark.operators.indexer import build_index
    from searchengine_spark.plans.manifest import record_postings_metrics
    rows = [(f"c{i:03d}", 0, "user",
             " ".join(f"w{(i + j) % 17}" for j in range(9)), None,
             "2026-01-01 00:00:00") for i in range(40)]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    idx = build_index(t, mode="general", bucket_range=64, block_size=16)
    root = str(tmp_path / "pm")
    totals = record_postings_metrics(idx, root, elapsed_s=2.0)
    lines = [json.loads(x) for x in
             open(os.path.join(root, "postings_metrics.jsonl"))]
    buckets = [x for x in lines if x["kind"] == "bucket"]
    tot = [x for x in lines if x["kind"] == "totals"][0]
    assert tot == totals
    assert sum(b["postings"] for b in buckets) == tot["postings"]
    assert sum(b["payload_bytes"] for b in buckets) == tot["payload_bytes"]
    assert sum(b["blocks"] for b in buckets) == tot["blocks"]
    # totals agree with the index itself
    exp_postings = idx["postings"].agg(F.sum("n")).collect()[0][0]
    assert tot["postings"] == int(exp_postings)
    assert tot["postings_per_sec"] == round(tot["postings"] / 2.0, 1)
    assert 0 < tot["bytes_per_posting"] < 30


def test_sql_catalog_closes_every_connection(tmp_path, monkeypatch):
    """Every SQL-catalog call (init, commit, read, log) closes its sqlite
    connection, not just its transaction."""
    import sqlite3
    opened = []

    class Tracked(sqlite3.Connection):
        closed = False

        def close(self):
            self.closed = True
            super().close()

    real = sqlite3.connect

    def connect(*args, **kwargs):
        con = real(*args, factory=Tracked, **kwargs)
        opened.append(con)
        return con

    monkeypatch.setattr(sqlite3, "connect", connect)
    root = str(tmp_path)
    M.init_sql_catalog(root)
    M.commit_snapshot(root, "snap-00000", batch_id=1)
    assert M.read_pointer(root) == {"snapshot": "snap-00000", "batch_id": 1}
    assert M.commit_log(root) == [{"snapshot": "snap-00000", "batch_id": 1}]
    assert len(opened) == 4
    assert all(con.closed for con in opened)
