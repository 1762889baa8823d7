"""Structured-Streaming incremental index maintenance.

The reference has no streaming surface — its closest analog is the
single-page upsert endpoint (reference: controllers/ApiController.java:50-53
→ services/IndexingPageServiceImpl.java:37-135), invoked ad hoc over HTTP.
Re-expressed Spark-first: a stream of new/updated turns (Kafka topic, cloud
bucket of parquet drops, Iceberg CDC) maintained into the live index by
micro-batch MERGE:

    readStream(turns) → foreachBatch(batch → merge_into_path(root, batch))

Exactly-once: Spark's streaming checkpoint replays a failed batch with the
SAME batch_id; we record the last applied batch_id in the snapshot commit
pointer and skip replays (idempotent MERGE — the same protocol Iceberg's
commit-dedup uses). Each micro-batch produces one new snapshot dir +
pointer flip, so a crash mid-batch leaves CURRENT on the previous
consistent snapshot.

`streaming_stats` is the watermark/windowed-agg surface: per-role turn
throughput over event-time windows with late-data tolerance — the streaming
twin of the A3 statistics operator
(reference: services/StatisticsServiceImpl.java:33-101).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

TURN_SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
               "tool string, ts timestamp")


# Pointer IO goes through the plans/manifest snapshot catalog — batch_id
# and merges_since_compact ride the SAME pointer document as the snapshot
# name, so "batch applied" and "snapshot visible" commit in one atomic
# flip (that is the whole idempotent-replay guarantee): every applied
# batch is exactly one ``commit_new_snapshot`` call.

def _pending(root: str, batch_df: DataFrame, batch_id: int) -> "dict | None":
    """The pointer document when ``batch_id`` still needs applying, None
    for a checkpoint replay of an already-committed batch or an empty
    batch."""
    from searchengine_spark.plans.manifest import read_pointer
    ptr = read_pointer(root)
    last = ptr.get("batch_id")
    if last is not None and batch_id <= last:
        return None
    return None if batch_df.isEmpty() else ptr


def merge_batch(root: str, fielded: bool = False, fields=None,
                compact_every: int | None = None,
                incremental_snapshots: bool = False):
    """foreachBatch callback: MERGE one micro-batch into the CURRENT
    snapshot, idempotent on replayed batch ids.

    ``fielded=True`` maintains a BM25F index (fields/<name>/ layout) via
    ``merge_fielded_into_path``; ``fields`` is the same field-name →
    text-Column mapping the index was built with (Column exprs are not
    serializable, so they ride the closure, not the snapshot — the
    default title/body layout needs no argument).

    ``compact_every=N`` (main index only) makes the sink log-structured:
    every Nth applied merge is followed by ``compact_index(reassign_ids=
    True)`` on the merged index — restoring exact stored WAND bounds
    (merges leave ``tf_bounds`` set), dense (conv_id, turn_idx) doc ids
    (so conv-prefix scopes get back the contiguous range fast path), and
    defragmented blocks — and only the compacted snapshot is committed,
    in the batch's one commit, so exactly-once replay semantics are
    untouched. The merge counter rides the commit pointer and so
    survives restarts.

    ``incremental_snapshots=True`` (main index only) writes each merge as
    a DELTA snapshot — O(|batch|) bytes instead of a full index copy per
    micro-batch (plans/manifest.py save_index_delta). Pair it with
    ``compact_every``: compaction writes a FULL snapshot, bounding the
    load-time parent-chain depth at N."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        ptr = _pending(root, batch_df, batch_id)
        if ptr is None:
            return
        from searchengine_spark.plans.manifest import commit_new_snapshot
        merges = ptr.get("merges_since_compact", 0) + 1
        compacting = compact_every is not None and merges >= compact_every
        if fielded:
            from searchengine_spark.operators.fielded import upsert_fielded

            def op(ix):
                return upsert_fielded(ix, batch_df, fields=fields)
        else:
            from searchengine_spark.operators.compact import compact_index
            from searchengine_spark.operators.upsert import upsert_turns

            def op(ix):
                merged = upsert_turns(ix, batch_df)
                return (compact_index(merged, reassign_ids=True)
                        if compacting else merged)
        commit_new_snapshot(
            batch_df.sparkSession, root, op,
            incremental=incremental_snapshots and not compacting,
            fielded=fielded,
            meta={"batch_id": batch_id,
                  "merges_since_compact": 0 if compacting else merges})

    return apply


def stream_index_turns(spark: SparkSession, source_dir: str, root: str,
                       checkpoint_dir: str, available_now: bool = True,
                       fielded: bool = False, fields=None,
                       compact_every: int | None = None,
                       incremental_snapshots: bool = False):
    """Maintain the index under ``root`` from parquet drops in ``source_dir``.

    ``available_now=True`` drains everything currently available then stops
    (test/backfill mode); False runs continuously. Swap the file source for
    ``format("kafka")``/Iceberg CDC in production — the sink is unchanged.
    ``fielded``/``fields`` select the BM25F merge path (see merge_batch);
    ``compact_every=N`` compacts the snapshot after every N merges (main
    index only — see merge_batch).
    """
    if fielded and compact_every is not None:
        raise ValueError("compact_every applies to the main index only "
                         "(no fielded compaction path)")
    if fielded and incremental_snapshots:
        raise ValueError("incremental_snapshots applies to the main index "
                         "only (no fielded delta-snapshot path)")
    stream = (spark.readStream.schema(TURN_SCHEMA)
              .option("maxFilesPerTrigger", 4)
              .parquet(source_dir))
    writer = (stream.writeStream
              .foreachBatch(merge_batch(
                  root, fielded=fielded, fields=fields,
                  compact_every=compact_every,
                  incremental_snapshots=incremental_snapshots))
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("update"))
    if available_now:
        return writer.trigger(availableNow=True).start()
    return writer.start()


def streaming_stats(turns_stream: DataFrame, window: str = "1 minute",
                    watermark: str = "2 minutes") -> DataFrame:
    """Per-role windowed turn/token throughput with late-data watermark."""
    return (turns_stream
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "role")
            .agg(F.count("*").alias("n_turns"),
                 F.sum(F.length("text")).alias("n_chars"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "role", "n_turns", "n_chars"))


DOC_SCHEMA = "doc_id string, text string"


def merge_passage_batch(root: str, chunk_tokens: int, overlap: int):
    """foreachBatch callback for a PASSAGE index maintained from a stream
    of whole documents (doc_id, text): each batch replaces/inserts its
    parents via ``merge_passage_docs_into_path`` (stale-chunk-safe), with
    the same idempotent batch_id protocol as ``merge_batch``."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if _pending(root, batch_df, batch_id) is None:
            return
        from searchengine_spark.operators.passages import upsert_passage_docs
        from searchengine_spark.plans.manifest import commit_new_snapshot
        commit_new_snapshot(
            batch_df.sparkSession, root, lambda ix: upsert_passage_docs(
                ix, batch_df, chunk_tokens=chunk_tokens, overlap=overlap),
            incremental=True,
            meta={"batch_id": batch_id, "merges_since_compact": 0})

    return apply


def stream_passage_docs(spark: SparkSession, source_dir: str, root: str,
                        checkpoint_dir: str, chunk_tokens: int,
                        overlap: int, available_now: bool = True):
    """Maintain a passage index under ``root`` from parquet drops of
    whole documents (doc_id, text) — the document-feed twin of
    ``stream_index_turns``. Replayed batches are no-ops (batch_id rides
    the commit pointer); a document appearing in a later batch replaces
    ALL its earlier passages."""
    stream = (spark.readStream.schema(DOC_SCHEMA)
              .option("maxFilesPerTrigger", 4)
              .parquet(source_dir))
    writer = (stream.writeStream
              .foreachBatch(merge_passage_batch(root, chunk_tokens,
                                                overlap))
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("update"))
    if available_now:
        return writer.trigger(availableNow=True).start()
    return writer.start()
