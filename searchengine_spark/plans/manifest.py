"""Index persistence + checkpointed, resumable builds (O3/O4/S5, M6).

Replaces the reference's site-status tracking
(reference: model/SiteEntity.java:27-35 — status INDEXING/INDEXED/FAILED,
status_time, last_error; written at dto/indexing/SiteIndexer.java:53-54,
64-84,92-105) with a per-partition **manifest** table:

    (partition_id, status, started_ts, finished_ts, error,
     docs, tokens, elapsed_s, docs_per_sec, bytes)

and replaces destructive truncate-and-reload
(dto/indexing/SiteIndexer.java:108-129) with idempotent, atomically-committed
partition directories: a build partition is visible iff its manifest row says
DONE, and re-running skips DONE partitions — kill-and-resume reproduces the
identical index.

Production target is Iceberg (snapshot = checkpoint, MERGE for upserts); this
sandbox has no Iceberg runtime on the classpath, so the same semantics are
implemented over plain parquet: stage directories + a JSON-lines manifest
with atomic rename commits. The layout and commit protocol translate 1:1 to
Iceberg table commits.

Doc-id correctness under partitioned builds: build partitions are contiguous
conv_id ranges in sorted order; stage 1 assigns per-partition local dense ids
and records per-partition doc counts in the manifest; stage 2 turns local ids
global by adding the manifest's cumulative offsets — a distributed prefix
sum, no global window, deterministic regardless of which partitions resumed.
"""

from __future__ import annotations

import json
import os
import sqlite3
import time
from contextlib import closing, contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F

from searchengine_spark.functions.analysis import analyze_tf_col
from searchengine_spark.operators.codec import BLOCK_SIZE
from searchengine_spark.operators.indexer import dedup_and_assign_doc_ids


def _manifest_path(path: str) -> str:
    return os.path.join(path, "manifest.jsonl")


def read_manifest(path: str) -> dict[int, dict]:
    out: dict[int, dict] = {}
    mp = _manifest_path(path)
    if os.path.exists(mp):
        with open(mp) as f:
            for line in f:
                row = json.loads(line)
                out[row["partition_id"]] = row  # last write wins
    return out


def append_manifest(path: str, row: dict) -> None:
    os.makedirs(path, exist_ok=True)
    with open(_manifest_path(path), "a") as f:
        f.write(json.dumps(row) + "\n")


def _dir_bytes(d: str) -> int:
    total = 0
    for root, _, files in os.walk(d):
        total += sum(os.path.getsize(os.path.join(root, fn)) for fn in files)
    return total


def _cancel_path(path: str) -> str:
    return os.path.join(path, "CANCEL")


def request_cancel(path: str) -> None:
    """O3 cooperative stop (reference ``GET /api/stopIndexing``,
    services/IndexingServiceImpl.java:54-60): drop a CANCEL marker; the
    build checks it at every partition boundary, records a CANCELLED
    manifest row, and stops. Completed partitions stay DONE — a later run
    (after ``clear_cancel``) resumes exactly where the build stopped."""
    os.makedirs(path, exist_ok=True)
    with open(_cancel_path(path), "w") as f:
        f.write("cancel requested\n")


def clear_cancel(path: str) -> None:
    if os.path.exists(_cancel_path(path)):
        os.remove(_cancel_path(path))


class BuildCancelled(RuntimeError):
    """Raised by stage_partitions when a CANCEL marker is observed."""


def stage_partitions(transcripts: DataFrame, path: str, n_parts: int = 8,
                     mode: str = "general",
                     dictionary: str = "fixture") -> dict[int, dict]:
    """Stage 1: per conv-range partition, dedup + analyze + local dense ids →
    parquet stage dir + DONE manifest row with lineage metrics. Skips
    partitions already DONE (resume); honors ``request_cancel`` between
    partitions (cooperative O3 stop — raises BuildCancelled after recording
    a CANCELLED manifest row)."""
    spark = transcripts.sparkSession
    manifest = read_manifest(path)
    # Contiguous conv_id ranges via Spark's sampled RangePartitioner — no
    # global single-partition window over the distinct-conv set, so the
    # bounds step itself scales to 10^10 convs. RangePartitioner's sampling
    # seed depends on the runtime RDD id, so recomputed bounds are NOT
    # stable across driver runs: persist them on first computation
    # (bounds.json) and reuse verbatim on resume, otherwise DONE partitions
    # skipped by pid could silently mismatch shifted conv ranges.
    bounds_file = os.path.join(path, "bounds.json")
    if os.path.exists(bounds_file):
        with open(bounds_file) as f:
            bounds = [json.loads(line) for line in f if line.strip()]
        if len(bounds) != n_parts and any(
                row["status"] == "DONE" for row in manifest.values()):
            raise ValueError(
                f"resume with n_parts={n_parts} but {path} was staged with "
                f"{len(bounds)} partitions; reuse the original n_parts or "
                f"rebuild from scratch")
    else:
        rows = (
            transcripts.select("conv_id").distinct()
            .repartitionByRange(n_parts, "conv_id")
            .groupBy(F.spark_partition_id().alias("b"))
            .agg(F.min("conv_id").alias("lo"), F.max("conv_id").alias("hi"))
            .orderBy("b").collect()
        )
        bounds = [{"b": int(r["b"]), "lo": r["lo"], "hi": r["hi"]} for r in rows]
        os.makedirs(path, exist_ok=True)
        tmp = bounds_file + ".tmp"
        with open(tmp, "w") as f:
            for b in bounds:
                f.write(json.dumps(b) + "\n")
        os.replace(tmp, bounds_file)  # atomic: readers see all bounds or none
    # Belt-and-braces: bounds recorded in DONE manifest rows must agree with
    # the persisted ranges — fail loudly rather than resume inconsistently.
    for b in bounds:
        row = manifest.get(b["b"])
        if row and row.get("status") == "DONE" and (
                row.get("conv_lo") != b["lo"] or row.get("conv_hi") != b["hi"]):
            raise ValueError(
                f"partition {b['b']} was staged for conv range "
                f"[{row.get('conv_lo')}, {row.get('conv_hi')}] but bounds.json "
                f"says [{b['lo']}, {b['hi']}] — refusing to resume")
    for r in bounds:
        pid = int(r["b"])
        if manifest.get(pid, {}).get("status") == "DONE":
            continue
        if os.path.exists(_cancel_path(path)):
            append_manifest(path, {
                "partition_id": pid, "status": "CANCELLED",
                "conv_lo": r["lo"], "conv_hi": r["hi"],
                "started_ts": None, "finished_ts": time.time(),
                "error": "cancelled by request_cancel", "docs": None,
                "tokens": None, "elapsed_s": None, "docs_per_sec": None,
                "bytes": None})
            raise BuildCancelled(f"build under {path} cancelled before partition {pid}")
        started = time.time()
        stage_dir = os.path.join(path, f"stage/part={pid:05d}")
        try:
            part = transcripts.filter((F.col("conv_id") >= r["lo"]) & (F.col("conv_id") <= r["hi"]))
            # Same deterministic dedup + dense-id pick as the one-shot build
            # (dedup_and_assign_doc_ids: lag over turn_idx ordered by
            # (turn_idx, ts, role)) so checkpoint-resume and one-shot builds
            # index IDENTICAL rows even when conflicting duplicates exist.
            part = dedup_and_assign_doc_ids(part).withColumnRenamed("doc_id", "local_id")
            part = part.withColumn("tt", analyze_tf_col(F.col("text"), mode, dictionary)) \
                       .withColumn("dl", F.col("tt.dl")) \
                       .withColumn("part_id", F.lit(pid))
            part.write.mode("overwrite").parquet(stage_dir)
            staged = spark.read.parquet(stage_dir)
            n_docs, n_tokens = staged.agg(F.count("*"), F.sum("dl")).collect()[0]
            elapsed = time.time() - started
            append_manifest(path, {
                "partition_id": pid, "status": "DONE", "conv_lo": r["lo"], "conv_hi": r["hi"],
                "started_ts": started, "finished_ts": time.time(), "error": None,
                "docs": int(n_docs), "tokens": int(n_tokens or 0),
                "elapsed_s": round(elapsed, 3),
                "docs_per_sec": round(n_docs / elapsed, 1) if elapsed > 0 else None,
                "bytes": _dir_bytes(stage_dir)})
        except Exception as e:  # noqa: BLE001 — FAILED rows are the O4 semantics
            append_manifest(path, {
                "partition_id": pid, "status": "FAILED", "conv_lo": r["lo"], "conv_hi": r["hi"],
                "started_ts": started, "finished_ts": time.time(), "error": str(e)[:500],
                "docs": None, "tokens": None, "elapsed_s": None, "docs_per_sec": None,
                "bytes": None})
            raise
    return read_manifest(path)


def finalize_index(spark: SparkSession, path: str, mode: str = "general",
                   bucket_range: int = 1 << 16, block_size: int = BLOCK_SIZE,
                   dictionary: str = "fixture") -> dict:
    """Stage 2: globalize doc ids via manifest offsets, then the standard
    terms/postings build over the staged (already-analyzed) docs."""
    from searchengine_spark.operators.indexer import build_index_from_docs

    manifest = read_manifest(path)
    done = sorted(p for p, row in manifest.items() if row["status"] == "DONE")
    offsets, acc = {}, 0
    for pid in done:
        offsets[pid] = acc
        acc += manifest[pid]["docs"]
    staged = spark.read.parquet(os.path.join(path, "stage"))
    off_df = F.broadcast(spark.createDataFrame(
        [(p, o) for p, o in offsets.items()], "part_id int, _off long"))
    docs = (staged.join(off_df, "part_id")
            .withColumn("doc_id", F.col("_off") + F.col("local_id"))
            .drop("_off", "local_id", "part_id"))
    return build_index_from_docs(docs, mode, bucket_range, block_size, dictionary)


def record_postings_metrics(index: dict, path: str,
                            elapsed_s: "float | None" = None,
                            term_buckets: int = 16) -> dict:
    """Per-partition POSTINGS lineage metrics (the north rule's
    "postings/sec, bytes compressed" beside the staging manifest's
    docs/sec): one aggregation over the built posting blocks grouped by
    the save-layout bucket (term_id % term_buckets) → one JSONL row per
    bucket (blocks, postings, encoded payload bytes) plus a totals row
    with postings_per_sec (against ``elapsed_s``, the encode/build wall
    the caller measured) and bytes_per_posting. Written atomically to
    ``<path>/postings_metrics.jsonl``; returns the totals dict."""
    p = index["postings"]
    payload = (F.length("doc_deltas") + F.length("tfs")
               + F.length("dls")
               + (F.length("pos") if "pos" in p.columns else F.lit(0)))
    rows = (p.groupBy((F.col("term_id") % term_buckets).cast("int")
                      .alias("bucket"))
            .agg(F.count("*").alias("blocks"),
                 F.sum("n").alias("postings"),
                 F.sum(payload).alias("payload_bytes"))
            .orderBy("bucket").collect())
    total_p = int(sum(r["postings"] for r in rows))
    total_b = int(sum(r["payload_bytes"] for r in rows))
    totals = {
        "kind": "totals", "buckets": len(rows),
        "blocks": int(sum(r["blocks"] for r in rows)),
        "postings": total_p, "payload_bytes": total_b,
        "bytes_per_posting": round(total_b / total_p, 3) if total_p else None,
        "elapsed_s": round(elapsed_s, 3) if elapsed_s else None,
        "postings_per_sec": (round(total_p / elapsed_s, 1)
                             if elapsed_s else None),
    }
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, "postings_metrics.jsonl.tmp")
    with open(tmp, "w") as f:
        for r in rows:
            f.write(json.dumps({"kind": "bucket",
                                "bucket": int(r["bucket"]),
                                "blocks": int(r["blocks"]),
                                "postings": int(r["postings"]),
                                "payload_bytes": int(r["payload_bytes"])})
                    + "\n")
        f.write(json.dumps(totals) + "\n")
    os.replace(tmp, os.path.join(path, "postings_metrics.jsonl"))
    return totals


# --------------------------------------------------------------------------
# Snapshot catalog — THE commit-protocol interface (VERDICT r3 #6).
#
# Every persisted-index flow (upsert/delete/compact/passages/fielded/
# streaming) talks to snapshot roots exclusively through these five
# primitives + save_index/save_index_delta/load_index below. Invariants
# (pinned by tests/test_commit_protocol.py):
#   1. Snapshot dirs are IMMUTABLE once committed; a commit is ONE atomic
#      CURRENT-pointer flip (tmp file + os.replace) — a crash mid-write
#      leaves CURRENT on the previous snapshot and the half-written dir
#      invisible (no stats.json → not listed, not loadable).
#   2. Pointer metadata (e.g. streaming batch_id) rides the same pointer
#      file, so "batch applied" and "snapshot visible" commit together —
#      that is what makes foreachBatch replays idempotent.
#   3. Delta snapshots name their parent in stats.json; readers resolve
#      the chain; a full snapshot (compaction) resets it.
#   4. Snapshot names are monotonic ordinals (max+1, never dir count) so
#      rollback + expire can never reuse a live name.
# Swapping this file's parquet+pointer shim for a real Iceberg catalog
# (commit = Iceberg snapshot commit, delta = MERGE, expire =
# expire_snapshots) touches no operator code.
# --------------------------------------------------------------------------

def _current_path(root: str) -> str:
    return os.path.join(root, "CURRENT")


# --- pluggable pointer backend (VERDICT r4 #6) ----------------------------
# Two catalog backends share the SAME snapshot payload layout (immutable
# snap-NNNNN parquet dirs + stats.json); only the pointer commit differs:
#   file (default)  — CURRENT json file, commit = tmp-write + os.replace
#   sql             — <root>/catalog.db (stdlib sqlite3), commit = ONE SQL
#                     transaction updating the pointer row and appending to
#                     the commit log. This is the pyiceberg SqlCatalog
#                     shape: the catalog transaction is the commit point,
#                     data files never move. A root opts in via
#                     init_sql_catalog(root); every catalog primitive then
#                     routes pointer IO through the db for that root.
# Both backends satisfy the identical contract suite
# (tests/test_commit_protocol.py, parametrized over backends).

def _sql_db_path(root: str) -> str:
    return os.path.join(root, "catalog.db")


def _sql_catalog_active(root: str) -> bool:
    return os.path.exists(_sql_db_path(root))


@contextmanager
def _sql_txn(root: str):
    """One transaction on ``root``'s catalog: commit on success, rollback
    on error, and the connection closed either way (sqlite3's own
    context manager commits but never closes)."""
    with closing(sqlite3.connect(_sql_db_path(root))) as con, con:
        yield con


def init_sql_catalog(root: str) -> None:
    """Switch ``root`` to the SQL-catalog pointer backend (idempotent).
    Creates <root>/catalog.db with a single-row pointer table and an
    append-only commit log; from then on commit_snapshot/read_pointer on
    this root go through SQL transactions instead of the CURRENT file.
    Must be called before the first commit on the root (an existing
    file-backend root would need its pointer migrated — out of scope)."""
    if os.path.exists(os.path.join(root, "CURRENT")):
        raise ValueError(f"{root} already has a file-backend pointer; "
                         "migrate it before switching backends")
    with _sql_txn(root) as con:
        con.execute("create table if not exists pointer ("
                    "id integer primary key check (id = 0), "
                    "doc text not null)")
        con.execute("create table if not exists commit_log ("
                    "seq integer primary key autoincrement, "
                    "doc text not null)")


def read_pointer(root: str) -> dict:
    """The raw pointer document ({} before the first commit):
    {"snapshot": name, **commit metadata (batch_id, ...)}."""
    if _sql_catalog_active(root):
        with _sql_txn(root) as con:
            row = con.execute(
                "select doc from pointer where id = 0").fetchone()
        return json.loads(row[0]) if row else {}
    cp = _current_path(root)
    if os.path.exists(cp):
        with open(cp) as f:
            return json.load(f)
    return {}


def read_current(root: str) -> "str | None":
    """Absolute path of the CURRENT snapshot dir, or None."""
    p = read_pointer(root)
    return os.path.join(root, p["snapshot"]) if "snapshot" in p else None


def commit_snapshot(root: str, snapshot: str, **meta) -> None:
    """Atomic pointer flip — the stand-in for an Iceberg commit.
    ``meta`` (e.g. batch_id=) commits atomically WITH the flip. File
    backend: tmp-write + os.replace of CURRENT. SQL backend: one sqlite
    transaction upserting the pointer row + appending the commit log —
    a crash before COMMIT leaves the previous pointer visible."""
    doc = {"snapshot": snapshot, **meta}
    if _sql_catalog_active(root):
        with _sql_txn(root) as con:
            con.execute("insert into pointer (id, doc) values (0, ?) "
                        "on conflict (id) do update set doc = excluded.doc",
                        (json.dumps(doc),))
            con.execute("insert into commit_log (doc) values (?)",
                        (json.dumps(doc),))
        return
    tmp = _current_path(root) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f)
    os.replace(tmp, _current_path(root))


def commit_log(root: str) -> list[dict]:
    """Commit history (SQL backend only; oldest first) — every pointer
    document ever committed, the audit trail a file pointer can't keep."""
    if not _sql_catalog_active(root):
        raise ValueError("commit_log requires the SQL catalog backend "
                         "(init_sql_catalog)")
    with _sql_txn(root) as con:
        rows = con.execute(
            "select doc from commit_log order by seq").fetchall()
    return [json.loads(r[0]) for r in rows]


def next_snapshot_name(root: str) -> str:
    """Next snapshot dir name: max existing ordinal + 1 (NOT the dir
    count — after a rollback + expire, count-based naming could reuse a
    live name and overwrite an immutable snapshot)."""
    ords = [int(d[5:]) for d in os.listdir(root)
            if d.startswith("snap-") and d[5:].isdigit()]
    return f"snap-{(max(ords) + 1 if ords else 0):05d}"


def snapshot_exists(root: str, snapshot: str) -> bool:
    """True iff ``snapshot`` is a COMMITTED-shape dir (stats.json present
    — the same visibility rule list_snapshots applies)."""
    return os.path.isdir(os.path.join(root, snapshot)) and os.path.exists(
        os.path.join(root, snapshot, "stats.json"))


def snapshot_parent(root: str, snapshot: str) -> "str | None":
    """Parent snapshot name of a delta snapshot (None for full snapshots
    or uncommitted/partial dirs) — the one sanctioned way to walk the
    delta chain without knowing the stats.json layout."""
    try:
        with open(os.path.join(root, snapshot, "stats.json")) as f:
            return json.load(f).get("parent")
    except FileNotFoundError:
        return None


def list_snapshots(root: str) -> list[dict]:
    """Snapshot lineage under ``root``: one row per COMMITTED-shape
    snapshot dir (partial dirs without stats.json are invisible),
    ordered by ordinal — (snapshot, kind full|delta, parent, n_docs,
    bytes, current). The inspection surface for the time-travel API."""
    cur = read_current(root)
    out = []
    for d in sorted(x for x in os.listdir(root) if x.startswith("snap-")):
        sp = os.path.join(root, d)
        try:
            with open(os.path.join(sp, "stats.json")) as f:
                st = json.load(f)
        except FileNotFoundError:
            continue  # partially written snapshot (no commit) — invisible
        out.append({"snapshot": d,
                    "kind": "delta" if st.get("parent") else "full",
                    "parent": st.get("parent"),
                    "n_docs": st.get("n_docs"),
                    "bytes": _dir_bytes(sp),
                    "current": cur == sp})
    return out


def save_index(index: dict, path: str, term_buckets: int = 16) -> None:
    """Persist docs/terms/postings; postings partitioned by term bucket so a
    query's ``term_id IN (...)`` prunes whole partitions at scan time; terms
    partitioned by the term-string page hash so the paged dictionary cache
    (operators/search.py TERMS_PAGES — dictionaries above TERMS_LOCAL_MAX)
    fetches one page by pruning directories instead of scanning."""
    from searchengine_spark.operators.search import _term_page_col

    os.makedirs(path, exist_ok=True)
    index["docs"].drop("lemmas", "tt").write.mode("overwrite").parquet(os.path.join(path, "docs"))
    n_terms = index["stats"].get("n_terms")
    if n_terms is None:  # upserted indexes don't carry n_terms forward
        n_terms = index["terms"].count()
    if n_terms > 100_000:  # page dirs only pay off for big dictionaries
        (index["terms"].withColumn("term_page", _term_page_col())
         .write.mode("overwrite").partitionBy("term_page")
         .parquet(os.path.join(path, "terms")))
    else:
        index["terms"].write.mode("overwrite").parquet(os.path.join(path, "terms"))
    (index["postings"]
     .withColumn("term_bucket", (F.col("term_id") % term_buckets).cast("int"))
     .write.mode("overwrite").partitionBy("term_bucket")
     .option("compression", "zstd")  # binary block columns compress well
     .parquet(os.path.join(path, "postings")))
    if index.get("trigrams") is not None:
        # char-3-gram dictionary sidecar (operators/suggest.py): partition
        # dirs by gram bucket so a cold glob probe prunes directories
        (index["trigrams"].write.mode("overwrite")
         .partitionBy("gram_bucket")
         .parquet(os.path.join(path, "trigrams")))
    with open(os.path.join(path, "stats.json"), "w") as f:
        json.dump({**index["stats"], "mode": index["mode"],
                   "dictionary": index.get("dictionary", "fixture"),
                   "term_buckets": term_buckets}, f)


def save_index_delta(index: dict, path: str, parent: str,
                     term_buckets: int = 16) -> None:
    """Persist an upserted/deleted index as a DELTA snapshot: only the
    rewritten posting blocks, the delta docs, the (term_id, bucket)
    touched set, and the (small-relative-to-postings) full dictionary —
    O(|delta|) bytes instead of a full index copy per micro-batch (the
    Iceberg-MERGE write-amplification contract; `save_index` is the full
    rewrite).

    Requires the ``_delta`` descriptor `upsert_turns`/`delete_turns`
    attach. ``parent`` is the snapshot dir name (relative to the same
    root) this delta applies on top of; `load_index` resolves the chain.
    Chains grow read-side plan depth linearly — bound them with periodic
    `compact_into_path` (or `stream_index_turns(compact_every=)`), which
    always writes a FULL snapshot and resets the chain."""
    d = index.get("_delta")
    if d is None:
        raise ValueError(
            "index has no _delta descriptor (not produced by "
            "upsert_turns/delete_turns) — use save_index for full snapshots")
    stats = index["stats"]
    os.makedirs(path, exist_ok=True)
    keys = d["keys"]
    keys.write.mode("overwrite").parquet(os.path.join(path, "keys"))
    if not d["removed_only"]:
        (index["docs"].join(F.broadcast(keys), ["conv_id", "turn_idx"],
                            "left_semi")
         .drop("lemmas", "tt")
         .write.mode("overwrite").parquet(os.path.join(path, "docs_delta")))
    d["touched"].write.mode("overwrite") \
        .parquet(os.path.join(path, "touched"))
    br = stats.get("bucket_range", 1 << 16)
    bs = stats.get("block_size")
    bpb = -(-br // bs)
    bucket = (F.col("block_id") / F.lit(bpb)).cast("int")
    (index["postings"].withColumn("bucket", bucket)
     .join(F.broadcast(d["touched"]), ["term_id", "bucket"], "left_semi")
     .drop("bucket")
     .write.mode("overwrite").option("compression", "zstd")
     .parquet(os.path.join(path, "postings_delta")))
    index["terms"].write.mode("overwrite") \
        .parquet(os.path.join(path, "terms"))
    with open(os.path.join(path, "stats.json"), "w") as f:
        json.dump({**stats, "mode": index["mode"],
                   "dictionary": index.get("dictionary", "fixture"),
                   "term_buckets": term_buckets, "parent": parent,
                   "removed_only": bool(d["removed_only"])}, f)


def load_index(spark: SparkSession, path: str) -> dict:
    with open(os.path.join(path, "stats.json")) as f:
        stats = json.load(f)
    mode = stats.pop("mode")
    dictionary = stats.pop("dictionary", "fixture")
    parent = stats.pop("parent", None)
    if parent is None:
        out = {
            "mode": mode,
            "dictionary": dictionary,
            "docs": spark.read.parquet(os.path.join(path, "docs")),
            "terms": spark.read.parquet(os.path.join(path, "terms")),
            "postings": spark.read.parquet(os.path.join(path, "postings")),
            "postings_flat": None,
            "stats": stats,
        }
        tgp = os.path.join(path, "trigrams")
        if os.path.isdir(tgp):
            out["trigrams"] = spark.read.parquet(tgp)
        return out
    # delta snapshot: resolve the parent chain, then overlay this layer —
    # docs: parent minus the layer's keys, plus the layer's delta rows;
    # postings: parent minus the touched (term_id, bucket) groups, plus
    # the rewritten blocks; terms: this layer's full dictionary.
    removed_only = stats.pop("removed_only", False)
    base = load_index(spark, os.path.join(os.path.dirname(path), parent))
    keys = spark.read.parquet(os.path.join(path, "keys"))
    docs = base["docs"].join(F.broadcast(keys), ["conv_id", "turn_idx"],
                             "left_anti")
    if not removed_only:
        delta_docs = spark.read.parquet(os.path.join(path, "docs_delta"))
        docs = docs.unionByName(delta_docs.select(*docs.columns))
    touched = spark.read.parquet(os.path.join(path, "touched"))
    delta_p = spark.read.parquet(os.path.join(path, "postings_delta"))
    parent_p = base["postings"].drop("term_bucket")
    # align legacy parents with the delta's column set (null bounds stay
    # sound — the query path treats null block_min_dl as the dl→0 bound)
    for c in delta_p.columns:
        if c not in parent_p.columns:
            parent_p = parent_p.withColumn(
                c, F.lit(None).cast(dict(delta_p.dtypes)[c]))
    parent_p = parent_p.select(*delta_p.columns)
    br = stats.get("bucket_range", 1 << 16)
    bpb = -(-br // stats.get("block_size"))
    bucket = (F.col("block_id") / F.lit(bpb)).cast("int")
    postings = (parent_p.withColumn("bucket", bucket)
                .join(F.broadcast(touched), ["term_id", "bucket"],
                      "left_anti")
                .drop("bucket")
                .unionByName(delta_p))
    return {
        "mode": mode,
        "dictionary": dictionary,
        # lazy checkpoints: a chain's plan is a stack of anti-join+union
        # layers — truncate it once here so per-query Catalyst analysis
        # sees leaves, same as a built index
        "docs": docs.localCheckpoint(eager=False),
        "terms": spark.read.parquet(os.path.join(path, "terms")),
        "postings": postings.localCheckpoint(eager=False),
        "postings_flat": None,
        "stats": stats,
    }


def commit_new_snapshot(spark: SparkSession, root: str, op,
                        incremental: bool = False, fielded: bool = False,
                        meta: "dict | None" = None) -> str:
    """The one persisted-index write flow: load CURRENT under ``root``,
    run ``op`` (index dict → new index dict), write the result as the next
    snapshot dir and commit it with ONE pointer flip carrying ``meta``
    (e.g. a streaming batch_id). Returns the new snapshot dir.

    The result is written as a DELTA snapshot (``save_index_delta``) when
    ``incremental`` is asked and ``op`` attached a ``_delta`` descriptor,
    else in full (``save_index``); ``fielded`` roots load and save through
    the fielded layout (always full snapshots, same term_buckets). Every
    upsert/delete/compact/passage/streaming flow goes through here, so a
    catalog swap touches only this module."""
    cur = read_current(root)
    if cur is None:
        raise ValueError(f"no CURRENT snapshot under {root}")
    if fielded:
        from searchengine_spark.operators.fielded import (
            load_fielded_index, save_fielded_index)
        base = load_fielded_index(spark, cur)
    else:
        base = load_index(spark, cur)
    out = op(base)
    snap = next_snapshot_name(root)
    path = os.path.join(root, snap)
    if fielded:
        save_fielded_index(out, path,
                           term_buckets=base["stats"].get("term_buckets", 16))
    elif incremental and out.get("_delta") is not None:
        save_index_delta(out, path, parent=os.path.basename(cur))
    else:
        save_index(out, path)
    commit_snapshot(root, snap, **(meta or {}))
    return path


def catalog_report(roots: "dict[str, str]") -> list[dict]:
    """Ops dashboard over MULTIPLE snapshot roots (main / fielded /
    passages / per-tenant indexes): one row per root — current snapshot,
    snapshot count, delta-chain depth under CURRENT, total bytes, doc
    count, pointer metadata (streaming batch_id etc.), and the latest
    postings-lineage totals when ``record_postings_metrics`` ran. Pure
    catalog reads (pointer + stats.json files), zero Spark jobs."""
    out = []
    for name, root in sorted(roots.items()):
        ptr = read_pointer(root)
        snaps = list_snapshots(root)
        cur = ptr.get("snapshot")
        depth, node = 0, cur
        while node is not None:
            parent = snapshot_parent(root, node)
            if parent is None:
                break
            depth += 1
            node = parent
        cur_row = next((s for s in snaps if s["snapshot"] == cur), None)
        pm = None
        pm_path = os.path.join(root, "postings_metrics.jsonl")
        if os.path.exists(pm_path):
            with open(pm_path) as f:
                for line in f:
                    row = json.loads(line)
                    if row.get("kind") == "totals":
                        pm = row
        out.append({
            "name": name, "root": root, "current": cur,
            "n_snapshots": len(snaps),
            "chain_depth": depth,
            "n_docs": cur_row["n_docs"] if cur_row else None,
            "total_bytes": sum(s["bytes"] for s in snaps),
            "pointer_meta": {k: v for k, v in ptr.items()
                             if k != "snapshot"},
            "postings_totals": pm,
        })
    return out
