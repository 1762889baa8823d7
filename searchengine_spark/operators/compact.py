"""Index compaction and shard merge — the log-structured maintenance half
of the engine.

The incremental paths (operators/upsert.py upsert_turns / delete_turns,
streaming/stream_index.py) keep query results exact by switching WAND to
the stats-independent (block_max_tf, block_min_dl) bound, because untouched
blocks still carry ``block_max_score`` computed under the stats of the
build that wrote them. That bound is sound and near-tight but not exact,
and upsert appends new doc keys after max(doc_id), so conv-prefix scopes
lose their contiguous-range fast path. The reference's only answer to
drift was a full re-crawl + re-index (dto/indexing/SiteIndexer.java:108-129
deletes everything and starts over).

``compact_index`` is the Spark-first answer: rewrite the index FROM THE
INDEX ITSELF through the same write path as upsert/delete
(operators/upsert.py), with every group touched: decode every posting
block (``search._decode_blocks``), [remap ids], re-score under the current
(exactly-maintained) corpus stats, re-encode (``indexer.encode_postings``,
the builder's block layout), and re-denormalize the per-term bounds
(``indexer.term_bounds``). No text is re-analyzed: tokenization +
lemmatization (the dominant cost of a build — the tf/dl/positions streams
the blocks already store are their exact output) are skipped entirely, so
compaction costs one decode→shuffle→encode pass over the postings instead
of a corpus re-analysis. With ``reassign_ids=True`` it also re-densifies
doc_ids in (conv_id, turn_idx) order and term_ids in term order — the
result is equal to ``build_index`` on the merged corpus, and stored WAND
bounds are exact again (``tf_bounds`` cleared).

``merge_indexes`` is the other half of the story: at 100 TB the natural
build is per-shard ``build_index`` runs merged afterwards. Because posting
blocks delta-encode doc_ids RELATIVE to ``first_doc_id``, shifting a whole
shard's doc-id space is a metadata-only rewrite: pick the offset as a
multiple of ``bucket_range`` so buckets shift uniformly, then
``first_doc_id += off`` and ``block_id += bucket_shift * blocks_per_bucket``
— no block is ever decoded. Terms merge by string (shared terms keep the
left shard's term_id, right-only terms get dense ids after the left max),
so the right shard's blocks additionally remap ``term_id`` via one join.
The merged index serves exact results immediately (query-time scoring
recomputes BM25 from tf/dl + merged df/n_docs/avgdl; WAND uses the
stats-independent bound) and a follow-up ``compact_index`` restores exact
stored bounds — the classic LSM shape: cheap merges, periodic compaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from searchengine_spark.operators.codec import BLOCK_SIZE
from searchengine_spark.operators.indexer import (
    assign_dense_ids, encode_postings, term_bounds)
from searchengine_spark.operators.search import _decode_blocks

_BLOCK_COLS = ["term_id", "block_id", "first_doc_id", "n", "doc_deltas",
               "tfs", "dls", "block_max_score", "block_max_tf",
               "block_min_dl"]


def _aligned_postings(index: dict, positional: bool) -> DataFrame:
    """Postings projected to the canonical column set (legacy pre-min_dl
    indexes get a null ``block_min_dl`` column so unions line up)."""
    p = index["postings"]
    if "block_min_dl" not in p.columns:
        p = p.withColumn("block_min_dl", F.lit(None).cast("int"))
    return p.select(*_BLOCK_COLS, *(["pos"] if positional else []))


def compact_index(index: dict, bucket_range: int | None = None,
                  block_size: int | None = None,
                  reassign_ids: bool = False) -> dict:
    """Rewrite every posting block under the CURRENT corpus stats; returns a
    new index dict with exact stored WAND bounds (``tf_bounds`` cleared).

    No text re-analysis: the decoded (tf, dl[, positions]) streams ARE the
    analysis chain's output, preserved exactly through every upsert/delete.
    Geometry may change here (this is the one operator that rewrites every
    block, so re-layout is legal); it defaults to the built geometry.

    ``reassign_ids=True`` additionally re-densifies doc_ids by
    (conv_id, turn_idx) and term_ids by term — restoring the contiguous
    conv-prefix scope fast path and making the result equal to a fresh
    ``build_index`` over the equivalent corpus (byte-identical blocks,
    tested) at the cost of one extra data-sized join per remap. Without it
    ids are stable and only the block payloads/bounds are rewritten.

    Plan shape (scale notes): one decode pass (mapInPandas over all blocks),
    one shuffle into (term_id, doc-range bucket) groups — the builder's own
    skew-safe layout, so a term in 60% of docs still spreads over
    n_docs/bucket_range tasks — one applyInPandas encode, one metadata
    aggregation for the per-term bounds. The id remaps are plain joins
    Catalyst/AQE handles (the doc map join is data-sized; the term map join
    broadcasts while the dictionary fits).
    """
    stats = index["stats"]
    built_br = stats.get("bucket_range", 1 << 16)
    built_bs = stats.get("block_size", BLOCK_SIZE)
    bucket_range = built_br if bucket_range is None else bucket_range
    block_size = built_bs if block_size is None else block_size
    positional = bool(stats.get("positions"))
    n_docs = stats["n_docs"]
    avgdl = stats["avgdl"]

    flat = _decode_blocks(index["postings"], positions=positional)

    docs = index["docs"]
    terms = index["terms"].select("term", "term_id", "df")
    # broadcast dictionary-sided joins only while the dictionary fits (the
    # builder's own gate); at 10^8 terms fall back to a shuffled hash join
    n_terms_known = stats.get("n_terms")
    small_dict = n_terms_known is not None and n_terms_known <= 10_000_000
    _dict_side = (lambda d: F.broadcast(d)) if small_dict else (lambda d: d)

    if reassign_ids:
        # Dense doc_ids by (conv_id, turn_idx) — the builder's order — via
        # the same three-level prefix sum (no single-partition window).
        remapped_docs = assign_dense_ids(
            docs, "conv_id", ["turn_idx"], "_new_doc_id")
        doc_map = remapped_docs.select("doc_id", "_new_doc_id")
        docs = (remapped_docs.drop("doc_id")
                .withColumnRenamed("_new_doc_id", "doc_id")
                .select(*index["docs"].columns))
        # Dense term_ids by term asc — the builder's exact assignment.
        remapped_terms = assign_dense_ids(
            terms.withColumn("_tp", F.substring("term", 1, 1)),
            key_col="_tp", order_cols=["term"], id_col="_new_term_id",
        ).drop("_tp")
        term_map = remapped_terms.select("term_id", "_new_term_id")
        terms = (remapped_terms.drop("term_id")
                 .withColumnRenamed("_new_term_id", "term_id")
                 .select("term", "term_id", "df"))
        flat = (flat.join(doc_map, "doc_id")
                .drop("doc_id").withColumnRenamed("_new_doc_id", "doc_id")
                .join(_dict_side(term_map), "term_id")
                .drop("term_id").withColumnRenamed("_new_term_id", "term_id"))

    # Re-score under current stats (maintained exactly by upsert/delete) and
    # re-encode with the builder's layout — stored bounds become exact.
    df_of = terms.select("term_id", "df")
    postings = encode_postings(
        flat.join(_dict_side(df_of), "term_id"), bucket_range, block_size,
        n_docs=n_docs, avgdl=avgdl,
        positional=positional).localCheckpoint(eager=True)

    term_max = term_bounds(postings)
    terms_out = terms.join(term_max, "term_id", "left") \
                     .localCheckpoint(eager=True)
    docs_out = docs.localCheckpoint(eager=True)

    new_stats = {"n_docs": n_docs, "avgdl": avgdl,
                 "total_tokens": stats["total_tokens"],
                 "n_terms": stats.get("n_terms"),
                 "bucket_range": bucket_range, "block_size": block_size,
                 **({"positions": True} if positional else {}),
                 **({"passage": stats["passage"]}
                    if "passage" in stats else {})}
    if new_stats["n_terms"] is None:  # upserted chains drop n_terms
        new_stats["n_terms"] = terms_out.count()
    return {"mode": index.get("mode", "general"),
            "dictionary": index.get("dictionary", "fixture"),
            "docs": docs_out, "terms": terms_out, "postings": postings,
            "postings_flat": None, "stats": new_stats}


def merge_indexes(a: dict, b: dict, check_disjoint: bool = True) -> dict:
    """Merge two indexes built over DISJOINT corpora into one; returns a new
    index dict. The per-shard build pattern: run ``build_index`` per shard
    (or per day, per source), then fold shards together without touching
    block payloads.

    ``b``'s doc-id space shifts by a multiple of ``bucket_range`` past
    ``a``'s max doc_id, so every b block keeps its delta stream and moves
    with two integer column updates (first_doc_id += off, block_id +=
    bucket_shift·blocks_per_bucket). Shared terms take ``a``'s term_id and
    summed df; b-only terms get dense ids after ``a``'s max (term order,
    deterministic); b's blocks remap term_id through one join. NO block is
    decoded — the merge cost is one metadata pass over b's postings plus
    the dictionary join, independent of posting payload size.

    The merged index answers queries exactly right away (scores are
    computed query-time from tf/dl + the merged df/n_docs/avgdl; stored
    block_max_score values are stale under merged stats, so
    ``tf_bounds=True`` routes WAND through the stats-independent bound).
    Run ``compact_index`` afterwards to restore exact stored bounds and,
    with ``reassign_ids=True``, globally-sorted dense ids.

    Requires identical mode/dictionary/geometry/positionality. With
    ``check_disjoint`` (default) the doc keys are verified disjoint with
    one key-column-only anti-join count; a 10^12-turn merge may skip it
    when disjointness is guaranteed by construction (e.g. date-partitioned
    shards).
    """
    for field in ("mode", "dictionary"):
        if a.get(field, None) != b.get(field, None):
            raise ValueError(
                f"cannot merge: {field} differs "
                f"({a.get(field)!r} vs {b.get(field)!r})")
    sa, sb = a["stats"], b["stats"]
    geo_a = (sa.get("bucket_range", 1 << 16), sa.get("block_size", BLOCK_SIZE))
    geo_b = (sb.get("bucket_range", 1 << 16), sb.get("block_size", BLOCK_SIZE))
    if geo_a != geo_b:
        raise ValueError(f"cannot merge: geometry differs ({geo_a} vs {geo_b})")
    if bool(sa.get("positions")) != bool(sb.get("positions")):
        raise ValueError("cannot merge: one index is positional, the other "
                         "is not")
    positional = bool(sa.get("positions"))
    bucket_range, block_size = geo_a
    bpb = -(-bucket_range // block_size)

    docs_a, docs_b = a["docs"], b["docs"]
    if set(docs_a.columns) != set(docs_b.columns):
        raise ValueError(
            f"cannot merge: docs schemas differ "
            f"({sorted(docs_a.columns)} vs {sorted(docs_b.columns)})")
    if check_disjoint:
        n_overlap = (docs_b.select("conv_id", "turn_idx")
                     .join(docs_a.select("conv_id", "turn_idx"),
                           ["conv_id", "turn_idx"], "inner").count())
        if n_overlap:
            raise ValueError(
                f"cannot merge: {n_overlap} (conv_id, turn_idx) keys appear "
                f"in both indexes — merge_indexes requires disjoint corpora "
                f"(upsert_turns is the overlapping-key path)")

    max_doc_a = docs_a.agg(F.max("doc_id")).collect()[0][0]
    if max_doc_a is None:
        max_doc_a = -1
    bucket_shift = max_doc_a // bucket_range + 1
    off = bucket_shift * bucket_range  # bucket-aligned ⇒ blocks shift rigidly

    docs = docs_a.unionByName(
        docs_b.withColumn("doc_id", (F.col("doc_id") + F.lit(off))
                          .cast("long")).select(*docs_a.columns))

    # --- dictionary merge -------------------------------------------------
    ta = a["terms"].select("term", "term_id", "df")
    tb = b["terms"].select("term", "term_id", "df")
    max_term_a = ta.agg(F.max("term_id")).collect()[0][0]
    max_term_a = -1 if max_term_a is None else max_term_a
    joined = ta.withColumnRenamed("term_id", "_id_a") \
               .withColumnRenamed("df", "_df_a") \
               .join(tb.withColumnRenamed("term_id", "_id_b")
                       .withColumnRenamed("df", "_df_b"), "term", "full")
    b_only = joined.filter(F.col("_id_a").isNull()) \
                   .select("term", "_id_b", "_df_b")
    # dense ids after a's max, in term order — same three-level prefix sum
    # as the builder (b-only vocabulary can be half the dictionary; never
    # assign driver-side)
    b_fresh = assign_dense_ids(
        b_only.withColumn("_tp", F.substring("term", 1, 1)),
        key_col="_tp", order_cols=["term"], id_col="_nid").drop("_tp")
    b_fresh = b_fresh.withColumn(
        "term_id", (F.col("_nid") + F.lit(max_term_a + 1)).cast("long"))
    terms = (joined.filter(F.col("_id_a").isNotNull())
             .select("term", F.col("_id_a").alias("term_id"),
                     (F.coalesce("_df_a", F.lit(0))
                      + F.coalesce("_df_b", F.lit(0))).cast("long").alias("df"))
             .unionByName(b_fresh.select(
                 "term", "term_id",
                 F.col("_df_b").cast("long").alias("df"))))

    # b's term_id remap (old id → merged id), for the postings column swap
    tid_map = (joined.filter(F.col("_id_b").isNotNull())
               .filter(F.col("_id_a").isNotNull())
               .select(F.col("_id_b").alias("term_id"),
                       F.col("_id_a").alias("_new_term_id"))
               .unionByName(b_fresh.select(
                   F.col("_id_b").alias("term_id"),
                   F.col("term_id").alias("_new_term_id"))))

    # --- postings: a verbatim; b = metadata-only rigid shift --------------
    pa = _aligned_postings(a, positional)
    pb = _aligned_postings(b, positional)
    pb_shifted = (pb
                  .withColumn("first_doc_id",
                              (F.col("first_doc_id") + F.lit(off)).cast("long"))
                  .withColumn("block_id",
                              (F.col("block_id")
                               + F.lit(bucket_shift * bpb)).cast("int"))
                  .join(tid_map, "term_id")
                  .drop("term_id")
                  .withColumnRenamed("_new_term_id", "term_id")
                  .select(*pa.columns))
    postings = pa.unionByName(pb_shifted).localCheckpoint(eager=True)

    # per-term WAND bound columns from block metadata only (no decode);
    # legacy null min_dl → 0 = the sound dl→0 fallback
    term_max = postings.groupBy("term_id").agg(
        F.max("block_max_score").alias("max_score"),
        F.max("block_max_tf").alias("max_tf"),
        F.min(F.coalesce(F.col("block_min_dl"), F.lit(0))).alias("min_dl"))
    terms_out = terms.join(term_max, "term_id", "left") \
                     .localCheckpoint(eager=True)
    docs_out = docs.localCheckpoint(eager=True)

    n_docs = sa["n_docs"] + sb["n_docs"]
    total_tokens = sa["total_tokens"] + sb["total_tokens"]
    stats = {"n_docs": n_docs,
             "avgdl": total_tokens / n_docs if n_docs else 0.0,
             "total_tokens": total_tokens,
             "tf_bounds": True,  # stored block scores are per-shard-stats
             "bucket_range": bucket_range, "block_size": block_size,
             **({"positions": True} if positional else {})}
    return {"mode": a.get("mode", "general"),
            "dictionary": a.get("dictionary", "fixture"),
            "docs": docs_out, "terms": terms_out, "postings": postings,
            "postings_flat": None, "stats": stats}


def merge_fielded_indexes(a: dict, b: dict,
                          check_disjoint: bool = True) -> dict:
    """Merge two FIELDED (BM25F) indexes built over DISJOINT corpora —
    the per-shard build pattern for `operators.fielded`.

    Same rigid-shift mechanics as ``merge_indexes`` applied per field
    (shared doc space ⇒ one bucket-aligned offset moves every field's
    blocks; NO block decode). Cleaner than the main merge in one way:
    fielded blocks carry only stats-INDEPENDENT (block_max_tf,
    block_min_dl) bounds — nothing score-valued goes stale — and per-field
    df/avgdl/total_tokens fold exactly, so the merged index's BM25F scores
    equal a combined rebuild's immediately, with no tf_bounds-style flag
    and no compaction debt.
    """
    for field in ("mode", "dictionary"):
        if a.get(field, None) != b.get(field, None):
            raise ValueError(
                f"cannot merge: {field} differs "
                f"({a.get(field)!r} vs {b.get(field)!r})")
    sa, sb = a["stats"], b["stats"]
    geo_a = (sa.get("bucket_range", 1 << 16), sa.get("block_size", BLOCK_SIZE))
    geo_b = (sb.get("bucket_range", 1 << 16), sb.get("block_size", BLOCK_SIZE))
    if geo_a != geo_b:
        raise ValueError(f"cannot merge: geometry differs ({geo_a} vs {geo_b})")
    if set(a["fields"]) != set(b["fields"]):
        raise ValueError(
            f"cannot merge: field names differ "
            f"({sorted(a['fields'])} vs {sorted(b['fields'])})")
    bucket_range, block_size = geo_a
    bpb = -(-bucket_range // block_size)

    docs_a, docs_b = a["docs"], b["docs"]
    if check_disjoint:
        n_overlap = (docs_b.select("conv_id", "turn_idx")
                     .join(docs_a.select("conv_id", "turn_idx"),
                           ["conv_id", "turn_idx"], "inner").count())
        if n_overlap:
            raise ValueError(
                f"cannot merge: {n_overlap} (conv_id, turn_idx) keys appear "
                f"in both indexes — merge requires disjoint corpora "
                f"(upsert_fielded is the overlapping-key path)")
    max_doc_a = docs_a.agg(F.max("doc_id")).collect()[0][0]
    max_doc_a = -1 if max_doc_a is None else max_doc_a
    bucket_shift = max_doc_a // bucket_range + 1
    off = bucket_shift * bucket_range
    docs = docs_a.unionByName(
        docs_b.withColumn("doc_id", (F.col("doc_id") + F.lit(off))
                          .cast("long")).select(*docs_a.columns)) \
        .localCheckpoint(eager=True)
    n_docs = sa["n_docs"] + sb["n_docs"]

    def _fterms(t: DataFrame) -> DataFrame:
        if "max_tf" not in t.columns:  # index built before WAND columns
            t = (t.withColumn("max_tf", F.lit(None).cast("long"))
                 .withColumn("min_dl", F.lit(None).cast("long")))
        return t.select("term", "term_id", "df_field", "max_tf", "min_dl")

    def _fblocks(p: DataFrame) -> DataFrame:
        if "block_max_tf" not in p.columns:
            p = (p.withColumn("block_max_tf", F.lit(None).cast("long"))
                 .withColumn("block_min_dl", F.lit(None).cast("long")))
        return p.select("term_id", "block_id", "first_doc_id", "n",
                        "doc_deltas", "tfs", "dls", "block_max_tf",
                        "block_min_dl")

    out_fields: dict[str, dict] = {}
    for name in a["fields"]:
        fa, fb = a["fields"][name], b["fields"][name]
        ta = _fterms(fa["terms"])
        tb = _fterms(fb["terms"])
        max_term_a = ta.agg(F.max("term_id")).collect()[0][0]
        max_term_a = -1 if max_term_a is None else max_term_a
        joined = (ta.select(F.col("term"), F.col("term_id").alias("_id_a"),
                            F.col("df_field").alias("_df_a"),
                            F.col("max_tf").alias("_mt_a"),
                            F.col("min_dl").alias("_md_a"))
                  .join(tb.select(F.col("term"),
                                  F.col("term_id").alias("_id_b"),
                                  F.col("df_field").alias("_df_b"),
                                  F.col("max_tf").alias("_mt_b"),
                                  F.col("min_dl").alias("_md_b")),
                        "term", "full"))
        b_only = joined.filter(F.col("_id_a").isNull())
        b_fresh = assign_dense_ids(
            b_only.withColumn("_tp", F.substring("term", 1, 1)),
            key_col="_tp", order_cols=["term"], id_col="_nid").drop("_tp")
        b_fresh = b_fresh.withColumn(
            "term_id", (F.col("_nid") + F.lit(max_term_a + 1)).cast("long"))
        # shared/one-sided (max_tf, min_dl) fold exactly: max of maxima,
        # min of minima; coalesce covers legacy-null bound columns soundly
        # (null max_tf → query path already treats it as unbounded)
        terms = (joined.filter(F.col("_id_a").isNotNull())
                 .select("term", F.col("_id_a").alias("term_id"),
                         (F.coalesce("_df_a", F.lit(0))
                          + F.coalesce("_df_b", F.lit(0))).cast("long")
                         .alias("df_field"),
                         F.greatest("_mt_a", "_mt_b").alias("max_tf"),
                         F.least("_md_a", "_md_b").alias("min_dl"))
                 .unionByName(b_fresh.select(
                     "term", "term_id",
                     F.col("_df_b").cast("long").alias("df_field"),
                     F.col("_mt_b").alias("max_tf"),
                     F.col("_md_b").alias("min_dl"))))
        tid_map = (joined.filter(F.col("_id_b").isNotNull())
                   .filter(F.col("_id_a").isNotNull())
                   .select(F.col("_id_b").alias("term_id"),
                           F.col("_id_a").alias("_new_term_id"))
                   .unionByName(b_fresh.select(
                       F.col("_id_b").alias("term_id"),
                       F.col("term_id").alias("_new_term_id"))))
        pa = _fblocks(fa["postings"])
        pb_shifted = (_fblocks(fb["postings"])
                      .withColumn("first_doc_id",
                                  (F.col("first_doc_id") + F.lit(off))
                                  .cast("long"))
                      .withColumn("block_id",
                                  (F.col("block_id")
                                   + F.lit(bucket_shift * bpb)).cast("int"))
                      .join(tid_map, "term_id")
                      .drop("term_id")
                      .withColumnRenamed("_new_term_id", "term_id")
                      .select(*pa.columns))
        postings = pa.unionByName(pb_shifted).localCheckpoint(eager=True)
        total_tokens = fa["total_tokens"] + fb["total_tokens"]
        out_fields[name] = {
            "terms": terms.localCheckpoint(eager=True),
            "postings": postings,
            "avgdl": total_tokens / n_docs if n_docs else 0.0,
            "total_tokens": total_tokens}

    return {"mode": a.get("mode", "general"),
            "dictionary": a.get("dictionary", "fixture"),
            "docs": docs, "fields": out_fields,
            "stats": {"n_docs": n_docs, "bucket_range": bucket_range,
                      "block_size": block_size}}


# --------------------------------------------------------------------------
# Snapshot flows (same CURRENT-pointer commit protocol as upsert)
# --------------------------------------------------------------------------

def compact_into_path(spark: SparkSession, root: str,
                      reassign_ids: bool = False,
                      bucket_range: int | None = None,
                      block_size: int | None = None) -> str:
    """Compact the CURRENT snapshot under ``root`` into a new snapshot dir
    and flip CURRENT atomically (Iceberg rewrite_data_files + commit
    analog). Returns the new snapshot dir."""
    from searchengine_spark.plans.manifest import commit_new_snapshot
    return commit_new_snapshot(spark, root, lambda ix: compact_index(
        ix, bucket_range=bucket_range, block_size=block_size,
        reassign_ids=reassign_ids))
