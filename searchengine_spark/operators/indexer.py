"""Distributed inverted-index build (SURVEY.md §2.1/§2.3, M2+M4+M5).

Replaces the reference's crawl→JDBC row-at-a-time index write
(reference: dto/indexing/PageIndexer.java:161-204 — 1 SELECT + 1-2
INSERT/UPDATE per lemma per page) with a declarative DataFrame pipeline:

    transcripts ──dedup(S2)──> docs (dense doc_id, dl)
        └─analyze UDF──explode──groupBy(doc_id,term) → tf      [shuffle 1]
             ├─groupBy(term) → df  (A1)                        [shuffle 2]
             ├─join term_id (broadcast when dict fits)          → postings_flat
             └─repartition(term_id, doc-range bucket)          [shuffle 3]
                  + sortWithinPartitions(term_id, bucket, doc_id)
                  → mapInArrow block-encode, one numpy pass per
                    Arrow batch (delta+varint, per-block max BM25
                    score)                                      → postings

Skew (M5): the hot-term shuffle is salted by a *doc-range* bucket
(``doc_id // bucket_range``) instead of a hash salt, so each bucket is a
contiguous, independently-encodable doc-id range — a term appearing in 60%
of 10^12 docs spreads over N/range tasks and never funnels through one
reducer, and blocks stay globally sorted without a second merge pass.

Dense IDs: ``assign_dense_ids`` is a three-level distributed prefix sum
(row_number within partition key → prefix-partitioned running sum over the
per-key counts → driver-side per-prefix totals). No window over a
data-sized table ever runs on a single partition (the only single-partition
window is level 3's ≲10^4-row short-prefix totals), so the id assignment
holds at 10^12 turns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from searchengine_spark.functions.analysis import analyze_tf_col, tf_pairs
from searchengine_spark.operators.codec import BLOCK_SIZE, block_encoder

K1 = 1.2
B = 0.75


def bm25_idf(df_col, n_docs: int):
    """Robertson idf, Lucene-style +1 smoothing (always positive)."""
    return F.log(F.lit(1.0) + (F.lit(float(n_docs)) - df_col + F.lit(0.5)) / (df_col + F.lit(0.5)))


def bm25_tf_part(tf_col, dl_col, avgdl: float):
    return (tf_col * (K1 + 1.0)) / (tf_col + K1 * (1.0 - B + B * dl_col / F.lit(float(avgdl))))


def encode_postings(flat: DataFrame, bucket_range: int, block_size: int,
                    n_docs: "int | None" = None, avgdl: "float | None" = None,
                    positional: bool = False,
                    bound_type: str = "int") -> DataFrame:
    """Flat postings (term_id, doc_id, tf, dl[, df][, positions]) → posting
    blocks: one shuffle on (term_id, doc-range bucket), each partition
    sorted by (term_id, bucket, doc_id), then ``codec.block_encoder``
    encodes each Arrow batch in one numpy pass — the one encode step
    behind build, upsert, delete, compact and the fielded writers.

    With ``n_docs``/``avgdl`` each posting is scored with the build-time
    BM25 (``bm25_idf`` × ``bm25_tf_part`` over the ``df`` column) and the
    blocks carry ``block_max_score``; without, they carry only the
    stats-independent (block_max_tf, block_min_dl) bounds (fielded)."""
    scored = n_docs is not None
    if scored:
        flat = flat.withColumn("score", bm25_idf(F.col("df"), n_docs)
                               * bm25_tf_part(F.col("tf"), F.col("dl"), avgdl))
    flat = flat.select(
        "term_id", (F.col("doc_id") / F.lit(bucket_range)).cast("int")
        .alias("bucket"), "doc_id", "tf", "dl",
        *(["score"] if scored else []), *(["positions"] if positional else []))
    encode, schema = block_encoder(block_size, -(-bucket_range // block_size),
                                   scored, positional, bound_type)
    return (flat.repartition("term_id", "bucket")
            .sortWithinPartitions("term_id", "bucket", "doc_id")
            .mapInArrow(encode, schema))


def term_bounds(postings: DataFrame) -> DataFrame:
    """Per-term WAND bounds denormalized from block metadata: (term_id,
    [max_score,] max_tf, min_dl). A null ``block_min_dl`` (legacy blocks)
    counts as 0 — the dl→0 bound, sound for any block."""
    aggs = [F.max("block_max_tf").alias("max_tf"),
            F.min(F.coalesce(F.col("block_min_dl"), F.lit(0))).alias("min_dl")]
    if "block_max_score" in postings.columns:
        aggs.insert(0, F.max("block_max_score").alias("max_score"))
    return postings.groupBy("term_id").agg(*aggs)


def dedup_turns(transcripts: DataFrame) -> DataFrame:
    """S2: URL-frontier dedup analog (reference: dto/indexing/SiteIndexer.java:23,38;
    PageUrl.java:12-23). Exact duplicates by doc key."""
    return transcripts.dropDuplicates(["conv_id", "turn_idx"])


def admission_filter(transcripts: DataFrame, drop_roles: tuple[str, ...] = ()) -> DataFrame:
    """S3: admission predicate analog (reference: dto/indexing/PageIndexer.java:136-144
    rejects media/fragment/off-site URLs) — role/tool admission for transcripts."""
    if not drop_roles:
        return transcripts
    return transcripts.filter(~F.col("role").isin(list(drop_roles)))


def _prefix_sum_offsets(sizes: DataFrame, key_col: str, cnt_col: str,
                        off_col: str, prefix_len: int = 8,
                        prefix_len2: int = 5) -> DataFrame:
    """Distributed exclusive prefix sum of ``cnt_col`` in ``key_col`` order,
    as ONE lazy plan (no extra action — a driver-side collect here forced a
    second pass over the upstream dedup shuffle and cost ~30% of build
    throughput at sf1.0).

    Level 1: running sum windowed WITHIN key-prefix partitions (parallel).
    Level 2: per-prefix totals (|keys|/charset^Δ rows) prefix-summed within
    SHORT-prefix partitions. Level 3: per-short-prefix totals — a set small
    enough (≲10^4 even at 10^10 keys) that its single-partition window is a
    deliberate, trivial exception to the no-single-partition-window rule.
    String-sort order is preserved because grouping by a string prefix keeps
    key ranges contiguous; at even higher cardinality add a fourth level the
    same way.

    Requires a STRING key column: prefix grouping sorts keys in string
    order, so a numeric key would get ids in string-prefix order ("10"
    before "9") — contract violation. Enforced, not assumed.
    """
    ktype = dict(sizes.dtypes)[key_col]
    if ktype != "string":
        raise TypeError(
            f"_prefix_sum_offsets requires a string key column; got "
            f"{key_col}: {ktype}. Cast (and, if numeric, zero-pad) the key "
            f"first so string-prefix order matches the intended order.")
    pfx = F.substring(F.col(key_col), 1, prefix_len)
    w_in = (Window.partitionBy("_pfx").orderBy(key_col)
            .rowsBetween(Window.unboundedPreceding, -1))
    local = (sizes.withColumn("_pfx", pfx)
             .withColumn("_loff", F.coalesce(F.sum(cnt_col).over(w_in), F.lit(0))))
    tot = (local.groupBy("_pfx").agg(F.sum(cnt_col).alias("_t"))
           .withColumn("_pfx2", F.substring("_pfx", 1, prefix_len2)))
    w_mid = (Window.partitionBy("_pfx2").orderBy("_pfx")
             .rowsBetween(Window.unboundedPreceding, -1))
    tot = tot.withColumn("_moff", F.coalesce(F.sum("_t").over(w_mid), F.lit(0)))
    tot2 = tot.groupBy("_pfx2").agg(F.sum("_t").alias("_t2"))
    w_top = Window.orderBy("_pfx2").rowsBetween(Window.unboundedPreceding, -1)
    tot2 = tot2.withColumn("_toff", F.coalesce(F.sum("_t2").over(w_top), F.lit(0)))
    poff = (tot.join(F.broadcast(tot2.select("_pfx2", "_toff")), "_pfx2")
            .select("_pfx", (F.col("_moff") + F.col("_toff")).alias("_poff")))
    return (local.join(F.broadcast(poff), "_pfx")
            .withColumn(off_col, (F.col("_loff") + F.col("_poff")).cast("long"))
            .select(key_col, off_col))


def assign_dense_ids(df: DataFrame, key_col: str, order_cols: list[str],
                     id_col: str = "_id") -> DataFrame:
    """Dense 0-based ids by (key_col, *order_cols) without a global window.

    Level 1: row_number within key_col (distributed). Levels 2+3: the
    per-key counts go through ``_prefix_sum_offsets`` (prefix-partitioned
    running sum + driver-side per-prefix totals), so no window ever runs on
    a single partition. Join back on key.
    """
    w_in = Window.partitionBy(key_col).orderBy(*order_cols)
    with_rn = df.withColumn("_rn", F.row_number().over(w_in))
    sizes = df.groupBy(key_col).count()
    offsets = _prefix_sum_offsets(sizes, key_col, "count", "_off")
    return (
        with_rn.join(offsets, key_col)
        .withColumn(id_col, (F.col("_off") + F.col("_rn") - 1).cast("long"))
        .drop("_rn", "_off")
    )


def build_docs(transcripts: DataFrame, mode: str = "general",
               dictionary: str = "fixture") -> DataFrame:
    """docs table: dedup → dense doc_id over (conv_id, turn_idx) → fused
    analysis struct ``tt`` (terms, tfs, dl) + dl.

    doc_id is the dense rank over the stable (conv_id, turn_idx) order, so
    ordering by doc_id IS the per-row-invariant stable turn ordering —
    downstream tie-breaks only need doc_id. tf is counted inside the
    analysis UDF (T5), so the tf stage downstream is shuffle-free.
    """
    with_id = dedup_and_assign_doc_ids(transcripts)
    analyzed = with_id.withColumn(
        "tt", analyze_tf_col(F.col("text"), mode, dictionary))
    return analyzed.withColumn("dl", F.col("tt.dl"))


def dedup_and_assign_doc_ids(transcripts: DataFrame) -> DataFrame:
    """S2 dedup + dense doc_id in ONE shuffle.

    Both windows share the hash(conv_id) distribution, so Spark plans a
    single exchange (plus cheap in-partition sorts): the pick window keeps
    the first row of each (conv_id, turn_idx) run, dense_rank over turn_idx
    is the local id, and per-conv counts roll into global offsets via
    ``_prefix_sum_offsets`` (prefix-partitioned running sum, driver-side
    per-prefix totals — no single-partition window at any conv cardinality)
    + a broadcast join back. The row payload (text) crosses the wire once.
    """
    # NOTE: no payload columns in the sort key — sorting by text-sized keys
    # measured ~5× slower. (turn_idx, ts, role) discriminates duplicates;
    # rows identical on all three are exact copies, so the pick is stable.
    w_pick = Window.partitionBy("conv_id").orderBy("turn_idx", "ts", "role")
    w_rank = Window.partitionBy("conv_id").orderBy("turn_idx")
    x = (transcripts
         .withColumn("_prev", F.lag("turn_idx").over(w_pick))
         .withColumn("_lid", F.dense_rank().over(w_rank) - 1))
    deduped = x.filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("turn_idx"))) \
               .drop("_prev")
    # Per-conv deduped row counts == |distinct turn_idx| per conv, derivable
    # from a PAYLOAD-FREE scan of the raw input (parquet reads only
    # conv_id+turn_idx). Deriving them from `deduped` instead put the whole
    # text-carrying dedup lineage inside the broadcast subtree, which Spark
    # evaluates as its own stage — the payload shuffle ran twice and cost
    # ~30-40% of sf1.0 build throughput.
    sizes = (transcripts.select("conv_id", "turn_idx").dropDuplicates()
             .groupBy("conv_id").agg(F.count("*").alias("_cnt")))
    offsets = _prefix_sum_offsets(sizes, "conv_id", "_cnt", "_off")
    return (deduped.join(F.broadcast(offsets), "conv_id")
            .withColumn("doc_id", (F.col("_off") + F.col("_lid")).cast("long"))
            .drop("_lid", "_off"))


def build_index(transcripts: DataFrame, mode: str = "general",
                bucket_range: int = 1 << 16, block_size: int = BLOCK_SIZE,
                dictionary: str = "fixture", with_positions: bool = False) -> dict:
    """Full index build from raw transcripts. Returns dict of DataFrames +
    corpus stats: docs, terms, postings_flat, postings, stats, mode.
    ``dictionary`` picks the named lemma dictionary (analysis.get_dictionary)
    and rides along in stats so query-side analysis always matches.
    ``with_positions`` adds delta+varint-encoded token positions to every
    posting block (phrase queries via ``operators.search.phrase_search``)."""
    return build_index_from_docs(build_docs(transcripts, mode, dictionary),
                                 mode, bucket_range, block_size, dictionary,
                                 with_positions)


def build_index_from_docs(docs_with_tt: DataFrame, mode: str = "general",
                          bucket_range: int = 1 << 16, block_size: int = BLOCK_SIZE,
                          dictionary: str = "fixture",
                          with_positions: bool = False) -> dict:
    """Index build over an already-analyzed docs table
    (doc_id, conv_id, turn_idx, role, tool, ts, tt struct, dl) — shared by
    the one-shot path and the checkpoint-resume path (plans/manifest.py),
    which stages analyzed docs per partition and resumes here.

    Caching strategy: the served ``docs`` cache is SLIM (tt dropped — the
    per-row token arrays are ~65× the metadata and caching them as JVM
    objects dominated build wall-clock); tf rows are cached separately as
    slim numerics. The analysis UDF therefore runs twice (once per cache),
    which measures far cheaper than materializing the fat rows.
    """
    # localCheckpoint(eager=False) instead of persist: same caching (blocks
    # materialize on first use, en route through tf.count() below), but the
    # plan becomes a LogicalRDD IMMEDIATELY — the served index's DataFrames
    # otherwise carry the entire build lineage, and every query re-pays
    # Catalyst analysis of that tree (measured ~1.5 s/query at sf0.1: the
    # whole warm-search floor was plan re-analysis, not execution).
    docs = docs_with_tt.drop("tt").localCheckpoint(eager=False)

    # T5 done in the UDF: tf pairs explode without any shuffle; the first
    # shuffle of the build is the (partial+final) df aggregation below.
    # The UDF is re-applied ON TOP of the cached slim docs — Spark cache
    # reuse is plan-based, so deriving tf from docs_with_tt's original
    # lineage would replay the dedup/id shuffles instead of hitting cache.
    if with_positions:
        from searchengine_spark.functions.analysis import (
            analyze_tf_pos_col, tf_pos_pairs)
        tf = tf_pos_pairs(docs.withColumn(
            "tt", analyze_tf_pos_col(F.col("text"), mode, dictionary))).persist()
    else:
        tf = tf_pairs(docs.withColumn(
            "tt", analyze_tf_col(F.col("text"), mode, dictionary))).persist()
    # Eager materialization barrier, and the build's FIRST action: evaluating
    # tf populates the docs cache en route (its plan scans the uncached docs
    # InMemoryRelation), so both caches fill in one pass. Skipping the
    # barrier lets the postings job's two branches race to populate tf
    # (each recomputing UDF partitions) and leaves the dictionary's size
    # unknown to the join planner — measured ~3× slower.
    tf.count()
    stats_row = docs.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl"),
        F.sum("dl").alias("total_tokens")).collect()[0]
    n_docs, avgdl = int(stats_row["n"]), float(stats_row["avgdl"] or 0.0)
    df_agg = tf.groupBy("term").agg(F.count("*").alias("df"))  # tf rows unique per (doc,term)
    # dense term_id by term asc: prefix-partitioned two-level prefix sum
    terms = assign_dense_ids(
        df_agg.withColumn("_tp", F.substring("term", 1, 1)),
        key_col="_tp", order_cols=["term"], id_col="term_id",
    ).drop("_tp").persist()
    n_terms = terms.count()

    # dictionary-side join: broadcast while the dictionary fits (it is tiny
    # relative to the postings); at 10^8-term scale fall back to a shuffled
    # hash join on term (AQE picks the strategy from the real sizes).
    tsel = terms.select("term", "term_id", "df")
    pos_cols = ["positions"] if with_positions else []
    postings_flat = (
        tf.join(F.broadcast(tsel) if n_terms <= 10_000_000 else tsel, "term")
        .select("term_id", "doc_id", "tf", "dl", "df", *pos_cols)
    )

    postings = encode_postings(
        postings_flat, bucket_range, block_size, n_docs=n_docs, avgdl=avgdl,
        positional=with_positions)

    # A live (unsaved) index is served repeatedly: materialize terms/postings
    # once so per-query jobs scan cached data instead of re-running the whole
    # analyze→aggregate→encode lineage, and TRUNCATE the lineage (checkpoint,
    # not persist) so per-query Catalyst analysis sees a LogicalRDD leaf
    # instead of the full build tree. Persisted saves get both from parquet.
    postings = postings.localCheckpoint(eager=False)
    # Per-term max block score/tf denormalized into the dictionary: the WAND
    # upper bounds (M_t) then come straight from the |q| dictionary rows at
    # query time — no per-query aggregation job over the postings.
    term_max = term_bounds(postings)
    terms_out = (terms.select("term", "term_id", "df")
                 .join(term_max, "term_id", "left").localCheckpoint(eager=False))
    return {
        "mode": mode,
        "dictionary": dictionary,
        "docs": docs,
        "terms": terms_out,
        "postings_flat": postings_flat.select("term_id", "doc_id", "tf"),
        "postings": postings,
        "stats": {"n_docs": n_docs, "avgdl": avgdl, "n_terms": n_terms,
                  "max_doc_id": n_docs - 1,  # dense ids 0..n_docs-1
                  "total_tokens": int(stats_row["total_tokens"] or 0),
                  # persisted geometry: upsert's touched-(term_id, bucket)
                  # classification MUST use the layout the index was built
                  # with (bucket = block_id // ceil(bucket_range/block_size))
                  "bucket_range": bucket_range, "block_size": block_size,
                  **({"positions": True} if with_positions else {})},
    }


def statistics_per_collection(index: dict, prefix_len: int = 9,
                              tokens=None) -> DataFrame:
    """A3 per-collection detail (reference services/StatisticsServiceImpl.java:71-89
    returns per-site page AND lemma counts): collection = conv_id prefix.

    Returns (collection, n_docs, n_tokens, n_lemmas). One explode + one
    groupBy(collection) — partial aggregation map-side; lemma distinctness
    is a hash agg on (collection, term), no skew hazard beyond AQE's reach.
    ``tokens`` overrides the tokenizer column (default: the index's own
    analysis chain, so n_lemmas counts DICTIONARY lemmas per collection).
    """
    from searchengine_spark.functions.analysis import analyze_col

    docs = index["docs"]
    mode = index.get("mode", "general")
    dictionary = index.get("dictionary", "fixture")
    toks = (analyze_col(F.col("text"), mode, dictionary)
            if tokens is None else tokens)
    ex = docs.select(F.substring("conv_id", 1, prefix_len).alias("collection"),
                     "doc_id", F.explode_outer(toks).alias("term"))
    return ex.groupBy("collection").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("term").alias("n_tokens"),
        F.countDistinct("term").alias("n_lemmas"))


def index_geometry(index: dict) -> DataFrame:
    """Physical-layout inspection: per-term block/posting/byte counts from
    the postings METADATA only (no decode) — the observability surface an
    operator of a 100 TB index reads before deciding to compact, and a
    structural invariant check: Σn per term == df, n_blocks per
    (term, bucket) == ceil(postings/block_size).

    Returns (term, term_id, df, n_blocks, n_postings, payload_bytes)
    where payload_bytes sums the compressed doc_deltas+tfs+dls streams.
    One metadata aggregation + one dictionary join; scale-safe at any
    index size.
    """
    per_term = index["postings"].groupBy("term_id").agg(
        F.count("*").alias("n_blocks"),
        F.sum("n").cast("long").alias("n_postings"),
        F.sum(F.length("doc_deltas") + F.length("tfs")
              + F.length("dls")).cast("long").alias("payload_bytes"))
    return (index["terms"].select("term", "term_id", "df")
            .join(per_term, "term_id", "left"))


def statistics(index: dict) -> DataFrame:
    """A3 corpus statistics (reference: services/StatisticsServiceImpl.java:33-101):
    per-role doc counts + lemma totals, plus build metrics."""
    docs, terms = index["docs"], index["terms"]
    per_role = docs.groupBy("role").agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("n_tokens"))
    totals = docs.agg(F.count("*").alias("n_docs"), F.sum("dl").alias("n_tokens")) \
        .withColumn("role", F.lit("__total__")).select("role", "n_docs", "n_tokens")
    return per_role.unionByName(totals)
