"""S6 incremental upsert: MERGE a small delta of turns into a built index.

Reference semantics (reference: services/IndexingPageServiceImpl.java:37-135):
for an existing page, walk its old postings, decrement each lemma's df
(delete the lemma at df==0), delete its postings and the page row, then
re-index the fresh content (df increment-or-insert + posting insert,
``writeLemmas`` :137-170). For a new page, plain insert.

Spark-first re-expression — instead of row-at-a-time JDBC deletes we rewrite
only the *touched* (term_id, bucket) posting groups and apply a per-term df
delta. Every writer of this module and its fielded twins
(``fielded.upsert_fielded`` / ``delete_fielded``) runs the same steps, each
with one owner:

1. docs      ``_merge_docs``: replaced keys keep their doc_id, new keys
             append after max(doc_id) (stable, monotonic)
2. terms     ``_apply_df_delta``: ONE delta-sized collect of the delta's
             (term, bucket) groups with removed/inserted counts, joined
             to the dictionary, gives Δdf = (#inserted docs with term) −
             (#removed docs with term), fresh term ids, dead (df ≤ 0)
             terms — dropped, as the reference deletes the lemma row —
             and the touched (term_id, bucket) set; the new dictionary
             stays lazy, and its size (stats ``n_terms``) is the old one
             + fresh − dead terms
3. postings  ``_rewrite_touched``: split blocks into touched/untouched
             (term_id, bucket) groups (a pandas-built frame of the
             collected set) → decode the touched ones
             (``search._decode_blocks``) → merge: drop removed doc_ids
             and dead terms, union the inserts → score under the new
             stats (main index) → encode (``indexer.encode_postings``,
             build_index's Arrow-batched encoder and exact layout) →
             union the untouched blocks → re-derive touched terms'
             bounds
4. commit    ``plans.manifest.commit_new_snapshot`` (persisted flows)

Untouched blocks pass through byte-identical. Their stored block_max_score
was computed under the *old* (n_docs, avgdl), so the upserted index sets
``stats["tf_bounds"]=True`` and the query path switches to the
stats-INDEPENDENT bound derived from the per-block (block_max_tf,
block_min_dl) pair: the BM25 tf-part is increasing in tf and decreasing in
dl, so ``idf_now * f(max_tf, min_dl)`` upper-bounds every doc in the block
under any current stats. Pruning exactness is preserved; the bound is
near-tight (decoupled maxima) and does NOT degrade over long upsert chains.
Legacy blocks without block_min_dl fall back to dl→0 (min_dl coalesced
to 0).

The production target is an Iceberg ``MERGE INTO`` on (conv_id, turn_idx)
with the posting rewrite in the same transaction/snapshot; here the same
semantics run over the in-memory index dict, and ``merge_into_path`` gives
the persisted flow: load → upsert → save to a new snapshot dir → atomically
flip a CURRENT pointer file (commit protocol == Iceberg snapshot commit).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from searchengine_spark.functions.analysis import (
    analyze_tf_col, analyze_tf_pos_col, tf_pairs, tf_pos_pairs)
from searchengine_spark.operators.codec import BLOCK_SIZE, block_fields
from searchengine_spark.operators.indexer import (
    dedup_turns, encode_postings, term_bounds)
from searchengine_spark.operators.search import _decode_blocks

KEY = ["conv_id", "turn_idx"]


# Micro-batch contract: the new-doc id window (Window.orderBy over the delta)
# and the delta-vocabulary collect are fine for deltas this size relative to the
# corpus, and pathological beyond it. Enforced, not assumed.
MAX_DELTA_FRACTION = 0.25
MAX_DELTA_ABS = 5_000_000  # ceiling even against a huge corpus

# per-term bound columns each dictionary carries, with their types
MAIN_BOUNDS = {"max_score": "double", "max_tf": "int", "min_dl": "int"}
FIELD_BOUNDS = {"max_tf": "long", "min_dl": "long"}


def _check_micro_batch(n: int, stats: dict,
                       max_delta_fraction: "float | None", what: str, op: str,
                       bulk: str, scratch=None) -> None:
    """The micro-batch guard of every upsert/delete: this module's plan
    shapes (delta-wide id window, driver-side delta-vocabulary collect,
    broadcast key joins) assume a micro-batch, so a bulk load disguised as
    a delta is refused. The limit is a fraction of the corpus, never below
    a floor (tiny corpora accept any small delta) and never above
    ``MAX_DELTA_ABS`` (read at call time). ``scratch`` is unpersisted
    before raising; a None fraction means ``MAX_DELTA_FRACTION``."""
    if max_delta_fraction is None:
        max_delta_fraction = MAX_DELTA_FRACTION
    limit = min(MAX_DELTA_ABS,
                max(100_000, int(stats["n_docs"] * max_delta_fraction)))
    if n > limit:
        if scratch is not None:
            scratch.unpersist()
        raise ValueError(
            f"{what} has {n} rows > {limit} "
            f"(= min({MAX_DELTA_ABS}, max(100000, {max_delta_fraction:.0%} of "
            f"{stats['n_docs']} docs))); {op} is for micro-batches — {bulk}, "
            f"or raise max_delta_fraction explicitly if this size is intended")


def _delete_keys(docs: DataFrame, keys) -> DataFrame:
    """(conv_id, turn_idx) of the docs to delete: ``keys`` is a DataFrame
    with those columns or a Column predicate over the docs table."""
    if isinstance(keys, DataFrame):
        return keys.select(*KEY).distinct()
    return docs.filter(keys).select(*KEY)


def _max_doc_id(stats: dict, docs: DataFrame) -> int:
    """The index's largest doc_id (-1 when it has no docs): the carried
    ``stats["max_doc_id"]``, or one collect for older snapshots without
    it."""
    if stats.get("max_doc_id") is not None:
        return int(stats["max_doc_id"])
    row0 = docs.agg(F.max("doc_id")).collect()[0][0]
    return row0 if row0 is not None else -1


def _merge_docs(docs: DataFrame, delta: DataFrame, replaced: DataFrame,
                max_doc_id: int, *aggs, old_dl: bool = False):
    """Docs merge of an upsert: replaced keys keep their doc_id; new keys
    append after ``max_doc_id`` (``_max_doc_id``) in key order (from 0 on
    an emptied index). Returns (new docs, delta with doc_id — persisted,
    agg row with ``n_new``, ``top`` — the delta's largest doc_id — and any
    extra ``aggs`` over the id'd delta).
    ``old_dl`` carries each replaced doc's ``dl`` through the id join as
    ``_old_dl``, so ``aggs`` can sum the replaced docs' tokens in the same
    collect."""
    carried = [F.col("dl").alias("_old_dl")] if old_dl else []
    delta_ided = delta.join(
        F.broadcast(replaced.select(*KEY, "doc_id", *carried)), KEY, "left")
    delta_ided = delta_ided.withColumn(
        "doc_id",
        F.coalesce(F.col("doc_id"),
                   F.lit(max_doc_id) + F.dense_rank().over(Window.orderBy(*KEY)))
        .cast("long"),
    ).persist()
    survivors = docs.join(F.broadcast(delta.select(*KEY)), KEY, "left_anti")
    new_docs = survivors.unionByName(delta_ided.select(*survivors.columns))
    row = delta_ided.agg(
        F.sum(F.when(F.col("doc_id") > max_doc_id, 1).otherwise(0))
        .alias("n_new"), F.max("doc_id").alias("top"), *aggs).collect()[0]
    return new_docs, delta_ided, row


def _apply_df_delta(terms: DataFrame, removed_flat: DataFrame,
                    inserted_flat: "DataFrame | None", df_col: str,
                    bounds: dict, bucket_range: int):
    """Dictionary step (A1 incremental) from ONE delta-sized collect: the
    delta's (term, doc-range bucket) groups with their removed and
    inserted posting counts, joined to the dictionary's (term_id, df).

    Δdf per term = (#inserted docs with term) − (#removed docs with term).
    Existing terms apply it in place with their term_id unchanged — no
    window over the full dictionary (at 10^8 terms a Window.orderBy over
    the merged dictionary would funnel every micro-batch through one
    task) — and terms whose df hits 0 are dropped (the reference deletes
    the lemma row, services/IndexingPageServiceImpl.java:108-121).
    Genuinely new terms ≈ the delta vocabulary, tiny by the micro-batch
    contract: dense ids after max(term_id) (collected only when a fresh
    term exists), assigned in sorted-term order.

    The ``bounds`` columns ride along stale (null for fresh or legacy
    terms); ``_rewrite_touched`` re-derives them for touched terms.
    Returns (new_terms — lazy (term, term_id, df_col, *bounds) —, touched
    — a pandas frame, one row per touched (term_id, bucket) with the
    term's string and new ``df``; df ≤ 0 marks a dead term —, d_terms —
    fresh terms minus dead terms, the dictionary's size change)."""
    bucket = (F.col("doc_id") / F.lit(bucket_range)).cast("int").alias("bucket")
    parts = removed_flat.select("term", bucket, F.lit(1).alias("_r"),
                                F.lit(0).alias("_i"))
    if inserted_flat is not None:
        parts = parts.unionByName(inserted_flat.select(
            "term", bucket, F.lit(0).alias("_r"), F.lit(1).alias("_i")))
    groups = (parts.groupBy("term", "bucket")
              .agg(F.sum("_r").alias("_r"), F.sum("_i").alias("_i"))
              .join(terms.select("term", "term_id", df_col), "term", "left")
              .collect())
    touched = pd.DataFrame(
        [(r["term"], r["bucket"], r["_i"] - r["_r"], r["term_id"], r[df_col])
         for r in groups], columns=["term", "bucket", "ddf", "term_id", "df"]
    ).astype({"term_id": "float64", "df": "float64"})  # NaN: fresh term
    per_term = touched.groupby("term", sort=True).agg(
        ddf=("ddf", "sum"), term_id=("term_id", "first"), df=("df", "first"))
    is_fresh = per_term["term_id"].isna()
    per_term = per_term[~is_fresh | (per_term["ddf"] > 0)].assign(
        df=lambda p: p["df"].fillna(0) + p["ddf"])
    fresh = per_term.index[per_term["term_id"].isna()]
    if len(fresh):
        row0 = terms.agg(F.max("term_id")).collect()[0][0]
        max_term_id = row0 if row0 is not None else -1  # empty dictionary
        per_term.loc[fresh, "term_id"] = max_term_id + 1 + np.arange(len(fresh))
    per_term = per_term.astype({"term_id": "int64", "df": "int64"})
    d_terms = len(fresh) - int((per_term["df"] <= 0).sum())
    touched = touched[["term", "bucket"]].join(
        per_term[["term_id", "df"]], on="term", how="inner")

    spark = terms.sparkSession
    for c, t in bounds.items():
        if c not in terms.columns:  # legacy dictionary without bounds
            terms = terms.withColumn(c, F.lit(None).cast(t))
    changed = per_term.loc[per_term["ddf"] != 0, ["df"]].reset_index()
    new_terms = (terms.join(F.broadcast(spark.createDataFrame(
                     changed, "term string, _ndf long")), "term", "left")
                 .withColumn(df_col, F.coalesce("_ndf", df_col).cast("long"))
                 .filter(F.col(df_col) > 0)
                 .select("term", "term_id", df_col, *bounds))
    if len(fresh):
        rows = per_term.loc[fresh, ["term_id", "df"]].reset_index()
        for c in bounds:
            rows[c] = None
        new_terms = new_terms.unionByName(spark.createDataFrame(
            rows.rename(columns={"df": df_col}),
            ", ".join(f"{c} {t}" for c, t in new_terms.dtypes)))
    return new_terms, touched.reset_index(drop=True), d_terms


def _n_terms(stats: dict, d_terms: int) -> dict:
    """The dictionary size after a write, when the old stats carry it (so
    no reader pays a ``terms.count()`` job for it); older snapshots
    without it stay without it."""
    n = stats.get("n_terms")
    return {} if n is None else {"n_terms": n + d_terms}


def _rewrite_touched(postings: DataFrame, new_terms: DataFrame,
                     touched: "pd.DataFrame",
                     inserted_flat: "DataFrame | None", drop_ids: DataFrame,
                     stats: dict, df_col: str = "df",
                     score: "tuple[int, float] | None" = None,
                     positional: bool = False, bound_type: str = "int"):
    """The posting rewrite of every upsert and delete (main and fielded):
    only the touched (term_id, doc-range bucket) groups are rewritten.

    ``touched`` is ``_apply_df_delta``'s collected frame: the groups a
    removed posting lived in (covers df→0 terms) ∪ the groups an insert
    lands in, each with its term's string and new df. Those blocks decode
    (``search._decode_blocks``), drop the removed doc_ids and any dead
    (df→0) term, union the inserts, re-score under the new stats when
    ``score`` = (n_docs, avgdl) is given (main index), and re-encode
    (``indexer.encode_postings``, the builder's exact layout); untouched
    blocks pass through byte-identical. Legacy postings missing bound
    columns get null ones so the union lines up. Term ids and dfs reach
    the plan as pandas-built frames, so no step re-reads the dictionary.

    Per-term bounds: a term's max_score/max_tf/min_dl is the max/min over
    its blocks, and only touched terms' blocks changed, so one agg over
    those terms' blocks keeps the dictionary exact; untouched terms keep
    theirs. Legacy postings without ``block_max_tf`` skip this (a max over
    rewritten blocks alone would underestimate), leaving bounds as they
    were, so pruning stays off for them.

    ``inserted_flat``: (term, doc_id, tf, dl[, positions]) rows. Returns
    (postings, terms, touched): postings and terms checkpointed, touched
    the (term_id, bucket) frame — the incremental snapshot's
    descriptor."""
    spark = postings.sparkSession
    br = stats.get("bucket_range", 1 << 16)
    bs = stats.get("block_size", BLOCK_SIZE)
    groups = spark.createDataFrame(touched[["term_id", "bucket"]],
                                   "term_id long, bucket int")
    by_term = touched[["term", "term_id", "df"]].drop_duplicates()
    alive = by_term[by_term["df"] > 0]
    dead = by_term.loc[by_term["df"] <= 0, ["term_id"]]

    fields = block_fields(score is not None, positional, bound_type)
    legacy = "block_max_tf" not in postings.columns
    for c, t in fields:
        if c not in postings.columns:
            postings = postings.withColumn(c, F.lit(None).cast(t))
    bpb = -(-br // bs)  # blocks per bucket (ceil)
    with_bucket = postings.select(*[c for c, _ in fields]).withColumn(
        "bucket", (F.col("block_id") / F.lit(bpb)).cast("int"))
    old_blocks = with_bucket.join(F.broadcast(groups), ["term_id", "bucket"])
    untouched = with_bucket.join(F.broadcast(groups), ["term_id", "bucket"],
                                 "left_anti").drop("bucket")

    kept = (_decode_blocks(old_blocks, positions=positional)
            .join(F.broadcast(drop_ids.select("doc_id").distinct()), "doc_id",
                  "left_anti"))
    if len(dead):
        kept = kept.join(F.broadcast(spark.createDataFrame(
            dead, "term_id long")), "term_id", "left_anti")
    if inserted_flat is not None:
        ids = spark.createDataFrame(alive[["term", "term_id"]],
                                    "term string, term_id long")
        kept = kept.unionByName(
            inserted_flat.join(F.broadcast(ids), "term")
            .select("term_id", "doc_id", "tf", "dl",
                    *(["positions"] if positional else [])))
    n_docs = avgdl = None
    if score is not None:
        n_docs, avgdl = score
        kept = kept.join(F.broadcast(spark.createDataFrame(
            alive[["term_id", "df"]].rename(columns={"df": df_col}),
            f"term_id long, {df_col} long")), "term_id")
    rewritten = encode_postings(kept, br, bs, n_docs=n_docs, avgdl=avgdl,
                                positional=positional, bound_type=bound_type)
    out_postings = untouched.unionByName(rewritten).localCheckpoint(eager=True)

    terms = new_terms
    if not legacy:
        nb = term_bounds(out_postings.join(F.broadcast(spark.createDataFrame(
            alive[["term_id"]], "term_id long")), "term_id"))
        cols = [c for c in nb.columns if c != "term_id"]
        terms = terms.join(
            F.broadcast(nb.select("term_id", *[F.col(c).alias("_" + c)
                                               for c in cols])),
            "term_id", "left")
        for c in cols:
            terms = terms.withColumn(c, F.coalesce("_" + c, c))
        terms = terms.drop(*["_" + c for c in cols])
    return out_postings, terms.localCheckpoint(eager=True), groups


def upsert_turns(index: dict, delta: DataFrame,
                 bucket_range: int | None = None,
                 block_size: int | None = None,
                 max_delta_fraction: float = MAX_DELTA_FRACTION) -> dict:
    """Merge delta turns (input_hint schema) into ``index``; returns a new
    index dict. |delta| is assumed small relative to the corpus (the
    reference's single-page upsert generalized to a micro-batch).

    Geometry (bucket_range, block_size) defaults to the values the index was
    BUILT with (persisted in stats by the builder/save_index): classifying
    touched (term_id, bucket) groups under any other layout would silently
    leave stale postings alive in blocks it wrongly deems untouched.

    doc_id invariant after upsert (relaxed vs a fresh build): replaced keys
    keep their doc_id; genuinely NEW keys append after max(doc_id) in delta
    key order. Ordering by doc_id is therefore deterministic but
    *insertion-ordered*, not globally (conv_id, turn_idx)-sorted — score
    ties on an upserted index may break differently than on a full rebuild
    of the same corpus. Rebuild-equivalence tests must not rely on tie cases.

    The returned dict starts with COLD postings caches (the
    operators/pcache.py entries and the driver tier's ``_hotcache`` belong
    to the immutable pre-upsert index, so nothing can go stale); when the
    old dict is being discarded rather than kept for serving, call
    ``clear_postings_cache(old_index)`` to unpersist its cached terms and
    drop its driver-tier postings instead of holding them until context
    shutdown.
    """
    mode = index.get("mode", "general")
    dictionary = index.get("dictionary", "fixture")
    stats = index["stats"]
    built_br = stats.get("bucket_range", 1 << 16)
    built_bs = stats.get("block_size", BLOCK_SIZE)
    if bucket_range is None:
        bucket_range = built_br
    if block_size is None:
        block_size = built_bs
    if (bucket_range, block_size) != (built_br, built_bs):
        raise ValueError(
            f"upsert geometry ({bucket_range}, {block_size}) != built index "
            f"geometry ({built_br}, {built_bs}); touched-block classification "
            "would corrupt postings")
    positional = bool(stats.get("positions"))
    _an = ((lambda c: analyze_tf_pos_col(c, mode, dictionary)) if positional
           else (lambda c: analyze_tf_col(c, mode, dictionary)))

    delta = dedup_turns(delta)
    _check_micro_batch(
        delta.count(), stats, max_delta_fraction, "delta", "upsert_turns",
        "use operators.indexer.build_index (or stage the delta through "
        "plans.manifest) for bulk loads")
    delta = delta.withColumn("tt", _an(F.col("text"))) \
                 .withColumn("dl", F.col("tt.dl"))

    docs = index["docs"]
    replaced = docs.join(F.broadcast(delta.select(*KEY)), KEY, "inner")
    if "tt" not in replaced.columns:  # loaded-from-parquet index
        replaced = replaced.drop("dl") \
                           .withColumn("tt", _an(F.col("text"))) \
                           .withColumn("dl", F.col("tt.dl"))
    replaced = replaced.persist()
    max_doc_id = _max_doc_id(stats, docs)
    new_docs, delta_ided, d_row = _merge_docs(
        docs, delta, replaced, max_doc_id, F.sum("dl").alias("tok"),
        F.sum("_old_dl").alias("r_tok"), old_dl=True)

    # --- stats update -----------------------------------------------------
    n_docs = stats["n_docs"] + int(d_row["n_new"] or 0)
    total_tokens = (stats["total_tokens"] + int(d_row["tok"] or 0)
                    - int(d_row["r_tok"] or 0))
    avgdl = total_tokens / n_docs if n_docs else 0.0
    new_stats = {"n_docs": n_docs, "avgdl": avgdl, "total_tokens": total_tokens,
                 "max_doc_id": max(max_doc_id, d_row["top"]
                                   if d_row["top"] is not None else -1),
                 "tf_bounds": True,
                 "bucket_range": bucket_range, "block_size": block_size,
                 **({"positions": True} if positional else {}),
                 **({"passage": stats["passage"]}
                    if "passage" in stats else {})}

    old_flat = tf_pairs(replaced).persist()   # postings to remove
    # inserts carry positions when the index is positional (same analyzer)
    new_flat = (tf_pos_pairs(delta_ided) if positional
                else tf_pairs(delta_ided)).persist()
    new_terms, groups, d_terms = _apply_df_delta(
        index["terms"], old_flat, new_flat, "df", MAIN_BOUNDS, bucket_range)
    new_stats.update(_n_terms(stats, d_terms))
    out_postings, out_terms, touched = _rewrite_touched(
        index["postings"], new_terms, groups, new_flat, replaced, new_stats,
        score=(n_docs, avgdl), positional=positional)

    # Lineage truncation (eager localCheckpoint, not persist): a CHAIN of
    # in-memory upserts would otherwise nest every prior round's plan inside
    # the next one — analyzer/optimizer time grows per round until a 5-round
    # chain takes minutes to PLAN. Checkpointing materializes the outputs
    # and cuts the logical plan to a leaf, making upsert cost O(round), and
    # lets every intermediate cache from this round be freed immediately.
    # (The persisted-snapshot path merge_into_path gets the same effect from
    # its parquet round-trip — this makes the in-memory contract match.)
    out_docs = new_docs.localCheckpoint(eager=True)
    # delta descriptors for incremental snapshots (plans/manifest.py
    # save_index_delta): the upserted KEYS and the touched (term_id, bucket)
    # groups — both micro-batch-sized, checkpointed so they survive the
    # scratch unpersists below
    delta_keys = delta_ided.select(*KEY).localCheckpoint(eager=True)
    for scratch in (replaced, delta_ided, old_flat, new_flat):
        scratch.unpersist()

    out = {"mode": mode, "dictionary": dictionary,
           "docs": out_docs, "terms": out_terms,
           "postings": out_postings, "postings_flat": None,
           "stats": new_stats,
           "_delta": {"keys": delta_keys, "touched": touched,
                      "removed_only": False}}
    from searchengine_spark.operators.suggest import refresh_trigram_index
    refresh_trigram_index(out, index)  # no-op without a trigram sidecar
    return out


def compose_deltas(d1: "dict | None", d2: "dict | None") -> "dict | None":
    """Fold two CONSECUTIVE operations' ``_delta`` descriptors (d1 applied
    first, then d2 on its output) into one descriptor valid against the
    ORIGINAL parent — so a chained delete+upsert (the passage-maintenance
    shape) persists as a single O(|delta|) layer via ``save_index_delta``
    instead of a full snapshot.

    Soundness: ``load_index`` applies a layer as (parent.docs ANTI-JOIN
    keys) ∪ (this.docs SEMI-JOIN keys) and (parent.postings ANTI-JOIN
    touched) ∪ (this.postings SEMI-JOIN touched). With keys = keys₁∪keys₂
    and touched = touched₁∪touched₂ against the FINAL index: a doc key
    deleted and not re-added is absent from the final docs (anti-join
    removes it, the semi-join adds nothing); a re-added or new key's
    final row rides the semi-join. A (term_id, bucket) group in either
    touched set was rewritten by the chain (groups d1 rewrote and d2
    didn't are unchanged between the intermediate and final postings),
    and groups in neither are byte-identical to the parent. Both
    descriptors must come from the same stats geometry (block_size /
    bucket_range are invariant under upsert/delete)."""
    if d1 is None:
        return d2
    if d2 is None:
        return d1
    return {"keys": d1["keys"].unionByName(d2["keys"]).distinct(),
            "touched": d1["touched"].unionByName(d2["touched"]).distinct(),
            "removed_only": bool(d1["removed_only"] and d2["removed_only"])}


def delete_turns(index: dict, keys,
                 max_delta_fraction: float = MAX_DELTA_FRACTION) -> dict:
    """Incremental DELETE: remove turns from a built index; returns a new
    index dict. The reference only deletes as the first half of a page
    re-index (services/IndexingPageServiceImpl.java:37-135 — df decrement,
    lemma row dropped at df==0, postings deleted); this exposes that half
    as its own operator (the GDPR/unlearn path a 100 TB corpus needs:
    deleting a source must not cost a full rebuild).

    ``keys`` is a DataFrame with (conv_id, turn_idx) or a Column predicate
    over the docs table. Plan mirrors ``upsert_turns`` with an empty
    insert set: per-term df decrements (df→0 terms dropped), only the
    deleted docs' (term_id, bucket) posting groups decode → drop →
    re-encode under the NEW (n_docs, avgdl); untouched blocks pass through
    byte-identical and the stats-independent WAND bounds stay exact.
    doc_ids of survivors are unchanged (the dense space keeps holes —
    conv-prefix scopes on a post-delete index fall back to the semi-join
    path, exactly like post-upsert indexes). Same micro-batch guard as
    upsert: bulk deletions should rebuild instead."""
    mode = index.get("mode", "general")
    dictionary = index.get("dictionary", "fixture")
    stats = index["stats"]
    positional = bool(stats.get("positions"))
    _an = ((lambda c: analyze_tf_pos_col(c, mode, dictionary)) if positional
           else (lambda c: analyze_tf_col(c, mode, dictionary)))

    docs = index["docs"]
    kdf = _delete_keys(docs, keys)
    removed = docs.join(F.broadcast(kdf), KEY, "inner")
    if "tt" not in removed.columns:  # loaded-from-parquet index
        removed = removed.drop("dl") \
                         .withColumn("tt", _an(F.col("text"))) \
                         .withColumn("dl", F.col("tt.dl"))
    removed = removed.persist()
    r_row = removed.agg(F.count("*").alias("n"), F.sum("dl").alias("tok"),
                        F.max("doc_id").alias("top")).collect()[0]
    n_removed = int(r_row["n"])
    _check_micro_batch(
        n_removed, stats, max_delta_fraction, "delete set", "delete_turns",
        "rebuild via operators.indexer.build_index on the filtered corpus "
        "for bulk deletions", scratch=removed)
    if n_removed == 0:
        removed.unpersist()
        return dict(index, postings_flat=None)

    new_docs = docs.join(F.broadcast(kdf), KEY, "left_anti")

    # --- stats -------------------------------------------------------------
    n_docs = stats["n_docs"] - n_removed
    total_tokens = stats["total_tokens"] - int(r_row["tok"] or 0)
    avgdl = total_tokens / n_docs if n_docs else 0.0
    new_stats = {"n_docs": n_docs, "avgdl": avgdl,
                 "total_tokens": total_tokens, "tf_bounds": True,
                 "bucket_range": stats.get("bucket_range", 1 << 16),
                 "block_size": stats.get("block_size", BLOCK_SIZE),
                 **({"positions": True} if positional else {}),
                 **({"passage": stats["passage"]}
                    if "passage" in stats else {})}

    old_flat = tf_pairs(removed).persist()
    new_terms, groups, d_terms = _apply_df_delta(
        index["terms"], old_flat, None, "df", MAIN_BOUNDS,
        new_stats["bucket_range"])
    new_stats.update(_n_terms(stats, d_terms))
    out_postings, out_terms, touched = _rewrite_touched(
        index["postings"], new_terms, groups, None, removed, new_stats,
        score=(n_docs, avgdl), positional=positional)

    out_docs = new_docs.localCheckpoint(eager=True)
    if stats.get("max_doc_id") is not None:
        top = int(stats["max_doc_id"])
        if r_row["top"] == top:  # the largest doc went: find the next one
            top = _max_doc_id({}, out_docs)
        new_stats["max_doc_id"] = top
    delta_keys = removed.select(*KEY).localCheckpoint(eager=True)
    for scratch in (removed, old_flat):
        scratch.unpersist()

    out = {"mode": mode, "dictionary": dictionary,
           "docs": out_docs, "terms": out_terms,
           "postings": out_postings, "postings_flat": None,
           "stats": new_stats,
           "_delta": {"keys": delta_keys, "touched": touched,
                      "removed_only": True}}
    from searchengine_spark.operators.suggest import refresh_trigram_index
    refresh_trigram_index(out, index)  # no-op without a trigram sidecar
    return out


# --------------------------------------------------------------------------
# Persisted snapshot flow (Iceberg-MERGE analog over plain parquet)
# --------------------------------------------------------------------------

# The commit-protocol primitives (read_current / commit_snapshot /
# next_snapshot_name / list_snapshots / snapshot_parent) live in
# plans/manifest.py — the ONE module that knows the snapshot path layout
# and pointer-file format. The flows below only use that interface, so
# the parquet+pointer shim swaps for a real Iceberg catalog without
# touching them.


def load_index_as_of(spark: SparkSession, root: str,
                     snapshot: "str | None" = None) -> dict:
    """Time travel — the Iceberg ``VERSION AS OF`` analog: load the index
    at a NAMED snapshot (or CURRENT when None). Snapshot dirs are
    immutable and commits only flip the pointer, so a reader pinned to an
    old version is never affected by later merges/deletes/compactions;
    delta snapshots resolve their parent chain exactly as the current
    reader does."""
    from searchengine_spark.plans.manifest import load_index, read_current

    if snapshot is None:
        cur = read_current(root)
        if cur is None:
            raise ValueError(f"no CURRENT snapshot under {root}")
        return load_index(spark, cur)
    sp = os.path.join(root, snapshot)
    if not os.path.isdir(sp):
        raise ValueError(f"unknown snapshot {snapshot!r} under {root} "
                         f"(expired or never committed?)")
    return load_index(spark, sp)


def rollback_to(root: str, snapshot: str) -> str:
    """Roll CURRENT back to an earlier snapshot — one atomic pointer
    flip, no data rewritten (the Iceberg rollback). Later snapshots stay
    on disk (still time-travelable) until ``expire_snapshots`` garbage-
    collects them; the next commit branches from the rolled-back state
    under a fresh ordinal."""
    from searchengine_spark.plans.manifest import (commit_snapshot,
                                                   snapshot_exists)
    if not snapshot_exists(root, snapshot):
        raise ValueError(f"unknown snapshot {snapshot!r} under {root}")
    commit_snapshot(root, snapshot)
    return os.path.join(root, snapshot)


def expire_snapshots(root: str) -> list[str]:
    """Garbage-collect snapshots unreachable from CURRENT: keep CURRENT
    and its delta-parent chain (a delta reader needs every ancestor down
    to the chain's full snapshot); delete everything else — abandoned
    rollback branches and superseded chains. Returns the removed names.
    Time travel to an expired snapshot then raises (the
    ``expire_snapshots`` contract Iceberg users know)."""
    import shutil

    from searchengine_spark.plans.manifest import (read_current,
                                                   snapshot_parent)
    cur = read_current(root)
    if cur is None:
        raise ValueError(f"no CURRENT snapshot under {root}")
    live = set()
    node = os.path.basename(cur)
    while node is not None and node not in live:
        live.add(node)
        node = snapshot_parent(root, node)
    removed = []
    for d in sorted(x for x in os.listdir(root) if x.startswith("snap-")):
        if d not in live:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
            removed.append(d)
    return removed


def merge_into_path(spark: SparkSession, root: str, delta: DataFrame,
                    incremental: bool = False) -> str:
    """MERGE delta into the CURRENT snapshot under ``root``; writes a new
    snapshot dir and flips CURRENT atomically. Returns the new snapshot dir.

    ``incremental=True`` writes a DELTA snapshot (rewritten blocks + delta
    docs + touched set only — O(|delta|) bytes, the Iceberg-MERGE
    write-amplification contract) instead of a full copy; ``load_index``
    resolves the parent chain. Bound chain depth with periodic
    ``compact_into_path`` (writes a full snapshot, resetting the chain)."""
    from searchengine_spark.plans.manifest import commit_new_snapshot
    return commit_new_snapshot(spark, root, lambda ix: upsert_turns(ix, delta),
                               incremental=incremental)


def delete_from_path(spark: SparkSession, root: str, keys,
                     incremental: bool = False) -> str:
    """DELETE turns from the CURRENT snapshot under ``root`` (the
    ``merge_into_path`` analog for ``delete_turns``): writes a new
    snapshot dir and flips CURRENT atomically — the Iceberg
    ``DELETE FROM`` commit mapped onto the same snapshot protocol.
    Returns the new snapshot dir. ``incremental`` as in merge_into_path."""
    from searchengine_spark.plans.manifest import commit_new_snapshot
    return commit_new_snapshot(spark, root, lambda ix: delete_turns(ix, keys),
                               incremental=incremental)


def diff_snapshots(spark: SparkSession, root: str, a: str,
                   b: "str | None" = None) -> dict:
    """Snapshot diff — the Iceberg changelog-inspection analog: what
    changed between snapshot ``a`` and snapshot ``b`` (CURRENT when None)
    of one index root.

    Returns {"docs_added": DF, "docs_removed": DF (conv_id, turn_idx,
    role), "terms_changed": DF (term, df_a, df_b) — added terms have
    df_a null, dropped terms df_b null, retained terms appear only when
    their df moved, "summary": {n_docs_a, n_docs_b, n_terms_a,
    n_terms_b, docs_added, docs_removed, terms_changed}}.

    Diffs use the NATURAL keys ((conv_id, turn_idx) for docs, term for
    the dictionary): dense ids are layout, not identity — a compaction
    with ``reassign_ids=True`` moves every doc_id while changing nothing.
    Plan: two anti-joins + one full outer join on the dictionary —
    metadata tables only, postings never load.
    """
    ia = load_index_as_of(spark, root, a)
    ib = load_index_as_of(spark, root, b)
    key = ["conv_id", "turn_idx"]
    da = ia["docs"].select(*key, "role")
    db = ib["docs"].select(*key, "role")
    docs_added = db.join(da.select(*key), key, "left_anti")
    docs_removed = da.join(db.select(*key), key, "left_anti")
    ta = ia["terms"].select("term", F.col("df").alias("df_a"))
    tb = ib["terms"].select("term", F.col("df").alias("df_b"))
    terms_changed = (ta.join(tb, "term", "full_outer")
                     .filter(F.col("df_a").isNull() | F.col("df_b").isNull()
                             | (F.col("df_a") != F.col("df_b"))))
    summary = {
        "n_docs_a": int(ia["stats"]["n_docs"]),
        "n_docs_b": int(ib["stats"]["n_docs"]),
        "n_terms_a": ta.count(), "n_terms_b": tb.count(),
        "docs_added": docs_added.count(),
        "docs_removed": docs_removed.count(),
        "terms_changed": terms_changed.count(),
    }
    return {"docs_added": docs_added, "docs_removed": docs_removed,
            "terms_changed": terms_changed, "summary": summary}


def retention_sweep(spark: SparkSession, root: str, predicate,
                    incremental: bool = True) -> "tuple[str, int]":
    """TTL / retention DELETE over a persisted snapshot root: remove every
    turn whose docs row satisfies ``predicate`` (a Column, e.g.
    ``F.col("ts") < F.lit(cutoff)`` — the transcripts-retention sweep a
    compliance pipeline runs nightly) and commit ONE new snapshot.

    Thin composition over the existing protocol: resolve the matching
    (conv_id, turn_idx) keys from the CURRENT snapshot's docs table (one
    pruned scan — at 10^12 turns a ts predicate prunes parquet row
    groups via min/max stats), then ``delete_from_path`` rewrites only
    the touched posting groups as an O(|deleted|) delta layer
    (``incremental=True``, default) and flips CURRENT atomically.
    Time travel to the pre-sweep snapshot keeps working until
    ``expire_snapshots`` — the standard audit window. Returns (new
    snapshot dir, n_deleted); a predicate matching nothing commits
    nothing and returns (current dir, 0)."""
    from searchengine_spark.plans.manifest import load_index, read_current

    cur = read_current(root)
    if cur is None:
        raise ValueError(f"no CURRENT snapshot under {root}")
    index = load_index(spark, cur)
    keys = index["docs"].filter(predicate).select(*KEY)
    n = keys.count()
    if n == 0:
        return cur, 0
    return delete_from_path(spark, root, keys,
                            incremental=incremental), n
