"""Passage retrieval over long documents (maxP aggregation).

Long documents dilute BM25 (one giant dl swamps term weights) and defeat
snippet locality, so production retrieval splits docs into overlapping
passages, indexes the passages, and aggregates passage scores back to the
parent document — "maxP" (score = best passage) is the standard, with sum
and mean as variants. Elasticsearch models this with nested docs +
inner_hits; the reference indexes whole pages only (its lemma rows span
the full page text — dto/indexing/PageIndexer.java). Here it composes from
parts the engine already has: ``chunk_documents`` (docs → overlapping
token windows), ``build_index`` over the chunk corpus (chunk key encoded
into conv_id, so dense ids stay ordered by (parent, chunk)), and
``search_select``'s one-decode full match set, aggregated per parent.

Scale shape: chunking is a projection; the chunk index is a normal index
build (same salted-shuffle plan, just more, smaller docs); a query costs
ONE decode pass + a match-set-sized hash aggregation keyed by parent +
TakeOrderedAndProject — no window over the match set, no extra shuffle
beyond the per-parent agg.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["build_passage_index", "passage_search",
           "passage_search_many", "passage_query_search",
           "upsert_passage_docs"]

_SEP = "#"


def build_passage_index(docs: DataFrame, chunk_tokens: int = 128,
                        overlap: int = 32, id_col: str = "doc_id",
                        text_col: str = "text", mode: str = "general",
                        dictionary: str = "fixture", **build_kw) -> dict:
    """Chunk ``docs`` into overlapping token windows and build an inverted
    index over the passages. The parent key and chunk ordinal are encoded
    as ``conv_id = "<id>#<chunk_idx zero-padded>"`` — string sort order
    preserves (parent, chunk) order provided ``id_col`` renders
    fixed-width (zero-pad numeric ids upstream), so the engine's dense
    doc_ids stay aligned with the corpus.

    BM25 stats (df, avgdl, N) are passage-level — that's the point:
    passage-normalized dl restores term-weight contrast inside long docs.
    """
    from searchengine_spark.operators.indexer import build_index

    t = _chunks_as_turns(docs, chunk_tokens, overlap, id_col, text_col,
                         _SEP)
    index = build_index(t, mode=mode, dictionary=dictionary, **build_kw)
    index["passage_sep"] = _SEP
    index["passage_chunk_tokens"] = chunk_tokens
    index["passage_overlap"] = overlap
    # geometry also rides stats.json, so a saved/loaded (or upserted /
    # deleted / compacted — the maintenance ops carry the key) passage
    # index keeps its chunking contract without explicit arguments
    index["stats"]["passage"] = {"sep": _SEP, "chunk_tokens": chunk_tokens,
                                 "overlap": overlap}
    return index


def _geometry(index: dict) -> tuple:
    """(sep, chunk_tokens, overlap) from the in-session dict keys or the
    persisted stats["passage"] block (save/load + maintenance carry it)."""
    ps = index.get("stats", {}).get("passage", {})
    return (index.get("passage_sep", ps.get("sep", _SEP)),
            index.get("passage_chunk_tokens", ps.get("chunk_tokens")),
            index.get("passage_overlap", ps.get("overlap")))


def _chunks_as_turns(docs: DataFrame, chunk_tokens: int, overlap: int,
                     id_col: str, text_col: str, sep: str) -> DataFrame:
    """docs → passage rows in the index's transcript shape (shared by
    build and upsert so the two paths can never drift)."""
    from searchengine_spark.functions.text import chunk_documents

    chunks = chunk_documents(docs, chunk_tokens=chunk_tokens,
                             overlap=overlap, text_col=text_col,
                             id_col=id_col)
    return chunks.select(
        F.format_string("%s" + sep + "%06d",
                        F.col(id_col).cast("string"),
                        F.col("chunk_idx")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"))


def upsert_passage_docs(index: dict, docs_delta: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        chunk_tokens: "int | None" = None,
                        overlap: "int | None" = None) -> dict:
    """Incremental passage-index maintenance: replace (or insert) whole
    PARENT documents without a rebuild. A replaced doc may re-chunk into
    FEWER passages than before, so a plain chunk-level upsert would leave
    stale high-ordinal chunks — this deletes every existing chunk of the
    delta's parents first (``delete_turns``), then upserts the re-chunked
    delta (``upsert_turns``). A parent whose new text is empty is a pure
    delete. Same micro-batch contract as upsert/delete; chunk geometry
    defaults to what ``build_passage_index`` recorded — on the index
    dict AND in ``stats["passage"]``, which save/load and the
    maintenance ops all carry, so loaded indexes need no arguments.
    """
    from searchengine_spark.operators.upsert import compose_deltas, delete_turns, upsert_turns
    sep, d_ct, d_ov = _geometry(index)
    ct = chunk_tokens if chunk_tokens is not None else d_ct
    ov = overlap if overlap is not None else d_ov
    if ct is None or ov is None:
        raise ValueError(
            "chunk geometry unknown: pass chunk_tokens/overlap explicitly "
            "(build_passage_index records it on the index dict AND in "
            "stats['passage'], which save/load and the maintenance ops "
            "carry — only indexes saved before that change need it)")
    parents = [str(r[0]) for r in
               docs_delta.select(F.col(id_col).cast("string"))
               .distinct().collect()]  # micro-batch contract: small
    t = _chunks_as_turns(docs_delta, ct, ov, id_col, text_col, sep)
    pred = F.substring_index(F.col("conv_id"), sep, 1).isin(parents)
    had = index["docs"].filter(pred).limit(1).count() > 0
    idx2 = delete_turns(index, pred) if had else index
    if t.limit(1).count() == 0:
        idx2["passage_sep"] = sep
        idx2["passage_chunk_tokens"], idx2["passage_overlap"] = ct, ov
        return idx2
    out = upsert_turns(idx2, t)
    # fold the delete's and upsert's layers into ONE descriptor against
    # the pre-call index, so the chained op persists as a single
    # O(|delta|) snapshot (save_index_delta) instead of a full rewrite
    out["_delta"] = compose_deltas(idx2.get("_delta") if had else None,
                                   out.get("_delta"))
    out["passage_sep"] = sep
    out["passage_chunk_tokens"], out["passage_overlap"] = ct, ov
    return out


def passage_search(index: dict, query: str, k: int = 10,
                   agg: str = "max", mode: str = "bm25",
                   with_text: bool = False, highlight: bool = False,
                   **select_kw) -> DataFrame:
    """Doc-level top-k over a passage index: score every matching passage
    (ONE decode pass — ``search_select`` semantics, so ``min_match`` /
    ``exclude`` / ``scope`` compose), fold to parents with ``agg`` in
    {"max" (maxP), "sum", "mean"}, and return the top ``k`` parents.

    Returns (parent_id, best_chunk, n_chunks, score): ``best_chunk`` is
    the highest-scoring passage's ordinal (ties → lowest ordinal) — the
    natural snippet/highlight anchor; ``n_chunks`` the number of matching
    passages. Ordering: (round(score, 9) desc, parent_id asc), the
    engine-canonical tie-break.

    ``with_text=True`` adds ``chunk_text`` — the best passage's stored
    window, recovered by a k-row broadcast join against the passage
    index's docs table (the Q9-titles plan shape: winners only, never
    the corpus). ``highlight=True`` (implies ``with_text``) adds
    ``snippet`` — the chunk highlighted with the Q10 snippet rules, the
    query's word set expanded through the index's own dictionary.
    """
    from searchengine_spark.operators.search import search_select

    sep = _geometry(index)[0]
    hits = search_select(index, query, mode=mode, **select_kw)
    out = _fold_parents(index, hits, sep, agg, k,
                        with_text=with_text or highlight)
    if highlight:
        from searchengine_spark.functions.snippets import snippet_col
        out = out.withColumn(
            "snippet", snippet_col(F.col("chunk_text"), query,
                                   index.get("mode", "general"),
                                   index.get("dictionary", "fixture")))
    return out


def _fold_parents(index: dict, hits: DataFrame, sep: str, agg: str,
                  k: int, with_text: bool = False) -> DataFrame:
    """Passage match set → doc-level top-k: the shared fold behind the
    term, grammar, and (per-query) batched passage entry points."""
    if agg not in ("max", "sum", "mean"):
        raise ValueError(f"agg must be max|sum|mean, got {agg!r}")
    per = hits.select(
        F.substring_index(F.col("conv_id"), sep, 1).alias("parent_id"),
        F.substring_index(F.col("conv_id"), sep, -1).cast("int")
        .alias("chunk_idx"),
        "score")
    score = {"max": F.max("score"), "sum": F.sum("score"),
             "mean": F.avg("score")}[agg]
    # best passage: max of (rounded score, -ordinal) — score ties resolve
    # to the EARLIEST chunk, deterministically, in the same aggregation.
    best = F.max(F.struct(F.round("score", 9).alias("s"),
                          (-F.col("chunk_idx")).alias("nc")))
    g = (per.groupBy("parent_id")
         .agg(score.alias("score"), best.alias("_b"),
              F.count("*").alias("n_chunks")))
    out = g.select("parent_id",
                   (-F.col("_b.nc")).cast("int").alias("best_chunk"),
                   F.col("n_chunks").cast("long").alias("n_chunks"),
                   "score")
    top = (out.orderBy(F.round("score", 9).desc(),
                       F.col("parent_id").asc())
           .limit(k))
    if not with_text:
        return top
    key = F.format_string("%s" + sep + "%06d", F.col("parent_id"),
                          F.col("best_chunk"))
    chunks = index["docs"].select(F.col("conv_id").alias("_ck"),
                                  F.col("text").alias("chunk_text"))
    return (F.broadcast(top.withColumn("_ck", key))
            .join(chunks, "_ck").drop("_ck")
            .orderBy(F.round("score", 9).desc(), F.col("parent_id").asc()))


def passage_query_search(index: dict, qstr: str, k: int = 10,
                         agg: str = "max", with_text: bool = False,
                         **kw) -> DataFrame:
    """Grammar-driven maxP: the full query language (phrases, spans,
    OR-groups, NOT clauses, qualifiers, wildcards/fuzzy/synonyms) over a
    passage index, folded to parent documents. Pure composition:
    ``query_select`` produces the grammar's full passage match set (one
    clause-resolution pass + one scored decode); the fold is
    ``passage_search``'s. Phrase/span clauses need the passage index
    built ``with_positions=True``. Same output shape as
    ``passage_search``."""
    from searchengine_spark.operators.querylang import query_select

    sep = _geometry(index)[0]
    hits = query_select(index, qstr, **kw)
    return _fold_parents(index, hits, sep, agg, k, with_text=with_text)


def passage_search_many(index: dict, queries: dict, k: int = 10,
                        agg: str = "max", **kw) -> DataFrame:
    """Batched maxP: many queries' doc-level top-k from ONE decode pass
    (every positional/ranked family keeps its batched form — this is the
    passage family's). The top-k planner's scored match-set step
    (``search._topk_matches``: one union decode, per-(query, doc) bm25
    sums, ``scope``/``exclude``/``min_match``/``k1``/``b`` in ``kw``)
    gives the batch's full scored passage match sets; each query's
    passages fold to parents (max/sum/mean + best-chunk ordinal) and
    rank per query.

    Returns (query_id, rank, parent_id, best_chunk, n_chunks, score),
    rank 1..k per query, rows identical to per-query ``passage_search``.
    bm25 scoring only (the fold is score-additive; ref_compat's
    match-set max-normalizer doesn't commute with the parent fold).
    """
    from pyspark.sql import Window
    from searchengine_spark.operators.search import _empty, _topk_matches

    if agg not in ("max", "sum", "mean"):
        raise ValueError(f"agg must be max|sum|mean, got {agg!r}")
    sep = _geometry(index)[0]
    matches, _ = _topk_matches(index, queries, "bm25", False, **kw)
    if matches is None:
        return _empty(index["docs"].sparkSession,
                      "query_id string, rank int, parent_id string, "
                      "best_chunk int, n_chunks long, score double")()
    # the match set's passages: a plain join (match-set-sized, AQE picks
    # the strategy) for the conv_id that carries the parent and chunk
    hits = index["docs"].select("doc_id", "conv_id").join(
        matches.select("query_id", "doc_id", "score"), "doc_id")
    per = hits.select(
        "query_id",
        F.substring_index(F.col("conv_id"), sep, 1).alias("parent_id"),
        F.substring_index(F.col("conv_id"), sep, -1).cast("int")
        .alias("chunk_idx"),
        "score")
    score = {"max": F.max("score"), "sum": F.sum("score"),
             "mean": F.avg("score")}[agg]
    best = F.max(F.struct(F.round("score", 9).alias("s"),
                          (-F.col("chunk_idx")).alias("nc")))
    g = (per.groupBy("query_id", "parent_id")
         .agg(score.alias("score"), best.alias("_b"),
              F.count("*").alias("n_chunks")))
    w_q = Window.partitionBy("query_id").orderBy(
        F.round("score", 9).desc(), F.col("parent_id").asc())
    return (g.withColumn("rank", F.row_number().over(w_q))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "parent_id",
                    (-F.col("_b.nc")).cast("int").alias("best_chunk"),
                    F.col("n_chunks").cast("long").alias("n_chunks"),
                    "score")
            .orderBy("query_id", "rank"))


def merge_passage_docs_into_path(spark, root: str, docs_delta: DataFrame,
                                 chunk_tokens: int, overlap: int,
                                 id_col: str = "doc_id",
                                 text_col: str = "text") -> str:
    """Persisted passage maintenance: apply ``upsert_passage_docs`` to the
    CURRENT snapshot under ``root`` and commit ONE new snapshot (atomic
    pointer flip — the delete of stale chunks and the re-chunked merge
    are never separately visible). Chunk geometry is explicit: a loaded
    snapshot doesn't carry the in-session dict keys.

    Writes a DELTA layer (O(|delta|) bytes): the chained delete+upsert's
    descriptors fold into one via ``compose_deltas``, so a passage feed
    pays Iceberg-MERGE write amplification per batch, with the usual
    chain-depth bound via periodic compaction. Falls back to a full
    snapshot only when the chain recorded no delta (degenerate no-op
    inputs)."""
    from searchengine_spark.plans.manifest import commit_new_snapshot
    return commit_new_snapshot(
        spark, root, lambda ix: upsert_passage_docs(
            ix, docs_delta, id_col=id_col, text_col=text_col,
            chunk_tokens=chunk_tokens, overlap=overlap),
        incremental=True)
