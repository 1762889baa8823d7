"""Scatter-gather serving over independently built index shards.

The 100 TB pattern has two halves. ``merge_indexes`` (operators/compact.py)
is the BUILD half: fold shard indexes into one physical index. This module
is the SERVE half: query K shards IN PLACE and merge their top-ks — no
physical merge, no block rewrite, no doc-id reconciliation. A 1000-executor
deployment keeps one index shard per corpus partition (e.g. per conv_id
range or per day) and answers queries by fanning out and rank-merging —
exactly how distributed Lucene deployments (Elasticsearch/Solr shards)
serve, and what the reference's per-site `lemma` tables approximate with
per-site dictionaries (services/SearchingServiceImpl.java:203-270, one
lookup per site, results concatenated).

Correctness is the whole game: per-shard BM25 under per-shard statistics
is NOT mergeable (each shard would rank under its own idf/avgdl — the
classic distributed-IDF problem). ``search_sharded`` therefore scores
every shard under corpus-GLOBAL statistics, assembled driver-side from
the shard dictionaries in one pass:

- ``n_docs``  = Σ shard n_docs
- ``avgdl``   = Σ (shard avgdl × shard n_docs) / n_docs  (exact: the mean
  of a disjoint union is the count-weighted mean of the parts)
- per query term: ``df`` = Σ shard df (term strings are the shared key —
  term_ids are shard-local; resolution costs ZERO Spark jobs on
  driver-cached dictionaries)

With identical (idf, avgdl, n_docs), a doc's BM25 score is a pure per-doc
function, so top-k(union) == rank-merge of per-shard top-ks: fetch k
(+offset) from each shard, union the ≤ K·k rows, re-rank by the engine's
canonical order. Dense doc_ids are shard-local but ASSIGNED BY the same
(conv_id, turn_idx) sort everywhere, so the cross-shard tie-break
(conv_id, turn_idx) reproduces the combined index's (score, doc_id) order
exactly — verified against a whole-corpus build in pytest and against a
whole-corpus DuckDB oracle (``q_sharded_topk``).

Block-max WAND stays exact per shard: stored bounds were computed under
SHARD stats, so ``search`` switches to the stats-independent derivation
idf_global · f(block_max_tf, block_min_dl) (the same machinery that keeps
bounds sound after upserts).

Scale note: each shard query is the ordinary one-job search plan over that
shard's (pruned) postings; the merge handles ≤ K·(k+offset) rows on the
driver-side union — no shuffle grows with corpus size. At a real
deployment the per-shard calls fan out as independent jobs over disjoint
data; on local mode they serialize, which the bench records honestly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from searchengine_spark.operators.search import (
    _query_terms, _ord, resolve_terms, search, search_many)


def search_many_sharded(shards: list[dict], queries: dict[str, str],
                        k: int = 10, offset: int = 0,
                        scope=None, exclude=None,
                        min_match: "int | dict | None" = None,
                        with_titles: bool = False,
                        with_snippets: bool = False) -> DataFrame:
    """Batched scatter-gather: replay a query log over K shards in place —
    one ``search_many`` job per shard under corpus-global statistics, then
    one bounded per-query rank merge. Returns ``search_many``'s schema
    plus ``shard``; rows are exactly the combined index's batched top-k.
    Global stats are assembled ONCE for the batch's union vocabulary
    (term df sums are per-term, so one pass covers every query). Same
    parameter semantics as ``search_many``; bm25 only."""
    if not shards:
        raise ValueError("search_many_sharded needs at least one shard")
    g = sharded_stats(shards, " ".join(queries.values()))
    k_eff = int(offset) + k
    parts = []
    for i, s in enumerate(shards):
        hits = search_many(s, queries, k=k_eff, mode="bm25", scope=scope,
                           exclude=exclude, min_match=min_match,
                           with_titles=with_titles,
                           with_snippets=with_snippets,
                           _stats_override=g)
        parts.append(hits.drop("rank").withColumn("shard", F.lit(i)))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    order = [_ord(), F.col("conv_id").asc(), F.col("turn_idx").asc()]
    w = Window.partitionBy("query_id").orderBy(*order)
    return (u.withColumn("rank", F.row_number().over(w))
            .filter((F.col("rank") > int(offset)) & (F.col("rank") <= k_eff))
            .orderBy(F.col("query_id").asc(), F.col("rank").asc()))


def sharded_stats(shards: list[dict], query: str) -> dict:
    """Corpus-global (n_docs, avgdl, per-term df) across shards, assembled
    driver-side from shard stats + dictionaries (zero Spark jobs when the
    dictionaries are driver-cached)."""
    n_docs = sum(int(s["stats"]["n_docs"]) for s in shards)
    dl_sum = sum(float(s["stats"]["avgdl"]) * int(s["stats"]["n_docs"])
                 for s in shards)
    avgdl = dl_sum / max(n_docs, 1)
    df_of: dict[str, int] = {}
    for s in shards:
        qterms = _query_terms(query, s.get("mode", "general"),
                              s.get("dictionary", "fixture"))
        for r in resolve_terms(s, qterms, "bm25"):
            df_of[r["term"]] = df_of.get(r["term"], 0) + int(r["df"])
    return {"n_docs": n_docs, "avgdl": avgdl, "df_of": df_of}


def search_sharded(shards: list[dict], query: str, k: int = 10,
                   offset: int = 0, prune_blocks: "bool | str" = "auto",
                   scope=None, exclude: "str | None" = None,
                   min_match: "int | None" = None,
                   with_titles: bool = False,
                   with_snippets: bool = False) -> DataFrame:
    """Top-k over K index shards without merging them: per-shard search
    under GLOBAL statistics, then a driver-bounded rank merge. Returns the
    same schema as ``search`` plus a ``shard`` column (which shard served
    the hit); rows are exactly the combined index's top-k (score AND rank
    identical — see module docstring).

    ``scope``/``exclude``/``min_match``/``with_titles``/``with_snippets``
    compose per shard with their single-index semantics (scope prunes each
    shard's buckets; a shard whose docs are entirely out of scope
    contributes nothing). bm25 mode only — ref_compat's result-set-max
    normalization doesn't distribute over shards (use a merged index for
    exact ref_compat)."""
    if not shards:
        raise ValueError("search_sharded needs at least one shard")
    g = sharded_stats(shards, query)
    k_eff = int(offset) + k
    parts = []
    for i, s in enumerate(shards):
        hits = search(s, query, k=k_eff, mode="bm25",
                      prune_blocks=prune_blocks, scope=scope,
                      exclude=exclude, min_match=min_match,
                      with_titles=with_titles, with_snippets=with_snippets,
                      _stats_override=g)
        parts.append(hits.withColumn("shard", F.lit(i)))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    # dense ids are assigned by (conv_id, turn_idx) in EVERY shard, so this
    # is the combined index's (score desc, doc_id asc) order
    order = [_ord(), F.col("conv_id").asc(), F.col("turn_idx").asc()]
    w = Window.orderBy(*order)  # ≤ K·k_eff rows: the single partition is fine
    out = (u.withColumn("_rk", F.row_number().over(w))
           .filter((F.col("_rk") > int(offset)) & (F.col("_rk") <= k_eff))
           .drop("_rk"))
    return out.orderBy(*order)
