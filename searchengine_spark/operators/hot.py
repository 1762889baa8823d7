"""The driver serving tier behind ``search()``: plain BM25 and ref_compat
top-k scored driver-side from cached decoded postings and the driver
dictionary, with zero Spark jobs on a warm hit.

``search()`` sends a call here when it is plain (bm25 or ref_compat,
``prune_blocks="auto"``, none of the options this tier does not implement)
every query and NOT term fits the tier's budgets, and the query's Σdf is
below the block pipeline's WAND gate (see ``search._serving_tier``, the
one dispatch rule, which ``explain_query`` reports). ``hot_search`` is
the same tier returning pandas, under the same rule without the WAND
bound.

Why this exists: the warm Spark path bottoms out at ~0.5 s per query —
not algorithm time but fixed job machinery (scheduling, codegen reuse,
exchange setup). The decoded rows it scores are immutable between
upserts and already bounded by Σ df of the query's terms, so a serving
tier can hold them driver-side (the classic searcher node's posting
cache) and re-score any query over cached terms in numpy:

- a query's terms that are not cached yet — NOT-clause terms included —
  pay ONE Spark job together (bucket-pruned block fetch → driver numpy
  varint decode) and are cached as (doc_id, tf, dl) arrays under an LRU
  rows budget;
- every later query whose terms are all cached computes idf + the BM25
  tf-part + the per-doc sum + canonical top-k purely in numpy — no job,
  no py4j round-trip beyond (at most) a ≤k metadata fill;
- winner metadata (conv_id, turn_idx, role, tool, ts) has its own LRU,
  so a REPEATED (query, k) answers with zero Spark jobs end-to-end;
- the cache lives inside the index dict: ``upsert_turns`` returns a NEW
  dict, so staleness is structurally impossible (same argument as
  operators/pcache.py); ``clear_postings_cache`` drops it;
- both LRUs are guarded by one lock per index dict, so threads may share
  an index; the Spark fetches run outside the lock.

What a warm hit costs: ``resolve_terms`` answers from the per-index term
map (O(|q|) dict lookups, no pandas step), the BM25 weight vectors and
the winners' metadata come from the caches, the merge and top-k are
numpy, and ``_frame`` builds the result column by column with fixed
dtypes. Over 600 Zipf-2.0 hot queries on the perfbench search corpus
(6,000 turns, every query a hit, local[2] on a 4-core host) the median
hit takes 0.6 ms of driver CPU. What remains is mostly the pandas
DataFrame constructor (about 0.45 of 0.8 ms under cProfile), then the
numpy top-k. ``search()`` wraps the same answer in an Arrow-built local
DataFrame (``_spark_frame``): one ``createDataFrame`` py4j round trip,
and its ``collect()`` runs no Spark job.

Scoring parity: the tf-part is ``search._bm25_np``, the numpy twin of
the engine's one Column scorer ``search._bm25_col`` (same operation
order, float64), and blocks come from the query path's own selector
(``search._term_blocks``) and block codec (``codec.decode_postings``);
identical canonical ordering (score rounded to 9 dp desc,
doc_id asc); tests/test_hot.py and tests/test_driver_tier.py pin
row-for-row equality with the distributed path at 9 dp. Term scale
safety: a term with df above ``HOT_MAX_DF_FETCH`` is never driver-cached
— the query takes the distributed path (that is what a 10^9-posting term
needs anyway).

Reference: the reference has no cache tier at all — it re-runs the
N+1 JDBC loop per query (services/SearchingServiceImpl.java:203-235).
"""

from __future__ import annotations

import threading
from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from searchengine_spark.operators.indexer import B, K1
from searchengine_spark.operators.search import (_bm25_np, _idf, _query_terms,
                                                 _serving_tier, _term_blocks)

HOT_MAX_ROWS = 5_000_000      # LRU budget: decoded postings on the driver
HOT_MAX_DF_FETCH = 2_000_000  # never driver-cache terms bigger than this
HOT_META_MAX = 100_000        # winner-metadata LRU (rows)
HOT_DENSE_MAX = 8_000_000     # doc-id-space bound for the O(n) bincount
                              # merge (64 MB float64 scratch); larger id
                              # spaces use the O(n log n) unique-merge

_OUT_COLS = ["doc_id", "conv_id", "turn_idx", "role", "tool", "ts",
             "score"]
_DTYPES = {"doc_id": np.int64, "conv_id": object, "turn_idx": np.int64,
           "role": object, "tool": object, "ts": "datetime64[ns]",
           "score": np.float64}


def _hot_cache(index: dict) -> dict:
    cache = index.get("_hotcache")
    if cache is None:  # setdefault is atomic: racing threads share one
        cache = index.setdefault(
            "_hotcache", {"terms": OrderedDict(), "rows": 0,
                          "meta": OrderedDict(), "lock": threading.Lock()})
    return cache


def _fetch_term_rows(index: dict, term_ids: "list[int]") -> "dict[int, dict]":
    """ONE Spark job for all of a query's cold terms: collect their posting
    blocks (the query path's bucket-pruned block selector) and
    varint-decode each term's blocks driver-side into (doc_id, tf, dl)
    numpy arrays, keyed by term_id. Cost bounded by Σ df ≤ |q| ×
    HOT_MAX_DF_FETCH."""
    from searchengine_spark.operators import codec
    by_term: "dict[int, list]" = {t: [] for t in term_ids}
    for r in (_term_blocks(index, term_ids)
              .select("term_id", "first_doc_id", "n", "doc_deltas", "tfs",
                      "dls")
              .collect()):
        by_term[r["term_id"]].append(r)
    out = {}
    for tid, rows in by_term.items():
        doc_ids, tfs, dls = codec.decode_postings(
            np.array([r["first_doc_id"] for r in rows], dtype=np.int64),
            np.array([r["n"] for r in rows], dtype=np.int64),
            *(b"".join(r[c] for r in rows)
              for c in ("doc_deltas", "tfs", "dls")))
        out[tid] = {"doc_id": doc_ids, "tf": tfs, "dl": dls,
                    "rows": int(len(doc_ids))}
    return out


def _term_rows_cached(index: dict, trows: "list[dict]") -> "list[dict]":
    """Cache entries of ``trows`` (in term_id order). Terms not cached on
    entry come from one ``_fetch_term_rows`` job, run outside the lock;
    then, term by term, a cached one moves to the LRU's end and a missing
    one is inserted under the eviction loop — the same LRU state as
    fetching term by term."""
    cache = _hot_cache(index)
    terms = cache["terms"]
    with cache["lock"]:
        held = {t["term_id"]: terms.get(t["term_id"]) for t in trows}
    cold = [tid for tid, ent in held.items() if ent is None]
    if cold:
        held.update(_fetch_term_rows(index, cold))
    with cache["lock"]:
        for tid in held:
            if tid in terms:
                terms.move_to_end(tid)
                continue
            terms[tid] = held[tid]
            cache["rows"] += held[tid]["rows"]
            while cache["rows"] > HOT_MAX_ROWS and len(terms) > 1:
                _, old = terms.popitem(last=False)
                cache["rows"] -= old["rows"]
    return [held[t["term_id"]] for t in trows]


def _meta_fill(index: dict, doc_ids: "list[int]") -> dict:
    """Winner metadata via the LRU; at most one ≤k-row collect, outside
    the lock, for the ids not yet seen (zero jobs on a repeated query).
    ``ts`` is held as epoch microseconds (None for a null ts), so no
    driver time zone enters it."""
    cache = _hot_cache(index)
    meta = cache["meta"]
    with cache["lock"]:
        out = {d: meta[d] for d in doc_ids if d in meta}
    missing = [d for d in doc_ids if d not in out]
    if missing:
        for r in (index["docs"]
                  .filter(F.col("doc_id").isin(missing))
                  .select("doc_id", "conv_id", "turn_idx", "role", "tool",
                          F.unix_micros("ts").alias("ts"))
                  .collect()):
            out[int(r["doc_id"])] = r.asDict()
    with cache["lock"]:
        for d in doc_ids:
            if d in meta:
                meta.move_to_end(d)
            else:
                meta[d] = out[d]
        while len(meta) > HOT_META_MAX:
            meta.popitem(last=False)
    return out


def _ts_column(rows: list) -> np.ndarray:
    """The winners' ``ts`` (epoch µs or None) as UTC datetime64[ns]."""
    return (np.array([r["ts"] for r in rows], dtype="datetime64[us]")
            .astype("datetime64[ns]"))


def _frame(win_ids: "list[int]", scores, meta: dict) -> pd.DataFrame:
    """``hot_search``'s result frame, built column by column with fixed
    dtypes (doc_id/turn_idx int64, strings object, ts datetime64[ns] in
    UTC — what ``search().toPandas()`` gives in the engine's UTC session
    — score float64), so every exit — empty ones included — has the same
    schema."""
    rows = [meta[d] for d in win_ids]
    cols = {"doc_id": np.asarray(win_ids, dtype=np.int64)}
    for c in _OUT_COLS[1:-2]:
        cols[c] = np.array([r[c] for r in rows], dtype=_DTYPES[c])
    cols["ts"] = _ts_column(rows)
    cols["score"] = np.asarray(scores, dtype=np.float64)
    return pd.DataFrame(cols, copy=False)


def _spark_frame(index: dict, win_ids: "list[int]", scores, meta: dict):
    """``search()``'s result for a driver-tier answer: an Arrow-built local
    DataFrame with the distributed path's columns and types (the docs
    table's, plus a double score) in canonical order. Spark plans it as a
    LocalTableScan, so ``collect()`` runs no Spark job. ``ts`` goes in as
    UTC instants, exact under any driver or session time zone."""
    import pyarrow as pa
    from pyspark.sql.types import DoubleType, StructField, StructType

    docs = index["docs"]
    schema = StructType(
        [StructField(c, docs.schema[c].dataType) for c in _OUT_COLS[:-1]]
        + [StructField("score", DoubleType())])
    rows = [meta[d] for d in win_ids]
    table = pa.table({
        "doc_id": pa.array(win_ids, pa.int64()),
        **{c: pa.array([r[c] for r in rows]) for c in _OUT_COLS[1:-2]},
        "ts": pa.array([r["ts"] for r in rows], pa.timestamp("us", tz="UTC")),
        "score": pa.array(np.asarray(scores, dtype=np.float64))})
    return docs.sparkSession.createDataFrame(table, schema=schema)


def _top_k(index: dict, trows: "list[dict]", xrows: "list[dict]",
           mode: str, k: int, k1: float, b: float) -> tuple:
    """The driver tier's one scorer: the canonical top-k of the resolved
    query rows ``trows`` with the docs of the NOT rows ``xrows`` removed.
    Returns (winner doc ids, their scores), best first; both empty when
    nothing matches.

    bm25 sums ``_bm25_np`` weights over the matched terms. ref_compat is
    the reference's conjunctive tf-sum ranking: AND over every resolved
    term, score = tf_sum / the max tf_sum of the surviving matches.
    Excluded docs leave before the top-k, and for ref_compat before the
    max-normalisation; idf and the df prunes stay corpus-level (NOT
    filters candidates, it does not reweight terms)."""
    if not trows or k < 1:
        return [], np.zeros(0)
    stats = index["stats"]
    n_docs, avgdl = stats["n_docs"], float(stats["avgdl"])
    trows = sorted(trows, key=lambda r: r["term_id"])
    rows = sorted(trows + xrows, key=lambda r: r["term_id"])
    by_id = {r["term_id"]: e
             for r, e in zip(rows, _term_rows_cached(index, rows))}
    banned = (np.concatenate([by_id[x["term_id"]]["doc_id"] for x in xrows])
              if xrows else None)
    ids_parts, w_parts, tf_parts = [], [], []
    for t in trows:
        ent = by_id[t["term_id"]]
        if ent["rows"] == 0:
            continue
        # the per-doc BM25 weight vector depends only on (term stats,
        # corpus stats, k1, b) — all immutable between upserts — so a
        # repeated hot term skips the vector math entirely (≤2 (k1,b)
        # pairs per term: the default + one tuned setting)
        wc = ent.setdefault("w_cache", {})
        w = wc.get((k1, b))
        if w is None:
            w = _bm25_np(_idf(n_docs, t["df"]), ent["tf"], ent["dl"], k1, b,
                         avgdl)
            if len(wc) < 2:
                wc[(k1, b)] = w
        ids_parts.append(ent["doc_id"])
        w_parts.append(w)
        tf_parts.append(ent["tf"])
    if not ids_parts:
        return [], np.zeros(0)
    # Multi-term merge strategy: doc ids are DENSE (assign_dense_ids), so
    # when the id space fits a driver buffer the per-doc combine is an
    # O(n) bincount scatter — no sort anywhere. Beyond HOT_DENSE_MAX
    # (e.g. a 10^12-doc id space where only df-capped slices are cached)
    # fall back to the O(n log n) unique-merge.
    id_top = max(int(p.max()) for p in ids_parts)
    dense_ok = id_top + 1 <= HOT_DENSE_MAX
    if mode == "ref_compat":
        n_q = len(trows)  # Q6: AND over every resolved term
        if dense_ok:
            m_sz = id_top + 1
            ntd = np.zeros(m_sz, np.int64)
            tfd = np.zeros(m_sz, np.float64)
            for ids, tf in zip(ids_parts, tf_parts):
                ntd += np.bincount(ids, minlength=m_sz).astype(np.int64)
                tfd += np.bincount(ids, weights=tf.astype(np.float64),
                                   minlength=m_sz)
            mids = np.nonzero(ntd == n_q)[0]
            msum = tfd[mids]
        else:
            all_ids = np.concatenate(ids_parts)
            uniq, inv = np.unique(all_ids, return_inverse=True)
            nt = np.bincount(inv)
            tf_sum = np.bincount(inv, weights=np.concatenate(tf_parts)
                                 .astype(np.float64))
            m = nt == n_q
            mids, msum = uniq[m], tf_sum[m]
        if banned is not None:
            keep = ~np.isin(mids, banned)
            mids, msum = mids[keep], msum[keep]
        if len(mids) == 0:
            return [], np.zeros(0)
        order = np.lexsort((mids, -msum))[:k]
        return mids[order].tolist(), msum[order] / float(msum[order[0]])
    if len(ids_parts) == 1:
        # single-term fast path: a term's postings carry each doc at
        # most once — no merge needed at all
        uniq, scores = ids_parts[0], w_parts[0]
    elif dense_ok:
        m_sz = id_top + 1
        dense = np.zeros(m_sz, np.float64)
        for ids, w in zip(ids_parts, w_parts):
            dense += np.bincount(ids, weights=w, minlength=m_sz)
        uniq = np.nonzero(dense)[0]  # BM25 weights are strictly positive
        scores = dense[uniq]
    else:
        all_ids = np.concatenate(ids_parts)
        uniq, inv = np.unique(all_ids, return_inverse=True)
        scores = np.bincount(inv, weights=np.concatenate(w_parts))
    if banned is not None:
        keep = ~np.isin(uniq, banned)
        uniq, scores = uniq[keep], scores[keep]
    if len(uniq) == 0:
        return [], np.zeros(0)
    s9 = np.round(scores, 9)
    if len(s9) > 4 * k:
        # exact top-k without sorting the full array: O(n) partition to
        # the k-th rounded score, then the canonical (-score, doc_id)
        # lexsort over only the >= boundary candidates (ties included,
        # so ordering is identical to the full sort)
        kth = np.partition(s9, len(s9) - k)[len(s9) - k]
        cand = np.nonzero(s9 >= kth)[0]
        order = cand[np.lexsort((uniq[cand], -s9[cand]))][:k]
    else:
        order = np.lexsort((uniq, -s9))[:k]
    return uniq[order].tolist(), scores[order]


def hot_search(index: dict, query: str, k: int = 10,
               mode: str = "bm25",
               k1: "float | None" = None, b: "float | None" = None,
               fallback: bool = True) -> pd.DataFrame:
    """Top-k answered driver-side in ``mode`` "bm25" or "ref_compat"
    (the reference's conjunctive tf-sum ranking — Q3 80%-df prune, AND
    over the resolved terms, score = tf_sum / max over the matches);
    returns a PANDAS DataFrame with ``search()``'s columns (doc_id,
    conv_id, turn_idx, role, tool, ts, score) in ``search()``'s exact
    order (score at 9 dp desc == tf_sum desc for ref_compat, doc_id
    asc), with the same dtypes on every path, empty results included.
    Warm hit = zero Spark jobs. A query's cold terms share one fetch job.
    A query over the tier's budgets (a term over HOT_MAX_DF_FETCH, or
    Σdf over HOT_MAX_ROWS: ``search._serving_tier`` with ``chosen``)
    falls back to ``search()`` when ``fallback`` (else raises), so the
    tier never tries to hold a 10^9-posting term on the driver.
    ``search()`` applies the same rule plus its WAND bound, so it sends
    such a query to its distributed path; its driver tier is ``_top_k``,
    never this function, so the fallback cannot come back here."""
    if mode not in ("bm25", "ref_compat"):
        raise ValueError(f"hot_search supports bm25/ref_compat, not {mode!r}")
    k1e = K1 if k1 is None else float(k1)
    be = B if b is None else float(b)
    qterms = _query_terms(query, index["mode"],
                          index.get("dictionary", "fixture"))
    # the dispatch rule of search(), minus its WAND bound: the caller
    # chose this tier (resolve_terms applies the Q3 80%-df prune)
    tier, why, trows, _ = _serving_tier(index, qterms, mode, "auto", None,
                                        [], chosen=True)
    if tier == "distributed":
        if not fallback:
            raise ValueError(f"{why} — use search()")
        from searchengine_spark.operators.search import search
        pdf = search(index, query, k=k, mode=mode, k1=k1, b=b).toPandas()
        return pdf[_OUT_COLS].astype(_DTYPES)
    win_ids, scores = _top_k(index, trows, [], mode, k, k1e, be)
    return _frame(win_ids, scores, _meta_fill(index, win_ids))


def hot_search_many(index: dict, queries: "dict[str, str]", k: int = 10,
                    k1: "float | None" = None,
                    b: "float | None" = None) -> pd.DataFrame:
    """Batched hot tier: every query in ``queries`` (query_id → string)
    answered driver-side from the SAME per-term cache — a replayed query
    log over hot terms costs one numpy pass per query and zero Spark
    jobs once the union of terms is cached. Returns one pandas frame
    with a leading ``query_id`` column and per-query rank order
    identical to ``hot_search`` (hence to ``search``)."""
    frames = []
    for qid in sorted(queries):
        pdf = hot_search(index, queries[qid], k=k, k1=k1, b=b)
        pdf.insert(0, "query_id", qid)
        frames.append(pdf)
    if not frames:
        pdf = _frame([], [], {})
        pdf.insert(0, "query_id", pd.Series(dtype=object))
        return pdf
    return pd.concat(frames, ignore_index=True)
