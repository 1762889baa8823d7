"""Top-k query path (SURVEY.md §2.4 Q1-Q9, M3+M4).

Re-expresses the reference's search
(reference: services/SearchingServiceImpl.java:30-201) as one declarative
plan per query:

  Q1 analyze query (driver, same function as index side)
  Q2 dictionary lookup      — driver-side lookup in the collected
     dictionary, or in its LRU-cached crc32 pages when it is too large
     (replaces N+1 JDBC SELECTs at SearchingServiceImpl.java:203-270)
  Q3 80%-df prune           — ``df / N < 0.8`` (SearchingServiceImpl.java:272-298;
     ref_compat mode only — BM25's idf already damps hot terms)
  Q4 rarest-first ordering  — subsumed: the single groupBy(doc_id)
     formulation is order-free (SearchingServiceImpl.java:58-62)
  Q5 posting fetch          — block scan pruned by term_id (+ partition
     pruning when postings are written bucketed by term)
  Q6 conjunctive AND        — count(distinct term)==|q| filter after the
     doc_id agg (SearchingServiceImpl.java:95-108)
  Q7 scoring                — ``ref_compat``: tf-sum normalized by the
     result-set max (SearchingServiceImpl.java:300-329: no idf, no length
     norm); ``bm25``: k1=1.2, b=0.75, Robertson idf
  Q8 top-k                  — orderBy(score desc, doc_id).limit(k) →
     TakeOrderedAndProject (distributed top-k, no global sort). doc_id is
     the dense rank over (conv_id, turn_idx), so doc_id-asc IS the canonical
     tie-break; scores are rounded to 9 dp for ordering only, making ties
     deterministic under float reassociation.
  Q9 metadata projection    — join the k winners back to docs.

Every query operator reads postings through one path, one helper per step:
``resolve_terms`` (Q2+Q3: driver-cached dictionary, else the LRU page
cache) → ``_term_blocks`` (Q5 selection: term-bucket partition pruning,
term_id filter, scope doc-bucket pruning) → ``_decode_blocks`` (Q5 decode:
the one mapInPandas varint decoder, raw (term_id, doc_id, tf, dl) rows; the
postings cache holds the same rows) → ``_bm25_col`` (Q7: the one BM25
operation order, in codegen; ``_bm25_np`` is its numpy twin for driver-side
scoring). Scores from any route are therefore bit-identical doubles.

BM25/ref_compat top-k (``search``, ``search_many``) has one planner too:
``_topk_matches`` (resolve, decode, scope, NOT, per-(query, doc) aggregate,
once per batch) → ``_topk`` (ranking tail and winners' docs join); a single
query is a batch of one that keeps WAND and a TakeOrderedAndProject tail.

Positional matching (phrase, near, span — single and batched operators,
the grammar's clauses, boolean leaves, rescore, percolation) has one path
too: ``_match_positions`` (one resolve + one positional decode + scope
filter per batch) → ``_match_clauses`` (per-kind fan-out and matching) →
``_span_scan`` (the span kernels); the six positional operators share one
ranking tail, ``_positional_search``, a single query being a batch of one.

Block-max pruning (BM25 mode), exactness argument: let M_t be term t's max
block score and θ a lower bound on the true kth score. Skip block b of term
t iff  block_max(t,b) + Σ_{t'≠t} M_{t'} < θ.  Any doc in a skipped block has
total score ≤ that bound < θ, so it cannot be top-k; any true top-k doc d
(total ≥ θ) can have no skipped block, since its block's bound ≥ its total.
Docs partially scored because *another* term skipped them satisfy
partial ≤ total < θ, so they can't displace a fully-scored top-k doc.
θ comes from phase 1 (score only the best block per term): each phase-1 doc
score is a lower bound of its true score, so the kth largest phase-1 score
is a valid θ. Both phases are plain DataFrame jobs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from searchengine_spark.functions.analysis import analyze_text
from searchengine_spark.operators.indexer import K1, B
from searchengine_spark.operators.pcache import pcache_eligible, pcache_split

PRUNE_THRESHOLD = 0.8  # SearchingServiceImpl.java:278 (`percent < 80` keeps)
PRUNE_MIN_POSTINGS = 100_000  # auto mode: Σdf below this → exhaustive decode
# Batched-path lookup inlining: per-batch (query, term)-sized lookups below
# this many entries become create_map literals evaluated in codegen — a
# broadcast-joined createDataFrame costs a py4j round-trip + a
# BroadcastExchange job EACH (~0.2 s fixed, per lookup, per call) that
# dominates warm batched queries. Above the cap (huge query-log replays)
# the broadcast join is the right plan and the sites fall back to it.
LIT_MAP_MAX = 4096


def _sim_params(k1, b, mode: str) -> tuple:
    """Resolve query-time BM25 similarity parameters (the Elasticsearch
    per-query ``similarity`` surface). Returns (k1, b, custom) where
    ``custom`` flags any deviation from the index-build constants — the
    signal that STORED block-max bounds (computed under K1/B at build
    time) are stale and the stats-independent (max_tf, min_dl) derivation
    must be used instead, exactly like the post-upsert ``tf_bounds`` path.
    ref_compat has no similarity parameters (its score is a tf sum)."""
    if k1 is None and b is None:
        return K1, B, False
    if mode != "bm25":
        raise ValueError("k1/b are BM25 similarity parameters; "
                         "mode='ref_compat' scores a plain tf sum")
    k1e = K1 if k1 is None else float(k1)
    be = B if b is None else float(b)
    if k1e < 0.0:
        raise ValueError("k1 must be >= 0")
    if not 0.0 <= be <= 1.0:
        raise ValueError("b must be in [0, 1]")
    return k1e, be, (k1e != K1 or be != B)


def _ord():
    """Canonical ordering: score rounded to 9 dp desc (deterministic under
    float reassociation), then doc_id asc (== stable (conv_id, turn_idx))."""
    return F.round(F.col("score"), 9).desc()


def _empty(spark, schema: str):
    """A zero-row result frame's builder. ``createDataFrame`` costs a py4j
    round trip and an analysed plan (~30 ms wall) per call, so operators
    build it only on the paths that return it. The frame has no
    partitions: a ``createDataFrame([], schema)`` frame's ``collect()``
    ran one task per default partition, each starting a Python worker
    (376 ms wall, ~1.2 s CPU per empty answer on a 4-core host, against
    44 ms and ~53 ms with zero partitions)."""
    return lambda: spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)


def _query_terms(query: str, analysis_mode: str,
                 dictionary: str = "fixture") -> list[str]:
    """Q1: same analysis chain as the index side, driver-side (tiny input)."""
    return sorted(set(analyze_text(query, analysis_mode, dictionary=dictionary)))


# Driver-side dictionary cache cap: below this many terms the whole dictionary
# is collected once per index and term resolution costs zero Spark jobs. A
# 10^12-turn corpus dictionary (~10^8 terms) exceeds it → paged resolution:
# the dictionary is sharded into TERMS_PAGES pages by a hash of the TERM
# STRING (crc32 — computable identically driver-side and in a codegen
# filter, unlike Spark's seeded xxhash64), fetched one page per Spark job on
# first touch and LRU-cached, so repeated query workloads stop paying a
# resolution job per query (roadmap #5 / VERDICT r2 "What's missing" #4).
# At 10^8 terms a page is ~400k rows ≈ tens of MB as pandas — driver-safe.
TERMS_LOCAL_MAX = 5_000_000
TERMS_PAGES = 256
TERMS_PAGE_CACHE_MAX = 64  # LRU cap: ≤ ~1/4 of the dictionary resident


def _term_page(term: str, n_pages: int = TERMS_PAGES) -> int:
    import zlib
    return zlib.crc32(term.encode("utf-8")) % n_pages


def _term_page_col(n_pages: int = TERMS_PAGES):
    """The same page function as a JVM-side Column (crc32 over UTF-8)."""
    return (F.crc32(F.encode(F.col("term"), "utf-8")) % n_pages).cast("int")


def _fetch_terms_page(index: dict, page: int) -> "pd.DataFrame":
    """One Spark job: all dictionary rows of one page → pandas. When the
    index was saved with save_index (terms partitioned by term_page) the
    filter prunes whole directories; live indexes fall back to a scan with
    the page predicate in codegen."""
    terms = index["terms"]
    if "term_page" in terms.columns:
        pdf = terms.filter(F.col("term_page") == page).toPandas()
    else:
        pdf = terms.filter(_term_page_col() == page).toPandas()
    return pdf.set_index("term")


_BOUNDS = (("max_score", float), ("max_tf", int), ("min_dl", int))


def _term_map(pdf: "pd.DataFrame") -> tuple:
    """The one dictionary-row converter: a term-indexed dictionary frame →
    (term → frame position, [term_id, df, *bounds] as numpy columns). A
    bound column the dictionary lacks is None; a null bound is NaN. The
    map costs one dict entry per term on top of the frame's own columns;
    ``_dictionary_rows`` builds the row dicts per lookup."""
    cols = [pdf[c].to_numpy(np.int64) for c in ("term_id", "df")]
    cols += [pdf[c].to_numpy(np.float64, na_value=np.nan)
             if c in pdf.columns else None for c, _ in _BOUNDS]
    return dict(zip(pdf.index.tolist(), range(len(pdf)))), cols


def _dictionary_rows(index: dict, maps: list, qterms: list[str],
                     mode: str) -> list[dict]:
    """Q2+Q3 over term maps (``_term_map``, in dictionary order): the
    query's rows in (map, frame position) order, the ref_compat 80%-df
    prune, then one fresh dict per term (term, term_id, df, max_score,
    max_tf, min_dl; absent or null bounds → None). ``mode`` "scoped"
    skips the prune (a site scope prunes on per-scope df later)."""
    found = sorted((k, i, t) for t in set(qterms)
                   for k, (pos, _) in enumerate(maps)
                   if (i := pos.get(t)) is not None)
    rows = []
    for k, i, t in found:
        tid, df, *bounds = maps[k][1]
        row = {"term": str(t), "term_id": int(tid[i]), "df": int(df[i])}
        for (c, cast), col in zip(_BOUNDS, bounds):
            v = None if col is None else col[i]
            row[c] = None if v is None or v != v else cast(v)
        rows.append(row)
    if mode == "ref_compat":
        n_docs = float(index["stats"]["n_docs"])
        rows = [r for r in rows if n_docs and r["df"] / n_docs < PRUNE_THRESHOLD]
    return rows


def _resolve_terms_paged(index: dict, qterms: list[str], mode: str) -> list[dict]:
    """Dictionaries above TERMS_LOCAL_MAX: resolve through the LRU page
    cache, which holds each page as a term map (converted once, at fetch
    time). A query whose term pages are warm costs ZERO Spark jobs; a cold
    page costs one job for the whole page (amortized across every later
    query sharing it)."""
    from collections import OrderedDict

    cache: "OrderedDict[int, tuple]" = index.setdefault(
        "_terms_page_cache", OrderedDict())
    maps = []
    for page in sorted({_term_page(t) for t in qterms}):
        if page in cache:
            cache.move_to_end(page)
        else:
            cache[page] = _term_map(_fetch_terms_page(index, page))
            while len(cache) > TERMS_PAGE_CACHE_MAX:
                cache.popitem(last=False)
        maps.append(cache[page])
    return _dictionary_rows(index, maps, qterms, mode)


def _terms_local(index: dict) -> "pd.DataFrame | None":
    """Lazy driver-side copy of the dictionary (term → id/df/max bounds)."""
    cached = index.get("_terms_pdf")
    if cached is not None:
        return cached if cached is not False else None
    n = index["stats"].get("n_terms")
    if n is None:
        n = index["terms"].count()
        index["stats"]["n_terms"] = n
    if n > TERMS_LOCAL_MAX:
        index["_terms_pdf"] = False
        return None
    pdf = index["terms"].toPandas().set_index("term")
    index["_terms_pdf"] = pdf
    return pdf


def _resolve_terms_driver(index: dict, qterms: list[str], mode: str):
    """Dictionaries that fit driver-side: zero Spark jobs. Returns the
    row dicts, or None when the dictionary is above TERMS_LOCAL_MAX. The
    term map is built on first use and kept beside the frame it came
    from: a new ``_terms_pdf`` (e.g. after a pop) gets a new map."""
    pdf = _terms_local(index)
    if pdf is None:
        return None
    cached = index.get("_terms_map")
    if cached is None or cached[0] is not pdf:
        cached = index["_terms_map"] = (pdf, _term_map(pdf))
    return _dictionary_rows(index, [cached[1]], qterms, mode)


def resolve_terms(index: dict, qterms: list[str], mode: str) -> list[dict]:
    """Q2+Q3, the read path's first step: analyzed query terms → dictionary
    rows (term, term_id, df, max_score, max_tf, min_dl), absent and
    duplicate terms dropped. ``mode`` "ref_compat" applies the global
    80%-df prune, "bm25" and "scoped" return every resolved term.

    Both branches look terms up in a term map (``_term_map``: term → frame
    position plus the typed columns), so a warm call costs O(|q|) dict
    lookups and no pandas step. The driver branch's map is built once per
    driver dictionary frame (``_terms_pdf``, collected once per index dict)
    and is rebuilt whenever that frame is replaced; the paged branch's
    maps live in the page LRU. Rows come back in dictionary-frame order
    (page order, then position, for the paged branch), so callers that sum
    over terms add in the same order on every call. Every call returns
    fresh dicts: callers may mutate them without touching the cache."""
    rows = _resolve_terms_driver(index, qterms, mode)
    return rows if rows is not None else _resolve_terms_paged(index, qterms, mode)


def _term_blocks(index: dict, term_ids, sc=None,
                 postings: "DataFrame | None" = None) -> DataFrame:
    """Q5 block selection, the read path's second step: the posting blocks
    of ``term_ids`` from ``postings`` (default the index's main table).

    Saved indexes are hash-partitioned by term_bucket = term_id % B
    (plans/manifest.py save_index): filtering on the partition column first
    prunes whole directories at scan planning, so a |q|-term query touches
    ≤|q| of B partitions no matter how large the index is. With ``sc`` (a
    ``_scope_info`` result) blocks are pruned at doc-bucket level: bucket =
    block_id // ceil(range/size) covers doc_ids [bucket*range,
    (bucket+1)*range), and only buckets intersecting the scope's [lo, hi]
    — or, when ``sc`` carries ``doc_ids``, holding one of those docs — are
    kept. Bucket pruning only narrows the decode; exact scope membership is
    ``_scope_filter``'s job."""
    stats = index["stats"]
    blocks = index["postings"] if postings is None else postings
    ids = sorted(set(term_ids))
    tb = stats.get("term_buckets")
    if tb and "term_bucket" in blocks.columns:
        blocks = blocks.filter(
            F.col("term_bucket").isin(sorted({t % tb for t in ids})))
    blocks = blocks.filter(F.col("term_id").isin(ids))
    br, bs = stats.get("bucket_range"), stats.get("block_size")
    if sc is not None and br and bs:
        bcol = F.floor(F.col("block_id") / F.lit(-(-br // bs)))
        if "doc_ids" in sc:
            blocks = blocks.filter(
                bcol.isin(sorted({d // br for d in sc["doc_ids"]})))
        else:
            blocks = blocks.filter(bcol.between(sc["lo"] // br, sc["hi"] // br))
    return blocks


DECODE_POSTINGS_PER_PARTITION = 50_000  # decode-task sizing (see below)


def _decode_blocks(blocks: DataFrame, sum_df: "int | None" = None,
                   positions: bool = False) -> DataFrame:
    """Q5 decode, the read path's third step: posting blocks → raw
    (term_id, doc_id, tf, dl) rows. Scoring is left to codegen
    (``_bm25_col``), so the Python stage does only what needs Python: the
    varint decode.

    The whole Arrow batch is decoded in ONE numpy pass (segmented varint +
    segmented cumsum, ``codec.decode_postings``) — a hot term's ~10^3
    blocks cost three varint_decode calls, not 10^3 per-block DataFrame
    constructions (measured 5-8× on the sf0.1 hot-term decode). Only the
    codec columns cross into Python.

    ``positions=True`` (positional indexes) adds each posting's absolute
    positions as a ``positions array<int>`` column — the write paths'
    input shape (upsert/delete/compact re-encode them).

    ``sum_df`` (Σ df over the blocks' terms, known driver-side from the
    dictionary) sizes the Python stage: after the term filter most source
    partitions are EMPTY, yet every task still pays a Python-worker
    round-trip — 64 empty mapInPandas tasks cost more than the decode
    itself (measured ~0.5 s/query at sf0.1). Coalesce to
    ceil(sum_df / DECODE_POSTINGS_PER_PARTITION) partitions: a rare term
    decodes in 1 task, a 10^9-posting term still fans out to 20k tasks
    (coalesce never exceeds the existing partition count)."""
    blocks = blocks.select("term_id", "first_doc_id", "n", "doc_deltas",
                           "tfs", "dls", *(["pos"] if positions else []))
    if sum_df is not None:
        blocks = blocks.coalesce(
            max(1, -(-int(sum_df) // DECODE_POSTINGS_PER_PARTITION)))

    def gen(batches):
        from searchengine_spark.operators import codec
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ns = pdf["n"].to_numpy(dtype=np.int64)
            doc_ids, tfs, dls = codec.decode_postings(
                pdf["first_doc_id"].to_numpy(dtype=np.int64), ns,
                b"".join(pdf["doc_deltas"]), b"".join(pdf["tfs"]),
                b"".join(pdf["dls"]))
            out = pd.DataFrame({
                "term_id": np.repeat(pdf["term_id"].to_numpy(dtype=np.int64), ns),
                "doc_id": doc_ids, "tf": tfs, "dl": dls})
            if positions:
                flat = codec.decode_positions(tfs, b"".join(pdf["pos"]))
                out["positions"] = [a.tolist() for a in np.split(
                    flat.astype(np.int32), np.cumsum(tfs)[:-1])]
            yield out
        empty = {"term_id": pd.Series(dtype="int64"),
                 "doc_id": pd.Series(dtype="int64"),
                 "tf": pd.Series(dtype="int64"),
                 "dl": pd.Series(dtype="int64")}
        if positions:
            empty["positions"] = pd.Series(dtype="object")
        yield pd.DataFrame(empty)

    return blocks.mapInPandas(
        gen, schema="term_id long, doc_id long, tf long, dl long"
        + (", positions array<int>" if positions else ""))


def _bm25_col(idf, k1, b, avgdl: float) -> Column:
    """Q7, the read path's last step: the BM25 weight of raw ``tf``/``dl``
    columns, idf·tf(k1+1) / (tf + k1·((1−b) + b·dl/avgdl)). ``idf``, ``k1``
    and ``b`` are floats or Columns (literal-map lookups per term or per
    query). Every query-time scorer — decoded blocks, postings-cache rows,
    explain and batched paths — uses this one operation order, as does the
    driver-side twin ``_bm25_np``, so their doubles are bit-identical."""
    idf, k1, b = (v if isinstance(v, Column) else F.lit(float(v))
                  for v in (idf, k1, b))
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    return idf * (tfd * (k1 + F.lit(1.0))) / (
        tfd + k1 * ((F.lit(1.0) - b) + (b * dld) / F.lit(float(avgdl))))


def _bm25_np(idf: float, tf: np.ndarray, dl: np.ndarray, k1: float,
             b: float, avgdl: float) -> np.ndarray:
    """``_bm25_col`` in numpy, same operation order (driver-side scoring:
    WAND phase 1 and the hot tier)."""
    tff = tf.astype(np.float64)
    return idf * (tff * (k1 + 1.0)) / (tff + k1 * (1.0 - b + b * dl / avgdl))


def _idf(n_docs, df) -> float:
    """Robertson idf, ln(1 + (N − df + 0.5) / (df + 0.5))."""
    return float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))


def _idf_map(idf_of: dict) -> Column:
    """{term_id → idf} as a literal map: |q| entries inline into codegen —
    no createDataFrame round-trip, no broadcast exchange."""
    return F.create_map(
        *[x for tid, idf in idf_of.items() for x in (F.lit(tid), F.lit(idf))])


def _posting_rows(index: dict, trows: list[dict], sc=None,
                  prune=None) -> DataFrame:
    """Raw (term_id, doc_id, tf, dl) rows of every term in ``trows``:
    cache-eligible terms from the postings cache (operators/pcache.py),
    the rest through ``_term_blocks`` → ``_decode_blocks``. ``sc`` prunes
    doc buckets; callers apply ``_scope_filter`` where membership counts.
    ``prune(blocks, direct_rows, any_cached)`` may drop blocks of the
    direct terms before the decode (the top-k planner's WAND)."""
    cached, direct = pcache_split(index, trows)
    parts = []
    if direct:
        blocks = _term_blocks(index, [r["term_id"] for r in direct], sc)
        if prune is not None:
            blocks = prune(blocks, direct, cached is not None)
        parts.append(_decode_blocks(blocks,
                                    sum_df=sum(r["df"] for r in direct)))
    if cached is not None:
        parts.append(cached)
    return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])


SCOPE_BROADCAST_MAX = 5_000_000  # scoped doc sets below this broadcast for the semi-join


def _scope_info(index: dict, scope) -> "dict | None":
    """Resolve a search scope (reference's ``site=`` analog,
    services/SearchingServiceImpl.java:47-56,237-270) to doc-id bounds.

    ``scope`` is a conv_id prefix string, an arbitrary Column predicate
    over the docs table, or a DataFrame with a ``doc_id`` column (an
    explicit candidate set — e.g. the match set of a phrase clause in
    ``querylang.query_search``). Because built indexes assign dense doc_ids
    in (conv_id, turn_idx) order, a conv-prefix scope is a CONTIGUOUS doc_id
    range — detected exactly by count == hi-lo+1 — and then the scope filter
    is a pure codegen range check plus bucket-level block pruning, no join.
    Non-contiguous scopes (arbitrary predicates, doc-set DataFrames,
    post-upsert indexes) fall back to a semi-join against the scoped doc_id
    set (broadcast when it fits). Returns None for an empty scope.
    """
    cache = index.setdefault("_scope_cache", {})
    ckey = scope if isinstance(scope, str) else None
    if ckey is not None and ckey in cache:
        return cache[ckey]
    if isinstance(scope, DataFrame):
        sel = scope.select("doc_id")
    else:
        pred = (F.col("conv_id").startswith(scope) if isinstance(scope, str)
                else scope)
        sel = index["docs"].filter(pred).select("doc_id")
    row = sel.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"),
                  F.count("*").alias("n")).collect()[0]
    if not row["n"]:
        out = None
    else:
        lo, hi, n = int(row["lo"]), int(row["hi"]), int(row["n"])
        out = {"lo": lo, "hi": hi, "n": n,
               "contiguous": hi - lo + 1 == n, "sel": sel}
    if ckey is not None:  # string scopes repeat across queries — cache bounds
        cache[ckey] = out
    return out


def release_query_caches(index: dict) -> None:
    """Unpersist per-query scratch caches (currently the scoped ref_compat
    decode cache). Called automatically at the start of every ``search`` so
    a long-lived session doesn't accumulate cached partitions across scoped
    queries; callable explicitly when a query's results are done being
    consumed."""
    for df in index.pop("_query_persists", []):
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 — a dead SparkContext is fine here
            pass


def _scope_filter(decoded: DataFrame, sc: "dict | None") -> DataFrame:
    """Restrict decoded postings to the scope (range check or semi-join);
    no scope passes everything."""
    if sc is None:
        return decoded
    decoded = decoded.filter(F.col("doc_id").between(sc["lo"], sc["hi"]))
    if sc["contiguous"]:
        return decoded
    sel = sc["sel"]
    if sc["n"] <= SCOPE_BROADCAST_MAX:
        sel = F.broadcast(sel)
    return decoded.join(sel, "doc_id", "left_semi")


def _excluded_doc_ids(index: dict, xrows: list, sc) -> DataFrame:
    """NOT-term doc set: decode the excluded terms' postings down to one
    distinct ``doc_id`` column. Hot excluded terms come from the shared
    postings cache; the rest go through the same bucket-pruned block scan
    as query terms (scope bucket pruning applies — exclusions outside the
    scope can't affect in-scope candidates). Persisted because WAND phase 1
    and the final anti-join both consume it; released by
    ``release_query_caches`` at the next query."""
    out = _posting_rows(index, xrows, sc).select("doc_id").distinct().persist()
    index.setdefault("_query_persists", []).append(out)
    return out


def _exclusion_rows(index: dict, exclude: "str | None") -> list:
    """A NOT clause's resolved dictionary rows ([] for none). Excluded
    terms use plain dictionary resolution — never the ref_compat 80%-df
    prune: excluding a very common term is exactly when a user reaches
    for NOT."""
    if exclude is None:
        return []
    xterms = _query_terms(exclude, index.get("mode", "general"),
                          index.get("dictionary", "fixture"))
    return resolve_terms(index, xterms, "bm25") if xterms else []


def _resolve_exclusions(index: dict, exclude: "str | None", sc):
    """Analyze + resolve a NOT clause to its doc-id set (or None)."""
    xrows = _exclusion_rows(index, exclude)
    if not xrows:
        return None  # absent terms exclude nothing
    return _excluded_doc_ids(index, xrows, sc)


def _exclusion_map(index: dict, exclude, qids) -> tuple:
    """A batch's NOT clauses → ({term_id → [(query_id,)]}, {term_id →
    df}): ``exclude`` is a dict (query_id → NOT terms) or one string
    shared by every query in ``qids``; plain resolution, never
    df-pruned."""
    xcl = exclude if isinstance(exclude, dict) else {q: exclude for q in qids}
    x_by_tid: dict[int, list[tuple]] = {}
    x_df: dict[int, int] = {}
    for qid, xtext in xcl.items():
        if qid in qids:
            for r in _exclusion_rows(index, xtext):
                x_by_tid.setdefault(r["term_id"], []).append((qid,))
                x_df[r["term_id"]] = int(r["df"])
    return x_by_tid, x_df


def _banned_pairs(index: dict, exclude, qids, sc) -> "DataFrame | None":
    """Batched NOT clause → (query_id, doc_id) ban pairs.

    ``exclude`` is a dict (query_id → NOT terms) or one string shared by
    every query in ``qids``. All queries' excluded term_ids decode in ONE
    non-positional pass (hot terms from the postings cache, the rest
    through the bucket-pruned block scan; scope bucket pruning applies —
    out-of-scope exclusions can't affect in-scope candidates), then a
    ``_fanout_by_term`` literal map fans the doc sets out per query.
    Excluded terms use plain resolution — never df-pruned. Used by the
    positional ranking tail (``_positional_search``); the top-k planner's
    batches ride their own union decode instead (its scoring pass already
    decodes these blocks)."""
    x_by_tid, x_df = _exclusion_map(index, exclude, qids)
    if not x_by_tid:
        return None
    out = _posting_rows(
        index, [{"term_id": t, "df": d} for t, d in sorted(x_df.items())], sc)
    return (_fanout_by_term(out, x_by_tid, [("query_id", "string")])
            .select("query_id", "doc_id").distinct())


def _collapse_filter(index: dict, matches: DataFrame, order_cols,
                     collapse, per_group: int, by=()) -> DataFrame:
    """Field collapsing: keep each group's best ``per_group`` matches by
    the caller's exact ranking order (per ``by`` column too, e.g.
    query_id for a batch). ``collapse`` is a docs column name or Column
    expression; the key join is match-set-sized (the facet-join shape)
    and the window shuffles on the key — both flat in corpus size for a
    fixed match set."""
    key_col = F.col(collapse) if isinstance(collapse, str) else collapse
    keys = index["docs"].select("doc_id", key_col.alias("_ckey"))
    w = Window.partitionBy(*by, "_ckey").orderBy(*order_cols)
    return (matches.join(keys, "doc_id")
            .withColumn("_cr", F.row_number().over(w))
            .filter(F.col("_cr") <= F.lit(int(per_group)))
            .drop("_cr", "_ckey"))


def _batch_sort_key(index: dict, scored: DataFrame, sort_by, sort_asc: bool):
    """``sort_by`` plumbing: one docs key join for the whole match set;
    returns (scored, order_cols) — the active per-query ranking order."""
    if sort_by is not None:
        skey = F.col(sort_by) if isinstance(sort_by, str) else sort_by
        scored = scored.join(
            index["docs"].select("doc_id", skey.alias("_skey")), "doc_id")
        key_ord = (F.col("_skey").asc_nulls_last() if sort_asc
                   else F.col("_skey").desc_nulls_last())
        return scored, [key_ord, F.col("doc_id").asc()]
    return scored, [F.round(F.col("score"), 9).desc(), F.col("doc_id").asc()]


def _cursor_pred(cursor: tuple, sort_by, sort_asc: bool) -> Column:
    """``search_after``'s strictly-after-the-cursor predicate under the
    active ranking: (sort key, doc_id) over ``_skey`` with ``sort_by``,
    else (score, doc_id) compared at the ranking's 9-dp quantization."""
    la_key, la_doc = cursor
    if sort_by is not None:
        kc, lk = F.col("_skey"), F.lit(la_key)
        before = (kc > lk) if sort_asc else (kc < lk)
        at = kc == lk
    else:
        s9 = F.round(F.col("score"), 9)
        lk = F.lit(round(float(la_key), 9))
        before, at = s9 < lk, s9 == lk
    return before | (at & (F.col("doc_id") > F.lit(int(la_doc))))


def _batch_cursor_filter(scored: DataFrame, queries: dict, search_after,
                         sort_by, sort_asc: bool) -> DataFrame:
    """Batched ``search_after``: a dict (query_id → (key, doc_id)) or one
    cursor shared by the batch, ``_cursor_pred`` as a literal when-chain
    over query_id — queries without a cursor pass through unfiltered.
    Applied AFTER collapse (the cursor pages through collapsed
    survivors)."""
    cursors = (search_after if isinstance(search_after, dict)
               else {qid: search_after for qid in queries})
    w = None
    for qid, cursor in cursors.items():
        p = _cursor_pred(cursor, sort_by, sort_asc)
        w = (F.when(F.col("query_id") == qid, p) if w is None
             else w.when(F.col("query_id") == qid, p))
    return scored if w is None else scored.filter(w.otherwise(F.lit(True)))


def _batch_int_cursor(matches: DataFrame, queries: dict, search_after,
                      col: str, desc: bool) -> DataFrame:
    """Cursors on an INTEGER ranking column (the positional families:
    n_matches/n_pairs desc, span asc): a dict (query_id → (value, doc_id))
    or one shared cursor, a literal when-chain like _batch_cursor_filter.
    Strictly after the cursor, exact comparisons (no quantization); ties
    break by doc_id asc."""
    cursors = (search_after if isinstance(search_after, dict)
               else {qid: search_after for qid in queries})
    w = None
    for qid, (la_v, la_doc) in cursors.items():
        c, lk = F.col(col), F.lit(int(la_v))
        before = (c < lk) if desc else (c > lk)
        pred = before | ((c == lk) & (F.col("doc_id") > F.lit(int(la_doc))))
        w = (F.when(F.col("query_id") == qid, pred) if w is None
             else w.when(F.col("query_id") == qid, pred))
    return matches if w is None else matches.filter(w.otherwise(F.lit(True)))


def _derived_bounds(index: dict, stats_override, custom_sim: bool) -> "bool | None":
    """Which block upper bounds WAND may use: False → the stored
    block_max_score; True → bounds derived at query time; None → no sound
    bound exists (derived bounds needed, but legacy blocks lack
    block_max_tf).

    Upserted indexes flag tf_bounds: stored block_max_score was computed
    under older (n_docs, avgdl), so derive a stats-INDEPENDENT upper bound
    instead. The BM25 tf-part f(tf, dl) is increasing in tf and decreasing
    in dl, so idf_now * f(block_max_tf, block_min_dl) ≥ any doc's score in
    the block under the CURRENT stats — sound forever, no re-tightening
    needed, and far tighter than the dl→0 fallback (which remains the bound
    for legacy blocks without block_min_dl). WAND stays exact. The
    sharded-stats override takes the same derivation: stored bounds were
    computed under SHARD stats, the query scores under GLOBAL ones. Custom
    (k1, b) similarity params and term boosts do too (``custom_sim``):
    stored bounds cap the score under the BUILD constants and the
    unboosted idf, not the query's."""
    tfb = (bool(index["stats"].get("tf_bounds")) or stats_override is not None
           or custom_sim)
    if tfb and "block_max_tf" not in index["postings"].columns:
        return None
    return tfb


def _wand_gate(mode: str, prune_blocks, trows: list, direct_rows: list,
               any_cached: bool, tfb, count_all: bool = False) -> tuple:
    """Whether a top-k query runs block-max WAND: ``(prunes, why)``.

    Cost-based ("auto"): WAND phase 1 costs an extra Spark job (schedule +
    decode best-block-per-term + shuffle) to SAVE decode work proportional
    to Σdf — of the DIRECT terms only: cached terms decode nothing, so they
    neither count toward the gate nor get pruned (their rows are always
    complete, which the exactness argument permits — see module docstring:
    skipping applies per-block to direct terms, with M_t summing over all
    terms). Legacy indexes without per-term max columns need a blocks
    aggregation for M_t that the cache split no longer covers, so they
    skip pruning when any term is cached (exact either way). True/False
    force either path. ``count_all`` marks query classes that need matches
    below the global top-k θ."""
    sum_df = sum(r["df"] for r in direct_rows)
    has_m = all((r.get("max_tf") is not None) if tfb
                else (r.get("max_score") is not None) for r in trows)
    if mode != "bm25":
        return False, "ref_compat mode (conjunctive path, no WAND)"
    if not trows:
        return False, "no resolved terms"
    if not direct_rows:
        return False, "all terms cached — nothing to decode or skip"
    if prune_blocks is not True and prune_blocks != "auto":
        return False, f"disabled by prune_blocks={prune_blocks!r}"
    if prune_blocks == "auto" and sum_df < PRUNE_MIN_POSTINGS:
        return False, f"below cost gate (sum_df {sum_df} < {PRUNE_MIN_POSTINGS})"
    if count_all:
        return False, "counts every match (collapse/cursor/sort/boost/min_match)"
    if tfb is None:
        return False, "derived bounds needed but legacy blocks lack block_max_tf"
    if not (has_m or not any_cached):
        return False, "legacy index bounds + cached terms — skipped for exactness"
    return True, "engaged (exact block-max pruning)"


def _driver_theta(sc, excluded: bool) -> bool:
    """WAND phase 1 runs driver-side unless θ candidates need a doc SET
    filter: a non-contiguous scope or an exclusion anti-join (``excluded``:
    the call has resolved NOT terms or banned docs)."""
    return (sc is None or bool(sc.get("contiguous"))) and not excluded


def _serving_tier(index: dict, qterms: list[str], mode: str, prune_blocks,
                  exclude: "str | None", options: list[str],
                  chosen: bool = False) -> tuple:
    """The one rule that picks the tier of a top-k call: ``(name, why,
    trows, xrows)``. It serves ``search()``, ``explain_query``'s ``tier``
    report and ``hot.hot_search``.

    "driver" — answered by ``hot._top_k`` from driver-cached postings —
    needs a bm25 or ref_compat query with ``prune_blocks="auto"``, none
    of the ``options`` (the set arguments the driver tier does not
    implement), every resolved query and NOT term at df ≤
    ``hot.HOT_MAX_DF_FETCH`` and their Σdf ≤ ``hot.HOT_MAX_ROWS`` (the
    tier's LRU budgets). ``search()`` also needs Σdf <
    ``PRUNE_MIN_POSTINGS``: from there on the block pipeline's WAND gate
    engages and may skip blocks, where the driver tier collects every
    posting of its cold terms. Below the bound the driver tier answered
    in 0.19-0.34 s cold and ~0.03 s warm against 0.46-0.75 s and
    0.31-0.56 s distributed (bm25, k=10, synthetic 300k- and 1M-turn
    corpora, local[2], 4-core host). It also won above the bound up to
    Σdf 1.4M there, but those corpora give WAND flat scores to prune
    with, so the bound stays where WAND starts. ``chosen`` marks a
    caller that named the driver tier (``hot_search``); it keeps the
    tier up to the LRU budgets. Anything else is "distributed".

    ``trows``/``xrows`` are the resolved query and NOT rows (NOT terms are
    never df-pruned, as in ``_resolve_exclusions``) whenever the rule
    resolved them, so the distributed path does not resolve them again;
    None when it returned before resolving."""
    from searchengine_spark.operators import hot
    if mode not in ("bm25", "ref_compat"):
        return "distributed", f"mode {mode!r}", None, None
    if prune_blocks != "auto":
        return ("distributed", f"prune_blocks={prune_blocks!r} forces the "
                "block pipeline", None, None)
    if options:
        return ("distributed", f"{', '.join(options)} set: the driver tier "
                "answers plain queries only", None, None)
    trows = resolve_terms(index, qterms, mode)
    xrows = _exclusion_rows(index, exclude)
    big = [r["term"] for r in trows + xrows if r["df"] > hot.HOT_MAX_DF_FETCH]
    sum_df = sum(r["df"] for r in trows + xrows)
    if big:
        why = f"terms over HOT_MAX_DF_FETCH ({hot.HOT_MAX_DF_FETCH}): {big}"
    elif sum_df > hot.HOT_MAX_ROWS:
        why = f"sum_df {sum_df} > HOT_MAX_ROWS ({hot.HOT_MAX_ROWS})"
    elif not chosen and sum_df >= PRUNE_MIN_POSTINGS:
        why = (f"sum_df {sum_df} >= PRUNE_MIN_POSTINGS "
               f"({PRUNE_MIN_POSTINGS}): the block pipeline may skip blocks")
    else:
        return ("driver", f"plain {mode} query, sum_df {sum_df}", trows,
                xrows)
    return "distributed", why, trows, xrows


def search(index: dict, query: str, k: int = 10, mode: str = "bm25",
           prune_blocks: "bool | str" = "auto", with_snippets: bool = False,
           offset: int = 0, scope=None, with_titles: bool = False,
           exclude: "str | None" = None,
           exclude_docs: "DataFrame | None" = None,
           collapse=None, per_group: int = 1,
           search_after: "tuple | None" = None,
           sort_by=None, sort_asc: bool = False,
           boost_by=None, min_match: "int | None" = None,
           n_fragments: "int | None" = None,
           k1: "float | None" = None, b: "float | None" = None,
           term_boosts: "dict[str, float] | None" = None,
           _stats_override: "dict | None" = None) -> DataFrame:
    """Top-k search over a built index; returns DataFrame
    (doc_id, conv_id, turn_idx, role, tool, ts, score[, snippet]).

    Two tiers answer, with the same rows (scores equal at 9 dp, the same
    columns and types). A plain query — mode bm25 or ref_compat,
    ``prune_blocks="auto"``, none of ``scope``, ``collapse``,
    ``search_after``, ``sort_by``, ``boost_by``, ``min_match``,
    ``offset``, ``with_snippets``, ``with_titles``, ``n_fragments``,
    ``term_boosts``, ``exclude_docs`` set, and every resolved query and
    NOT term at df ≤ ``hot.HOT_MAX_DF_FETCH`` with Σdf ≤
    ``hot.HOT_MAX_ROWS`` and Σdf < ``PRUNE_MIN_POSTINGS`` (from there on
    the block pipeline's WAND may skip blocks) — goes to the driver tier
    (operators/hot.py): it scores driver-cached postings in numpy,
    fetches a query's cold terms in one Spark job and its unseen
    winners' metadata in another, and returns an Arrow-built local
    DataFrame whose ``collect()`` runs no Spark job. ``k1``/``b`` and
    ``exclude`` stay plain. Every other call is the top-k planner's
    (``_topk``) batch of one: block-max WAND may skip blocks, and the
    top-k is an ``orderBy().limit()`` (TakeOrderedAndProject, no global
    sort); ``prune_blocks=False`` forces the exhaustive decode.
    ``explain_query`` reports the tier and why (``_serving_tier`` is the
    one rule).

    ``offset`` is Q11 pagination done *properly* (the reference's UI sends
    offset/limit but the server ignores them,
    reference: controllers/ApiController.java:55-58,
    static/assets/js/scripts.js:1751-1758): the offset+k winners are
    still a TakeOrderedAndProject, then the first ``offset`` drop by rank.

    ``scope`` (reference ``GET /api/search?site=``,
    SearchingServiceImpl.java:237-270): a conv_id prefix string or a
    Column predicate over docs is a SITE — candidates, conjunction arity
    and, in ref_compat mode, the 80%-df prune evaluate WITHIN it (the
    reference's per-site lemma frequency), while BM25 idf/avgdl stay
    index-wide. A DataFrame with a ``doc_id`` column is a pre-resolved
    CANDIDATE SET (querylang phrase filters) with GLOBAL df: per-set df
    would be degenerate (a phrase's constituents have df 1.0 within its
    own match set, so the per-scope prune would always empty it). Scoped
    doc ranges prune whole posting buckets before any decode.

    ``exclude`` is a NOT clause (no reference analog): docs holding ANY
    excluded term leave the candidates in one anti-join; excluded terms
    analyze like the query but are never df-pruned. idf and the df
    prunes are computed before the exclusion, while ref_compat's
    tf-sum / max normalizes over the SURVIVING matches. ``exclude_docs``
    is a pre-resolved banned doc set (DataFrame with ``doc_id``, e.g.
    querylang's NOT-phrase matches) merged into the same anti-join. With
    either, WAND's phase 1 runs distributed with the anti-join applied,
    so θ still lower-bounds the kth surviving score.

    ``collapse`` is field collapsing: at most ``per_group`` hits per value
    of a docs column (name or Column) — all matches rank, each group keeps
    its best ``per_group`` by the mode's exact order, then the global
    top-k of the survivors (ref_compat's normalizer, the rank-1 row,
    always survives). One match-set-sized docs join for the key and one
    window partitioned by it.

    ``search_after`` is cursor pagination (Elasticsearch): the previous
    page's last (score, doc_id) — (sort key, doc_id) under ``sort_by`` —
    and only matches strictly after it rank; LIMIT stays k at any depth.
    Score cursors compare at the 9-dp ranking quantization, so pages never
    skip or repeat a row. Exclusive with ``offset``.

    ``sort_by``/``sort_asc`` rank by a docs column (name or Column) instead
    of relevance, e.g. ``sort_by="ts"``; scores are still returned, null
    keys sort last. ``boost_by`` is function-score ranking (multiply
    mode): a docs Column whose value multiplies each match's BM25 score
    before ranking — the score that top-k, collapse, cursors and the
    ``score`` column see. Each is one match-set-sized docs join.

    ``min_match`` is minimum-should-match: bm25 scores docs matching ANY
    query term; ``min_match=m`` keeps docs matching at least m DISTINCT
    resolved terms (absent terms drop out first), scores unchanged. m
    above the resolved-term count returns empty.

    ``k1``/``b`` are QUERY-TIME BM25 similarity parameters (defaults: the
    build constants k1=1.2, b=0.75). ``term_boosts`` is the Lucene caret
    boost (``word^2``): {word → factor > 0} scaling that term's idf, so
    the scorer, WAND's bounds and θ all see the boosted weight; words
    analyze through the index's chain. Under either, stored block bounds
    are stale (build constants, unboosted idf), so WAND derives bounds at
    query time from (block_max_tf, block_min_dl) — exact because the BM25
    tf-part increases in tf and decreases in dl for any k1 ≥ 0,
    0 ≤ b ≤ 1; legacy blocks without block_max_tf decode exhaustively.

    Block-max WAND turns off for the count-every-match classes —
    collapse, cursors, sort_by, boost_by, min_match > 1 — since a doc
    below the unfiltered top-k's θ can rank there. ``search_after``,
    ``sort_by``, ``boost_by``, ``min_match``, ``k1``/``b`` and
    ``term_boosts`` are bm25-only: ref_compat scores a plain tf sum
    normalized by the match set's max."""
    k1e, be, _ = _sim_params(k1, b, mode)
    if term_boosts:
        if mode != "bm25":
            raise ValueError("term_boosts requires mode='bm25'")
        for _w, _bv in term_boosts.items():
            if float(_bv) <= 0.0:
                raise ValueError(f"term boost for {_w!r} must be > 0")
    if min_match is not None:
        if mode != "bm25":
            raise ValueError("min_match requires mode='bm25': ref_compat "
                             "is already the full conjunction (Q6)")
        if int(min_match) < 1:
            raise ValueError("min_match must be >= 1")
    if boost_by is not None and mode != "bm25":
        raise ValueError("boost_by requires mode='bm25': ref_compat's "
                         "tf-sum/max score has no boost semantics")
    if (search_after is not None or sort_by is not None) and mode != "bm25":
        raise ValueError(
            "search_after/sort_by require mode='bm25': ref_compat scores "
            "are normalized by the match set's max, which lives outside "
            "later pages — use offset= for ref_compat paging")
    if search_after is not None and offset:
        raise ValueError("search_after and offset are mutually exclusive")
    if _stats_override is not None and mode != "bm25":
        raise ValueError("_stats_override requires mode='bm25'")
    qterms = _query_terms(query, index.get("mode", "general"),
                          index.get("dictionary", "fixture"))
    tier, trows, xrows = "distributed", None, None
    if qterms:
        options = [name for name, v in (
            ("scope", scope), ("collapse", collapse),
            ("search_after", search_after), ("sort_by", sort_by),
            ("boost_by", boost_by), ("min_match", min_match),
            ("offset", offset or None),
            ("with_snippets", with_snippets or None),
            ("with_titles", with_titles or None),
            ("n_fragments", n_fragments),
            ("term_boosts", term_boosts or None),
            ("exclude_docs", exclude_docs),
            ("_stats_override", _stats_override)) if v is not None]
        tier, _, trows, xrows = _serving_tier(index, qterms, mode,
                                              prune_blocks, exclude, options)
    if tier == "driver":
        from searchengine_spark.operators import hot
        release_query_caches(index)
        win_ids, scores = hot._top_k(index, trows, xrows, mode, k, k1e, be)
        if not win_ids:
            return _topk_empty(index, True)
        return hot._spark_frame(index, win_ids, scores,
                                hot._meta_fill(index, win_ids))
    return _topk(index, {"q": query}, k, mode, True, offset=offset,
                 collapse=collapse, per_group=per_group,
                 search_after=search_after, sort_by=sort_by,
                 sort_asc=sort_asc, boost_by=boost_by,
                 with_snippets=with_snippets, with_titles=with_titles,
                 n_fragments=n_fragments, min_match=min_match,
                 resolved=(qterms, trows, xrows), scope=scope,
                 exclude=exclude, exclude_docs=exclude_docs, k1=k1, b=b,
                 term_boosts=term_boosts, prune_blocks=prune_blocks,
                 stats_override=_stats_override)


def _topk_empty(index: dict, flat: bool, extra: "tuple | list" = ()):
    """The top-k planner's zero-row result (``_empty``: no partitions):
    the batch-of-one columns, or query_id/rank first for batches, plus
    ``extra`` string columns."""
    return _empty(index["docs"].sparkSession, (
        "" if flat else "query_id string, rank int, ")
        + "doc_id long, conv_id string, turn_idx int, role string, "
          "tool string, ts timestamp, score double"
        + "".join(f", {c} string" for c in extra))()


def _wand_blocks(index: dict, blocks: DataFrame, trows: list, idf_of: dict,
                 sim: tuple, avgdl: float, k_eff: int, sc, excl,
                 tfb: bool) -> DataFrame:
    """Block-max WAND for a batch of one (module docstring): keep the
    blocks of ``trows``' direct terms whose bound can reach θ, a lower
    bound on the k_eff-th score. M_t comes from the dictionary's
    denormalized max columns (one agg job on a legacy index); θ from
    phase 1, which scores each term's best block — collected as ONE
    ``max_by`` payload per term and decoded driver-side with the same
    codec and operation order as the executors, or, when θ candidates
    need a doc SET filter (``_driver_theta``: a non-contiguous scope or
    an exclusion anti-join ``excl``), a distributed top-k job. ``tfb``
    derives block bounds at query time (``_derived_bounds``)."""
    k1e, be = sim
    if tfb:
        # stats-independent bound: idf·f(block_max_tf, block_min_dl)
        bmt = F.col("block_max_tf").cast("double")
        bmd = (F.coalesce(F.col("block_min_dl"), F.lit(0)).cast("double")
               if "block_min_dl" in blocks.columns else F.lit(0.0))
        idf_map = _idf_map(idf_of)
        blocks = blocks.withColumn(
            "block_max_score",
            idf_map[F.col("term_id")] * bmt * F.lit(k1e + 1.0)
            / (bmt + F.lit(k1e * (1.0 - be))
               + F.lit(k1e * be / max(avgdl, 1e-9)) * bmd))

    def _m_driver(r):
        if not tfb:
            return r["max_score"]
        if r["max_tf"] is None:
            return None
        # the term's max tf paired with its min dl — decoupled maxima,
        # still an upper bound (f increasing in tf, decreasing in dl)
        bmt, bmd = float(r["max_tf"]), float(r.get("min_dl") or 0)
        return (idf_of[r["term_id"]] * bmt * (k1e + 1.0)
                / (bmt + k1e * (1.0 - be)
                   + k1e * be * bmd / max(avgdl, 1e-9)))

    m_of = {r["term_id"]: _m_driver(r) for r in trows}
    if any(v is None for v in m_of.values()):  # legacy index: one agg job
        m_of = {r["term_id"]: r["m"] for r in blocks.groupBy("term_id").agg(
            F.max("block_max_score").alias("m")).collect()}
    if _driver_theta(sc, excl is not None):
        from searchengine_spark.operators import codec
        best = blocks.groupBy("term_id").agg(F.max_by(
            F.struct("first_doc_id", "n", "doc_deltas", "tfs", "dls"),
            F.struct(F.col("block_max_score"), -F.col("block_id"))).alias("b")
        ).collect()
        all_ids, all_scores = [np.zeros(0, dtype=np.int64)], [np.zeros(0)]
        for r in best:
            bb = r["b"]
            ids, tfs, dls = codec.decode_postings(
                np.array([bb["first_doc_id"]]), np.array([bb["n"]]),
                bb["doc_deltas"], bb["tfs"], bb["dls"])
            sco = _bm25_np(idf_of[r["term_id"]], tfs, dls, k1e, be, avgdl)
            if sc is not None:  # θ must come from in-scope docs only
                m = (ids >= sc["lo"]) & (ids <= sc["hi"])
                ids, sco = ids[m], sco[m]
            all_ids.append(ids)
            all_scores.append(sco)
        ids, sco = np.concatenate(all_ids), np.concatenate(all_scores)
        _, inv = np.unique(ids, return_inverse=True)
        sums = np.bincount(inv, weights=sco) if len(ids) else np.zeros(0)
        theta = (float(np.partition(sums, len(sums) - k_eff)[len(sums) - k_eff])
                 if len(sums) >= k_eff else 0.0)
    else:
        w = Window.partitionBy("term_id").orderBy(
            F.col("block_max_score").desc(), "block_id")
        top_blocks = (blocks.withColumn("_r", F.row_number().over(w))
                      .filter(F.col("_r") == 1))
        p1 = _scope_filter(_decode_blocks(
            top_blocks,
            sum_df=len(trows) * index["stats"].get("block_size", 128)), sc)
        if excl is not None:
            p1 = p1.join(excl, "doc_id", "left_anti")
        score = _bm25_col(_idf_map(idf_of)[F.col("term_id")], k1e, be, avgdl)
        p1 = (p1.groupBy("doc_id").agg(F.sum(score).alias("score"))
              .orderBy(F.col("score").desc()).limit(k_eff).collect())
        theta = min(r["score"] for r in p1) if len(p1) >= k_eff else 0.0
    if theta <= 0:
        return blocks
    # per-term M_t as a literal map (same rationale as the idf map)
    m_map = F.create_map(*[x for tid, m in m_of.items()
                           for x in (F.lit(tid), F.lit(float(m)))])
    bound = (F.col("block_max_score") + F.lit(sum(m_of.values()))
             - m_map[F.col("term_id")])
    return blocks.filter(bound >= F.lit(theta))


def _per_query(frame: DataFrame, values: dict, name: str,
               sql_type: str) -> DataFrame:
    """``frame`` plus a per-query constant column ``name`` from
    {query_id → value} (null for absent queries): a literal-map lookup
    below ``LIT_MAP_MAX`` entries, a broadcast join of a pandas-built
    frame above (huge query-log batches)."""
    if len(values) <= LIT_MAP_MAX:
        return frame.withColumn(
            name, _lit_lookup(values, sql_type)[F.col("query_id")])
    return frame.join(F.broadcast(frame.sparkSession.createDataFrame(
        pd.DataFrame(sorted(values.items()), columns=["query_id", name]),
        f"query_id string, {name} {sql_type}")), "query_id", "left")


def _topk_matches(index: dict, queries: dict, mode: str, flat: bool, *,
                  k_eff: int = 0, count_all: bool = True,
                  resolved: "tuple | None" = None, scope=None,
                  exclude=None, exclude_docs: "DataFrame | None" = None,
                  min_match=None, k1=None, b=None,
                  term_boosts: "dict | None" = None, prune_blocks=False,
                  scope_clauses: "DataFrame | None" = None,
                  group_clauses: "list | None" = None,
                  clause_arity: "dict | None" = None,
                  site_like: "set | None" = None,
                  stats_override: "dict | None" = None) -> tuple:
    """The top-k planner's scored match-set step: ``(matches, per_q)``,
    or ``(None, None)`` when no query can match. ``matches`` has one row
    per (query, doc) — keyed by doc_id for a batch of one (``flat``), by
    (query_id, doc_id) otherwise — with ``nt``/``tf_sum``/``bm25`` (and
    ``score`` in bm25 mode), already cut to the ref_compat conjunction
    or ``min_match``; ``per_q`` maps each live query to its ranked rows.

    Steps: resolve (``resolved``: a batch of one's (qterms, trows, xrows)
    from ``_serving_tier``, rows None where it did not resolve them) →
    scope → ``_posting_rows`` (a batch of one may skip blocks by WAND,
    gated by ``k_eff``/``count_all``) → scope filter and ref_compat's
    per-scope prune → aggregate → candidate semi-join → NOT anti-join.
    Site semantics (the "scoped" resolution and the per-scope 80 %-df
    prune) hold for a string or Column ``scope`` and ``site_like``
    queries; a DataFrame scope and clause-restricted queries keep global
    df. A batch of one decodes its NOT terms into one persisted doc set
    (WAND's phase 1 reads it too); a batch rides them on its union
    decode. ``exclude_docs`` are extra banned keys (doc_id, plus query_id
    for batches); ``exclude``, ``min_match``, ``k1``, ``b`` may be dicts
    per query; the clause hooks are ``search_many``'s."""
    release_query_caches(index)
    spark = index["docs"].sparkSession
    amode = index.get("mode", "general")
    dictionary = index.get("dictionary", "fixture")
    stats = index["stats"]
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    if stats_override is not None:
        # scatter-gather serving (operators/sharded.py): score this shard
        # under corpus-GLOBAL statistics so per-shard top-ks merge into
        # exactly the combined index's ranking; df_of maps term STRING →
        # global df because term_ids are shard-local
        n_docs = int(stats_override["n_docs"])
        avgdl = float(stats_override["avgdl"])
    dfo = (stats_override or {}).get("df_of") or {}
    if isinstance(k1, dict) or isinstance(b, dict):
        if len(queries) > LIT_MAP_MAX:
            raise ValueError("per-query k1/b supports at most "
                             f"{LIT_MAP_MAX} queries per batch (the "
                             "constants inline as a literal map)")
        sim_of = {q: _sim_params(k1.get(q) if isinstance(k1, dict) else k1,
                                 b.get(q) if isinstance(b, dict) else b,
                                 mode) for q in queries}
        k1e, be = (_lit_lookup({q: s[i] for q, s in sim_of.items()},
                               "double")[F.col("query_id")] for i in (0, 1))
        custom_sim = True
    else:
        k1e, be, custom_sim = _sim_params(k1, b, mode)

    clause_qids, site_like = set(clause_arity or {}), site_like or set()
    site_scope = scope is not None and not isinstance(scope, DataFrame)
    per_q: dict[str, list[dict]] = {}
    for qid, text in queries.items():
        qterms, trows = (resolved[:2] if resolved
                         else (_query_terms(text, amode, dictionary), None))
        if not qterms:
            continue
        if trows is None:
            # reference semantics: absent/pruned lemmas silently drop out
            # of the conjunction (SearchingServiceImpl.java:203-235);
            # site semantics defer ref_compat's prune to the scoped decode
            site = qid in site_like or (site_scope and qid not in clause_qids)
            trows = resolve_terms(index, qterms, "scoped" if site else mode)
        if trows:
            per_q[qid] = trows
    if not per_q:
        return None, None
    sc = _scope_info(index, scope) if scope is not None else None
    if scope is not None and sc is None:
        return None, None

    def _weight(r):  # global df under the sharded override, shard df else
        return _idf(n_docs, dfo.get(r.get("term"), r["df"]) if dfo else r["df"])

    idf_of = {q: {r["term_id"]: _weight(r) for r in trows}
              for q, trows in per_q.items()}
    for q, trows in (per_q.items() if term_boosts else ()):
        # caret boosts scale idf — the scorer, WAND's M_t/θ and the derived
        # bounds all read idf_of, so boosted ranking stays prune-exact
        term_of = {r["term"]: r["term_id"] for r in trows}
        for w, bv in term_boosts.items():
            for lem in _query_terms(w, amode, dictionary):
                if lem in term_of:
                    idf_of[q][term_of[lem]] *= float(bv)

    keys = ["doc_id"] if flat else ["query_id", "doc_id"]
    banned, g_pairs, cand = None, None, None
    if flat:
        (qid, trows), = per_q.items()
        xrows = (resolved[2] if resolved and resolved[2] is not None
                 else _exclusion_rows(index, exclude))
        banned = _excluded_doc_ids(index, xrows, sc) if xrows else None
        if exclude_docs is not None:
            xd = exclude_docs.select(*keys)
            banned = xd if banned is None else banned.unionByName(xd).distinct()
        # stored bounds carry the build's (k1, b) and the unboosted idf
        tfb = _derived_bounds(index, stats_override,
                              custom_sim or bool(term_boosts))

        def _prune(blocks, direct_rows, any_cached):
            prunes, _ = _wand_gate(mode, prune_blocks, trows, direct_rows,
                                   any_cached, tfb, count_all)
            if not prunes:
                return blocks
            return _wand_blocks(index, blocks, trows, idf_of[qid],
                                (k1e, be), avgdl, k_eff, sc, banned, tfb)

        decoded = _scope_filter(_posting_rows(index, trows, sc, _prune), sc)
    else:
        # one decode pass over the union of every query's, NOT clause's
        # and OR-group's term_ids (a group term ref_compat's global prune
        # dropped from the ranked set still decodes for its clause)
        x_by_tid, x_df = _exclusion_map(index, exclude, per_q)
        uniq_df = {r["term_id"]: int(r["df"])
                   for trows in per_q.values() for r in trows}
        for tid, df_ in [*x_df.items(), *((g[2], g[3]) for g in group_clauses or ())]:
            uniq_df.setdefault(tid, int(df_))
        decoded = _scope_filter(_posting_rows(
            index, [{"term_id": t, "df": d} for t, d in sorted(uniq_df.items())],
            sc), sc)
        if x_by_tid:  # each query's banned docs, fanned out of the shared decode
            banned = (_fanout_by_term(decoded, x_by_tid, [("query_id", "string")])
                      .select(*keys).distinct())
        if exclude_docs is not None:
            xd = exclude_docs.select(*keys)
            banned = xd if banned is None else banned.unionByName(xd).distinct()
        if group_clauses:  # OR-group doc sets, from the same decode
            g_by_tid: dict = {}
            for q, c, t, _ in group_clauses:
                g_by_tid.setdefault(t, []).append((q, int(c)))
            g_pairs = _fanout_by_term(
                decoded, g_by_tid, [("query_id", "string"), ("clause", "int")]
            ).select("query_id", "clause", "doc_id")
    if clause_qids:
        # restricted queries' candidates: docs satisfying ALL the query's
        # positive clauses — one countDistinct(clause) == arity aggregation;
        # persisted because the site_like prune and the semi-join read it
        cparts = [p for p in (g_pairs, None if scope_clauses is None else
                              scope_clauses.select("query_id", "clause", "doc_id"))
                  if p is not None]
        if cparts:
            allcl = cparts[0] if len(cparts) == 1 else cparts[0].unionByName(cparts[1])
            nc_agg = (allcl.distinct().groupBy("query_id", "doc_id")
                      .agg(F.countDistinct("clause").alias("nc")))
            cand = (_per_query(nc_agg, clause_arity, "n_cl", "int")
                    .filter(F.col("nc") == F.col("n_cl"))
                    .select("query_id", "doc_id").persist())
        else:  # arity declared but no clause inputs: nothing satisfies it
            cand = _empty(spark, "query_id string, doc_id long")()
        index.setdefault("_query_persists", []).append(cand)

    # ref_compat per-scope 80%-df prune (reference's per-site lemma
    # frequency, SearchingServiceImpl.java:286-298: site_df/site_pages):
    # a site scope prunes its unrestricted queries on the scope's df, a
    # site_like query within its own candidate set; terms absent in scope
    # drop out of the conjunction. Clause-restricted queries took the
    # global prune at resolution. The persisted decode outlives this lazy
    # result's materialization; release_query_caches drops it later.
    need_shared = (mode == "ref_compat" and site_scope and sc is not None
                   and any(q not in clause_qids for q in per_q))
    need_site = mode == "ref_compat" and any(q in site_like for q in per_q)
    if need_shared or need_site:
        decoded = decoded.persist()
        index.setdefault("_query_persists", []).append(decoded)
        kept_of: dict[str, set] = {}
        if need_shared:
            sdf = {r["term_id"]: r["c"] for r in decoded.groupBy("term_id")
                   .agg(F.count("*").alias("c")).collect()}
            for q, trows in per_q.items():
                if q not in clause_qids:
                    kept_of[q] = {r["term_id"] for r in trows
                                  if sdf.get(r["term_id"], 0) > 0
                                  and sdf[r["term_id"]] / float(sc["n"])
                                  < PRUNE_THRESHOLD}
        if need_site:
            # per-(query, term) df within the candidate set + |candidates|
            # per query: two tiny agg jobs over the batch's site_like part
            sq = sorted(q for q in per_q if q in site_like)
            s_by_tid: dict = {}
            for q in sq:
                for r in per_q[q]:
                    s_by_tid.setdefault(r["term_id"], []).append((q,))
            scand = cand.filter(F.col("query_id").isin(sq))
            sdfq = {(r["query_id"], r["term_id"]): r["c"] for r in
                    _fanout_by_term(decoded, s_by_tid, [("query_id", "string")])
                    .join(scand, ["query_id", "doc_id"], "left_semi")
                    .groupBy("query_id", "term_id")
                    .agg(F.count("*").alias("c")).collect()}
            nfq = {r["query_id"]: r["c"] for r in
                   scand.groupBy("query_id").agg(F.count("*").alias("c")).collect()}
            for q in sq:
                denom = float(nfq.get(q, 0))
                kept_of[q] = {r["term_id"] for r in per_q[q]
                              if denom and sdfq.get((q, r["term_id"]), 0)
                              and sdfq[(q, r["term_id"])] / denom < PRUNE_THRESHOLD}
        narrowed = {q: [r for r in trows
                        if q not in kept_of or r["term_id"] in kept_of[q]]
                    for q, trows in per_q.items()}
        narrowed = {q: trows for q, trows in narrowed.items() if trows}
        if not narrowed:
            return None, None
        if narrowed != per_q:
            per_q = narrowed
            decoded = decoded.filter(F.col("term_id").isin(sorted(
                {r["term_id"] for trows in per_q.values() for r in trows})))

    if flat:
        scored = decoded.withColumn("s", _bm25_col(
            _idf_map(idf_of[qid])[F.col("term_id")], k1e, be, avgdl)
            if mode == "bm25" else F.lit(0.0))
    else:
        # one decoded row per (query, term) scoring pair, idf attached —
        # a literal-map explode (no BroadcastExchange) below LIT_MAP_MAX
        q_by_tid: dict = {}
        for q, trows in per_q.items():
            for r in trows:
                q_by_tid.setdefault(r["term_id"], []).append(
                    (q, idf_of[q][r["term_id"]]))
        scored = _fanout_by_term(decoded, q_by_tid,
                                 [("query_id", "string"), ("idf", "double")])
        scored = scored.withColumn("s", _bm25_col(F.col("idf"), k1e, be, avgdl)
                                   if mode == "bm25" else F.lit(0.0))
    agg = scored.groupBy(*keys).agg(
        F.count("*").alias("nt"), F.sum("tf").alias("tf_sum"),
        F.sum("s").alias("bm25"))
    if cand is not None:
        # restricted queries keep only their candidate docs, before the
        # conjunction and ref_compat's max-normalization see them
        restricted = sorted(clause_qids)
        agg = agg.filter(~F.col("query_id").isin(restricted)).unionByName(
            agg.filter(F.col("query_id").isin(restricted))
            .join(cand, ["query_id", "doc_id"], "left_semi"))
    if banned is not None:
        # NOT clause: survivors only reach the conjunction, the
        # normalizer and the top-k
        agg = agg.join(banned, keys, "left_anti")
    if mode == "ref_compat":  # Q6 conjunctive AND over the resolved terms
        if flat:
            return agg.filter(F.col("nt") == F.lit(len(per_q[qid]))), per_q
        nq_d = {q: len(trows) for q, trows in per_q.items()}
        return (_per_query(agg, nq_d, "n_q", "int")
                .filter(F.col("nt") == F.col("n_q")).drop("n_q"), per_q)
    if isinstance(min_match, dict):  # absent queries: 1 = plain OR
        agg = agg.filter(F.col("nt") >= F.coalesce(
            _lit_lookup(min_match, "int")[F.col("query_id")], F.lit(1)))
    elif min_match is not None and int(min_match) > 1:
        agg = agg.filter(F.col("nt") >= F.lit(int(min_match)))
    return agg.withColumn("score", F.col("bm25")), per_q


def _topk(index: dict, queries: dict, k: int, mode: str, flat: bool, *,
          offset: int = 0, collapse=None, per_group: int = 1,
          search_after=None, sort_by=None, sort_asc: bool = False,
          boost_by=None, with_snippets: bool = False,
          with_titles: bool = False, n_fragments: "int | None" = None,
          min_match=None, **match_kw) -> DataFrame:
    """The one BM25/``ref_compat`` top-k planner behind ``search`` (a
    batch of one, ``flat``) and ``search_many``: ``_topk_matches``, then
    one ranking tail (boost, sort key, collapse, cursor, top-k, offset)
    and one winners join to docs with titles and snippets. A batch of
    one keeps search()'s columns, may run WAND and ranks by
    ``orderBy().limit()`` (TakeOrderedAndProject: no Window, no global
    sort); a batch ranks per query_id by ``row_number`` and returns
    query_id and the absolute rank first. ref_compat ranks on the
    integer tf_sum and normalizes within the kept rows, which always
    include the rank-1 row."""
    k_eff = int(offset) + k
    count_all = (collapse is not None or search_after is not None
                 or sort_by is not None or boost_by is not None
                 or (min_match is not None and not isinstance(min_match, dict)
                     and int(min_match) > 1))
    matches, per_q = _topk_matches(index, queries, mode, flat, k_eff=k_eff,
                                   count_all=count_all, min_match=min_match,
                                   **match_kw)
    if matches is None:  # a batch of one's empty answer has no extras
        return _topk_empty(index, flat, [] if flat else [
            c for c, on in (("title", with_titles), ("snippet", with_snippets))
            if on])
    if mode == "ref_compat":
        order = [F.col("tf_sum").desc(), F.col("doc_id").asc()]
    else:
        if boost_by is not None:
            # function-score: boosted = bm25 × per-doc factor, before ranking
            bcol = F.col(boost_by) if isinstance(boost_by, str) else boost_by
            matches = (matches.join(index["docs"].select(
                           "doc_id", bcol.alias("_boost")), "doc_id")
                       .withColumn("score",
                                   F.col("score") * F.col("_boost").cast("double"))
                       .drop("_boost"))
        matches, order = _batch_sort_key(index, matches, sort_by, sort_asc)
    if collapse is not None:
        matches = _collapse_filter(index, matches, order, collapse, per_group,
                                   [] if flat else ["query_id"])
    if search_after is not None:
        matches = (matches.filter(_cursor_pred(search_after, sort_by, sort_asc))
                   if flat else _batch_cursor_filter(
                       matches, queries, search_after, sort_by, sort_asc))
    final = order if mode == "bm25" else [_ord(), F.col("doc_id").asc()]
    if flat:
        top, norm = matches.orderBy(*order).limit(k_eff), Window.partitionBy()
    else:
        norm = Window.partitionBy("query_id")
        top = (matches.withColumn("rank", F.row_number().over(norm.orderBy(*order)))
               .filter(F.col("rank") <= k_eff))
    if mode == "ref_compat":  # Q7: relative = tf_sum / max over the matches
        top = top.withColumn("score", F.col("tf_sum").cast("double")
                             / F.max(F.col("tf_sum").cast("double")).over(norm))
    if offset and flat:  # Q11: rank the ≤ offset+k winners, drop the first
        top = top.withColumn("rank", F.row_number().over(Window.orderBy(*final)))
    if offset:
        top = top.filter(F.col("rank") > int(offset))
    head = [] if flat else ["query_id", "rank"]
    skey = ["_skey"] if flat and sort_by is not None else []
    text = ["text"] if with_snippets or with_titles else []
    meta = ["doc_id", "conv_id", "turn_idx", "role", "tool", "ts"]
    # k rows vs the corpus: broadcast the winners explicitly so Q9 is a
    # broadcast-hash join against the docs scan, never a shuffle
    out = (index["docs"].select(*meta, *text).join(F.broadcast(top), "doc_id")
           .select(*head, *meta, "score", *text, *skey)
           .orderBy(*(final if flat else head)))
    if with_titles:
        # Q9 title analog (reference services/SearchingServiceImpl.java:159-169)
        from searchengine_spark.functions.text import extract_title
        out = out.withColumn("title", extract_title(F.col("text")))
    if with_snippets:
        # Q10: each hit highlighted with its OWN query's word set (expanded
        # through the INDEX's dictionary) in one Arrow-batched pass over
        # the winner rows; n_fragments switches to the Elasticsearch
        # number_of_fragments behavior (up to N sentences joined by ' … ')
        from searchengine_spark.functions.snippets import (
            expand_query_words, make_fragments, make_snippet)
        words_of = {q: expand_query_words(queries[q], index.get("mode", "general"),
                                          index.get("dictionary", "fixture"))
                    for q in per_q}

        def one(t, words):
            return (make_snippet(t, words) if n_fragments is None
                    else make_fragments(t, words, n_fragments))

        @F.pandas_udf("string")
        def snip(texts: pd.Series, qids: pd.Series) -> pd.Series:
            return pd.Series([one(t, words_of.get(q, []))
                              for t, q in zip(texts, qids)])

        out = out.withColumn("snippet", snip(
            F.col("text"), F.lit(next(iter(per_q))) if flat else F.col("query_id")))
    return out.drop(*text, *skey) if text or skey else out


def _match_set(index: dict, query: str, mode: str, scope, exclude,
               require_all, exclude_docs,
               min_match: "int | None" = None,
               sim: "tuple | None" = None) -> "DataFrame | None":
    """Full match-set doc ids for a query — the count-query plan shared by
    ``search_facets`` / ``search_count`` / ``significant_terms`` /
    ``search_select`` / ``search_grouped``: bucket-pruned posting scan,
    ONE decode pass, doc-level arity agg, NOT anti-join. No WAND phase
    (every match counts, there is no top-k θ). Returns a DataFrame with
    ``doc_id`` and ``nt`` columns (one row per matching doc) — plus
    ``tf_sum`` and ``bm25`` when ``sim`` = (k1, b) asks for scores — or
    None when the query cannot match anything (no resolvable terms /
    empty scope)."""
    qterms = _query_terms(query, index.get("mode", "general"),
                          index.get("dictionary", "fixture"))
    if not qterms:
        return None
    sc = _scope_info(index, scope) if scope is not None else None
    if scope is not None and sc is None:
        return None
    trows = resolve_terms(index, qterms, mode)
    if len(trows) == 0:
        return None
    n_q = len(trows)

    decoded = _scope_filter(_posting_rows(index, trows, sc), sc)
    excl = _resolve_exclusions(index, exclude, sc)
    if exclude_docs is not None:
        # pre-resolved banned doc set (querylang.query_facets' NOT
        # phrase/span clauses) — same merge as search(exclude_docs=)
        xd = exclude_docs.select("doc_id")
        excl = xd if excl is None else excl.unionByName(xd).distinct()
    if excl is not None:
        decoded = decoded.join(excl, "doc_id", "left_anti")
    sums = []
    if sim is not None:  # ref_compat ranks on the tf sum, bm25 on the weights
        stats = index["stats"]
        idf_map = _idf_map({r["term_id"]: _idf(stats["n_docs"], r["df"])
                            for r in trows})
        score = (_bm25_col(idf_map[F.col("term_id")], *sim, stats["avgdl"])
                 if mode == "bm25" else F.lit(0.0))
        sums = [F.sum("tf").alias("tf_sum"), F.sum(score).alias("bm25")]
    agg = decoded.groupBy("doc_id").agg(F.count("*").alias("nt"), *sums)
    req_all = require_all if require_all is not None else (mode == "ref_compat")
    if req_all:
        agg = agg.filter(F.col("nt") == F.lit(n_q))
    elif min_match is not None and int(min_match) > 1:
        agg = agg.filter(F.col("nt") >= F.lit(int(min_match)))
    return agg


def search_facets(index: dict, query: str, by="role", mode: str = "bm25",
                  scope=None, exclude: "str | None" = None,
                  require_all: "bool | None" = None,
                  exclude_docs: "DataFrame | None" = None,
                  metrics: "dict | None" = None,
                  min_match: "int | None" = None) -> DataFrame:
    """Facet counts over the query's FULL match set (no top-k): how many
    matching docs per value of a docs-table attribute — the aggregation
    panel every search UI renders next to the hit list. No reference
    analog (its API returns flat hits only,
    reference: controllers/ApiController.java:55-58); this is the standard
    extension a transcript corpus needs (matches by role, by tool, by
    conversation prefix).

    ``by`` is a docs column name or a Column expression over the docs
    table; the facet value is cast to string for a stable output schema.
    MULTI-dimension panels pass a list of column names or a dict
    dim-name → column/expression: every dimension is counted in the SAME
    job — one decode of the match set, one join to docs, one explode to
    (dim, facet) pairs, one aggregation — instead of |dims| facet jobs
    (the multi-panel sidebar every search UI renders). Multi output is
    (dim, facet, n_docs) ordered by dim asc, n_docs desc, facet asc.
    ``require_all`` True demands ALL query terms per doc (Q6 semantics);
    default follows the mode (ref_compat → all, bm25 → any).
    ``scope``/``exclude`` compose exactly as in ``search``;
    ``exclude_docs`` is a pre-resolved banned doc set merged into the NOT
    anti-join (the hook ``querylang.query_facets`` uses for NOT
    phrase/span clauses). Terms resolve
    under the mode's GLOBAL dictionary rules (ref_compat's 80%-df prune
    included; the per-scope df variant is a ``search``-only refinement).
    Single-dimension output is (facet, n_docs) ordered by n_docs desc,
    facet asc.

    ``metrics`` (single-dimension ``by`` only) adds METRIC aggregations
    per facet — the search-engine "terms aggregation with sub-metrics":
    a dict name → aggregate Column over docs-table attributes (e.g.
    ``{"avg_dl": F.avg("dl"), "max_chars": F.max(F.length("text"))}``).
    Output becomes (facet, n_docs, <metric...>), same ordering; the plan
    gains nothing — the metrics ride the SAME groupBy(facet) aggregation
    that counts, map-side partials included.

    Plan shape: the same bucket-pruned block scan + single decode pass as
    ``search`` (counting needs every matching posting, so there is no WAND
    phase — this is a count query, not a top-k), a doc-level arity agg, an
    anti-join for NOT, then one join to docs for the facet attribute and a
    narrow groupBy(facet) count. Shuffle count is fixed (doc agg + facet
    agg + one join) regardless of corpus size."""
    spark = index["docs"].sparkSession
    release_query_caches(index)
    stats = index["stats"]
    # multi-dimension form: {dim name → column/expr}; list items must be
    # column NAMES (a bare Column in a list has no name to label its panel)
    dims = None
    if metrics is not None and (isinstance(by, (dict, list, tuple))):
        raise ValueError("metrics= requires a single-dimension by=")
    if isinstance(by, dict):
        dims = {str(n): (F.col(c) if isinstance(c, str) else c)
                for n, c in by.items()}
    elif isinstance(by, (list, tuple)):
        if not all(isinstance(c, str) for c in by):
            raise TypeError("search_facets(by=[...]) takes column names; "
                            "pass a dict {name: Column} for expressions")
        dims = {c: F.col(c) for c in by}
    empty = _empty(
        spark, ("dim string, facet string, n_docs long" if dims is not None
               else "facet string, n_docs long"))
    agg = _match_set(index, query, mode, scope, exclude, require_all,
                     exclude_docs, min_match=min_match)
    if agg is None:
        return empty()
    if dims is not None:
        # all panels from ONE match set: explode each matched doc into
        # |dims| (dim, facet) rows, then a single narrow aggregation
        pair = F.explode(F.array(*[
            F.struct(F.lit(n).alias("dim"),
                     c.cast("string").alias("facet"))
            for n, c in dims.items()])).alias("p")
        matched = index["docs"].join(agg.select("doc_id"), "doc_id")
        return (matched.select(pair).select("p.dim", "p.facet")
                .groupBy("dim", "facet").agg(F.count("*").alias("n_docs"))
                .orderBy(F.col("dim").asc(), F.col("n_docs").desc(),
                         F.col("facet").asc()))
    facet_col = F.col(by) if isinstance(by, str) else by
    if metrics:
        # metric aggregations ride the same facet agg — the metric
        # expressions need the docs columns, so keep the full row set
        matched = index["docs"].join(agg.select("doc_id"), "doc_id")
        aggs = [F.count("*").alias("n_docs")] + [
            expr.alias(name) for name, expr in metrics.items()]
        return (matched.groupBy(facet_col.cast("string").alias("facet"))
                .agg(*aggs)
                .orderBy(F.col("n_docs").desc(), F.col("facet").asc()))
    docs_f = index["docs"].select(
        "doc_id", facet_col.cast("string").alias("facet"))
    return (docs_f.join(agg.select("doc_id"), "doc_id")
            .groupBy("facet").agg(F.count("*").alias("n_docs"))
            .orderBy(F.col("n_docs").desc(), F.col("facet").asc()))


def search_count(index: dict, query: str, mode: str = "bm25", scope=None,
                 exclude: "str | None" = None,
                 require_all: "bool | None" = None,
                 exclude_docs: "DataFrame | None" = None,
                 min_match: "int | None" = None) -> DataFrame:
    """Total-hits count (the `_count` API / `track_total_hits` every
    search engine exposes): EXACTLY ONE row ``(n_matches long)`` — the
    size of the query's full match set, 0 included. Same match semantics
    and parameters as ``search_facets`` (``require_all`` defaults by mode:
    ref_compat → conjunction, bm25 → any term; ``scope``/``exclude``/
    ``exclude_docs`` compose identically), and the same count-query plan:
    bucket-pruned scan + one decode + one doc-level agg — no WAND (every
    match is counted) and no top-k; the trailing global agg guarantees the
    one-row-even-when-zero contract."""
    facets = search_facets(index, query, by=F.lit("*"), mode=mode,
                           scope=scope, exclude=exclude,
                           require_all=require_all,
                           exclude_docs=exclude_docs, min_match=min_match)
    return facets.agg(
        F.coalesce(F.sum("n_docs"), F.lit(0)).cast("long").alias("n_matches"))


def search_select(index: dict, query: str, mode: str = "bm25",
                  scope=None, exclude: "str | None" = None,
                  exclude_docs: "DataFrame | None" = None,
                  require_all: "bool | None" = None,
                  min_match: "int | None" = None,
                  with_text: bool = False,
                  k1: "float | None" = None,
                  b: "float | None" = None) -> DataFrame:
    """Full match-set EXPORT — every matching doc as a distributed
    DataFrame with its score, no top-k. The retrieval→pipeline bridge
    (Elasticsearch's scroll / "export all hits" pattern, done the Spark
    way: the result IS a DataFrame, so "scroll" is just `.write` /
    further transformations — selecting a training subset by query is one
    call). No reference analog (its API returns flat ranked hits only,
    reference: controllers/ApiController.java:55-58).

    Match semantics and parameters follow the count-query family
    (``search_facets``/``search_count``): ``require_all`` defaults by mode
    (ref_compat → Q6 conjunction, bm25 → any term), ``min_match`` is the
    OR/AND middle ground, ``scope``/``exclude``/``exclude_docs`` compose
    identically, and terms resolve under the mode's GLOBAL dictionary
    rules (ref_compat's 80%-df prune included; the per-scope df variant
    is a ``search``-only refinement). Scores are the mode's: bm25 → the
    BM25 sum over matched terms (identical expression to ``search``);
    ref_compat → Q7's tf-sum normalized by the MATCH-SET max — computed
    scale-safe as a broadcast 1-row aggregate joined back, never a global
    window over the match set.

    Returns (doc_id, conv_id, turn_idx, role, tool, ts, nt, score
    [, text]) — ``nt`` is the distinct-matched-term count (the arity Q6
    filters on), ``with_text`` carries the raw text for downstream
    pipelines. No ordering contract (order costs a global sort on an
    unbounded set; callers that want ranked pages use ``search``).

    Plan shape: the facet family's count-query plan (bucket-pruned block
    scan, ONE decode pass — scored this time — doc-level agg, NOT
    anti-join; no WAND phase, every match is returned) plus one
    match-set-sized join to docs for the metadata columns. Shuffle count
    is fixed regardless of corpus size."""
    spark = index["docs"].sparkSession
    k1e, be, _ = _sim_params(k1, b, mode)
    release_query_caches(index)
    cols = ("doc_id long, conv_id string, turn_idx int, role string, "
            "tool string, ts timestamp, nt long, score double"
            + (", text string" if with_text else ""))
    agg = _match_set(index, query, mode, scope, exclude, require_all,
                     exclude_docs, min_match, sim=(k1e, be))
    if agg is None:
        return _empty(spark, cols)()
    if mode == "ref_compat":
        # Q7's max-normalizer over the FULL match set: one 1-row aggregate
        # broadcast-joined back — the scale-safe form (a
        # Window.partitionBy() max would serialize the match set onto one
        # partition; this never does)
        mx = agg.agg(F.max(F.col("tf_sum").cast("double")).alias("_mx"))
        matches = agg.crossJoin(F.broadcast(mx)).withColumn(
            "score", F.col("tf_sum").cast("double") / F.col("_mx"))
    else:
        matches = agg.withColumn("score", F.col("bm25"))
    docs_meta = index["docs"].select(
        "doc_id", "conv_id", "turn_idx", "role", "tool", "ts",
        *(["text"] if with_text else []))
    return docs_meta.join(matches.select("doc_id", "nt", "score"), "doc_id") \
        .select("doc_id", "conv_id", "turn_idx", "role", "tool", "ts",
                "nt", "score", *(["text"] if with_text else []))


def term_vectors(index: dict, doc_ids, include_df: bool = True) -> DataFrame:
    """Per-document term vectors — the Elasticsearch ``_termvectors`` API:
    (doc_id, term, tf[, df]) for each requested doc, the exact rows the
    index's postings hold for it (re-derived through the SAME analysis
    chain the build ran — equality of the two is the hash-green
    ``t2_t5_tokenize_tf`` oracle's subject). ``df`` joins the dictionary's
    corpus-wide document frequency (the reference's ``lemma.frequency``,
    model/LemmaEntity.java:27-28).

    Plan: one docs point scan (dense doc_ids are written sorted, so the
    isin filter prunes row groups via parquet min/max), one Arrow analysis
    pass over |doc_ids| rows, and — with ``include_df`` — one join against
    the dictionary. Cost is O(|doc_ids|) regardless of corpus size."""
    from searchengine_spark.functions.analysis import analyze_col
    ids = sorted({int(d) for d in (doc_ids if isinstance(doc_ids, (list,
                 tuple, set)) else [doc_ids])})
    amode = index.get("mode", "general")
    dic = index.get("dictionary", "fixture")
    tv = (index["docs"].filter(F.col("doc_id").isin(ids))
          .select("doc_id",
                  F.explode(analyze_col(F.col("text"), amode, dic))
                  .alias("term"))
          .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    if include_df:
        tv = tv.join(index["terms"].select("term",
                                           F.col("df").cast("long")
                                           .alias("df")), "term")
        return tv.select("doc_id", "term", "tf", "df") \
            .orderBy("doc_id", "term")
    return tv.select("doc_id", "term", "tf").orderBy("doc_id", "term")


def doc_term_weights(index: dict, doc_ids=None,
                     as_terms: bool = False,
                     k1: "float | None" = None,
                     b: "float | None" = None) -> DataFrame:
    """Corpus-wide sparse BM25 document vectors — every doc's
    (term_id, weight) rows under the index's exact scoring formula: the
    classical-sparse-retrieval export (what a downstream recall model,
    linear classifier, or hybrid-serving tier consumes as features).
    ``explain_score`` is this restricted to one query's terms and k docs;
    here the whole corpus exports in one pass. The per-doc weight sums
    over any query's resolved terms reproduce ``search`` scores exactly
    (same idf, same tf saturation, same operation order).

    ``doc_ids`` (optional list) restricts the export; ``as_terms`` joins
    the dictionary to emit the term STRING instead of term_id (one extra
    vocab-sized join).

    Plan: one re-analysis pass over the docs table (the analysis chain's
    output IS what the postings hold — equality is the hash-green
    ``t2_t5_tokenize_tf`` oracle's subject), one per-(doc, term) count
    aggregation, one join against the vocab-sized dictionary for df, and
    the weight in codegen. No posting decode, no per-row Python; at
    10^12 turns this is a map-side-combined agg + one uniform-key join —
    the same shape as the index build's own tf stage."""
    from searchengine_spark.functions.analysis import analyze_col
    k1e, be, _ = _sim_params(k1, b, "bm25")
    stats = index["stats"]
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    amode = index.get("mode", "general")
    dic = index.get("dictionary", "fixture")
    docs = index["docs"]
    if doc_ids is not None:
        ids = sorted({int(d) for d in doc_ids})
        docs = docs.filter(F.col("doc_id").isin(ids))
    toks = docs.select("doc_id",
                       F.explode(analyze_col(F.col("text"), amode, dic))
                       .alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = tf.withColumn("dl", F.sum("tf").over(
        Window.partitionBy("doc_id")))
    terms = index["terms"].select("term", "term_id",
                                  F.col("df").cast("long").alias("df"))
    j = dl.join(terms, "term")
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    weight = (idf * (tfd * F.lit(k1e + 1.0))
              / (tfd + F.lit(k1e)
                 * (F.lit(1.0 - be) + (F.lit(be) * dld) / F.lit(avgdl))))
    key = F.col("term").alias("term") if as_terms \
        else F.col("term_id").alias("term_id")
    return j.select("doc_id", key, "tf", weight.alias("weight"))


def rescore_search(index: dict, query: str, k: int = 10, n: int = 100,
                   window: int = 8, weight: float = 1.0,
                   scope=None, exclude: "str | None" = None,
                   ordered: bool = False,
                   k1: "float | None" = None,
                   b: "float | None" = None) -> DataFrame:
    """Two-phase retrieval with proximity rescoring — the Elasticsearch
    rescorer pattern (no reference analog; its ranking is tf-sum only,
    services/SearchingServiceImpl.java:300-329): rank by plain BM25
    (cheap, WAND-pruned), then rescore ONLY the top ``n`` candidates with
    a positional proximity signal:

        final = bm25 + weight / (1 + span)

    where ``span`` is the tightest window containing ALL the query lemmas
    in the doc (``ordered=True``: in query order — the chain DP), and docs
    whose tightest window exceeds ``window`` (or that lack a lemma) keep
    their plain bm25. Docs outside the top n are never rescored — the
    standard rescore-window contract: proximity reorders the head, it
    can't resurrect the tail.

    Cost shape: one ordinary WAND-pruned search + ONE positional decode
    restricted to the n candidate docs (bucket-pruned and semi-joined on
    the collected candidate set), so the positional pass touches n docs
    regardless of corpus size; the combine runs driver-side over ≤ n
    rows. Requires ``build_index(with_positions=True)``. Returns the same
    schema as ``search`` with ``score`` = the combined score, top k by
    (score desc at 9 dp, doc_id asc)."""
    spark = index["docs"].sparkSession
    hits = search(index, query, k=int(n), mode="bm25", scope=scope,
                  exclude=exclude, k1=k1, b=b)
    rows = hits.collect()
    if not rows:
        return hits
    ids = sorted(r["doc_id"] for r in rows)
    sel = spark.createDataFrame(pd.DataFrame({"doc_id": ids}, dtype="int64"),
                                "doc_id long")
    cand = {"lo": int(ids[0]), "hi": int(ids[-1]), "n": len(ids),
            "contiguous": ids[-1] - ids[0] + 1 == len(ids), "sel": sel}
    clause = _positional_clause(index, "", 0, "ospan" if ordered else "span",
                                query, window)
    matches, _ = _match_positions(index, [clause], cand, "span matching")
    span_of = {} if matches is None else {
        r["doc_id"]: int(r["value"]) for r in matches.collect()}
    scored = []
    for r in rows:
        d = r.asDict()
        sp = span_of.get(d["doc_id"])
        if sp is not None:
            d["score"] = d["score"] + float(weight) / (1.0 + float(sp))
        scored.append(d)
    scored.sort(key=lambda d: (-round(d["score"], 9), d["doc_id"]))
    return (spark.createDataFrame(scored[:k], schema=hits.schema)
            .orderBy(F.round(F.col("score"), 9).desc(),
                     F.col("doc_id").asc()))


def prf_search(index: dict, query: str, k: int = 10, fb_docs: int = 10,
               fb_terms: int = 5, fb_weight: float = 0.5,
               scope=None) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (RM3-lite, the classic
    two-pass retrieval): run the plain BM25 query, re-analyze the top
    ``fb_docs`` hits, select the ``fb_terms`` most characteristic
    NEW lemmas by (feedback tf desc, df asc, term asc) — the
    ``more_like_this`` selection rule, integer keys so the choice is
    exactly reproducible — and re-run the query expanded with those
    terms at ``fb_weight`` (through the caret-boost machinery: each
    expansion term's additive contribution is scaled by ``fb_weight``,
    original terms keep weight 1, so WAND pruning stays exact on the
    second pass too).

    Cost shape: two ordinary ranked searches + one fb_docs-row
    re-analysis (driver-side Arrow collect of ≤ fb_docs texts) — the
    standard PRF contract; no corpus-sized work beyond the two passes.
    Returns ``search``'s schema ranked by the expanded query."""
    spark = index["docs"].sparkSession
    amode = index.get("mode", "general")
    dic = index.get("dictionary", "fixture")
    first = search(index, query, k=int(fb_docs), mode="bm25", scope=scope)
    ids = [r["doc_id"] for r in first.collect()]
    if not ids:
        return first.limit(0)
    texts = (index["docs"].filter(F.col("doc_id").isin(ids))
             .select("text").collect())
    tf: dict[str, int] = {}
    for r in texts:
        for t in analyze_text(r["text"], amode, dictionary=dic):
            tf[t] = tf.get(t, 0) + 1
    orig = set(_query_terms(query, amode, dic))
    cand = sorted(t for t in tf if t not in orig)
    _, df_of = _resolve_ids_dfs(index, cand)
    sel = sorted((t for t in cand if t in df_of),
                 key=lambda t: (-tf[t], df_of[t], t))[:int(fb_terms)]
    if not sel:
        return search(index, query, k=k, mode="bm25", scope=scope)
    expanded = " ".join(sorted(orig) + sel)
    boosts = {t: float(fb_weight) for t in sel}
    return search(index, expanded, k=k, mode="bm25", scope=scope,
                  term_boosts=boosts)


def significant_terms(index: dict, query: str, k: int = 20,
                      mode: str = "bm25", scope=None,
                      exclude: "str | None" = None,
                      require_all: "bool | None" = None,
                      sample: "int | None" = None,
                      min_fg: int = 2) -> DataFrame:
    """Terms OVER-represented in the query's match set vs the corpus — the
    Elasticsearch ``significant_terms`` aggregation ("what is special about
    these matches"): on a transcript corpus, the tools/errors/topics that
    co-occur with a query far above their background rate. No reference
    analog (flat hits only, controllers/ApiController.java:55-58).

    Returns (term, fg_df, bg_df, score) — fg_df = matched docs containing
    the term, bg_df = its corpus df (the dictionary's exact count), score =
    JLH = (fg% − bg%)·(fg% / bg%) (the ES default: absolute AND relative
    lift multiplied) — ordered score desc (9-dp), term asc, top k; only
    positive-lift terms with fg_df ≥ ``min_fg`` qualify.

    ``mode``/``scope``/``exclude``/``require_all`` define the match set
    exactly as in ``search_facets``. ``sample`` caps the foreground at the
    top-``sample`` docs BY RELEVANCE (the ES sampler pattern) — the scale
    guard for hot queries where re-analyzing every match would dominate;
    default None analyzes the full match set (exact).

    Plan: the shared count-query match set (one decode, no WAND), one
    Arrow-vectorized re-analysis pass over the MATCHED docs only (the
    foreground is |matches| docs regardless of corpus size), a groupBy on
    the distinct (doc, term) pairs, and one join against the dictionary
    for background df — no full-corpus scan anywhere."""
    from searchengine_spark.functions.analysis import analyze_col
    spark = index["docs"].sparkSession
    release_query_caches(index)
    stats = index["stats"]
    n_docs = int(stats["n_docs"])
    empty = _empty(spark, "term string, fg_df long, bg_df long, score double")
    if sample is not None:
        mset = search(index, query, k=int(sample), mode=mode, scope=scope,
                      exclude=exclude).select("doc_id")
    else:
        m = _match_set(index, query, mode, scope, exclude, require_all, None)
        if m is None:
            return empty()
        mset = m.select("doc_id")
    # used twice (count + join): persist, released on the NEXT query
    mset = mset.persist()
    index.setdefault("_query_persists", []).append(mset)
    n_fg = mset.count()
    if n_fg == 0:
        return empty()
    amode = index.get("mode", "general")
    dic = index.get("dictionary", "fixture")
    fg = (index["docs"].join(mset, "doc_id")
          .select(F.explode(F.array_distinct(
              analyze_col(F.col("text"), amode, dic))).alias("term"))
          .groupBy("term").agg(F.count("*").alias("fg_df")))
    bg = index["terms"].select("term", F.col("df").alias("bg_df"))
    fg_pct = F.col("fg_df").cast("double") / F.lit(float(n_fg))
    bg_pct = F.col("bg_df").cast("double") / F.lit(float(n_docs))
    return (fg.join(bg, "term")
            .filter(F.col("fg_df") >= F.lit(int(min_fg)))
            .withColumn("score", (fg_pct - bg_pct) * (fg_pct / bg_pct))
            .filter(F.col("score") > 0)
            .orderBy(F.round(F.col("score"), 9).desc(), F.col("term").asc())
            .limit(k)
            .select("term", "fg_df", "bg_df", "score"))


def bigram_background(index: dict) -> DataFrame:
    """Corpus bigram document frequencies — the BACKGROUND table
    ``significant_bigrams`` scores against. Bigram dfs aren't in the
    dictionary (the index stores unigram postings), so this is one
    corpus re-analysis pass: analyzed lemma arrays → distinct adjacent
    bigrams per doc (zip_with over shifted slices of the MATERIALIZED
    array — the HOF contract) → one hash aggregation. Computed once per
    index dict and cached (``_bigram_bg``); at 10^12 turns it is a
    map-side-combined agg the ingest pipeline runs alongside the build,
    not a per-query cost."""
    cached = index.get("_bigram_bg")
    if cached is not None:
        return cached
    from searchengine_spark.functions.analysis import analyze_col
    amode = index.get("mode", "general")
    dic = index.get("dictionary", "fixture")
    t = index["docs"].select(analyze_col(F.col("text"), amode, dic)
                             .alias("_t")).filter(F.size("_t") >= 2)
    sz1 = F.greatest(F.size("_t") - F.lit(1), F.lit(0))
    bigrams = F.array_distinct(F.zip_with(
        F.slice("_t", F.lit(1), sz1), F.slice("_t", F.lit(2), sz1),
        lambda a, b: F.concat(a, F.lit(" "), b)))
    bg = (t.select(F.explode(bigrams).alias("bigram"))
          .groupBy("bigram").agg(F.count("*").alias("bg_df"))
          .localCheckpoint(eager=False))
    index["_bigram_bg"] = bg
    return bg


def significant_bigrams(index: dict, query: str, k: int = 20,
                        mode: str = "bm25", scope=None,
                        exclude: "str | None" = None,
                        require_all: "bool | None" = None,
                        sample: "int | None" = None,
                        min_fg: int = 2) -> DataFrame:
    """PHRASES over-represented in the query's match set vs the corpus —
    ``significant_terms`` lifted to adjacent-lemma bigrams (the
    Elasticsearch ``significant_text`` shape for multi-word signals:
    which two-word collocations are special about these matches).
    Returns (bigram, fg_df, bg_df, score) under the same JLH scoring,
    ordering, ``min_fg`` floor and match-set parameters as
    ``significant_terms``; the background comes from
    ``bigram_background`` (cached corpus bigram dfs — the one piece the
    unigram dictionary can't supply)."""
    spark = index["docs"].sparkSession
    release_query_caches(index)
    stats = index["stats"]
    n_docs = int(stats["n_docs"])
    empty = _empty(spark, "bigram string, fg_df long, bg_df long, score double")
    if sample is not None:
        mset = search(index, query, k=int(sample), mode=mode, scope=scope,
                      exclude=exclude).select("doc_id")
    else:
        m = _match_set(index, query, mode, scope, exclude, require_all, None)
        if m is None:
            return empty()
        mset = m.select("doc_id")
    mset = mset.persist()
    index.setdefault("_query_persists", []).append(mset)
    n_fg = mset.count()
    if n_fg == 0:
        return empty()
    from searchengine_spark.functions.analysis import analyze_col
    amode = index.get("mode", "general")
    dic = index.get("dictionary", "fixture")
    t = (index["docs"].join(mset, "doc_id")
         .select(analyze_col(F.col("text"), amode, dic).alias("_t"))
         .filter(F.size("_t") >= 2))
    sz1 = F.greatest(F.size("_t") - F.lit(1), F.lit(0))
    bigrams = F.array_distinct(F.zip_with(
        F.slice("_t", F.lit(1), sz1), F.slice("_t", F.lit(2), sz1),
        lambda a, b: F.concat(a, F.lit(" "), b)))
    fg = (t.select(F.explode(bigrams).alias("bigram"))
          .groupBy("bigram").agg(F.count("*").alias("fg_df")))
    bg = bigram_background(index)
    fg_pct = F.col("fg_df").cast("double") / F.lit(float(n_fg))
    bg_pct = F.col("bg_df").cast("double") / F.lit(float(n_docs))
    return (fg.join(bg, "bigram")
            .filter(F.col("fg_df") >= F.lit(int(min_fg)))
            .withColumn("score", (fg_pct - bg_pct) * (fg_pct / bg_pct))
            .filter(F.col("score") > 0)
            .orderBy(F.round(F.col("score"), 9).desc(),
                     F.col("bigram").asc())
            .limit(k)
            .select("bigram", "fg_df", "bg_df", "score"))


def explain_score(index: dict, query: str, doc_ids=None, k: int = 10,
                  mode: str = "bm25", k1: "float | None" = None,
                  b: "float | None" = None) -> DataFrame:
    """Per-(doc, term) relevance breakdown — the Elasticsearch ``_explain``
    analog (the reference has no debugging surface at all; its score is
    assembled invisibly inside ``calculateRelevance``,
    services/SearchingServiceImpl.java:300-329).

    Returns (doc_id, conv_id, turn_idx, term, tf, dl, df, idf, weight),
    one row per (doc, matched query term). ``weight`` is the term's EXACT
    additive contribution to the doc's score: in bm25 mode
    idf·tf(k1+1)/(tf + k1(1−b+b·dl/avgdl)) — summing a doc's weights
    reproduces ``search``'s score bit-for-bit at the oracle's 6-dp
    rounding; in ref_compat it is the raw tf addend (the reported search
    score additionally divides by the match-set max, a RESULT-SET
    property, so the breakdown reports the per-doc raw term).

    ``doc_ids=None`` explains the current top-k of
    ``search(index, query, k, mode)``; pass explicit dense doc_ids to
    explain arbitrary docs (absent (doc, term) pairs simply have no row).

    Plan: bucket-pruned posting scan for the query's terms, block-level
    pruning to the requested docs' buckets (≤ |docs| buckets decode
    regardless of posting-list length), one decode pass, literal-map
    joins for term/df/idf — no shuffle grows with the corpus.

    ``k1``/``b`` mirror ``search``'s query-time similarity parameters, so
    a tuned query's scores can be explained term by term."""
    spark = index["docs"].sparkSession
    k1e, be, _ = _sim_params(k1, b, mode)
    stats = index["stats"]
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    qterms = _query_terms(query, index.get("mode", "general"),
                          index.get("dictionary", "fixture"))
    empty = _empty(
        spark, "doc_id long, conv_id string, turn_idx int, term string, "
              "tf long, dl long, df long, idf double, weight double")
    if not qterms:
        return empty()
    trows = resolve_terms(index, qterms, mode)
    if not trows:
        return empty()
    if doc_ids is None:
        doc_ids = [r["doc_id"] for r in
                   search(index, query, k=k, mode=mode, k1=k1, b=b)
                   .select("doc_id").collect()]
    doc_ids = sorted(int(d) for d in doc_ids)
    if not doc_ids:
        return empty()
    # decode only blocks whose doc-bucket holds a requested doc
    dec = _decode_blocks(
        _term_blocks(index, [r["term_id"] for r in trows], {"doc_ids": doc_ids}),
        sum_df=sum(r["df"] for r in trows))
    dec = dec.filter(F.col("doc_id").isin(doc_ids))
    term_map = F.create_map(*[x for r in trows
                              for x in (F.lit(r["term_id"]), F.lit(r["term"]))])
    df_map = F.create_map(*[x for r in trows
                            for x in (F.lit(r["term_id"]), F.lit(int(r["df"])))])
    idf_map = _idf_map({r["term_id"]: _idf(n_docs, r["df"]) for r in trows})
    weight = (_bm25_col(idf_map[F.col("term_id")], k1e, be, avgdl)
              if mode == "bm25" else F.col("tf").cast("double"))
    out = dec.select("doc_id",
                     term_map[F.col("term_id")].alias("term"), "tf", "dl",
                     df_map[F.col("term_id")].cast("long").alias("df"),
                     idf_map[F.col("term_id")].alias("idf"),
                     weight.alias("weight"))
    docs_meta = index["docs"].select("doc_id", "conv_id", "turn_idx")
    return (docs_meta.join(F.broadcast(out), "doc_id")
            .select("doc_id", "conv_id", "turn_idx", "term", "tf", "dl",
                    "df", "idf", "weight")
            .orderBy("doc_id", "term"))


def _resolve_ids_dfs(index: dict, vocab) -> "tuple[dict, dict]":
    """term → (term_id, df) maps via ``resolve_terms`` (the positional
    matcher, prf_search and the grammar's group members). Returns
    (id_of, df_of); absent terms are simply missing from both."""
    rows = resolve_terms(index, sorted(set(vocab)), "bm25")
    return ({r["term"]: r["term_id"] for r in rows},
            {r["term"]: r["df"] for r in rows})


# positional clause kind → (ranking column, ranks descending)
_POSITIONAL_RANK = {"phrase": ("n_matches", True), "near": ("n_pairs", True),
                    "span": ("span", False), "ospan": ("span", False)}


def _positional_clause(index: dict, qid: str, cid: int, kind: str, text,
                       window: int = 0) -> tuple:
    """Analyze one positional clause into the matcher's input tuple
    (query_id, clause, kind, lemmas, window). ``lemmas`` is the analyzed
    sequence for "phrase" and "ospan" (order and duplicates kept), the
    sorted lemma set for "span", and [lemma_a, lemma_b] for "near" (``text``
    is then the (term_a, term_b) pair; lemmas is None unless each side
    analyzes to one lemma and the two differ)."""
    amode = index.get("mode", "general")
    dictionary = index.get("dictionary", "fixture")
    if kind == "near":
        qa, qb = (analyze_text(t, amode, dictionary=dictionary) for t in text)
        ok = len(qa) == 1 and len(qb) == 1 and qa[0] != qb[0]
        return qid, cid, kind, ([qa[0], qb[0]] if ok else None), int(window)
    seq = analyze_text(text, amode, dictionary=dictionary)
    return (qid, cid, kind, sorted(set(seq)) if kind == "span" else seq,
            int(window))


def _match_positions(index: dict, clauses: list, sc,
                     what: str = "positional matching") -> tuple:
    """The one positional matcher over an index: every phrase, near and
    span clause of every caller (the six positional operators, the query
    grammar single and batched, boolean leaves, rescore) is matched here.

    ``clauses``: [(query_id, clause, kind, lemmas, window)] as built by
    ``_positional_clause``. One ``resolve_terms`` over the union
    vocabulary, one positional decode (term-bucket and scope-bucket
    pruned) and one exact ``_scope_filter`` serve the whole batch; the
    decoded (doc_id, term_id, pos) rows then go through
    ``_match_clauses``.

    Returns (matches, resolved): ``matches`` is a DataFrame (query_id
    string, clause int, doc_id long, value long), one row per matching
    (query_id, clause, doc_id), or None when no clause resolved;
    ``resolved`` is the set of clause ids whose lemmas are non-empty and
    all in the dictionary (the caller decides whether an unresolved
    clause empties its query or bans nothing)."""
    if not index["stats"].get("positions"):
        raise ValueError(f"{what} requires build_index(with_positions=True)")
    vocab = {t for c in clauses if c[3] for t in c[3]}
    id_of, df_of = _resolve_ids_dfs(index, vocab) if vocab else ({}, {})
    live = [c for c in clauses if c[3] and all(t in id_of for t in c[3])]
    if not live:
        return None, set()
    used = {t for c in live for t in c[3]}
    decoded = _scope_filter(
        _decode_positions(index, sorted(id_of[t] for t in used), sc,
                          sum_df=sum(df_of[t] for t in used)), sc)
    matches = _match_clauses(
        decoded, [(q, c, kind, [id_of[t] for t in ls], w)
                  for q, c, kind, ls, w in live], ["doc_id"])
    return matches, {c[1] for c in live}


def _match_clauses(ev: DataFrame, clauses: list, key: list,
                   term_col: str = "term_id",
                   term_type: str = "long") -> DataFrame:
    """The positional matching core, shared by ``_match_positions``
    (decoded postings) and percolation (analyzed doc events): ``ev`` rows
    (*key, term_col, pos), ``clauses`` [(query_id, clause, kind, terms,
    window)] with ``terms`` in ``term_col`` space. Each kind present fans
    the events out to its clause slots through ONE ``_fanout_by_term``
    map carrying (query_id, clause, slot, n_q, w), then:

    - "phrase": slot alignment ``base = pos - slot``; a doc matches at
      ``base`` iff all n_q distinct slots appear there. value = n_matches,
      the number of such bases.
    - "near": slot 0/1 = the a/b side. Positions bucketize to
      ``pos // max(1, w)`` and the b side fans to the 3 adjacent buckets,
      so the pair join is an equi-join on (clause, doc, bucket), never a
      per-doc cartesian; the exact check is ``|pa - pb| <= w``.
      value = n_pairs, the number of distinct close (pa, pb) pairs.
    - "span" / "ospan": per (clause, doc), the sorted events run through
      one codegen scan (``_span_scan``); value = span, kept when ≤ w.

    Returns (query_id, clause, *key, value) — one row per match."""
    grp = ["query_id", "clause", *key]
    parts = []
    for kind in ("phrase", "near", "span", "ospan"):
        slots: dict = {}
        for qid, cid, kd, terms, w in clauses:
            if kd == kind:
                for i, t in enumerate(terms):
                    slots.setdefault(t, []).append(
                        (qid, int(cid), i, len(terms), int(w)))
        if not slots:
            continue
        fan = _fanout_by_term(ev, slots, [
            ("query_id", "string"), ("clause", "int"), ("slot", "int"),
            ("n_q", "int"), ("w", "int")], key_col=term_col,
            key_type=term_type)
        if kind == "phrase":
            bases = (fan.groupBy(*grp, "n_q",
                                 (F.col("pos") - F.col("slot")).alias("base"))
                     .agg(F.countDistinct("slot").alias("nslots"))
                     .filter((F.col("nslots") == F.col("n_q"))
                             & (F.col("base") >= 0)))
            parts.append(bases.groupBy(*grp).agg(F.count("*").alias("value")))
        elif kind == "near":
            fan = fan.withColumn("b", F.floor(
                F.col("pos") / F.greatest(F.col("w"), F.lit(1))))
            a = fan.filter(F.col("slot") == 0).select(
                *grp, "w", F.col("pos").alias("pa"), F.col("b").alias("ba"))
            b = fan.filter(F.col("slot") == 1).select(
                *grp, F.col("pos").alias("pb"),
                F.explode(F.array(F.col("b") - 1, F.col("b"),
                                  F.col("b") + 1)).alias("ba"))
            close = (a.join(b, [*grp, "ba"])
                     .filter(F.abs(F.col("pa") - F.col("pb")) <= F.col("w"))
                     .select(*grp, "pa", "pb").distinct())
            parts.append(close.groupBy(*grp).agg(F.count("*").alias("value")))
        else:
            ordered = kind == "ospan"
            r = (F.col("n_q") - 1 - F.col("slot")) if ordered \
                else F.col("slot")
            grouped = (fan.groupBy(*grp, "n_q", "w")
                       .agg(F.sort_array(F.collect_list(F.struct(
                           F.col("pos").cast("long").alias("pos"),
                           r.cast("int").alias("r")))).alias("evs")))
            parts.append(grouped.select(*grp, "w",
                                        _span_scan(ordered).alias("value"))
                         .filter(F.col("value") <= F.col("w")).drop("w"))
    out = parts[0]
    for extra in parts[1:]:
        out = out.unionByName(extra)
    return out


def _span_scan(ordered: bool) -> Column:
    """The span of one (clause, doc): an exact one-pass scan in codegen
    over ``evs``, the sorted array of (pos, r) events, with ``n_q`` the
    clause's slot count. O(P·n) per doc, no pairwise position join.

    - unordered (r = slot; Lucene SpanNear inOrder=false): per-slot
      last-seen positions; each event closes a candidate window at pos
      that starts at min(last-seen) — the min-cover span, max − min
      position of one occurrence per lemma.
    - ordered (r = n_q−1−slot, so events sort (pos asc, slot desc) and one
      token never fills two slots; duplicates kept): the chain DP,
      ``arr[s]`` = latest start of an in-order chain over slots 0..s; a
      slot-(n_q−1) event closes a window pos − arr[n_q−1]. With
      w = n_q−1 it is exact phrase matching.

    No complete window → 2^62."""
    init = F.struct(
        F.array_repeat(F.lit(-1).cast("long"), F.col("n_q")).alias("arr"),
        F.lit(2 ** 62).cast("long").alias("best"))

    def cover(acc, e):
        arr = F.transform(acc["arr"], lambda v, i: F.when(
            i == e["r"], e["pos"]).otherwise(v))
        best = F.when(~F.array_contains(arr, F.lit(-1).cast("long")),
                      F.least(acc["best"], e["pos"] - F.array_min(arr))
                      ).otherwise(acc["best"])
        return F.struct(arr.alias("arr"), best.alias("best"))

    def chain(acc, e):
        slot = F.col("n_q") - 1 - e["r"]
        prev = acc["arr"]
        arr = F.transform(prev, lambda v, i: F.when(
            i == slot,
            F.when(slot == F.lit(0), e["pos"]).otherwise(
                F.element_at(prev, F.greatest(slot, F.lit(1)))))
            .otherwise(v))
        tail = F.element_at(arr, F.col("n_q"))
        best = F.when((slot == F.col("n_q") - 1) & (tail != F.lit(-1)),
                      F.least(acc["best"], e["pos"] - tail)
                      ).otherwise(acc["best"])
        return F.struct(arr.alias("arr"), best.alias("best"))

    return F.aggregate("evs", init, chain if ordered else cover,
                       lambda acc: acc["best"])


def _positional_search(index: dict, what: str, kind: str, queries: dict,
                       k: int, scope, exclude, offset: int, search_after,
                       flat: bool) -> DataFrame:
    """The one body of phrase/near/span search, single and batched.

    ``queries`` maps query_id → (text, window); every query is one clause
    of ``_match_positions``. The ranking tail: NOT clause through
    ``_banned_pairs`` ((query_id, doc_id) anti-join before ranking),
    integer cursors through ``_batch_int_cursor``, then top-k by (value,
    doc_id asc) — descending for n_matches/n_pairs, ascending for span —
    and the docs metadata join. ``flat`` is the single-query operators'
    batch of one: columns without query_id/rank and an orderBy().limit()
    top-k (TakeOrderedAndProject, no Window; ``offset`` slices the ≤
    offset+k winners). Batches rank per query_id by row_number, with
    absolute ranks under ``offset``."""
    if search_after is not None and offset:
        raise ValueError("search_after and offset are mutually exclusive")
    release_query_caches(index)
    col, desc = _POSITIONAL_RANK[kind]
    clauses = []
    for qid, (text, w) in queries.items():
        clause = _positional_clause(index, qid, 0, kind, text, w)
        if clause[3] is None:
            raise ValueError(
                "near_search takes two distinct single-term arguments" if flat
                else f"{what} query {qid!r} needs two distinct single-term "
                     f"arguments")
        if kind == "near" and clause[4] < 0:
            raise ValueError("max_dist must be >= 0")
        clauses.append(clause)
    meta = ["doc_id", "conv_id", "turn_idx", "role", "tool", "ts"]
    sc = _scope_info(index, scope) if scope is not None else None
    matches = None
    if scope is None or sc is not None:
        matches, _ = _match_positions(index, clauses, sc, what)
    if matches is None:
        return _empty(index["docs"].sparkSession, (
            "" if flat else "query_id string, rank int, ")
            + "doc_id long, conv_id string, turn_idx int, role string, "
              f"tool string, ts timestamp, {col} long")()
    matches = matches.select("query_id", "doc_id", F.col("value").alias(col))
    if exclude is not None:
        banned = _banned_pairs(index, exclude, set(queries), sc)
        if banned is not None:
            matches = matches.join(banned, ["query_id", "doc_id"],
                                   "left_anti")
    if search_after is not None:
        matches = _batch_int_cursor(matches, queries, search_after, col, desc)
    order = [F.col(col).desc() if desc else F.col(col).asc(),
             F.col("doc_id").asc()]
    docs_meta = index["docs"].select(*meta)
    if flat:
        top = matches.drop("query_id").orderBy(*order).limit(int(offset) + k)
        if offset:
            top = (top.withColumn("_rk",
                                  F.row_number().over(Window.orderBy(*order)))
                   .filter(F.col("_rk") > int(offset)).drop("_rk"))
        return (docs_meta.join(F.broadcast(top), "doc_id")
                .select(*meta, col).orderBy(*order))
    ranked = (matches.withColumn("rank", F.row_number().over(
        Window.partitionBy("query_id").orderBy(*order)))
        .filter(F.col("rank").between(int(offset) + 1, int(offset) + k)))
    return (docs_meta.join(F.broadcast(ranked), "doc_id")
            .select("query_id", "rank", *meta, col)
            .orderBy("query_id", "rank"))


def phrase_search(index: dict, phrase: str, k: int = 10,
                  scope=None, exclude: "str | None" = None,
                  offset: int = 0,
                  search_after: "tuple | None" = None) -> DataFrame:
    """Exact phrase query over a POSITIONAL index
    (``build_index(with_positions=True)``): ``phrase_search_many`` for a
    batch of one. Returns (doc_id, conv_id, turn_idx, role, tool, ts,
    n_matches) top-k by (n_matches desc, doc_id asc).

    ``exclude`` is the NOT clause (docs containing an excluded term drop
    from the ranking; match counts are unchanged). ``offset`` retrieves
    offset+k winners and drops the first ``offset``;
    ``search_after=(n_matches, doc_id)`` is the previous page's tail
    (exact integer comparisons, LIMIT stays k); the two are mutually
    exclusive."""
    return _positional_search(index, "phrase matching", "phrase",
                              {"": (phrase, 0)}, k, scope, exclude, offset,
                              search_after, flat=True)


def phrase_search_many(index: dict, phrases: dict[str, str], k: int = 10,
                       scope=None, search_after: "dict | tuple | None" = None,
                       exclude: "dict[str, str] | str | None" = None,
                       offset: int = 0) -> DataFrame:
    """Batched exact-phrase queries over a POSITIONAL index: MANY phrases
    in ONE Spark job (a query-log replay of phrase queries otherwise pays
    one fixed-latency job per phrase).

    Positions index the kept-lemma stream (stop-filtered, lemmatized), so
    a phrase matches modulo stopword removal — the standard
    analyzed-phrase semantics; repeated phrase terms are separate slots.
    One positional decode over the union of all phrases' terms, then slot
    alignment per phrase (``_match_positions``): a doc matches phrase q at
    ``base`` iff all |q| slots appear at ``base = pos - slot``;
    n_matches = the number of such bases. Returns (query_id, rank, doc_id,
    conv_id, turn_idx, role, tool, ts, n_matches), rank 1..k per query by
    (n_matches desc, doc_id asc). Phrases with an absent term return no
    rows. ``scope`` is shared by the batch (bucket pruning + exact
    filter); ``exclude`` is the NOT clause (dict query_id → NOT terms or
    one shared string, one (query_id, doc_id) anti-join via
    ``_banned_pairs``); ``offset`` returns ranks offset+1..offset+k with
    their ABSOLUTE ranks; ``search_after`` is a dict (query_id →
    (n_matches, doc_id)) or one shared cursor, exclusive with
    ``offset``."""
    return _positional_search(
        index, "phrase_search_many", "phrase",
        {qid: (p, 0) for qid, p in phrases.items()}, k, scope, exclude,
        offset, search_after, flat=False)


def near_search(index: dict, term_a: str, term_b: str, max_dist: int = 5,
                k: int = 10, scope=None,
                exclude: "str | None" = None, offset: int = 0,
                search_after: "tuple | None" = None) -> DataFrame:
    """Two-term proximity query over a POSITIONAL index:
    ``near_search_many`` for a batch of one. Returns (doc_id, conv_id,
    turn_idx, role, tool, ts, n_pairs) top-k by (n_pairs desc, doc_id
    asc); ``exclude``/``offset``/``search_after`` as in
    ``phrase_search``."""
    return _positional_search(index, "near_search", "near",
                              {"": ((term_a, term_b), max_dist)}, k, scope,
                              exclude, offset, search_after, flat=True)


def near_search_many(index: dict, pairs: dict[str, tuple[str, str]],
                     max_dist: int = 5, k: int = 10, scope=None,
                     exclude: "dict[str, str] | str | None" = None,
                     offset: int = 0,
                     search_after: "dict | tuple | None" = None) -> DataFrame:
    """Batched two-term proximity queries: MANY (term_a, term_b) pairs in
    ONE Spark job. A doc matches when an occurrence of term_a and one of
    term_b lie within ``max_dist`` positions (either order; ``max_dist``
    ≥ 0, 0 = the same position), ranked by the number of such close
    pairs. The pair join is bucket-local (``_match_positions``), never a
    per-doc cartesian. Returns (query_id, rank, doc_id, conv_id,
    turn_idx, role, tool, ts, n_pairs), rank 1..k per query; pairs with
    an absent term return no rows. ``scope``/``exclude``/``offset``/
    ``search_after`` as in ``phrase_search_many``."""
    return _positional_search(
        index, "near_search_many", "near",
        {qid: (ab, max_dist) for qid, ab in pairs.items()}, k, scope,
        exclude, offset, search_after, flat=False)


def span_search(index: dict, words: str, window: int = 8, k: int = 10,
                scope=None, exclude: "str | None" = None,
                offset: int = 0,
                search_after: "tuple | None" = None,
                ordered: bool = False) -> DataFrame:
    """Top-k proximity query — the querylang's '"w1 w2 w3"~N' clause as a
    standalone operator: ``span_search_many`` for a batch of one. Returns
    (doc_id, conv_id, turn_idx, role, tool, ts, span) TIGHTEST-FIRST by
    (span asc, doc_id asc); ``scope``/``exclude``/``offset``/
    ``search_after`` as in ``phrase_search``."""
    return _positional_search(index, "span matching",
                              "ospan" if ordered else "span",
                              {"": (words, window)}, k, scope, exclude,
                              offset, search_after, flat=True)


def span_search_many(index: dict, queries: dict, window: int = 8,
                     k: int = 10, scope=None,
                     exclude: "dict[str, str] | str | None" = None,
                     offset: int = 0,
                     search_after: "dict | tuple | None" = None,
                     ordered: bool = False) -> DataFrame:
    """Batched span queries: MANY windowed-proximity queries in ONE Spark
    job. A doc matches when all the analyzed lemmas of the query co-occur
    within a window of ``window`` positions (span = tightest max − min
    position, order-free — Lucene SpanNearQuery(inOrder=false)).
    ``ordered=True`` (shared by the batch) requires the lemmas IN QUERY
    ORDER, duplicates kept — SpanNear(inOrder=true), the sloppy ordered
    phrase: ``window=len−1`` degenerates to exact phrase matching.

    ``queries`` maps query_id → words string (shared ``window``) or
    query_id → (words, window) for per-query windows. One positional
    decode over the union of the batch's lemmas and one codegen scan per
    (query, doc) (``_match_positions``). Returns (query_id, rank, doc_id,
    conv_id, turn_idx, role, tool, ts, span), rank 1..k per query by
    (span asc, doc_id asc); ``scope``/``exclude``/``offset``/
    ``search_after`` as in ``phrase_search_many``."""
    return _positional_search(
        index, "span_search_many", "ospan" if ordered else "span",
        {qid: (q if isinstance(q, tuple) else (q, window))
         for qid, q in queries.items()},
        k, scope, exclude, offset, search_after, flat=False)


def _decode_positions(index: dict, term_ids: list[int], sc=None,
                      sum_df: "int | None" = None) -> DataFrame:
    """Positional decode for ``_match_positions``: blocks of ``term_ids``
    → (doc_id, term_id, pos), with term-bucket partition pruning and
    scope bucket pruning. ``sum_df`` sizes the Python decode stage (see
    _decode_blocks)."""
    blocks = _term_blocks(index, term_ids, sc)
    if sum_df is not None:
        blocks = blocks.coalesce(
            max(1, -(-int(sum_df) // DECODE_POSTINGS_PER_PARTITION)))

    def gen(batches):
        from searchengine_spark.operators.codec import (
            decode_doc_ids_batch, decode_positions, varint_decode)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ns = pdf["n"].to_numpy(dtype=np.int64)
            doc_ids = decode_doc_ids_batch(
                pdf["first_doc_id"].to_numpy(dtype=np.int64), ns,
                b"".join(pdf["doc_deltas"]))
            tfs = varint_decode(b"".join(pdf["tfs"])).astype(np.int64)
            yield pd.DataFrame({
                "doc_id": np.repeat(doc_ids, tfs),
                "term_id": np.repeat(pdf["term_id"].to_numpy(dtype=np.int64), ns).repeat(tfs),
                "pos": decode_positions(tfs, b"".join(pdf["pos"])),
            })
        yield pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                            "term_id": pd.Series(dtype="int64"),
                            "pos": pd.Series(dtype="int64")})

    return blocks.mapInPandas(gen, schema="doc_id long, term_id long, pos long")


def _fanout_by_term(df: DataFrame, mapping: "dict[object, list[tuple]]",
                    fields: "list[tuple[str, str]]",
                    key_col: str = "term_id",
                    key_type: str = "long") -> DataFrame:
    """Fan ``df`` rows out by a small driver-side multimap on ``key_col``
    (default the term_id): each row emits one output row per entry of
    ``mapping[row[key_col]]``, with the entry tuple bound to ``fields``
    [(name, sql_type), ...] as extra columns; rows whose key has no
    entries drop (inner-join semantics). Below LIT_MAP_MAX total entries
    this is a create_map literal + explode — pure codegen, no
    BroadcastExchange job, the batched paths' per-call fixed-cost win;
    above it, a broadcast join (the correct plan for huge query-log
    replays)."""
    total = sum(len(v) for v in mapping.values())
    if total <= LIT_MAP_MAX:
        if total <= LIT_EXPR_MIN:
            m = F.create_map(*[x for kk, entries in sorted(mapping.items())
                               for x in (F.lit(kk).cast(key_type),
                                         F.array(*[F.struct(*[
                                             F.lit(v).cast(t).alias(n)
                                             for v, (n, t) in zip(e, fields)])
                                             for e in entries]))])
        else:
            # thousands of F.lit()/F.struct() py4j calls dominate plan
            # build above a few hundred entries — render the identical
            # literal map as ONE SQL expression instead (one py4j call,
            # parsed JVM-side in milliseconds)
            pairs = []
            for kk, entries in sorted(mapping.items()):
                arr = ", ".join(
                    "named_struct(" + ", ".join(
                        f"'{n}', {_sql_lit(v, t)}"
                        for v, (n, t) in zip(e, fields)) + ")"
                    for e in entries)
                pairs.append(f"{_sql_lit(kk, key_type)}, array({arr})")
            m = F.expr("map(" + ", ".join(pairs) + ")")
        out = df.select("*", F.explode(m[F.col(key_col)]).alias("_fx"))
        return out.select(*df.columns,
                          *[F.col(f"_fx.{n}").alias(n) for n, _ in fields])
    spark = df.sparkSession
    rows = [(kk, *e) for kk, entries in mapping.items() for e in entries]
    schema = (f"{key_col} {key_type}, "
              + ", ".join(f"{n} {t}" for n, t in fields))
    # pandas input takes the Arrow serialization path — a 10^4-entry
    # registry costs milliseconds instead of seconds of py4j row shipping
    pdf = pd.DataFrame(rows, columns=[key_col] + [n for n, _ in fields])
    return df.join(F.broadcast(spark.createDataFrame(pdf, schema)),
                   key_col)


LIT_EXPR_MIN = 256  # above this, literal maps render as one SQL expr()


def _sql_lit(v, t: str) -> str:
    """Render a Python scalar as a Spark-SQL literal of type ``t`` —
    exactly what F.lit(v).cast(t) produces, minus the per-call py4j
    round trip. Strings escape backslash + quote."""
    if v is None:
        return f"CAST(NULL AS {t})"
    if t == "string":
        s = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"
    if t == "boolean":
        return "true" if v else "false"
    return f"CAST({v!r} AS {t})"


def _lit_lookup(d: dict, val_type: str):
    """{string key → scalar} as a create_map literal Column (codegen
    lookup, no broadcast job); missing keys resolve to NULL like an inner
    join's non-match. Caller guards len(d) ≤ LIT_MAP_MAX. Above
    LIT_EXPR_MIN entries the same map renders as one SQL expression
    (plan-build time, not semantics)."""
    if len(d) <= LIT_EXPR_MIN:
        return F.create_map(*[x for kk in sorted(d)
                              for x in (F.lit(kk),
                                        F.lit(d[kk]).cast(val_type))])
    return F.expr("map(" + ", ".join(
        f"{_sql_lit(kk, 'string')}, {_sql_lit(d[kk], val_type)}"
        for kk in sorted(d)) + ")")


def search_many(index: dict, queries: dict[str, str], k: int = 10,
                mode: str = "bm25", scope=None,
                with_snippets: bool = False, offset: int = 0,
                exclude: "dict[str, str] | str | None" = None,
                with_titles: bool = False,
                scope_clauses: "DataFrame | None" = None,
                group_clauses: "list | None" = None,
                clause_arity: "dict[str, int] | None" = None,
                site_like: "set[str] | None" = None,
                exclude_pairs: "DataFrame | None" = None,
                collapse=None, per_group: int = 1,
                search_after: "dict | tuple | None" = None,
                sort_by=None, sort_asc: bool = False,
                boost_by=None,
                min_match: "int | dict | None" = None,
                k1: "float | dict | None" = None,
                b: "float | dict | None" = None,
                _stats_override: "dict | None" = None) -> DataFrame:
    """Batched top-k: many queries through the top-k planner (``_topk``)
    at once. Returns (query_id, rank, doc_id, conv_id, turn_idx, role,
    tool, ts, score[, title][, snippet]), rank 1..k per query, the same
    rows as per-query ``search``.

    A query log replayed one ``search`` at a time pays each call's fixed
    cost (scope bounds, the ref_compat per-scope df job, the collect) per
    query; here it is paid once per batch. The union of every query's
    terms decodes in one pass, scores attach per (query, term) through a
    literal-map fan-out, and each query ranks in a ``row_number`` window
    partitioned by query_id. Block-max pruning is off: bounds are per
    query, and a shared scan can't skip a block a member query needs.

    ``scope``, ``offset`` (ranks offset+1..offset+k, ABSOLUTE),
    ``with_snippets`` (each hit highlighted with its OWN query's words),
    ``with_titles``, ``collapse``/``per_group`` (a window per (query_id,
    key)), ``sort_by``/``sort_asc`` and ``boost_by`` mean what they mean
    in ``search`` and apply to every query. ``exclude`` (NOT terms riding
    the union decode, one (query_id, doc_id) anti-join), ``search_after``
    ((score or sort key, doc_id); queries without a cursor return page 1),
    ``min_match`` (absent queries 1) and ``k1``/``b`` (absent queries the
    build constants; at most ``LIT_MAP_MAX`` queries) take one value for
    the batch or a dict keyed by query_id.

    The remaining hooks carry PER-QUERY candidate restrictions for the
    batched query-language replay (``querylang.query_search_many``); all
    default to None and change nothing when absent:

    - ``scope_clauses``: DataFrame (query_id, clause int, doc_id) — each
      clause's pre-resolved match set (positional phrase/span matches,
      metadata-qualifier doc sets).
    - ``group_clauses``: [(query_id, clause, term_id, df)] — OR-group
      clauses, satisfied by docs containing ANY of the clause's terms,
      resolved from this call's union decode.
    - ``clause_arity``: {query_id → positive clause count}, REQUIRED with
      either clause input. A listed ("restricted") query's candidates are
      the docs satisfying ALL its clauses: one countDistinct(clause) ==
      arity aggregation, applied as a (query_id, doc_id) semi-join before
      ranking.
    - ``site_like``: restricted queries whose candidate set is a SITE in
      ref_compat mode — resolution without the global prune, then the
      80%-df prune and conjunction arity within the candidate set (a
      qualifier-only ``query_search`` folds its predicate into a site
      ``scope``). Other restricted queries keep global df, like a
      DataFrame scope.
    - ``exclude_pairs``: DataFrame (query_id, doc_id) of externally
      resolved bans (NOT-phrase/NOT-span match sets), unioned into the
      batched NOT anti-join.
    """
    if (search_after is not None or sort_by is not None
            or boost_by is not None or min_match is not None) \
            and mode == "ref_compat":
        raise ValueError("search_after/sort_by/boost_by/min_match require "
                         "mode='bm25' (see search()'s docstring)")
    if search_after is not None and offset:
        raise ValueError("search_after and offset are mutually exclusive")
    if _stats_override is not None and mode != "bm25":
        raise ValueError("_stats_override requires mode='bm25'")
    if (scope_clauses is not None or group_clauses) and not clause_arity:
        raise ValueError("clause_arity is required with scope_clauses/"
                         "group_clauses")
    return _topk(index, queries, k, mode, False, offset=offset,
                 collapse=collapse, per_group=per_group,
                 search_after=search_after, sort_by=sort_by,
                 sort_asc=sort_asc, boost_by=boost_by,
                 with_snippets=with_snippets, with_titles=with_titles,
                 min_match=min_match, scope=scope, exclude=exclude,
                 exclude_docs=exclude_pairs, k1=k1, b=b,
                 scope_clauses=scope_clauses, group_clauses=group_clauses,
                 clause_arity=clause_arity, site_like=site_like,
                 stats_override=_stats_override)


def search_flat(index: dict, query: str, k: int = 10, mode: str = "ref_compat") -> DataFrame:
    """Same query semantics over the uncompressed postings_flat (M2 path);
    used by tests to cross-check the codec path and by the DuckDB oracle."""
    spark = index["docs"].sparkSession
    stats = index["stats"]
    qterms = _query_terms(query, index.get("mode", "general"),
                          index.get("dictionary", "fixture"))
    trows = resolve_terms(index, qterms, mode) if qterms else []
    n_q = len(trows)
    if n_q == 0:
        return _empty(spark, "doc_id long, score double")()
    terms = spark.createDataFrame(
        pd.DataFrame(trows, columns=["term_id", "df"], dtype="int64"),
        "term_id long, df long")
    pf = index["postings_flat"].join(F.broadcast(terms), "term_id")
    pf = pf.join(index["docs"].select("doc_id", "dl"), "doc_id")
    if mode == "ref_compat":
        agg = pf.groupBy("doc_id").agg(F.count("*").alias("nt"), F.sum("tf").alias("tf_sum"))
        m = agg.filter(F.col("nt") == F.lit(n_q))
        m = m.orderBy(F.col("tf_sum").desc(), F.col("doc_id").asc()).limit(k)
        m = m.withColumn("score", F.col("tf_sum").cast("double") /
                         F.max(F.col("tf_sum").cast("double")).over(Window.partitionBy()))
    else:
        from searchengine_spark.operators.indexer import bm25_idf, bm25_tf_part
        scored = pf.withColumn(
            "s", bm25_idf(F.col("df"), stats["n_docs"]) * bm25_tf_part(F.col("tf"), F.col("dl"), stats["avgdl"]))
        m = scored.groupBy("doc_id").agg(F.sum("s").alias("score"))
    return m.select("doc_id", "score").orderBy(_ord(), F.col("doc_id").asc()).limit(k)


def explain_query(index: dict, query: str, k: int = 10, mode: str = "bm25",
                  scope=None, prune_blocks: "bool | str" = "auto",
                  exclude: "str | None" = None) -> dict:
    """Serving-side query-strategy report — what a ``search`` call with
    these arguments WILL do, computed driver-side without running it
    (dictionary lookups only; zero Spark jobs on a driver-cached
    dictionary, at most the resolution/scope jobs ``search`` itself would
    pay). The debugging companion to ``.explain()``: Spark shows the
    physical plan, this shows the ENGINE's choices feeding it.

    Returns a plain dict:
    - ``tier``: ``{name, why}`` — "driver" when ``search`` with these
      arguments answers from the driver tier (operators/hot.py),
      "distributed" when it builds the block pipeline (``_serving_tier``
      decides both);
    - ``terms``: per analyzed term — term, term_id, df, cached (served
      from the postings cache), pruned (ref_compat 80% rule), idf;
    - ``sum_df`` (direct postings to decode), ``cached_rows``;
    - ``term_buckets_probed`` of ``term_buckets`` (partition pruning);
    - ``wand``: whether block-max pruning will engage, why/why not
      (forced / below cost gate / ref_compat / legacy bounds), and which
      θ phase-1 path runs (driver max_by collect vs distributed) — the
      block pipeline's plan, which a driver-tier call skips;
    - ``scope``: kind (contiguous range / semi-join), doc bounds, size;
    - ``bounds``: "stored_exact" or "tf_bounds" (stats-independent
      derived bounds after upserts).
    """
    stats = index["stats"]
    amode = index.get("mode", "general")
    qterms = _query_terms(query, amode, index.get("dictionary", "fixture"))
    sc = _scope_info(index, scope) if scope is not None else None
    site_scope = sc is not None and not isinstance(scope, DataFrame)
    trows = resolve_terms(index, qterms, "scoped" if site_scope else mode)
    resolved = {r["term_id"] for r in trows}
    pruned_terms = []
    if mode == "ref_compat":
        pruned_terms = [r for r in resolve_terms(index, qterms, "scoped")
                        if r["term_id"] not in resolved]
    # cache eligibility, not a cache lookup: pcache_split would populate
    # misses and evict other terms, and this report must change nothing
    direct_rows = [r for r in trows if not pcache_eligible(r["df"])]
    cached_ids = resolved - {r["term_id"] for r in direct_rows}
    term_report = [{
        "term": r["term"], "term_id": r["term_id"], "df": r["df"],
        "cached": r["term_id"] in cached_ids,
        "pruned": r["term_id"] not in resolved,
        "idf": (_idf(stats["n_docs"], r["df"])
                if r["term_id"] in resolved else None)}
        for r in trows + pruned_terms]
    sum_df_direct = sum(r["df"] for r in direct_rows)
    tb = stats.get("term_buckets")
    direct_ids = [r["term_id"] for r in direct_rows]
    will_prune, wand_why = _wand_gate(
        mode, prune_blocks, trows, direct_rows, bool(cached_ids),
        _derived_bounds(index, None, False))
    tier, tier_why, _, _ = _serving_tier(
        index, qterms, mode, prune_blocks, exclude,
        ["scope"] if scope is not None else [])
    return {
        "query": query, "mode": mode, "analyzed": qterms,
        "tier": {"name": tier, "why": tier_why},
        "terms": term_report,
        "sum_df_direct": sum_df_direct,
        "cached_terms": len(cached_ids),
        "term_buckets_probed": (len({tid % tb for tid in direct_ids})
                                if tb else None),
        "term_buckets": tb,
        "wand": {"prunes": bool(will_prune), "why": wand_why,
                 "theta_path": (None if not will_prune else
                                ("driver_max_by" if _driver_theta(
                                    sc, bool(_exclusion_rows(index, exclude)))
                                 else "distributed_phase1"))},
        "scope": (None if sc is None else {
            "kind": "contiguous_range" if sc["contiguous"] else "semi_join",
            "lo": sc["lo"], "hi": sc["hi"], "n": sc["n"],
            "site_semantics": site_scope}),
        "bounds": ("tf_bounds" if stats.get("tf_bounds") else "stored_exact"),
        "k": k,
    }


def search_grouped(index: dict, query: str, k: int = 10,
                   group_by="conv_id", agg: str = "sum",
                   mode: str = "bm25", scope=None,
                   exclude: "str | None" = None,
                   require_all: "bool | None" = None,
                   min_match: "int | None" = None,
                   k1: "float | None" = None,
                   b: "float | None" = None) -> DataFrame:
    """Conversation-level ranking: aggregate every matching TURN's score up
    to its conversation (or any docs attribute) and return the top-k
    GROUPS — the parent-child / grouped-retrieval query a transcript
    corpus naturally wants ("which conversations discuss X", not "which
    single turn"). Distinct from ``collapse=`` (which ranks turns and
    keeps each group's best): here the group's score is an aggregate —
    ``agg='sum'`` (total relevance mass across the conversation) or
    ``'max'`` (best turn) — over the FULL match set.

    Output: (group, score, n_turns, best_doc_id, best_doc_score), ordered
    by (score desc at 9 dp, group asc), limit k. ``n_turns`` counts the
    group's matching turns; ``best_doc_id`` is its best turn by
    (score desc, doc_id asc) — the drill-in link a UI renders next to the
    conversation hit.

    In ``ref_compat`` the per-turn relevance is the tf-sum over the
    conjunctive match (Q6/Q7 semantics per TURN), the group score is the
    agg of those, normalized by the max group score (the reference's
    max-normalization lifted one level — rank-identical to the raw agg).

    Plan shape: this is a COUNT-class query (every match contributes to
    its group's sum, so there is no top-k θ over turns — WAND gates off,
    exactly like facets): bucket-pruned block scan → one decode pass →
    doc-level agg → one match-set-sized join to docs for the group key →
    narrow groupBy(group) with max_by for the best turn →
    TakeOrderedAndProject. Shuffle count is fixed regardless of corpus
    size; the group agg is the same shape as the facet count."""
    spark = index["docs"].sparkSession
    k1e, be, _ = _sim_params(k1, b, mode)
    release_query_caches(index)
    if agg not in ("sum", "max"):
        raise ValueError("agg must be 'sum' or 'max'")
    per_doc = _match_set(index, query, mode, scope, exclude, require_all,
                         None, min_match, sim=(k1e, be))
    if per_doc is None:
        return _empty(spark, "group string, score double, n_turns long, "
                             "best_doc_id long, best_doc_score double")()
    rel = (F.col("bm25") if mode == "bm25"
           else F.col("tf_sum").cast("double"))
    gcol = F.col(group_by) if isinstance(group_by, str) else group_by
    docs_g = index["docs"].select("doc_id", gcol.cast("string").alias("group"))
    scored = per_doc.withColumn("rel", rel).join(docs_g, "doc_id")
    gagg_fn = F.sum if agg == "sum" else F.max
    # best turn selected at the canonical 9-dp quantization (deterministic
    # under float reassociation, same rationale as _ord()); id and score
    # come from the SAME winning row via one max_by struct
    best = F.max_by(F.struct(F.col("doc_id"), F.col("rel")),
                    F.struct(F.round(F.col("rel"), 9), -F.col("doc_id")))
    grouped = scored.groupBy("group").agg(
        gagg_fn("rel").alias("score"),
        F.count("*").alias("n_turns"),
        best.alias("_best")) \
        .withColumn("best_doc_id", F.col("_best.doc_id")) \
        .withColumn("best_doc_score", F.col("_best.rel")).drop("_best")
    topk = grouped.orderBy(F.round(F.col("score"), 9).desc(),
                           F.col("group").asc()).limit(int(k))
    if mode == "ref_compat":
        # max-normalization lifted to group level: the rank-1 group is
        # inside the k rows, so normalizing within them == over all groups
        from pyspark.sql import Window as _W
        topk = (topk.withColumn(
                    "score", F.col("score")
                    / F.max(F.col("score")).over(_W.partitionBy()))
                .withColumn("best_doc_score",
                            F.col("best_doc_score").cast("double")))
    return topk.select("group", "score", "n_turns", "best_doc_id",
                       "best_doc_score") \
        .orderBy(F.round(F.col("score"), 9).desc(), F.col("group").asc())


def search_top_hits(index: dict, query: str, by="role", m: int = 3,
                    mode: str = "bm25", scope=None,
                    exclude: "str | None" = None,
                    min_match: "int | None" = None,
                    k1: "float | None" = None,
                    b: "float | None" = None) -> DataFrame:
    """Per-facet top hits — the Elasticsearch ``top_hits`` aggregation
    (the "best 3 matches per category" panel; no reference analog, its
    API returns one flat list): for every value of ``by`` (docs column
    name or Column expression, cast to string), the ``m`` best matching
    docs by the canonical ordering (score at 9 dp desc, doc_id asc).

    Plan: the facet family's match-set plan (``search_select`` — one
    bucket-pruned decode, doc agg, docs join) + ONE window partitioned by
    the facet key. The window is match-set-sized and partitioned — never
    a global sort — so the shape survives any corpus size; cardinality
    of the output is |facets| × m. Returns (facet, rank, doc_id,
    conv_id, turn_idx, role, tool, ts, score)."""
    from pyspark.sql import Window

    sel = search_select(index, query, mode=mode, scope=scope,
                        exclude=exclude, min_match=min_match, k1=k1, b=b)
    key = F.col(by) if isinstance(by, str) else by
    sel = sel.withColumn("facet", key.cast("string"))
    w = Window.partitionBy("facet").orderBy(
        F.round(F.col("score"), 9).desc(), F.col("doc_id").asc())
    return (sel.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= int(m))
            .select("facet", F.col("rank").cast("int").alias("rank"),
                    "doc_id", "conv_id", "turn_idx", "role", "tool",
                    "ts", "score"))
