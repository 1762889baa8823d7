"""Fielded scoring: BM25F over per-field inverted postings (roadmap #4).

Transcripts and documents have natural fields — the reference's title-vs-body
split (services/SearchingServiceImpl.java:159-169 extracts a per-hit title
but never scores it) generalizes to any named text projections of a turn
(title/body, role-specific views, tool output vs prose).

Model (Robertson & Zaragoza's BM25F, the standard fielded variant):

    tf̃_f(t, d)  = tf_f / (1 + b_f * (dl_f / avgdl_f − 1))   per-field norm
    s(t, d)      = Σ_f  w_f * tf̃_f(t, d)                     weighted blend
    score(q, d)  = Σ_{t∈q}  idf(t) * s(t, d) / (k1 + s(t, d))

with idf over the FIELD-UNION df (docs containing t in any field). This is
NOT a weighted sum of per-field BM25 scores — the saturation (k1) applies
once, after the field blend, which is what makes title hits compound with
body hits instead of double-counting.

Spark-first layout: one standard block-compressed postings table PER FIELD
(the same codec/skew machinery as the main index — doc-range bucket salting,
delta+varint blocks), built over a shared dense doc_id assignment so field
rows join on doc_id with no remapping. A query decodes |q| terms × |fields|
posting lists (term_bucket-pruned), norms per field in codegen, blends with
one groupBy(doc_id, term_id) + one groupBy(doc_id) — two narrow shuffles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from searchengine_spark.functions.analysis import analyze_tf_col, tf_pairs
from searchengine_spark.operators.codec import BLOCK_SIZE
from searchengine_spark.operators.indexer import (
    K1, dedup_and_assign_doc_ids, dedup_turns, encode_postings)
from searchengine_spark.operators.pcache import pcache_split
from searchengine_spark.operators.search import (_decode_blocks, _query_terms,
                                                 _scope_filter, _term_blocks)

DEFAULT_B = 0.75

# "auto" pruning gate for BM25F, measured (BENCH.md §1, fielded-WAND probe):
# the fielded θ pre-pass costs one max_by collect per FIELD plus a keep-set
# join (~0.55 s fixed at sf0.1 local[32]), vs the main path's single cheap
# driver pass — at 195k postings (hot two-term query, 246k docs) exhaustive
# decode still wins by ~0.6 s. Decode cost grows linearly with Σdf while
# the θ cost stays fixed, so the crossover sits near 10^6 postings.
FIELDED_PRUNE_MIN_POSTINGS = 1_000_000


def title_col(text: Column, n_chars: int = 60) -> Column:
    """The reference's title analog for plain text: leading ``n_chars``
    (functions/text.py extract_title falls back to the same slice when no
    <title> tag exists)."""
    return F.substring(text, 1, n_chars)


def build_fielded_index(transcripts: DataFrame,
                        fields: dict[str, Column] | None = None,
                        mode: str = "general", dictionary: str = "fixture",
                        bucket_range: int = 1 << 16,
                        block_size: int = BLOCK_SIZE) -> dict:
    """Build per-field postings over a SHARED doc_id assignment.

    ``fields`` maps field name → text Column expression evaluated against
    the transcript row (default: title = leading 60 chars, body = full
    text — the Lucene-copyField-style overlap is standard for title boosts).
    Returns {docs, fields: {name: {terms, postings, avgdl, total_tokens}},
    stats, mode, dictionary}.
    """
    if fields is None:
        fields = {"title": title_col(F.col("text")), "body": F.col("text")}

    with_id = dedup_and_assign_doc_ids(transcripts)
    # localCheckpoint (not persist): the served index's DataFrames must be
    # lineage LEAVES, or every query re-pays Catalyst analysis of the whole
    # build plan (see build_index_from_docs — measured ~1.5 s/query).
    docs = with_id.localCheckpoint(eager=False)
    n_docs = docs.count()

    out_fields: dict[str, dict] = {}
    for name, expr in fields.items():
        analyzed = docs.withColumn("tt", analyze_tf_col(expr, mode, dictionary)) \
                       .withColumn("dl", F.col("tt.dl"))
        tf = tf_pairs(analyzed).persist()
        tf.count()
        stats_row = analyzed.agg(F.sum("dl").alias("tok")).collect()[0]
        total_tokens = int(stats_row["tok"] or 0)
        avgdl = total_tokens / n_docs if n_docs else 0.0
        # per-term (max_tf, min_dl) denormalized for driver-side WAND upper
        # bounds (stats-independent: valid under any avgdl)
        terms = tf.groupBy("term").agg(
            F.count("*").alias("df_field"),
            F.max("tf").alias("max_tf"),
            F.min("dl").alias("min_dl")).persist()

        from searchengine_spark.operators.indexer import assign_dense_ids
        terms = assign_dense_ids(
            terms.withColumn("_tp", F.substring("term", 1, 1)),
            key_col="_tp", order_cols=["term"],
            id_col="term_id").drop("_tp").localCheckpoint(eager=False)
        n_terms = terms.count()
        flat = tf.join(
            F.broadcast(terms.select("term", "term_id"))
            if n_terms <= 10_000_000 else terms.select("term", "term_id"),
            "term").select("term_id", "doc_id", "tf", "dl")
        # blocks carry the stats-independent (block_max_tf, block_min_dl)
        # pair only: the BM25F tf-part is increasing in tf and decreasing
        # in dl, so it bounds every doc's normalized tf under ANY avgdl
        postings = encode_postings(flat, bucket_range, block_size,
                                   bound_type="long").localCheckpoint(eager=False)
        postings.count()
        tf.unpersist()
        out_fields[name] = {"terms": terms, "postings": postings,
                            "avgdl": avgdl, "total_tokens": total_tokens}

    return {"mode": mode, "dictionary": dictionary, "docs": docs,
            "fields": out_fields,
            "stats": {"n_docs": n_docs, "bucket_range": bucket_range,
                      "block_size": block_size}}


def _bm25f_keep_set(index: dict, field_blocks: dict, idf_of: dict,
                    weights: dict[str, float], b: dict[str, float],
                    k_eff: int, k1: float, sc=None):
    """Exact block-max WAND for BM25F at (term, doc-bucket) granularity.

    A doc's per-term blend spans MULTIPLE field tables, so skipping one
    field's block alone would leave a partial (wrong) score. All fields
    share the doc-range bucket geometry, so the skip unit is the
    (term, bucket) PAIR across every field: a skipped doc loses the term's
    contribution entirely, and the standard WAND argument applies —
    keep (t, B) iff idf_t·sat(Σ_f w_f·ub_f(t,B)) + Σ_{t'≠t} M_{t'} ≥ θ,
    with ub_f from the stats-independent (block_max_tf, block_min_dl)
    pair, M_t from the dictionary's per-term (max_tf, min_dl), and θ a
    LOWER bound on the true k-th score (partial scores of each term's best
    block, decoded driver-side — any doc's partial ≤ its true score).
    Every true top-k doc keeps all its blocks (else its own score would
    contradict the skip inequality), so pruned == exhaustive exactly.

    Returns a (term, bucket) DataFrame to left-semi-join each field's
    block scan against, or None when pruning is inapplicable (missing
    bounds on any query term — e.g. a legacy index — or θ == 0)."""
    from searchengine_spark.operators import codec

    stats = index["stats"]
    br = stats.get("bucket_range")
    bs = stats.get("block_size", BLOCK_SIZE)
    if not br:
        return None
    if sc is not None and not sc.get("contiguous"):
        # θ must come from IN-SCOPE docs only; a non-contiguous scope's doc
        # set lives executor-side, so the driver θ pass can't filter it —
        # fall back to the exhaustive decode (the scope semi-join still
        # restricts candidates)
        return None
    fields = index["fields"]
    # per-term, per-field normalized-tf maxima (driver-side, no jobs)
    tmax: dict[str, dict[str, float]] = {}
    for name, (blocks, rows) in field_blocks.items():
        avgdl = max(fields[name]["avgdl"], 1e-9)
        bf, wf = float(b[name]), float(weights.get(name, 1.0))
        for r in rows:
            if r["max_tf"] is None or r["min_dl"] is None:
                return None  # pre-WAND-column index: bounds unknown
            v = wf * r["max_tf"] / (1.0 - bf + bf * r["min_dl"] / avgdl)
            tmax.setdefault(r["term"], {})[name] = v

    def sat(x):
        return x / (k1 + x)

    m_of = {t: idf_of[t] * sat(sum(fv.values())) for t, fv in tmax.items()}
    m_sum = sum(m_of.values())

    # θ: decode each term's best block per field driver-side and blend the
    # partial scores properly (per-(term, doc) field sum → saturate → doc
    # sum); the k-th largest partial is a sound lower bound on the k-th
    # true score. One small max_by agg job per field (≤|q| block payloads).
    acc: dict[tuple, float] = {}
    for name, (blocks, rows) in field_blocks.items():
        avgdl = max(fields[name]["avgdl"], 1e-9)
        bf, wf = float(b[name]), float(weights.get(name, 1.0))
        ub = (F.col("block_max_tf").cast("double")
              / (F.lit(1.0 - bf) + F.lit(bf / avgdl) * F.col("block_min_dl")))
        best = blocks.groupBy("term_id").agg(F.max_by(
            F.struct("first_doc_id", "n", "doc_deltas", "tfs", "dls"),
            F.struct(ub, -F.col("block_id"))).alias("bb")).collect()
        tname = {r["term_id"]: r["term"] for r in rows}
        for r in best:
            bb = r["bb"]
            ids, tfs, dls = codec.decode_postings(
                np.array([bb["first_doc_id"]]), np.array([bb["n"]]),
                bb["doc_deltas"], bb["tfs"], bb["dls"])
            s = wf * tfs / (1.0 - bf + bf * dls / avgdl)
            if sc is not None:  # θ candidates restricted to the scope
                m = (ids >= sc["lo"]) & (ids <= sc["hi"])
                ids, s = ids[m], s[m]
            t = tname[r["term_id"]]
            for d, v in zip(ids.tolist(), s.tolist()):
                acc[(t, int(d))] = acc.get((t, int(d)), 0.0) + v
    if not acc:
        return None
    doc_scores: dict[int, float] = {}
    for (t, d), s in acc.items():
        doc_scores[d] = doc_scores.get(d, 0.0) + idf_of[t] * sat(s)
    vals = sorted(doc_scores.values(), reverse=True)
    theta = vals[k_eff - 1] if len(vals) >= k_eff else 0.0
    if theta <= 0:
        return None

    # distributed keep-set: per-field (term, bucket) bound maxima, full
    # outer join across fields (absent field ⇒ zero contribution in that
    # bucket), one codegen filter — the keep-set then left-semi-joins each
    # field's block scan (AQE broadcasts it when small)
    bpb = -(-br // bs)
    metas = []
    for name, (blocks, rows) in field_blocks.items():
        avgdl = max(fields[name]["avgdl"], 1e-9)
        bf, wf = float(b[name]), float(weights.get(name, 1.0))
        term_map = F.create_map(
            *[x for r in rows for x in (F.lit(r["term_id"]), F.lit(r["term"]))])
        ub = (F.lit(wf) * F.col("block_max_tf").cast("double")
              / (F.lit(1.0 - bf) + F.lit(bf / avgdl) * F.col("block_min_dl")))
        metas.append(
            blocks.select(term_map[F.col("term_id")].alias("term"),
                          F.floor(F.col("block_id") / F.lit(bpb)).alias("bucket"),
                          ub.alias(f"_ub_{name}"))
            .groupBy("term", "bucket").agg(F.max(f"_ub_{name}").alias(f"_ub_{name}")))
    meta = metas[0]
    for m in metas[1:]:
        meta = meta.join(m, ["term", "bucket"], "full")
    ub_sum = None
    for name in field_blocks:
        c = F.coalesce(F.col(f"_ub_{name}"), F.lit(0.0))
        ub_sum = c if ub_sum is None else ub_sum + c
    idf_map = F.create_map(
        *[x for t, v in idf_of.items() for x in (F.lit(t), F.lit(v))])
    m_map = F.create_map(
        *[x for t, v in m_of.items() for x in (F.lit(t), F.lit(v))])
    bound = idf_map[F.col("term")] * (ub_sum / (F.lit(float(k1)) + ub_sum))
    return (meta.filter(bound + F.lit(m_sum) - m_map[F.col("term")]
                        >= F.lit(float(theta)))
            .select("term", "bucket"))


def _fielded_candidate_rows(index: dict, vocab: list[str], sc,
                            weights: dict[str, float],
                            b: dict[str, float],
                            prune: "tuple | None" = None):
    """Shared candidate stage for the single and batched BM25F paths:
    resolve ``vocab`` against every field's dictionary, decode the matching
    postings (term_bucket pruning + scope bucket-level block pruning before
    any decode), norm per field in codegen, and restrict to the scope.
    ``prune``: ``(mode, k_eff, k1)`` — when mode is True, or "auto" and the
    union posting count clears FIELDED_PRUNE_MIN_POSTINGS (measured cost
    gate: the per-field θ pre-pass only pays for itself above it), apply
    exact (term, bucket) block-max pruning (see ``_bm25f_keep_set``) for a
    top-``k_eff`` query before decode.

    Returns ``(allf, idf_of)`` where ``allf`` is (doc_id, term, wtf) rows
    across all fields and ``idf_of`` maps term → field-union idf, or
    ``(None, None)`` when nothing resolves.

    Field-union df: |docs with t in any field| is NOT stored — one tiny
    distinct-count job over the decoded doc sets would cost a pass, so use
    the max field df as the union LOWER bound when fields nest (exact for
    the default title⊆body layout); for disjoint fields the caller accepts
    max-df idf (conservative: overestimates idf ≤ ln2)."""
    fields = index["fields"]
    n_docs = index["stats"]["n_docs"]
    # per-field term resolution (id spaces are per-field)
    per_field_rows = {name: fl["terms"].filter(F.col("term").isin(vocab)).collect()
                      for name, fl in fields.items()}
    df_union: dict[str, int] = {}
    for rows in per_field_rows.values():
        for r in rows:
            df_union[r["term"]] = max(df_union.get(r["term"], 0), r["df_field"])
    if not df_union:
        return None, None
    idf_of = {t: float(np.log(1.0 + (n_docs - d + 0.5) / (d + 0.5)))
              for t, d in df_union.items()}

    # cost gate first (Σ df over ALL fields' resolved terms): when the
    # fielded WAND engages, the postings cache stands aside — the keep-set's
    # Σ M_t bound is derived from the rows passed into _bm25f_keep_set, so
    # splitting terms out would weaken it incorrectly; the two mechanisms
    # also chase the same decode work, and above the gate WAND's skip is
    # the scale path.
    do_prune = False
    if prune is not None:
        mode, k_eff, k1p = prune
        sum_total = sum(r["df_field"]
                        for rows in per_field_rows.values() for r in rows)
        do_prune = mode is True or (mode == "auto"
                                    and sum_total >= FIELDED_PRUNE_MIN_POSTINGS)

    # stage 1: per-field filtered block scans (no decode yet); without the
    # WAND, hot terms come from the shared postings cache instead
    # (operators/pcache.py, entries keyed ("f:<field>", term_id) — one LRU
    # budget across the main and all field tables)
    field_blocks: dict[str, tuple] = {}
    field_cached: dict[str, "DataFrame"] = {}
    for name, fl in fields.items():
        rows = per_field_rows[name]
        if not rows:
            continue
        if not do_prune:
            cached, direct_min = pcache_split(
                index, [{"term_id": r["term_id"], "df": int(r["df_field"])}
                        for r in rows],
                postings=fl["postings"], ns=f"f:{name}")
            if cached is not None:
                field_cached[name] = cached
            direct_tids = {d["term_id"] for d in direct_min}
            rows = [r for r in rows if r["term_id"] in direct_tids]
            if not rows:
                continue
        blocks = _term_blocks(index, [r["term_id"] for r in rows], sc,
                              postings=fl["postings"])
        field_blocks[name] = (blocks, rows)
    if not field_blocks and not field_cached:
        return None, None

    if do_prune:
        keep = _bm25f_keep_set(index, field_blocks, idf_of, weights, b,
                               k_eff, k1p, sc=sc)
        if keep is not None:
            br = index["stats"].get("bucket_range")
            bs = index["stats"].get("block_size", BLOCK_SIZE)
            bpb = -(-br // bs)
            for name in list(field_blocks):
                blocks, rows = field_blocks[name]
                term_map = F.create_map(
                    *[x for r in rows
                      for x in (F.lit(r["term_id"]), F.lit(r["term"]))])
                blocks = (blocks
                          .withColumn("term", term_map[F.col("term_id")])
                          .withColumn("bucket",
                                      F.floor(F.col("block_id") / F.lit(bpb)))
                          .join(keep, ["term", "bucket"], "left_semi")
                          .drop("term", "bucket"))
                field_blocks[name] = (blocks, rows)

    # stage 2: decode + per-field norm (cached terms re-enter here as
    # already-decoded rows with the identical (term_id, doc_id, tf, dl)
    # schema — the norm/blend below is oblivious to the source)
    parts = []
    for name in {*field_blocks, *field_cached}:
        fl = fields[name]
        decs = []
        if name in field_blocks:
            blocks, rows = field_blocks[name]
            decs.append(_decode_blocks(
                blocks, sum_df=sum(r["df_field"] for r in rows)))
        if name in field_cached:
            decs.append(field_cached[name])
        dec = decs[0] if len(decs) == 1 else decs[0].unionByName(decs[1])
        # term string as a literal map (|q| entries inline into codegen) —
        # no per-query createDataFrame or broadcast exchange; built over the
        # field's FULL resolved rows (direct + cached)
        term_map = F.create_map(
            *[x for r in per_field_rows[name]
              for x in (F.lit(r["term_id"]), F.lit(r["term"]))])
        avgdl = max(fl["avgdl"], 1e-9)
        bf, wf = float(b[name]), float(weights.get(name, 1.0))
        tf_norm = (F.col("tf").cast("double")
                   / (F.lit(1.0 - bf) + F.lit(bf / avgdl) * F.col("dl")))
        parts.append(dec.select(
            "doc_id", term_map[F.col("term_id")].alias("term"),
            (F.lit(wf) * tf_norm).alias("wtf")))
    if not parts:
        return None, None
    allf = parts[0]
    for p in parts[1:]:
        allf = allf.unionByName(p)
    return _scope_filter(allf, sc), idf_of


def _blend_and_saturate(allf: DataFrame, idf_of: dict[str, float],
                        k1: float) -> DataFrame:
    """Robertson-Zaragoza blend-then-saturate over candidate rows: one
    groupBy(doc_id, term) field blend, then idf·s/(k1+s) per term. Shared
    by the single and batched paths — contrib depends only on (doc_id,
    term), so batching fans out AFTER this aggregation."""
    idf_map = F.create_map(
        *[x for t, v in idf_of.items() for x in (F.lit(t), F.lit(v))])
    return (allf.groupBy("doc_id", "term").agg(F.sum("wtf").alias("s"))
            .withColumn("idf", idf_map[F.col("term")])
            .withColumn("contrib",
                        F.col("idf") * F.col("s")
                        / (F.lit(float(k1)) + F.col("s"))))


def _fielded_excluded_docs(index: dict, exclude: str, sc) -> "DataFrame | None":
    """NOT-term doc set over ALL fields: a doc is banned when ANY field
    contains an excluded term. Hot terms come from the shared postings
    cache (per-field namespaces); the rest decode through the same
    bucket-pruned scan as query terms. Persisted (two consumers would be
    possible; released by ``release_query_caches`` at the next query)."""
    xterms = _query_terms(exclude, index.get("mode", "general"),
                          index.get("dictionary", "fixture"))
    if not xterms:
        return None
    parts = []
    for name, fl in index["fields"].items():
        rows = fl["terms"].filter(F.col("term").isin(xterms)).collect()
        if not rows:
            continue
        cached, direct = pcache_split(
            index, [{"term_id": r["term_id"], "df": int(r["df_field"])}
                    for r in rows],
            postings=fl["postings"], ns=f"f:{name}")
        if cached is not None:
            parts.append(cached.select("doc_id"))
        if direct:
            dec = _decode_blocks(
                _term_blocks(index, [d["term_id"] for d in direct], sc,
                             postings=fl["postings"]),
                sum_df=sum(int(d["df"]) for d in direct))
            parts.append(dec.select("doc_id"))
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out = out.distinct().persist()
    index.setdefault("_query_persists", []).append(out)
    return out


def bm25f_search(index: dict, query: str, k: int = 10,
                 weights: dict[str, float] | None = None,
                 b: dict[str, float] | None = None,
                 k1: float = K1, scope=None,
                 prune_blocks: "bool | str" = "auto",
                 offset: int = 0, exclude: "str | None" = None,
                 with_snippets: bool = False,
                 with_titles: bool = False,
                 exclude_docs: "DataFrame | None" = None,
                 collapse=None, per_group: int = 1,
                 search_after: "tuple | None" = None,
                 sort_by=None, sort_asc: bool = False,
                 boost_by=None) -> DataFrame:
    """BM25F top-k over a fielded index. Returns
    (doc_id, conv_id, turn_idx, role, tool, ts, score[, title][, snippet]).

    ``with_titles`` / ``with_snippets`` mirror the main path's Q9/Q10
    surface (reference services/SearchingServiceImpl.java:159-169 and the
    snippet builder): both run over the k winner rows only — the docs text
    column is joined broadcast-side after the top-k, so the hit list pays
    one Arrow pass over k rows, never a corpus scan. Snippets expand the
    query through the index's own dictionary.

    ``offset`` paginates like the main path's Q11: retrieve offset+k
    winners (still TakeOrderedAndProject, no global sort), drop the first
    ``offset`` by rank.

    ``prune_blocks``: exact (term, doc-bucket) block-max WAND (see
    ``_bm25f_keep_set``) — "auto" (default) prunes only when the union
    posting count clears the same cost gate as the main path, True forces
    it, False disables. Pruned results are rank- AND score-identical to
    the exhaustive decode.

    idf uses the field-UNION document frequency (docs containing the term in
    ANY field), computed driver-side from the per-field dictionaries —
    |q|·|fields| dictionary rows, no extra Spark job against data.

    ``scope`` (reference ``GET /api/search?site=``, the main path's
    collection scoping): a conv_id prefix string or a Column predicate over
    docs. Candidates are restricted to the scope while idf/avgdl stay
    index-wide — the standard filtered-search semantics, matching
    ``search(..., scope=)`` in BM25 mode. Conv-prefix scopes are contiguous
    doc_id ranges (dense ids in (conv_id, turn_idx) order), so the filter is
    a codegen range check plus bucket-level block pruning BEFORE any decode;
    arbitrary predicates fall back to a semi-join (broadcast when small).

    ``exclude`` is the NOT clause (same semantics as ``search(...,
    exclude=)``): docs containing an excluded term in ANY field are
    anti-joined out before the top-k. A NOT clause disables the fielded
    WAND (θ derived from a doc the anti-join later removes would
    overestimate the kth surviving score — the main path re-derives θ
    post-exclusion, the fielded pre-pass cannot), so NOT queries take the
    exhaustive decode; they stay rank-identical to manual filtering.

    ``collapse``/``per_group`` apply field collapsing (``search``'s
    semantics: rank every match, keep each group's best per_group, then
    global top-k). Like NOT, collapse disables the fielded WAND — a doc
    below the global top-k can enter the collapsed page, so the keep-set
    θ would be unsound.

    ``search_after``/``sort_by``/``sort_asc`` mirror the main path
    (``search``'s docstring): cursor pagination on (score, doc_id) — or
    (sort key, doc_id) under ``sort_by`` — and field-sorted retrieval.
    Both disable the fielded WAND for the same below-top-k reasons as
    collapse; ``search_after`` is mutually exclusive with ``offset``.
    ``boost_by`` multiplies each match's BM25F score by a per-doc factor
    before ranking (function-score, see ``search``) — WAND off likewise."""
    from searchengine_spark.operators.search import (
        _ord, _scope_info, release_query_caches)
    if search_after is not None and offset:
        raise ValueError("search_after and offset are mutually exclusive")

    release_query_caches(index)  # NOT-clause persists from PREVIOUS queries
    spark = index["docs"].sparkSession
    fields = index["fields"]
    if weights is None:
        weights = {"title": 2.0, "body": 1.0}
    if b is None:
        b = {name: DEFAULT_B for name in fields}
    qterms = _query_terms(query, index.get("mode", "general"),
                          index.get("dictionary", "fixture"))
    empty = spark.createDataFrame(
        [], "doc_id long, conv_id string, turn_idx int, role string, "
            "tool string, ts timestamp, score double"
            + (", title string" if with_titles else "")
            + (", snippet string" if with_snippets else ""))
    if not qterms:
        return empty
    sc = _scope_info(index, scope) if scope is not None else None
    if scope is not None and sc is None:
        return empty

    excl = (_fielded_excluded_docs(index, exclude, sc)
            if exclude is not None else None)
    if exclude_docs is not None:
        # pre-resolved banned doc set (querylang.query_search_bm25f's NOT
        # phrase/span clauses) — same merge and the same WAND-disabling
        # rationale as the term NOT clause
        xd = exclude_docs.select("doc_id")
        excl = xd if excl is None else excl.unionByName(xd).distinct()
    k_eff = offset + k  # pagination retrieves offset+k winners, slices after
    prune = (None if (prune_blocks is False or excl is not None
                      or collapse is not None or search_after is not None
                      or sort_by is not None or boost_by is not None)
             else (prune_blocks, k_eff, k1))
    allf, idf_of = _fielded_candidate_rows(index, qterms, sc, weights, b,
                                           prune=prune)
    if allf is None:
        return empty
    blended = _blend_and_saturate(allf, idf_of, k1)
    scored = blended.groupBy("doc_id").agg(F.sum("contrib").alias("score"))
    if excl is not None:
        scored = scored.join(excl, "doc_id", "left_anti")
    if boost_by is not None:
        bcol = F.col(boost_by) if isinstance(boost_by, str) else boost_by
        scored = (scored.join(index["docs"].select(
                      "doc_id", bcol.alias("_boost")), "doc_id")
                  .withColumn("score", F.col("score")
                              * F.col("_boost").cast("double"))
                  .drop("_boost"))
    if sort_by is not None:
        skey = F.col(sort_by) if isinstance(sort_by, str) else sort_by
        scored = scored.join(
            index["docs"].select("doc_id", skey.alias("_skey")), "doc_id")
        key_ord = (F.col("_skey").asc_nulls_last() if sort_asc
                   else F.col("_skey").desc_nulls_last())
        rank_cols = [key_ord, F.col("doc_id").asc()]
    else:
        rank_cols = [_ord(), F.col("doc_id").asc()]
    if collapse is not None:
        from searchengine_spark.operators.search import _collapse_filter
        scored = _collapse_filter(index, scored, rank_cols,
                                  collapse, per_group)
    if search_after is not None:
        la_key, la_doc = search_after
        if sort_by is not None:
            kc, lk = F.col("_skey"), F.lit(la_key)
            before = (kc > lk) if sort_asc else (kc < lk)
            at = kc == lk
        else:
            s9 = F.round(F.col("score"), 9)
            lk = F.lit(round(float(la_key), 9))
            before, at = s9 < lk, s9 == lk
        scored = scored.filter(
            before | (at & (F.col("doc_id") > F.lit(int(la_doc)))))
    topk = scored.orderBy(*rank_cols).limit(k_eff)
    if offset:
        from pyspark.sql import Window
        w_pg = Window.orderBy(*rank_cols)
        topk = (topk.withColumn("_rk", F.row_number().over(w_pg))
                .filter(F.col("_rk") > offset).drop("_rk"))
    need_text = with_snippets or with_titles
    docs_meta = index["docs"].select("doc_id", "conv_id", "turn_idx", "role",
                                     "tool", "ts",
                                     *(["text"] if need_text else []))
    out = (docs_meta.join(F.broadcast(topk), "doc_id")
           .select("doc_id", "conv_id", "turn_idx", "role", "tool", "ts",
                   "score", *(["text"] if need_text else []),
                   *(["_skey"] if sort_by is not None else []))
           .orderBy(*rank_cols))
    if sort_by is not None:
        out = out.drop("_skey")
    if with_titles:
        from searchengine_spark.functions.text import extract_title
        out = out.withColumn("title", extract_title(F.col("text")))
        if not with_snippets:
            out = out.drop("text")
    if with_snippets:
        from searchengine_spark.functions.snippets import snippet_col
        out = out.withColumn(
            "snippet",
            snippet_col(F.col("text"), query, index.get("mode", "general"),
                        index.get("dictionary", "fixture"))).drop("text")
    return out


def bm25f_search_many(index: dict, queries: dict[str, str], k: int = 10,
                      weights: dict[str, float] | None = None,
                      b: dict[str, float] | None = None,
                      k1: float = K1, scope=None,
                      exclude: "dict[str, str] | str | None" = None,
                      with_snippets: bool = False,
                      offset: int = 0,
                      collapse=None, per_group: int = 1,
                      search_after: "dict | tuple | None" = None,
                      sort_by=None, sort_asc: bool = False,
                      boost_by=None) -> DataFrame:
    """Batched BM25F: score MANY queries in ONE Spark job (the fielded
    analog of ``search_many`` — a query-log replay otherwise pays one
    fixed-latency job per query).

    One decode pass PER FIELD over the union of all queries' term_ids. The
    blend-then-saturate contrib depends only on (doc_id, term), so the
    batch aggregates ONCE by (doc_id, term) and only THEN fans out to
    queries through a broadcast (query_id, term) map — a hot term shared by
    many queries shuffles its postings once, not once per query. Rows
    identical to per-query ``bm25f_search``, rank 1..k per query; ``scope``
    is shared by the batch, same semantics as ``bm25f_search(..., scope=)``.

    ``exclude`` is the batched NOT clause (dict query_id → NOT terms, or
    one string shared by the batch; same any-field ban semantics as
    ``bm25f_search(..., exclude=)``). Excluded terms join the SAME
    per-field union decode as query terms — they reach scoring only
    through the scoring-pairs map, so a term excluded by one query can
    still score another's — and one anti-join on (query_id, doc_id)
    removes each query's banned docs before ranking. BM25F has no
    survivor-dependent normalization, so this is row-identical to
    per-query ``bm25f_search(..., exclude=)``.

    ``with_snippets`` highlights each hit with ITS OWN query's expanded
    word set in one Arrow pass over the k·|queries| winner rows (same
    contract as ``search_many(..., with_snippets=)``). ``offset``
    paginates every query in the batch identically to ``search_many(...,
    offset=)`` — ranks offset+1..offset+k with their ABSOLUTE ranks.

    ``collapse``/``per_group`` apply field collapsing per query (the
    ``search_many`` contract: a (query_id, key) window keeps each group's
    best per_group before the rank window; one key join + one narrow
    shuffle for the whole batch).

    ``search_after``/``sort_by``/``sort_asc`` are the batched cursor and
    field-sort controls — ``search_many``'s contract exactly: per-query
    (or shared) cursors in one literal when-chain filter, one docs key
    join for the whole batch; row-identical to per-query
    ``bm25f_search(search_after=, sort_by=)``.

    Returns (query_id, rank, doc_id, conv_id, turn_idx, role, tool, ts,
    score[, snippet])."""
    from searchengine_spark.operators.search import (
        _scope_info, _batch_sort_key, _batch_cursor_filter, _fanout_by_term)
    if search_after is not None and offset:
        raise ValueError("search_after and offset are mutually exclusive")
    from pyspark.sql import Window

    spark = index["docs"].sparkSession
    fields = index["fields"]
    if weights is None:
        weights = {"title": 2.0, "body": 1.0}
    if b is None:
        b = {name: DEFAULT_B for name in fields}
    empty = spark.createDataFrame(
        [], "query_id string, rank int, doc_id long, conv_id string, "
            "turn_idx int, role string, tool string, ts timestamp, "
            "score double"
            + (", snippet string" if with_snippets else ""))
    per_q = {qid: _query_terms(q, index.get("mode", "general"),
                               index.get("dictionary", "fixture"))
             for qid, q in queries.items()}
    per_q = {qid: ts for qid, ts in per_q.items() if ts}
    if not per_q:
        return empty
    sc = _scope_info(index, scope) if scope is not None else None
    if scope is not None and sc is None:
        return empty
    # batched NOT clause: per-query excluded terms ride the union vocab
    # (one decode pass per field covers scoring AND exclusion terms)
    x_of: dict[str, list[str]] = {}
    if exclude is not None:
        xcl = ({qid: exclude for qid in per_q}
               if isinstance(exclude, str) else exclude)
        for qid, xtext in xcl.items():
            if qid not in per_q:
                continue
            xts = _query_terms(xtext, index.get("mode", "general"),
                               index.get("dictionary", "fixture"))
            if xts:
                x_of[qid] = xts
    vocab = sorted({t for ts in per_q.values() for t in ts}
                   | {t for ts in x_of.values() for t in ts})

    allf, idf_of = _fielded_candidate_rows(index, vocab, sc, weights, b)
    if allf is None:
        return empty
    blended = _blend_and_saturate(allf, idf_of, k1)
    # fan-out AFTER the blend: |blended| ≈ Σ df rows, each tiny; literal-
    # map explode below LIT_MAP_MAX (no BroadcastExchange job per batch)
    q_by_term: dict = {}
    for qid, ts in per_q.items():
        for t in ts:
            q_by_term.setdefault(t, []).append((qid,))
    scored = (_fanout_by_term(blended, q_by_term, [("query_id", "string")],
                              key_col="term", key_type="string")
              .groupBy("query_id", "doc_id")
              .agg(F.sum("contrib").alias("score")))
    if x_of:
        # a blended row exists for every (doc, term) occurrence in any
        # field (tf ≥ 1 → wtf > 0), so this is the exact any-field ban set
        x_by_term: dict = {}
        for qid, ts in x_of.items():
            for t in ts:
                x_by_term.setdefault(t, []).append((qid,))
        banned = (_fanout_by_term(blended, x_by_term,
                                  [("query_id", "string")],
                                  key_col="term", key_type="string")
                  .select("query_id", "doc_id").distinct())
        scored = scored.join(banned, ["query_id", "doc_id"], "left_anti")
    if boost_by is not None:
        bcol = F.col(boost_by) if isinstance(boost_by, str) else boost_by
        scored = (scored.join(index["docs"].select(
                      "doc_id", bcol.alias("_boost")), "doc_id")
                  .withColumn("score", F.col("score")
                              * F.col("_boost").cast("double"))
                  .drop("_boost"))
    scored, order_cols = _batch_sort_key(index, scored, sort_by, sort_asc)
    if collapse is not None:
        key_col = F.col(collapse) if isinstance(collapse, str) else collapse
        keys = index["docs"].select("doc_id", key_col.alias("_ckey"))
        w_c = Window.partitionBy("query_id", "_ckey").orderBy(*order_cols)
        scored = (scored.join(keys, "doc_id")
                  .withColumn("_cr", F.row_number().over(w_c))
                  .filter(F.col("_cr") <= F.lit(int(per_group)))
                  .drop("_cr", "_ckey"))
    if search_after is not None:
        scored = _batch_cursor_filter(scored, queries, search_after,
                                      sort_by, sort_asc)
    w_q = Window.partitionBy("query_id").orderBy(*order_cols)
    ranked = (scored.withColumn("rank", F.row_number().over(w_q))
              .filter(F.col("rank") <= int(offset) + k))
    if offset:
        ranked = ranked.filter(F.col("rank") > int(offset))
    docs_meta = index["docs"].select("doc_id", "conv_id", "turn_idx", "role",
                                     "tool", "ts",
                                     *(["text"] if with_snippets else []))
    out = (docs_meta.join(F.broadcast(ranked), "doc_id")
           .select("query_id", "rank", "doc_id", "conv_id", "turn_idx",
                   "role", "tool", "ts", "score",
                   *(["text"] if with_snippets else []))
           .orderBy("query_id", "rank"))
    if with_snippets:
        # per-query highlight words through the index's dictionary, one
        # Arrow pass over the k·|queries| winner rows (the main batched
        # path's exact contract)
        from searchengine_spark.functions.snippets import (
            expand_query_words, make_snippet)
        amode = index.get("mode", "general")
        dictionary = index.get("dictionary", "fixture")
        words_of = {qid: expand_query_words(queries[qid], amode, dictionary)
                    for qid in per_q}

        @F.pandas_udf("string")
        def snip(texts: pd.Series, qids: pd.Series) -> pd.Series:
            return pd.Series([make_snippet(t, words_of.get(q, []))
                              for t, q in zip(texts, qids)])

        out = out.withColumn("snippet",
                             snip(F.col("text"), F.col("query_id"))) \
                 .drop("text")
    return out


def save_fielded_index(index: dict, path: str, term_buckets: int = 16) -> None:
    """Persist a fielded index: shared docs + per-field terms/postings.

    Same layout discipline as plans/manifest.save_index: each field's
    postings are partitioned by ``term_bucket = term_id % term_buckets`` so
    a query's term_id IN (...) prunes whole directories at scan time; the
    per-field avgdl/total_tokens ride in stats.json."""
    import json as _json
    import os as _os

    _os.makedirs(path, exist_ok=True)
    index["docs"].write.mode("overwrite").parquet(_os.path.join(path, "docs"))
    field_stats = {}
    for name, fl in index["fields"].items():
        base = _os.path.join(path, "fields", name)
        fl["terms"].write.mode("overwrite").parquet(_os.path.join(base, "terms"))
        (fl["postings"]
         .withColumn("term_bucket", (F.col("term_id") % term_buckets).cast("int"))
         .write.mode("overwrite").partitionBy("term_bucket")
         .option("compression", "zstd")
         .parquet(_os.path.join(base, "postings")))
        field_stats[name] = {"avgdl": fl["avgdl"],
                             "total_tokens": fl["total_tokens"]}
    with open(_os.path.join(path, "stats.json"), "w") as f:
        _json.dump({**index["stats"], "mode": index["mode"],
                    "dictionary": index.get("dictionary", "fixture"),
                    "term_buckets": term_buckets,
                    "field_stats": field_stats}, f)


def _field_flat(docs: DataFrame, expr: Column, mode: str,
                dictionary: str) -> "tuple[DataFrame, int]":
    """One field's (doc_id, dl, term, tf) rows of ``docs`` (persisted) and
    the docs' token total in that field."""
    an = docs.drop("tt", "dl") \
        .withColumn("tt", analyze_tf_col(expr, mode, dictionary)) \
        .withColumn("dl", F.col("tt.dl"))
    return (tf_pairs(an).persist(),
            int(an.agg(F.sum("dl")).collect()[0][0] or 0))


def _check_fields(index: dict, fields: "dict[str, Column] | None") -> dict:
    """The build-time field mapping (default title/body) after checking its
    names against the index's fields."""
    if fields is None:
        fields = {"title": title_col(F.col("text")), "body": F.col("text")}
    if set(fields) != set(index["fields"]):
        raise ValueError(
            f"field names {sorted(fields)} != index fields "
            f"{sorted(index['fields'])}; pass the build-time field mapping")
    return fields


def upsert_fielded(index: dict, delta: DataFrame,
                   fields: dict[str, Column] | None = None,
                   max_delta_fraction: float | None = None) -> dict:
    """S6 incremental upsert for a FIELDED index: merge a micro-batch of
    turns, rewriting only the touched (term_id, bucket) posting groups of
    each field (same merge semantics as ``operators.upsert.upsert_turns``;
    reference: services/IndexingPageServiceImpl.java:37-135 single-page
    re-index, generalized per field).

    ``fields`` must be the SAME field-name → text-Column mapping the index
    was built with (Column expressions are not serializable, so unlike
    mode/dictionary they cannot ride in stats; the default title/body layout
    needs no argument). Field names are validated against the index; exprs
    are the caller's contract.

    Each field runs the main upsert's write path (``upsert._rewrite_touched``)
    without scoring or positions: fielded blocks carry only the
    stats-independent (block_max_tf, block_min_dl) bounds, so nothing is
    re-scored and no tf_bounds flag is needed; each touched term's
    dictionary (max_tf, min_dl) is re-derived from its blocks and stays
    exact. Per-field avgdl/total_tokens are maintained exactly from the
    delta's dl sums, so post-upsert scores equal a fresh rebuild's (up to
    doc_id tie order — genuinely NEW keys append after max(doc_id) in
    delta key order).
    """
    from searchengine_spark.operators.upsert import (
        FIELD_BOUNDS, KEY, _apply_df_delta, _check_micro_batch, _merge_docs,
        _rewrite_touched)

    mode = index.get("mode", "general")
    dictionary = index.get("dictionary", "fixture")
    stats = index["stats"]
    fields = _check_fields(index, fields)

    delta = dedup_turns(delta)
    _check_micro_batch(
        delta.count(), stats, max_delta_fraction,
        "delta", "upsert_fielded",
        "rebuild with build_fielded_index for bulk loads")

    docs = index["docs"]
    replaced = docs.join(F.broadcast(delta.select(*KEY)), KEY, "inner").persist()
    new_docs, delta_ided, d_row = _merge_docs(docs, delta, replaced)
    n_docs = stats["n_docs"] + int(d_row["n_new"] or 0)

    out_fields: dict[str, dict] = {}
    scratch = [replaced, delta_ided]
    for name, expr in fields.items():
        fl = index["fields"][name]
        old_flat, tok_old = _field_flat(replaced, expr, mode, dictionary)
        new_flat, tok_new = _field_flat(delta_ided, expr, mode, dictionary)
        total_tokens = fl["total_tokens"] + tok_new - tok_old
        new_terms = _apply_df_delta(fl["terms"], old_flat, new_flat,
                                    "df_field", FIELD_BOUNDS)
        scratch += [old_flat, new_flat, new_terms]
        postings, terms, _ = _rewrite_touched(
            fl["postings"], fl["terms"], new_terms, old_flat, new_flat,
            replaced, stats, df_col="df_field", bound_type="long")
        out_fields[name] = {
            "terms": terms, "postings": postings,
            "avgdl": total_tokens / n_docs if n_docs else 0.0,
            "total_tokens": total_tokens}

    out_docs = new_docs.localCheckpoint(eager=True)
    for df in scratch:
        df.unpersist()
    return {"mode": mode, "dictionary": dictionary, "docs": out_docs,
            "fields": out_fields,
            "stats": {"n_docs": n_docs,
                      "bucket_range": stats.get("bucket_range", 1 << 16),
                      "block_size": stats.get("block_size", BLOCK_SIZE)}}


def delete_fielded(index: dict, keys,
                   fields: dict[str, Column] | None = None,
                   max_delta_fraction: float | None = None) -> dict:
    """Incremental DELETE for a FIELDED index (the GDPR/unlearn path,
    mirroring ``operators.upsert.delete_turns`` per field): remove turns,
    decrement each field's df (df→0 terms dropped), rewrite only the
    removed docs' (term_id, bucket) posting groups per field, keep
    per-field avgdl/total_tokens exact. ``keys`` is a DataFrame with
    (conv_id, turn_idx) or a Column predicate over the docs table.
    ``fields`` must be the build-time field mapping (see upsert_fielded).
    Same micro-batch guard as upsert: bulk deletions should rebuild."""
    from searchengine_spark.operators.upsert import (
        FIELD_BOUNDS, KEY, _apply_df_delta, _check_micro_batch, _delete_keys,
        _rewrite_touched)

    mode = index.get("mode", "general")
    dictionary = index.get("dictionary", "fixture")
    stats = index["stats"]
    fields = _check_fields(index, fields)

    docs = index["docs"]
    kdf = _delete_keys(docs, keys)
    removed = docs.join(F.broadcast(kdf), KEY, "inner").persist()
    n_removed = removed.count()
    _check_micro_batch(
        n_removed, stats, max_delta_fraction,
        "delete set", "delete_fielded",
        "rebuild with build_fielded_index on the filtered corpus for bulk "
        "deletions", scratch=removed)
    if n_removed == 0:
        removed.unpersist()
        return dict(index)
    new_docs = docs.join(F.broadcast(kdf), KEY, "left_anti")
    n_docs = stats["n_docs"] - n_removed

    out_fields: dict[str, dict] = {}
    scratch = [removed]
    for name, expr in fields.items():
        fl = index["fields"][name]
        old_flat, tok_old = _field_flat(removed, expr, mode, dictionary)
        total_tokens = fl["total_tokens"] - tok_old
        new_terms = _apply_df_delta(fl["terms"], old_flat, None, "df_field",
                                    FIELD_BOUNDS)
        scratch += [old_flat, new_terms]
        postings, terms, _ = _rewrite_touched(
            fl["postings"], fl["terms"], new_terms, old_flat, None, removed,
            stats, df_col="df_field", bound_type="long")
        out_fields[name] = {
            "terms": terms, "postings": postings,
            "avgdl": total_tokens / n_docs if n_docs else 0.0,
            "total_tokens": total_tokens}

    out_docs = new_docs.localCheckpoint(eager=True)
    for df in scratch:
        df.unpersist()
    return {"mode": mode, "dictionary": dictionary, "docs": out_docs,
            "fields": out_fields,
            "stats": {"n_docs": n_docs,
                      "bucket_range": stats.get("bucket_range", 1 << 16),
                      "block_size": stats.get("block_size", BLOCK_SIZE)}}


def delete_fielded_from_path(spark, root: str, keys,
                             fields: dict[str, Column] | None = None) -> str:
    """DELETE turns from the CURRENT fielded snapshot under ``root`` (the
    fielded twin of operators.upsert.delete_from_path): writes a new
    snapshot dir and flips CURRENT atomically. Returns the new dir."""
    from searchengine_spark.plans.manifest import commit_new_snapshot
    return commit_new_snapshot(
        spark, root, lambda ix: delete_fielded(ix, keys, fields=fields),
        fielded=True)


def merge_fielded_into_path(spark, root: str, delta: DataFrame,
                            fields: dict[str, Column] | None = None) -> str:
    """MERGE delta into the CURRENT fielded snapshot under ``root``; writes a
    new snapshot dir and flips CURRENT atomically (same commit protocol as
    operators.upsert.merge_into_path — the parquet stand-in for an Iceberg
    snapshot commit). Returns the new snapshot dir."""
    from searchengine_spark.plans.manifest import commit_new_snapshot
    return commit_new_snapshot(
        spark, root, lambda ix: upsert_fielded(ix, delta, fields=fields),
        fielded=True)


def load_fielded_index(spark, path: str) -> dict:
    """Load a saved fielded index; bm25f_search prunes each field's postings
    scan by term_bucket (PartitionFilters) + term_id pushdown."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "stats.json")) as f:
        stats = _json.load(f)
    mode = stats.pop("mode")
    dictionary = stats.pop("dictionary", "fixture")
    field_stats = stats.pop("field_stats")
    fields = {}
    for name, fs in field_stats.items():
        base = _os.path.join(path, "fields", name)
        fields[name] = {
            "terms": spark.read.parquet(_os.path.join(base, "terms")),
            "postings": spark.read.parquet(_os.path.join(base, "postings")),
            "avgdl": fs["avgdl"], "total_tokens": fs["total_tokens"]}
    return {"mode": mode, "dictionary": dictionary,
            "docs": spark.read.parquet(_os.path.join(path, "docs")),
            "fields": fields, "stats": stats}


def load_fielded_index_as_of(spark, root: str,
                             snapshot: "str | None" = None) -> dict:
    """Time travel for fielded roots — the fielded twin of
    ``operators.upsert.load_index_as_of`` (VERSION AS OF): load the
    fielded index at a NAMED snapshot, or CURRENT when None. Fielded
    snapshots are always full, so no chain resolution is needed; the
    generic history ops (``list_snapshots`` / ``rollback_to`` /
    ``expire_snapshots``) work on fielded roots unchanged — they only
    read stats.json and the CURRENT pointer."""
    import os as _os

    from searchengine_spark.plans.manifest import read_current

    if snapshot is None:
        cur = read_current(root)
        if cur is None:
            raise ValueError(f"no CURRENT snapshot under {root}")
        return load_fielded_index(spark, cur)
    sp = _os.path.join(root, snapshot)
    if not _os.path.isdir(sp):
        raise ValueError(f"unknown snapshot {snapshot!r} under {root} "
                         f"(expired or never committed?)")
    return load_fielded_index(spark, sp)
