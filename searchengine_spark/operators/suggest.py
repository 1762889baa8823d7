"""Dictionary-assisted query aids: prefix autocomplete ("suggest"),
fuzzy "did-you-mean" correction, wildcard expansion for the query
grammar, and more-like-this.

No reference analog — srcCreate/searchEngine exposes flat hit search only
(controllers/ApiController.java) — these are the standard search-product
companions to a fulltext index, and all of them read the DICTIONARY (the
terms table) or ONE document's text, never the postings, so their cost is
independent of corpus size:

- a 10^12-turn index's dictionary is ~10^8 rows (a few GB in parquet);
  suggest/correction are one narrow column scan + TakeOrderedAndProject
  over it — and ZERO Spark jobs when the dictionary is driver-cached
  (below ``TERMS_LOCAL_MAX``);
- more-like-this reads one docs-table row (dense doc_ids are written in
  sorted order, so the point lookup prunes row groups via parquet
  min/max stats) and then runs one ordinary ranked ``search``.

Prefixes and probe words are normalized with the ANALYZER'S OWN cleaning
(lowercase + the mode's token pattern) but never lemmatized — a partial
prefix or a misspelling is exactly what the lemmatizer can't see.
"""
from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from searchengine_spark.functions.analysis import _pattern, analyze_text


def _norm_word(word: str, mode: str) -> str:
    """First token of the analyzer's cleaning pass (no lemmatization)."""
    parts = re.sub(_pattern(mode), " ", (word or "").lower()).split()
    return parts[0] if parts else ""


def suggest(index: dict, prefix: str, k: int = 10) -> DataFrame:
    """Prefix autocomplete over the index dictionary: the ``k`` most
    frequent terms starting with ``prefix``, as (term, df) ordered by
    (df desc, term asc) — document frequency IS the standard completion
    ranking signal. Zero Spark jobs on a driver-cached dictionary; one
    dictionary column scan otherwise."""
    from searchengine_spark.operators.search import _terms_local
    spark = index["docs"].sparkSession
    p = _norm_word(prefix, index.get("mode", "general"))
    empty = spark.createDataFrame([], "term string, df long")
    if not p:
        return empty
    pdf = _terms_local(index)
    if pdf is not None:
        sub = pdf[pdf.index.str.startswith(p)]
        rows = sorted(((t, int(r)) for t, r in sub["df"].items()),
                      key=lambda x: (-x[1], x[0]))[:k]
        return spark.createDataFrame(rows, "term string, df long") \
            if rows else empty
    return (index["terms"].filter(F.col("term").startswith(p))
            .select("term", F.col("df").cast("long").alias("df"))
            .orderBy(F.col("df").desc(), F.col("term").asc()).limit(k))


def suggest_corrections(index: dict, word: str, max_dist: int = 2,
                        k: int = 10) -> DataFrame:
    """Fuzzy "did you mean": dictionary terms within ``max_dist`` edits of
    ``word``, as (term, dist, df) ordered by (dist asc, df desc, term asc)
    — closest first, most frequent within a distance. A length band
    (|len(term) − len(word)| ≤ max_dist, a lower bound on edit distance)
    prunes the scan before the edit-distance evaluation; Spark's
    ``levenshtein(..., threshold)`` early-exits rows past the bound. One
    dictionary scan, no postings access."""
    spark = index["docs"].sparkSession
    w = _norm_word(word, index.get("mode", "general"))
    empty = spark.createDataFrame([], "term string, dist int, df long")
    if not w:
        return empty
    dist = F.levenshtein(F.lit(w), F.col("term"), int(max_dist))
    return (index["terms"]
            .filter(F.abs(F.length("term") - F.lit(len(w))) <= int(max_dist))
            .select("term", dist.alias("dist"),
                    F.col("df").cast("long").alias("df"))
            .filter((F.col("dist") >= 0) & (F.col("dist") <= int(max_dist)))
            .orderBy(F.col("dist").asc(), F.col("df").desc(),
                     F.col("term").asc())
            .limit(k))


# wildcard expansion cap: the grammar's `pre*` becomes an OR-group of at
# most this many dictionary terms (highest-df first — the expansions that
# actually retrieve something); a cap is standard (Lucene's
# maxDeterminizedStates / rewrite caps) and keeps the ranked union bounded
WILDCARD_MAX_TERMS = 16


def suggest_pattern(index: dict, pattern: str, k: int = 10) -> DataFrame:
    """Glob autocomplete: ``*`` matches any run of characters ANYWHERE in
    the term — ``*fix`` (suffix), ``a*b`` (infix), ``*mid*`` (contains) —
    as (term, df) ordered by (df desc, term asc), top k. Literal chunks
    are normalized with the analyzer's cleaning; patterns with fewer than
    2 literal characters are refused (a bare ``*`` is a full-vocabulary
    dump, not a query). Same cost shape as ``suggest``: one dictionary
    column scan, ZERO Spark jobs when the dictionary is driver-cached —
    non-prefix globs can't narrow the scan further, which is exactly how
    Lucene treats leading-wildcard queries (full term-dict walk)."""
    from searchengine_spark.operators.search import _terms_local
    spark = index["docs"].sparkSession
    mode = index.get("mode", "general")
    chunks = [re.sub(_pattern(mode), "", c)
              for c in (pattern or "").lower().split("*")]
    empty = spark.createDataFrame([], "term string, df long")
    if sum(len(c) for c in chunks) < 2:
        return empty
    rx = "^" + ".*".join(re.escape(c) for c in chunks) + "$"
    pdf = _terms_local(index)
    if pdf is not None:
        sub = pdf[pdf.index.str.match(rx)]
        rows = sorted(((t, int(r)) for t, r in sub["df"].items()),
                      key=lambda x: (-x[1], x[0]))[:k]
        return spark.createDataFrame(rows, "term string, df long") \
            if rows else empty
    if index.get("trigrams") is not None and _pattern_grams(chunks):
        # big-dictionary path: gram intersection beats the full term walk
        return suggest_infix(index, pattern, k)
    return (index["terms"].filter(F.col("term").rlike(rx))
            .select("term", F.col("df").cast("long").alias("df"))
            .orderBy(F.col("df").desc(), F.col("term").asc()).limit(k))


# --- char-trigram infix index: true substring search over the dictionary ---
# The Lucene/ES answer to the leading-wildcard problem is an ngram side
# index over the TERM DICTIONARY: resolve `*frag*` by intersecting the
# pattern's character 3-grams against gram→term postings, then verify the
# few candidates with the real pattern — instead of walking all 10^8 terms.
TRIGRAM_BUCKETS = 64


def _gram_bucket(gram: str) -> int:
    import zlib
    return zlib.crc32(gram.encode("utf-8")) % TRIGRAM_BUCKETS


def build_trigram_index(index: dict) -> None:
    """Attach ``index["trigrams"]``: one row per DISTINCT (char-3-gram,
    term) over the dictionary, with the term string and df denormalized so
    pattern resolution never joins back. Terms are padded ``^term$`` so
    anchored chunks (prefix/suffix literals) contribute boundary grams.

    Size: Σ len(term)+2 − 2 rows ≈ ~8× the dictionary's row count —
    INDEPENDENT of corpus size (it indexes the vocabulary, not the
    postings). Bucketed by crc32(gram) % 64 (driver-computable, same
    contract as the term-page hash): a pattern touches ≤ |grams| of 64
    buckets, and ``save_index`` persists the buckets as partition dirs so
    a cold probe prunes directories. Maintenance carries the sidecar
    automatically: ``upsert_turns``/``delete_turns`` call
    ``refresh_trigram_index`` (O(|changed terms|) append + dropped-term
    anti-join — never the 8×-vocab re-explode).
    """
    terms = index["terms"].select(
        "term", "term_id", F.col("df").cast("long").alias("df"))
    padded = terms.withColumn("_p", F.concat(F.lit("^"), F.col("term"),
                                             F.lit("$")))
    # transform's lambda closes over the padded COLUMN (per-element
    # re-evaluation of a column ref is free; never capture expressions)
    grams = padded.select(
        "term", "term_id", "df",
        F.explode(F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.length("_p") - F.lit(2)),
            lambda i: F.substring(F.col("_p"), i, F.lit(3))))).alias("gram"))
    out = grams.withColumn(
        "gram_bucket",
        (F.crc32(F.encode(F.col("gram"), "utf-8"))
         % TRIGRAM_BUCKETS).cast("int"))
    index["trigrams"] = out.repartition("gram_bucket") \
        .localCheckpoint(eager=False)


def refresh_trigram_index(new_index: dict, prev_index: dict) -> None:
    """Carry the trigram sidecar across an upsert/delete WITHOUT the full
    vocabulary re-explode: grams of terms the maintenance ADDED are
    appended (new term_ids are assigned above the previous max, but the
    general anti-join form also covers merges), grams of DROPPED terms
    (df→0 deletions) are anti-joined out. Two dictionary-sized key joins
    + one O(|added|) gram explode — never the 8×-vocab rebuild.

    No-op when ``prev_index`` has no sidecar. ``upsert_turns`` /
    ``delete_turns`` call this automatically, so an index with a trigram
    sidecar keeps it through maintenance (pytest: refreshed rows ==
    a fresh ``build_trigram_index`` over the new dictionary)."""
    old_tg = prev_index.get("trigrams")
    if old_tg is None:
        return
    old_ids = prev_index["terms"].select("term_id")
    new_terms = new_index["terms"].select(
        "term", "term_id", F.col("df").cast("long").alias("df"))
    dropped = old_ids.join(new_terms.select("term_id"), "term_id",
                           "left_anti")
    added = new_terms.join(old_ids, "term_id", "left_anti")
    padded = added.withColumn("_p", F.concat(F.lit("^"), F.col("term"),
                                             F.lit("$")))
    add_grams = padded.select(
        "term", "term_id", "df",
        F.explode(F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.length("_p") - F.lit(2)),
            lambda i: F.substring(F.col("_p"), i, F.lit(3))))).alias("gram")) \
        .withColumn("gram_bucket",
                    (F.crc32(F.encode(F.col("gram"), "utf-8"))
                     % TRIGRAM_BUCKETS).cast("int"))
    # surviving terms may have UPDATED df (the sidecar denormalizes it for
    # ranking) — refresh df by key join, keep the gram rows
    kept = (old_tg.join(F.broadcast(dropped), "term_id", "left_anti")
            .drop("df")
            .join(new_terms.select("term_id",
                                   F.col("df").alias("df")), "term_id"))
    new_index["trigrams"] = (kept.select(*old_tg.columns)
                             .unionByName(add_grams.select(*old_tg.columns))
                             .localCheckpoint(eager=False))


def _pattern_grams(chunks: list[str]) -> list[str]:
    """3-grams of a glob's literal chunks under ``^…$`` padding: the first
    chunk is prefix-anchored, the last suffix-anchored (empty when the
    glob starts/ends with ``*``). Every returned gram must appear in any
    matching term's padded form — the intersection is a SUPERSET filter;
    the caller still verifies the full pattern."""
    grams: set[str] = set()
    n = len(chunks)
    for i, c in enumerate(chunks):
        pc = ("^" if i == 0 else "") + c + ("$" if i == n - 1 else "")
        grams.update(pc[j:j + 3] for j in range(len(pc) - 2))
    return sorted(grams)


def suggest_infix(index: dict, pattern: str, k: int = 10) -> DataFrame:
    """Glob resolution through the trigram index (requires
    ``build_trigram_index``): candidates = terms containing ALL of the
    pattern's literal 3-grams (bucket-pruned gram scan + one small
    count-distinct aggregate), verified against the full glob, as
    (term, df) by (df desc, term asc) top-k — identical rows to
    ``suggest_pattern``'s dictionary walk. Patterns whose literals yield
    no 3-gram (e.g. ``*ab*``) fall back to ``suggest_pattern``."""
    tg = index.get("trigrams")
    if tg is None:
        raise ValueError("no trigram index: call build_trigram_index(index)")
    spark = index["docs"].sparkSession
    mode = index.get("mode", "general")
    chunks = [re.sub(_pattern(mode), "", c)
              for c in (pattern or "").lower().split("*")]
    empty = spark.createDataFrame([], "term string, df long")
    if sum(len(c) for c in chunks) < 2:
        return empty
    grams = _pattern_grams(chunks)
    if not grams:
        return suggest_pattern(index, pattern, k)
    rx = "^" + ".*".join(re.escape(c) for c in chunks) + "$"
    buckets = sorted({_gram_bucket(g) for g in grams})
    cand = (tg.filter(F.col("gram_bucket").isin(buckets))
            .filter(F.col("gram").isin(grams))
            .groupBy("term", "df")
            .agg(F.count("*").alias("ng"))  # rows are distinct per (gram, term)
            .filter(F.col("ng") == len(grams)))
    return (cand.filter(F.col("term").rlike(rx))
            .select("term", F.col("df").cast("long").alias("df"))
            .orderBy(F.col("df").desc(), F.col("term").asc()).limit(k))


def suggest_regex(index: dict, pattern: str, k: int = 10) -> DataFrame:
    """Lucene-style regexp term query (``RegexpQuery``): dictionary terms
    fully matching ``pattern`` (implicitly anchored, like Lucene), as
    (term, df) ordered by (df desc, term asc), top k. Same cost model as
    a leading-wildcard glob — one full dictionary column scan, zero Spark
    jobs when driver-cached. Invalid patterns raise ValueError eagerly.
    Stick to the regex subset shared by Python ``re`` and Java (the
    driver-cached path matches in Python, the distributed fallback in
    ``rlike``): char classes, ``.``, ``*``, ``+``, ``?``, ``|``,
    alternation groups."""
    from searchengine_spark.operators.search import _terms_local
    spark = index["docs"].sparkSession
    try:
        re.compile(f"^(?:{pattern})$")  # eager validation only
    except re.error as e:
        raise ValueError(f"bad regex term /{pattern}/: {e}") from None
    empty = spark.createDataFrame([], "term string, df long")
    pdf = _terms_local(index)
    if pdf is not None:
        sub = pdf[pdf.index.str.fullmatch(f"(?:{pattern})")]
        rows = sorted(((t, int(r)) for t, r in sub["df"].items()),
                      key=lambda x: (-x[1], x[0]))[:k]
        return spark.createDataFrame(rows, "term string, df long") \
            if rows else empty
    return (index["terms"].filter(F.col("term").rlike(f"^(?:{pattern})$"))
            .select("term", F.col("df").cast("long").alias("df"))
            .orderBy(F.col("df").desc(), F.col("term").asc()).limit(k))


def expand_regex(index: dict, pattern: str,
                 max_terms: "int | None" = None) -> list[str]:
    """``/pat/`` → the top dictionary terms fully matching the regex, by
    (df desc, term asc), capped at ``WILDCARD_MAX_TERMS`` (the grammar's
    expansion budget, same as globs). [] when nothing matches."""
    return [r["term"] for r in
            suggest_regex(index, pattern,
                          max_terms or WILDCARD_MAX_TERMS).collect()]


FUZZY_MAX_TERMS = 8


def expand_fuzzy(index: dict, word: str, max_dist: int = 2,
                 max_terms: int = FUZZY_MAX_TERMS) -> list[str]:
    """``word~N`` → the dictionary terms within N edits, by (dist asc,
    df desc, term asc) — ``suggest_corrections``'s ranking, capped at
    ``max_terms``. Returns [] when nothing is within distance (the
    grammar treats a positive no-match fuzzy as unsatisfiable)."""
    return [r["term"] for r in
            suggest_corrections(index, word, max_dist, max_terms).collect()]


def expand_wildcard(index: dict, pattern: str,
                    max_terms: int = WILDCARD_MAX_TERMS) -> list[str]:
    """``pre*`` / ``*fix`` / ``a*b`` → the top-``max_terms`` dictionary
    terms matching the glob, by (df desc, term asc). A pure-prefix pattern
    (one trailing ``*``, or a bare string for backward compatibility)
    takes the ``suggest`` startswith fast path; anything else goes through
    ``suggest_pattern``. Returns [] when nothing matches (the grammar
    treats a positive no-match wildcard as an unsatisfiable group)."""
    if "*" in pattern:
        head = pattern.rstrip("*")
        if "*" not in head and pattern.endswith("*"):
            return [r["term"] for r in suggest(index, head,
                                               max_terms).collect()]
        return [r["term"] for r in suggest_pattern(index, pattern,
                                                   max_terms).collect()]
    return [r["term"] for r in suggest(index, pattern, max_terms).collect()]


def more_like_this(index: dict, doc_id: int, k: int = 10, n_terms: int = 10,
                   mode: str = "bm25") -> DataFrame:
    """Similar-document retrieval: re-analyze the source doc's text with
    the index's own chain, select its ``n_terms`` most characteristic
    lemmas by (tf desc, df asc, term asc) — high-frequency-in-doc,
    rare-in-corpus first; integer keys, so the selection is exactly
    reproducible — and run an ordinary ranked ``search`` over them with
    the source doc removed. Returns the same shape as ``search``
    (doc_id, conv_id, turn_idx, role, tool, ts, score), top-k.

    One docs-table point lookup (row-group pruned via the sorted doc_id
    column) + one ranked query: more-like-this costs exactly one search
    at any corpus size."""
    from searchengine_spark.operators.search import (_resolve_ids_dfs,
                                                     search)
    spark = index["docs"].sparkSession
    empty = spark.createDataFrame(
        [], "doc_id long, conv_id string, turn_idx int, role string, "
            "tool string, ts timestamp, score double")
    row = (index["docs"].filter(F.col("doc_id") == int(doc_id))
           .select("text").collect())
    if not row:
        return empty
    seq = analyze_text(row[0]["text"], index.get("mode", "general"),
                       dictionary=index.get("dictionary", "fixture"))
    if not seq:
        return empty
    tf: dict[str, int] = {}
    for t in seq:
        tf[t] = tf.get(t, 0) + 1
    _, df_of = _resolve_ids_dfs(index, sorted(tf))
    sel = sorted((t for t in tf if t in df_of),
                 key=lambda t: (-tf[t], df_of[t], t))[:n_terms]
    if not sel:
        return empty
    hits = search(index, " ".join(sel), k=k + 1, mode=mode)
    return (hits.filter(F.col("doc_id") != int(doc_id))
            .orderBy(F.round(F.col("score"), 9).desc(),
                     F.col("doc_id").asc())
            .limit(k))


def did_you_mean(index: dict, query: str, max_dist: int = 2) -> DataFrame:
    """Whole-query spell correction (the search-box "did you mean" —
    no reference analog, its UI has no suggester): one row per query
    token as (pos, word, corrected, dist) where ``corrected`` is the
    best dictionary term within ``max_dist`` edits by (dist asc,
    df desc, term asc) — a dictionary hit corrects to itself at dist 0,
    an unreachable token gets corrected NULL / dist NULL.

    Plan: ONE dictionary scan — the token list broadcasts against the
    terms table under a length-band predicate (|len Δ| ≤ max_dist lower-
    bounds edit distance), ``levenshtein(..., threshold)`` early-exits,
    and a per-pos row_number picks the winner over the tiny candidate
    set. Cost is independent of the corpus (dictionary-sized), and the
    scan parallelizes over term partitions at 10^8-term scale."""
    from pyspark.sql import Window

    spark = index["docs"].sparkSession
    mode = index.get("mode", "general")
    words = [(_norm_word(w, mode),) for w in query.split()]
    words = [(i, w) for i, (w,) in enumerate(words) if w]
    out_schema = "pos int, word string, corrected string, dist int"
    if not words:
        return spark.createDataFrame([], out_schema)
    toks = spark.createDataFrame(pd.DataFrame(words, columns=["pos", "word"]),
                                 "pos int, word string")
    dist = F.levenshtein(F.col("word"), F.col("term"), int(max_dist))
    cand = (index["terms"]
            .join(F.broadcast(toks),
                  F.abs(F.length("term") - F.length("word"))
                  <= int(max_dist))
            .withColumn("dist", dist)
            .filter((F.col("dist") >= 0) & (F.col("dist") <= int(max_dist))))
    w = Window.partitionBy("pos").orderBy(
        F.col("dist").asc(), F.col("df").desc(), F.col("term").asc())
    best = (cand.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("pos", F.col("term").alias("corrected"), "dist"))
    return (toks.join(best, "pos", "left")
            .select("pos", "word", "corrected", "dist")
            .orderBy("pos"))
