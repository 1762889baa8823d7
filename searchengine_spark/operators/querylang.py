"""Unified query-string language over a built index.

One string expresses everything the engine's query families offer for
ranked retrieval:

    query_search(index, 'merge "lock contention" -deadlock')

- bare words            → ranked terms (BM25 / ref_compat, the main path)
- "quoted words"        → phrase clauses: the doc MUST contain the exact
                          analyzed phrase (positional match, a hard filter)
- "quoted words"~N      → span clauses: all the words within an unordered
                          window of N positions (tightest-window match via
                          ``search._match_positions`` — the
                          ``span_search`` operator as a hard filter)
- "quoted words"~N!     → ORDERED span clauses (SpanNear inOrder=true):
                          the words IN QUERY ORDER within N positions
                          (``span_search(ordered=True)``'s chain DP as a
                          hard filter); ``-"..."~N!`` bans such docs
- (w1|w2|...)           → OR-groups (synonym sets): the doc MUST contain
                          AT LEAST ONE member; every member also joins the
                          ranked terms. `(cache|buffer) miss` ranks by
                          BM25 over {cache, buffer, miss} restricted to
                          docs mentioning cache or buffer — disjunction as
                          a candidate constraint over the engine's usual
                          disjunctive ranking. `-(a|b)` folds to `-a -b`
                          (banning any-member is exactly NOT per member).
- pre* / *fix / a*b     → WILDCARD: ``*`` matches any character run
                          anywhere; the pattern expands against the index
                          dictionary to the top-``WILDCARD_MAX_TERMS``
                          matching terms by df
                          (``operators/suggest.expand_wildcard`` — prefix
                          patterns take the startswith fast path, others a
                          full-pattern dictionary scan, the Lucene
                          leading-wildcard cost model) and behaves as that
                          OR-group — docs containing ANY expansion, every
                          expansion ranked. A positive wildcard matching
                          nothing is unsatisfiable (empty result);
                          ``-pre*`` bans docs containing any expansion
                          (nothing when none match). Patterns need ≥2
                          literal chars.
- /regex/               → REGEX terms (Lucene RegexpQuery): the pattern
                          (implicitly anchored — it must match the WHOLE
                          term) expands against the dictionary to the top
                          matches by df (``suggest_regex`` — the same
                          full-dictionary-scan cost model and
                          ``WILDCARD_MAX_TERMS`` cap as leading
                          wildcards) and behaves as that OR-group;
                          ``-/regex/`` bans the expansions. No ``/`` or
                          whitespace inside the pattern, and the closing
                          slash must end the token ('/usr/local' and
                          'http://x' lex as plain terms).
- word~1 / word~2       → FUZZY terms (Lucene fuzzy query): expands
                          against the dictionary to the terms within N
                          edits (``suggest_corrections`` ranking: dist
                          asc, df desc, term asc; capped at
                          ``FUZZY_MAX_TERMS``) and behaves as that
                          OR-group; ``-word~N`` bans the expansions. The
                          base needs ≥2 chars; N ∈ {1, 2} (the Lucene
                          bound — larger distances match everything).
- min:m                 → DIRECTIVE (not a clause): minimum-should-match
                          over the query's positive words — keep only docs
                          matching at least m distinct resolved terms
                          (``search(min_match=)``; bm25 only; last wins;
                          negation is an error). Counts facets/counts too
                          (``query_facets``); unsupported on the BM25F
                          path.
- -word / -"quoted..."  → NOT clauses: docs containing the term / the
                          exact phrase (or, with ~N, the span) are removed
- field:value           → metadata qualifiers over the docs table:
                          ``site:PREFIX`` (conv_id prefix — the reference's
                          ``site=``), ``role:VALUE``, ``tool:VALUE``, and
                          time ranges ``after:ISO`` (ts ≥) / ``before:ISO``
                          (ts <) with ISO-8601 values (``2026-01-01`` or
                          ``2026-01-01T12:30:00`` — no spaces, the lexer is
                          whitespace-delimited), and ``exists:COLUMN``
                          (docs-table attribute non-null — the ES exists
                          query); ``-field:value`` negates
                          (null-safe, so ``-tool:bash`` keeps tool-less
                          docs and ``-exists:tool`` keeps exactly them).
                          Qualifiers AND together and intersect any
                          explicit ``scope=`` argument.

Scoring: BM25 (or ref_compat) over ALL positive terms — bare words plus
the words inside positive phrase clauses — so a phrase contributes its
constituents' tf like any bag-of-words match, while the phrase itself
additionally constrains candidates to docs where the words appear
adjacent, in order (the standard "phrase as filter + ranked query"
semantics; the reference's query language is terms-only,
services/SearchingServiceImpl.java:203-235, so the grammar here is an
extension, not a parity item).

Execution is pure composition — no new distributed machinery:

- every phrase/span clause of the query, positive and NOT, resolves in
  ONE call of the shared positional matcher (``search._match_positions``:
  one decode pass over the union vocabulary); the positive clauses'
  match sets intersect into one candidate doc set
- the intersected set rides the main path's ``scope=`` as an explicit
  doc-set DataFrame (``_scope_info`` accepts one), so candidate
  filtering, the per-scope conjunction and exact-WAND θ handling are the
  battle-tested scoped machinery
- NOT terms ride ``search(..., exclude=)`` unchanged; NOT phrases become
  a banned doc-set DataFrame merged in through ``search(...,
  exclude_docs=)`` — one anti-join either way, WAND stays exact (phase 1
  runs distributed with the same anti-join)

At 100× data every piece keeps its existing plan shape: phrase matching
is bucket-pruned positional decode, the doc-set scope is a broadcast
semi-join below SCOPE_BROADCAST_MAX and a shuffle semi-join above, and
the ranked pass is the same WAND-pruned single job as plain ``search``.

A query with phrase clauses (positive or negative) requires a positional
index (``build_index(with_positions=True)``); a terms-only string runs on
any index and is exactly ``search``.
"""
from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from searchengine_spark.functions.analysis import analyze_text
from searchengine_spark.operators.search import (
    _match_positions, _positional_clause, _query_terms, _resolve_exclusions,
    _resolve_ids_dfs, _scope_filter, _scope_info, release_query_caches,
    search, search_count, search_facets, search_many)

# -/regex/ | /regex/ | -"quoted phrase"[~N[!]] | "quoted phrase"[~N[!]] |
# -(w1|w2) | (w1|w2) | -word | word   (a lone '-' or empty quotes/parens
# parse to nothing; quotes and parens never nest — one-scan lexer). The
# optional '!' after a span's ~N asks for IN-ORDER matching (SpanNear
# inOrder=true). A regex term is slash-delimited with no '/' or
# whitespace inside and must end the token (so '/usr/local' or
# 'http://x' lex as plain terms).
_TOKEN = re.compile(
    r'(-?)/([^/\s]+)/(?=\s|$)'
    r'|(-?)"([^"]*)"(?:~(\d+)(!?))?|(-?)\(([^()]*)\)|(-?)(\S+)')
_QUALIFIER = re.compile(r'^(site|role|tool|before|after|exists):(.+)$')


def _qualifier_pred(field: str, value: str):
    """One qualifier → one docs-table predicate Column (pre-negation).

    site: is a conv_id prefix like the reference's ``site=``; role:/tool:
    are null-safe equality (so a negation keeps null-attribute docs);
    before:/after: compare ``ts`` against an ISO-8601 instant — validated
    eagerly so a typo fails the query loudly instead of silently matching
    nothing through a null cast; exists:COLUMN keeps docs whose named
    docs-table attribute is non-null (the ES ``exists`` query —
    ``-exists:tool`` keeps the tool-less docs)."""
    if field == "site":
        return F.col("conv_id").startswith(value)
    if field == "exists":
        if not re.match(r"^[A-Za-z_][A-Za-z0-9_]*$", value):
            raise ValueError(f"exists:{value} — value must be a docs "
                             "column name")
        return F.col(value).isNotNull()
    if field in ("before", "after"):
        from datetime import datetime
        try:
            ts = datetime.fromisoformat(value)
        except ValueError:
            raise ValueError(
                f"{field}:{value} — value must be ISO 8601 "
                "(2026-01-01 or 2026-01-01T12:30:00)") from None
        lit = F.lit(ts).cast("timestamp")
        return F.col("ts") < lit if field == "before" else F.col("ts") >= lit
    return F.col(field).eqNullSafe(value)


def parse_query(qstr: str) -> dict:
    """Lex a query string into its clause lists.

    Returns {"terms": [...], "phrases": [...], "not_terms": [...],
    "not_phrases": [...], "spans": [(words, window), ...], "not_spans":
    [...], "ospans"/"not_ospans": [...] (the ``~N!`` in-order spans, same
    tuple shape), "qualifiers": [(field, value, negated), ...]} of raw
    (un-analyzed) strings — analysis happens downstream in each clause's
    own path so the grammar stays analyzer-agnostic. A quoted clause with
    one word degrades to a plain term clause (a one-word "phrase"/span
    constrains nothing beyond term presence, which the ranked/NOT paths
    already express without a positional decode)."""
    out = {"terms": [], "phrases": [], "not_terms": [], "not_phrases": [],
           "spans": [], "not_spans": [], "ospans": [], "not_ospans": [],
           "groups": [], "qualifiers": [],
           "wildcards": [], "not_wildcards": [], "min_match": None,
           "fuzzies": [], "not_fuzzies": [],
           "regexes": [], "not_regexes": [], "boosts": {}}
    for m in _TOKEN.finditer(qstr):
        if m.group(2) is not None:
            out["not_regexes" if m.group(1) == "-"
                else "regexes"].append(m.group(2))
        elif m.group(4) is not None:
            neg, body = m.group(3) == "-", m.group(4).strip()
            if not body:
                continue
            if len(body.split()) == 1:  # degenerate quote/span → term
                out["not_terms" if neg else "terms"].append(body)
            elif m.group(5) is not None:
                kind = "ospans" if m.group(6) else "spans"
                out[("not_" if neg else "") + kind].append(
                    (body, int(m.group(5))))
            else:
                out["not_phrases" if neg else "phrases"].append(body)
        elif m.group(8) is not None:
            neg = m.group(7) == "-"
            members = [w for w in re.split(r"[|\s]+", m.group(8)) if w]
            if not members:
                continue
            if neg:
                # -(a|b) bans docs containing ANY member — exactly what a
                # NOT clause per member already means; fold, don't special-case
                out["not_terms"].extend(members)
            elif len(members) == 1:  # degenerate group → term
                out["terms"].append(members[0])
            else:
                out["groups"].append(members)
        else:
            neg, word = m.group(9) == "-", m.group(10)
            if word == "-" or not word:
                continue
            mm = re.match(r"^min:(\d+)$", word)
            if mm:
                # DIRECTIVE, not a clause: minimum-should-match over the
                # query's positive words (search(min_match=); last wins)
                if neg:
                    raise ValueError("min: cannot be negated")
                out["min_match"] = int(mm.group(1))
                continue
            qm = _QUALIFIER.match(word)
            if qm:
                out["qualifiers"].append((qm.group(1), qm.group(2), neg))
            elif "*" in word and len(word.replace("*", "")) >= 2:
                # glob anywhere: pre*, *fix, a*b, *mid* — expansion decides
                # prefix fast path vs full-pattern dictionary scan
                out["not_wildcards" if neg else "wildcards"].append(word)
            elif (fz := re.match(r"^(.{2,})~([12])$", word)) \
                    and "*" not in word:
                # Lucene fuzzy term: word~1 / word~2 — expands against the
                # dictionary within N edits (suggest_corrections ranking)
                out["not_fuzzies" if neg else "fuzzies"].append(
                    (fz.group(1), int(fz.group(2))))
            elif (cb := re.match(r"^(.+?)\^(\d+(?:\.\d+)?)$", word)) \
                    and not neg:
                # Lucene caret boost: word^2 — a ranked term whose score
                # contribution is multiplied (search(term_boosts=); a
                # caret on a NOT term is meaningless and lexes as a term)
                out["terms"].append(cb.group(1))
                out["boosts"][cb.group(1)] = float(cb.group(2))
            else:
                out["not_terms" if neg else "terms"].append(word)
    return out


def _positional_specs(q: dict, negated: bool) -> list[tuple]:
    """(kind, words, window) of a parsed query's positive (or NOT) phrase,
    span and ordered-span clauses — the ``_positional_clause`` inputs."""
    p = "not_" if negated else ""
    return ([("phrase", w, 0) for w in q[p + "phrases"]]
            + [("span", w, n) for w, n in q[p + "spans"]]
            + [("ospan", w, n) for w, n in q[p + "ospans"]])


def _apply_synonyms(q: dict, synonyms: "dict | None", amode: str,
                    dictionary: str) -> None:
    """Query-time synonym expansion (the ES synonym-filter analog applied
    at QUERY time, so the index never needs rebuilding when the synonym
    table changes): a bare ranked term whose analyzed lemma has an entry
    becomes the OR-group [term, *synonyms] — docs containing ANY variant
    qualify, every variant ranks. Keys and terms match on their analyzed
    single-lemma form; multi-lemma keys/terms are left alone."""
    if not synonyms:
        return
    syn_of = {}
    for kk, vs in synonyms.items():
        kseq = analyze_text(kk, amode, dictionary=dictionary)
        if len(kseq) == 1:
            syn_of[kseq[0]] = list(vs)
    if not syn_of:
        return
    kept = []
    for t in q["terms"]:
        tseq = analyze_text(t, amode, dictionary=dictionary)
        if len(tseq) == 1 and tseq[0] in syn_of:
            q["groups"].append([t] + syn_of[tseq[0]])
        else:
            kept.append(t)
    q["terms"] = kept


def _resolve_grammar(index: dict, qstr: str, scope,
                     synonyms: "dict | None" = None) -> "dict | None":
    """Shared clause resolution for the grammar's single-query consumers
    (``query_search``, ``query_facets``): parse, expand wildcards into
    OR-groups, fold metadata qualifiers into the scope, resolve every
    positive clause (group/phrase/span) to ONE intersected candidate doc
    set and the NOT phrase/span clauses to a banned doc set.

    Returns None when the query can match nothing (no positive words, an
    unsatisfiable group/wildcard, an unmatchable positive clause, or an
    empty scope), else {"pos_words", "not_terms", "eff_scope",
    "exclude_docs", "persists"} — ``persists`` are the DataFrames the
    CALLER must register in ``_query_persists`` after its ranked call
    (they must outlive the lazy result's materialization; group doc sets
    registered by ``_resolve_exclusions`` land there the same way)."""
    q = parse_query(qstr)
    _apply_synonyms(q, synonyms, index.get("mode", "general"),
                    index.get("dictionary", "fixture"))
    # wildcards expand against the dictionary into OR-groups (kept as a
    # group even with one expansion — the containment constraint is the
    # wildcard's semantics); a positive no-match wildcard is
    # unsatisfiable, a negative one bans nothing. Regex terms (/pat/)
    # expand identically via the anchored dictionary scan.
    from searchengine_spark.operators.suggest import (expand_fuzzy,
                                                      expand_regex,
                                                      expand_wildcard)
    for p in q["wildcards"]:
        members = expand_wildcard(index, p)
        if not members:
            return None
        q["groups"].append(members)
    for p in q["not_wildcards"]:
        q["not_terms"].extend(expand_wildcard(index, p))
    for p in q["regexes"]:
        members = expand_regex(index, p)
        if not members:
            return None
        q["groups"].append(members)
    for p in q["not_regexes"]:
        q["not_terms"].extend(expand_regex(index, p))
    # fuzzy terms expand exactly like wildcards: OR-group (containment is
    # the fuzzy's semantics), positive no-match → unsatisfiable
    for w, d in q["fuzzies"]:
        members = expand_fuzzy(index, w, d)
        if not members:
            return None
        q["groups"].append(members)
    for w, d in q["not_fuzzies"]:
        q["not_terms"].extend(expand_fuzzy(index, w, d))
    pos_words = (q["terms"] + [w for p in q["phrases"] for w in p.split()]
                 + [w for p, _ in q["spans"] for w in p.split()]
                 + [w for p, _ in q["ospans"] for w in p.split()]
                 + [w for g in q["groups"] for w in g])
    if not pos_words:
        return None  # NOT-only / empty queries rank nothing, like search("")

    # metadata qualifiers → one docs-table predicate, ANDed into the scope
    # (semantics per _qualifier_pred: site: prefix, role:/tool: null-safe
    # equality, before:/after: ts range)
    pred = None
    for field, value, neg in q["qualifiers"]:
        c = _qualifier_pred(field, value)
        c = ~c if neg else c
        pred = c if pred is None else pred & c
    if pred is not None:
        if scope is None:
            scope = pred
        elif isinstance(scope, str):
            scope = F.col("conv_id").startswith(scope) & pred
        elif isinstance(scope, DataFrame):
            scope = (index["docs"]
                     .join(scope.select("doc_id"), "doc_id", "left_semi")
                     .filter(pred).select("doc_id"))
        else:
            scope = scope & pred

    release_query_caches(index)
    sc_user = _scope_info(index, scope) if scope is not None else None
    if scope is not None and sc_user is None:
        return None

    # positive clauses → one intersected candidate doc set; persisted
    # because _scope_info aggregates it (lo/hi/n) and the ranked pass
    # semi-joins it. OR-groups resolve through the NOT clause's decoder
    # (_resolve_exclusions is generically "union doc set of these terms").
    filt = None
    for g in q["groups"]:
        ds = _resolve_exclusions(index, " ".join(g), sc_user)
        if ds is None:
            return None  # no member in the dictionary → group unsatisfiable
        if sc_user is not None:
            # group decode is bucket-range pruned, not row-filtered: apply
            # the scope exactly before intersecting
            ds = ds.filter(F.col("doc_id").between(sc_user["lo"],
                                                   sc_user["hi"]))
            if not sc_user["contiguous"]:
                ds = ds.join(sc_user["sel"], "doc_id", "left_semi")
        filt = ds if filt is None else filt.join(ds, "doc_id", "left_semi")
    # every phrase/span clause, positive and NOT, in ONE matcher call
    pos_cl = [_positional_clause(index, "", i, kind, w, n) for i, (kind, w, n)
              in enumerate(_positional_specs(q, False))]
    neg_cl = [_positional_clause(index, "", len(pos_cl) + i, kind, w, n)
              for i, (kind, w, n) in enumerate(_positional_specs(q, True))]
    pairs, resolved = None, set()
    if pos_cl or neg_cl:
        pairs, resolved = _match_positions(index, pos_cl + neg_cl, sc_user)
        if any(c[1] not in resolved for c in pos_cl):
            return None  # an unmatchable positive clause → no results
    persists = []
    if pairs is not None:
        # one decode feeds both the candidate and the ban set
        pairs = pairs.select("clause", "doc_id").persist()
        persists.append(pairs)
    if pos_cl:
        # docs matching EVERY positive clause (one row per clause and doc)
        ds = (pairs.filter(F.col("clause") < len(pos_cl))
              .groupBy("doc_id").count()
              .filter(F.col("count") == len(pos_cl)).select("doc_id"))
        filt = ds if filt is None else filt.join(ds, "doc_id", "left_semi")
    eff_scope = scope
    if filt is not None:
        # the matcher already applied the user scope (sc_user) to its
        # decode, so the match set is ⊆ scope — no re-intersection needed
        filt = filt.persist()
        persists.append(filt)
        eff_scope = filt

    # NOT phrases/spans → banned doc set (merged with NOT terms downstream;
    # an unmatchable NOT clause bans nothing)
    xdocs = None
    if any(c[1] in resolved for c in neg_cl):
        xdocs = (pairs.filter(F.col("clause") >= len(pos_cl))
                 .select("doc_id").distinct().persist())
        persists.append(xdocs)
    return {"pos_words": pos_words, "not_terms": q["not_terms"],
            "eff_scope": eff_scope, "exclude_docs": xdocs,
            "persists": persists, "min_match": q["min_match"],
            "boosts": q.get("boosts") or None}


def query_search(index: dict, qstr: str, k: int = 10, mode: str = "bm25",
                 scope=None, offset: int = 0, with_snippets: bool = False,
                 with_titles: bool = False,
                 prune_blocks: "bool | str" = "auto",
                 collapse=None, per_group: int = 1,
                 search_after: "tuple | None" = None,
                 sort_by=None, sort_asc: bool = False,
                 boost_by=None,
                 synonyms: "dict | None" = None,
                 n_fragments: "int | None" = None,
                 k1: "float | None" = None,
                 b: "float | None" = None) -> DataFrame:
    """Ranked search driven by the query-string grammar (module
    docstring). Returns the same shape as ``search``:
    (doc_id, conv_id, turn_idx, role, tool, ts, score[, title][, snippet]),
    top-k by (score desc, doc_id asc), paginated by ``offset`` with
    absolute-rank page semantics.

    ``scope``/``with_snippets``/``with_titles``/``prune_blocks`` and
    ``collapse``/``per_group`` (field collapsing — at most per_group hits
    per docs-column value, see ``search``) pass through to ``search``; a
    user scope intersects with the phrase clauses' doc sets (both are
    candidate restrictions). Snippets highlight every positive word —
    bare and phrase constituents — since the ranked pass receives them
    all as its query. ``search_after``/``sort_by``/``sort_asc`` (cursor
    pagination and field-sorted retrieval, see ``search``) pass through
    unchanged — the grammar only shapes the candidate set. ``synonyms``
    ({word: [alternatives]}) expands matching bare terms into OR-groups
    at query time (see ``_apply_synonyms``)."""
    spark = index["docs"].sparkSession
    empty = spark.createDataFrame(
        [], "doc_id long, conv_id string, turn_idx int, role string, "
            "tool string, ts timestamp, score double")
    g = _resolve_grammar(index, qstr, scope, synonyms=synonyms)
    if g is None:
        return empty

    # search() releases _query_persists at its start; everything the
    # grammar resolution persisted (group doc sets registered by
    # _resolve_exclusions, plus the candidate/ban sets in g["persists"])
    # must outlive the returned lazy result's materialization — shield the
    # list across the call and hand the union to the NEXT query's release.
    held = index.pop("_query_persists", [])
    out = search(index, " ".join(g["pos_words"]), k=k, mode=mode,
                 prune_blocks=prune_blocks, with_snippets=with_snippets,
                 offset=offset, scope=g["eff_scope"],
                 with_titles=with_titles,
                 exclude=" ".join(g["not_terms"]) or None,
                 exclude_docs=g["exclude_docs"],
                 collapse=collapse, per_group=per_group,
                 search_after=search_after, sort_by=sort_by,
                 sort_asc=sort_asc, boost_by=boost_by,
                 min_match=g["min_match"], n_fragments=n_fragments,
                 k1=k1, b=b, term_boosts=g["boosts"])
    index.setdefault("_query_persists", []).extend(held + g["persists"])
    return out


def query_search_many(index: dict, queries: dict[str, str], k: int = 10,
                      mode: str = "bm25", scope=None, offset: int = 0,
                      with_snippets: bool = False,
                      with_titles: bool = False,
                      collapse=None, per_group: int = 1,
                      search_after: "dict | tuple | None" = None,
                      sort_by=None, sort_asc: bool = False,
                      boost_by=None,
                      synonyms: "dict | None" = None,
                      k1: "float | None" = None,
                      b: "float | None" = None) -> DataFrame:
    """Batched query-LANGUAGE replay: run MANY grammar query strings
    (module docstring — terms, "phrases", "spans"~N, (or|groups),
    -NOT clauses, field:qualifiers) with the amortized plan shape of
    ``search_many``, returning identical rows to per-query
    ``query_search``: (query_id, rank, doc_id, conv_id, turn_idx, role,
    tool, ts, score[, title][, snippet]), rank 1..k per query.

    Execution is the batched composition of the single path's pieces:

    - every positional clause in the batch — positive AND negative phrase/
      span clauses of every query — resolves in ONE positional decode over
      the union vocabulary (``search._match_positions``);
    - OR-group doc sets ride ``search_many``'s own scoring decode (group
      members are ranked terms, so they're already in its union —
      resolution is a broadcast join, no extra scan);
    - metadata qualifiers become per-query docs-table doc sets (one
      filter-union scan for the batch's qualifier-bearing queries);
    - each restricted query's candidates = docs satisfying ALL its
      positive clauses, applied inside ``search_many`` as ONE
      (query_id, doc_id) semi-join before ranking; NOT phrase/span sets
      ride the batched anti-join as ``exclude_pairs``.

    So a batch of N grammar queries costs one positional decode + one
    scoring decode + one ranking job, independent of N — versus N
    ``query_search`` jobs. ``scope`` is shared by the whole batch;
    ``offset``/``with_snippets``/``collapse``/``per_group`` and
    ``search_after``/``sort_by``/``sort_asc`` as in
    ``search_many``. Per-query empty
    semantics match the single path: a query with no positive words, an
    unsatisfiable group, or an unmatchable positive phrase/span clause
    contributes no rows; an unmatchable NOT clause bans nothing."""
    spark = index["docs"].sparkSession
    release_query_caches(index)
    amode = index.get("mode", "general")
    dictionary = index.get("dictionary", "fixture")
    empty = spark.createDataFrame(
        [], "query_id string, rank int, doc_id long, conv_id string, "
            "turn_idx int, role string, tool string, ts timestamp, "
            "score double"
            + (", title string" if with_titles else "")
            + (", snippet string" if with_snippets else ""))
    sc = _scope_info(index, scope) if scope is not None else None
    if scope is not None and sc is None:
        return empty
    parsed = {qid: parse_query(s) for qid, s in queries.items()}
    for q in parsed.values():
        _apply_synonyms(q, synonyms, amode, dictionary)

    # wildcard/regex expansion first — expansions become OR-groups (and
    # NOT terms), so they must exist before the batch-wide member
    # resolution below; a positive no-match wildcard/regex kills its query
    from searchengine_spark.operators.suggest import (expand_fuzzy,
                                                      expand_regex,
                                                      expand_wildcard)
    wc_dead: set[str] = set()
    for qid, q in parsed.items():
        for p in q["wildcards"]:
            members = expand_wildcard(index, p)
            if not members:
                wc_dead.add(qid)
                break
            q["groups"].append(members)
        if qid not in wc_dead:
            for p in q["regexes"]:
                members = expand_regex(index, p)
                if not members:
                    wc_dead.add(qid)
                    break
                q["groups"].append(members)
        if qid not in wc_dead:
            for w, d in q["fuzzies"]:
                members = expand_fuzzy(index, w, d)
                if not members:
                    wc_dead.add(qid)
                    break
                q["groups"].append(members)
        if qid in wc_dead:
            continue
        for p in q["not_wildcards"]:
            q["not_terms"].extend(expand_wildcard(index, p))
        for p in q["not_regexes"]:
            q["not_terms"].extend(expand_regex(index, p))
        for w, d in q["not_fuzzies"]:
            q["not_terms"].extend(expand_fuzzy(index, w, d))
    parsed = {qid: q for qid, q in parsed.items() if qid not in wc_dead}

    # group members resolve with plain resolution across the whole batch
    # (single-path analog: _resolve_exclusions never df-prunes)
    member_terms = sorted({t for q in parsed.values() for g in q["groups"]
                           for t in _query_terms(" ".join(g), amode,
                                                 dictionary)})
    id_of, df_of = (_resolve_ids_dfs(index, member_terms)
                    if member_terms else ({}, {}))

    next_cid = iter(range(10 ** 9))
    ranked_q: dict[str, str] = {}
    excl_q: dict[str, str] = {}
    group_rows: list[tuple] = []          # (qid, cid, term_id, df)
    positional: list[tuple] = []  # phrase/span clauses, positive and NOT
    qual_preds: list[tuple] = []          # (qid, cid, Column)
    pos_cids: dict[str, list[int]] = {}   # positive positional clause ids
    neg_cids: set[int] = set()
    arity: dict[str, int] = {}
    site_like: set[str] = set()
    for qid, q in parsed.items():
        pos_words = (q["terms"]
                     + [w for p in q["phrases"] for w in p.split()]
                     + [w for p, _ in q["spans"] for w in p.split()]
                     + [w for p, _ in q["ospans"] for w in p.split()]
                     + [w for g in q["groups"] for w in g])
        if not pos_words:
            continue  # NOT-only / qualifier-only queries rank nothing
        n_cl, dead, my_pos = 0, False, []
        for g in q["groups"]:
            seq = _query_terms(" ".join(g), amode, dictionary)
            tids = sorted({(id_of[t], df_of[t]) for t in seq if t in id_of})
            if not tids:
                dead = True  # no member in the dictionary → unsatisfiable
                break
            cid = next(next_cid)
            group_rows.extend((qid, cid, t, d) for t, d in tids)
            n_cl += 1
        if not dead:
            # an unresolved positive clause empties the query (below)
            for kind, w, n in _positional_specs(q, False):
                positional.append(_positional_clause(
                    index, qid, next(next_cid), kind, w, n))
                my_pos.append(positional[-1][1])
                n_cl += 1
        if dead:
            continue
        # metadata qualifiers → ONE extra clause (their conjunction)
        pred = None
        for field, value, neg in q["qualifiers"]:
            c = _qualifier_pred(field, value)
            c = ~c if neg else c
            pred = c if pred is None else pred & c
        if pred is not None:
            cid = next(next_cid)
            qual_preds.append((qid, cid, pred))
            n_cl += 1
            if n_cl == 1:
                # qualifier-only restriction → site semantics in ref_compat
                # (single-path analog: the predicate folds into `scope`)
                site_like.add(qid)
        # negative positional clauses (unmatchable ones ban nothing)
        for kind, w, n in _positional_specs(q, True):
            positional.append(_positional_clause(
                index, qid, next(next_cid), kind, w, n))
            neg_cids.add(positional[-1][1])
        ranked_q[qid] = " ".join(pos_words)
        if q["not_terms"]:
            excl_q[qid] = " ".join(q["not_terms"])
        if n_cl:
            arity[qid] = n_cl
        pos_cids[qid] = my_pos
    if not ranked_q:
        return empty

    # ONE positional decode for every phrase/span clause in the batch
    persists = []
    exclude_pairs = None
    scope_clauses = None
    if positional:
        pairs, matched = _match_positions(index, positional, sc)
        # a positive clause that can't match empties its whole query
        dead_q = {qid for qid, cids in pos_cids.items()
                  if any(c not in matched for c in cids)}
        if dead_q:
            ranked_q = {q: s for q, s in ranked_q.items() if q not in dead_q}
            excl_q = {q: s for q, s in excl_q.items() if q not in dead_q}
            arity = {q: n for q, n in arity.items() if q not in dead_q}
            site_like -= dead_q
            group_rows = [r for r in group_rows if r[0] not in dead_q]
            if not ranked_q:
                return empty
        if pairs is not None:
            pairs = pairs.select("query_id", "clause", "doc_id").persist()
            persists.append(pairs)
            neg = sorted(neg_cids)
            if neg:
                exclude_pairs = pairs.filter(F.col("clause").isin(neg)) \
                    .select("query_id", "doc_id")
                scope_clauses = pairs.filter(~F.col("clause").isin(neg))
            else:
                scope_clauses = pairs

    # qualifier doc sets (intersected with the shared scope, so a
    # restricted query's candidates stay ⊆ scope like every clause set) —
    # ONE docs scan for the whole batch: each row emits the (query, clause)
    # tags whose predicate it satisfies via a literal when-array explode,
    # instead of one filtered scan + union per qualifier-bearing query
    qual_df = None
    live_preds = [(qid, cid, pred) for qid, cid, pred in qual_preds
                  if qid in ranked_q]
    if live_preds:
        tags = F.array_compact(F.array(*[
            F.when(pred, F.struct(F.lit(qid).alias("query_id"),
                                  F.lit(int(cid)).cast("int")
                                  .alias("clause")))
            for qid, cid, pred in live_preds]))
        qual_df = (index["docs"]
                   .select(F.explode(tags).alias("_qc"), "doc_id")
                   .select(F.col("_qc.query_id").alias("query_id"),
                           F.col("_qc.clause").alias("clause"), "doc_id"))
    if qual_df is not None:
        if sc is not None:
            qual_df = _scope_filter(qual_df, sc)
        scope_clauses = (qual_df if scope_clauses is None
                         else scope_clauses.unionByName(qual_df))

    group_rows = [r for r in group_rows if r[0] in ranked_q]
    mm = {qid: parsed[qid]["min_match"] for qid in ranked_q
          if parsed[qid].get("min_match")}
    held = index.pop("_query_persists", [])
    out = search_many(index, ranked_q, k=k, mode=mode, scope=scope,
                      with_snippets=with_snippets, offset=offset,
                      with_titles=with_titles,
                      min_match=mm or None,
                      exclude=excl_q or None,
                      scope_clauses=scope_clauses,
                      group_clauses=group_rows or None,
                      clause_arity=arity or None,
                      site_like=site_like or None,
                      exclude_pairs=exclude_pairs,
                      collapse=collapse, per_group=per_group,
                      search_after=search_after, sort_by=sort_by,
                      sort_asc=sort_asc, boost_by=boost_by,
                      k1=k1, b=b)
    index.setdefault("_query_persists", []).extend(held + persists)
    return out


def query_count(index: dict, qstr: str, mode: str = "bm25",
                scope=None, synonyms: "dict | None" = None) -> DataFrame:
    """Total-hits count for a grammar query — ``search_count`` × the query
    language: EXACTLY ONE row ``(n_matches long)``, the size of the full
    match set under every grammar constraint (phrase/span/group candidate
    sets, NOT clauses, qualifiers, ``min:m``), 0 included. Clause
    resolution is ``query_search``'s; counting is the facet count-plan
    (one decode, no WAND, no top-k)."""
    spark = index["docs"].sparkSession
    g = _resolve_grammar(index, qstr, scope, synonyms=synonyms)
    if g is None:
        return spark.createDataFrame([(0,)], "n_matches long")
    held = index.pop("_query_persists", [])
    out = search_count(index, " ".join(g["pos_words"]), mode=mode,
                       scope=g["eff_scope"],
                       exclude=" ".join(g["not_terms"]) or None,
                       exclude_docs=g["exclude_docs"],
                       min_match=g["min_match"])
    index.setdefault("_query_persists", []).extend(held + g["persists"])
    return out


def query_facets(index: dict, qstr: str, by="role", mode: str = "bm25",
                 scope=None, require_all: "bool | None" = None,
                 synonyms: "dict | None" = None) -> DataFrame:
    """Facet panels over a grammar query's FULL match set — the sidebar
    aggregation for a query-language query: how many matching docs per
    value of a docs-table attribute (or several attributes in one job —
    ``by`` takes everything ``search_facets(by=)`` takes).

    Pure composition: the clauses resolve exactly as in ``query_search``
    (wildcards → OR-groups, qualifiers → scope predicate, positive
    phrase/span/group clauses → one intersected candidate doc set, NOT
    phrase/span clauses → a banned set), then ``search_facets`` counts the
    ranked words' match set within those candidates minus the bans — the
    same bucket-pruned single decode pass + two narrow aggregations; no
    top-k, no WAND. ``require_all``/match semantics follow
    ``search_facets`` (ref_compat → all terms, bm25 → any). Returns
    (facet, n_docs) — or (dim, facet, n_docs) for multi-dimension ``by`` —
    with ``search_facets``'s ordering."""
    spark = index["docs"].sparkSession
    multi = isinstance(by, (list, tuple, dict))
    empty = spark.createDataFrame(
        [], ("dim string, facet string, n_docs long" if multi
             else "facet string, n_docs long"))
    g = _resolve_grammar(index, qstr, scope, synonyms=synonyms)
    if g is None:
        return empty
    held = index.pop("_query_persists", [])
    out = search_facets(index, " ".join(g["pos_words"]), by=by, mode=mode,
                        scope=g["eff_scope"],
                        exclude=" ".join(g["not_terms"]) or None,
                        exclude_docs=g["exclude_docs"],
                        require_all=require_all,
                        min_match=g["min_match"])
    index.setdefault("_query_persists", []).extend(held + g["persists"])
    return out


def query_select(index: dict, qstr: str, mode: str = "bm25",
                 scope=None, require_all: "bool | None" = None,
                 synonyms: "dict | None" = None,
                 with_text: bool = False) -> DataFrame:
    """Full match-set export for a GRAMMAR query — ``search_select`` × the
    query language: every doc matching the query string (phrase/span/group
    candidate sets, NOT clauses, qualifiers, ``min:m``, wildcards/regex/
    fuzzy/synonyms) as a distributed DataFrame with scores, no top-k. The
    "select the training subset by query" surface: the result feeds
    ``.write`` / dedup / sampling directly.

    Pure composition: clause resolution is ``query_search``'s
    (``_resolve_grammar``), the export is ``search_select`` over the
    ranked words within the clause candidates minus the bans. Returns
    ``search_select``'s shape (doc_id, conv_id, turn_idx, role, tool, ts,
    nt, score[, text]); no ordering contract."""
    from searchengine_spark.operators.search import search_select
    spark = index["docs"].sparkSession
    empty = spark.createDataFrame(
        [], "doc_id long, conv_id string, turn_idx int, role string, "
            "tool string, ts timestamp, nt long, score double"
            + (", text string" if with_text else ""))
    g = _resolve_grammar(index, qstr, scope, synonyms=synonyms)
    if g is None:
        return empty
    held = index.pop("_query_persists", [])
    out = search_select(index, " ".join(g["pos_words"]), mode=mode,
                        scope=g["eff_scope"],
                        exclude=" ".join(g["not_terms"]) or None,
                        exclude_docs=g["exclude_docs"],
                        require_all=require_all,
                        min_match=g["min_match"], with_text=with_text)
    index.setdefault("_query_persists", []).extend(held + g["persists"])
    return out


def query_search_bm25f(index: dict, fielded: dict, qstr: str, k: int = 10,
                       scope=None, offset: int = 0,
                       weights: "dict[str, float] | None" = None,
                       with_snippets: bool = False,
                       with_titles: bool = False,
                       collapse=None, per_group: int = 1,
                       search_after: "tuple | None" = None,
                       sort_by=None, sort_asc: bool = False,
                       boost_by=None,
                       synonyms: "dict | None" = None) -> DataFrame:
    """Grammar-driven search RANKED BY BM25F — the query language with the
    fielded scorer (title/role/tool-weighted) instead of flat BM25.

    ``index`` is the (positional) MAIN index: every clause resolves on it
    exactly as in ``query_search`` (wildcards → OR-groups via its
    dictionary, phrase/span matching on its positional postings, group
    doc sets from its postings, qualifiers → scope predicate). ``fielded``
    is the BM25F index built over the SAME corpus — both assign dense
    doc_ids over (conv_id, turn_idx), so the two share a doc_id space and
    the clause candidate set rides ``bm25f_search(scope=<doc set>)``
    unchanged; NOT phrase/span sets ride its ``exclude_docs`` anti-join,
    NOT terms its ``exclude``. Returns ``bm25f_search``'s shape
    (doc_id, conv_id, turn_idx, role, tool, ts, score[, title]
    [, snippet]), top-k by (score desc, doc_id asc)."""
    from searchengine_spark.operators.fielded import bm25f_search
    spark = fielded["docs"].sparkSession
    empty = spark.createDataFrame(
        [], "doc_id long, conv_id string, turn_idx int, role string, "
            "tool string, ts timestamp, score double"
            + (", title string" if with_titles else "")
            + (", snippet string" if with_snippets else ""))
    g = _resolve_grammar(index, qstr, scope, synonyms=synonyms)
    if g is None:
        return empty
    if g.get("min_match") is not None:
        raise ValueError("min: is not supported on the fielded path "
                         "(bm25f_search has no min_match semantics yet)")
    # shield the grammar's persists (registered in the MAIN index dict)
    # across the fielded call; the fielded search only releases the
    # FIELDED dict's caches, but the main dict's next query must not free
    # these before this result materializes either
    held = index.pop("_query_persists", [])
    out = bm25f_search(fielded, " ".join(g["pos_words"]), k=k,
                       weights=weights, scope=g["eff_scope"],
                       offset=offset, with_snippets=with_snippets,
                       with_titles=with_titles,
                       exclude=" ".join(g["not_terms"]) or None,
                       exclude_docs=g["exclude_docs"],
                       collapse=collapse, per_group=per_group,
                       search_after=search_after, sort_by=sort_by,
                       sort_asc=sort_asc, boost_by=boost_by)
    index.setdefault("_query_persists", []).extend(held + g["persists"])
    return out
