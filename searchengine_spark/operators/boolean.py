"""Recursive boolean queries — Lucene ``BooleanQuery`` with arbitrary
nesting over the engine's clause machinery.

The flat query language (``operators/querylang.py``) is an implicit AND
of clauses with one level of OR-groups; this module adds the full
boolean algebra a power user writes::

    bool_search(index, '(merge AND ("hash join" OR scan)) AND NOT stream')

Grammar (recursive descent, explicit operators only)::

    expr    := orExpr
    orExpr  := andExpr (OR andExpr)*
    andExpr := unary (AND unary)*
    unary   := NOT unary | '(' expr ')' | leaf
    leaf    := "quoted phrase"[~N[!]] | field:value | term

Operator precedence NOT > AND > OR; operands MUST be joined by an
explicit AND/OR (no implicit conjunction — adjacent operands are a parse
error, keeping the algebra unambiguous). NOT is only meaningful where
the surrounding context bounds it: every AND (and the top level) must
have at least one positive conjunct — a pure-NOT (sub)query is
unbounded and raises, and ``x OR NOT y`` raises for the same reason
(matching Lucene's prohibited-clause rules).

Semantics — the standard filter-context / scoring-context split:

- the TREE decides the candidate set by set algebra over leaf doc sets
  (term → posting docs, phrase/span → positional match docs, qualifier
  → docs-table predicate; AND → semi-join, OR → distinct union,
  AND NOT → anti-join);
- the RANKING is one ordinary BM25 ``search`` over every scoring term
  in the tree (term/phrase/span words not under a NOT), restricted to
  the candidates via the DataFrame-scope path. Candidates that contain
  no scoring term (possible only via qualifier-only branches) rank
  nothing — use ``bool_count`` for the full candidate-set size.

Scale shape: one bucket-pruned decode per distinct leaf, doc-id-keyed
joins for the algebra (broadcast under SCOPE_BROADCAST_MAX via the
scope path), and the same WAND-pruned single ranked job as ``search``.
No reference analog (its query language is conjunctive terms only,
services/SearchingServiceImpl.java:30-201).
"""
from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from searchengine_spark.operators.querylang import _qualifier_pred
from searchengine_spark.operators.search import (
    _empty, _match_positions, _positional_clause, _resolve_exclusions,
    release_query_caches, search)

__all__ = ["parse_bool", "bool_search", "bool_count"]

_LEX = re.compile(
    r'\(|\)'
    r'|"([^"]*)"(?:~(\d+)(!?))?'
    r'|([^\s()]+)')


def _tokens(expr: str) -> list:
    out = []
    for m in _LEX.finditer(expr):
        if m.group(0) == "(":
            out.append(("(",))
        elif m.group(0) == ")":
            out.append((")",))
        elif m.group(1) is not None:
            body = m.group(1).strip()
            if not body:
                raise ValueError("empty quoted clause")
            if m.group(2) is not None:
                out.append(("span", body, int(m.group(2)),
                            bool(m.group(3))))
            elif len(body.split()) == 1:
                out.append(("term", body))
            else:
                out.append(("phrase", body))
        else:
            w = m.group(4)
            up = w.upper()
            if up in ("AND", "OR", "NOT"):
                out.append((up,))
            else:
                qm = re.match(r"^(site|role|tool|before|after|exists):(.+)$",
                              w)
                if qm:
                    out.append(("qual", qm.group(1), qm.group(2)))
                else:
                    out.append(("term", w))
    return out


class _P:
    def __init__(self, toks):
        self.t, self.i = toks, 0

    def peek(self):
        return self.t[self.i] if self.i < len(self.t) else None

    def next(self):
        tok = self.peek()
        self.i += 1
        return tok


def parse_bool(expr: str):
    """Parse a boolean expression into its tree:
    ("or"|"and", [children]) / ("not", child) / leaf tuples
    ("term", w), ("phrase", p), ("span", p, n, ordered),
    ("qual", field, value). Raises ValueError on malformed input,
    implicit conjunction, or an unbounded NOT."""
    p = _P(_tokens(expr))
    tree = _or(p)
    if p.peek() is not None:
        raise ValueError(f"unexpected token after expression: {p.peek()}")
    _check_bounded(tree, top=True)
    return tree


def _or(p: _P):
    parts = [_and(p)]
    while p.peek() == ("OR",):
        p.next()
        parts.append(_and(p))
    return parts[0] if len(parts) == 1 else ("or", parts)


def _and(p: _P):
    parts = [_unary(p)]
    while True:
        nxt = p.peek()
        if nxt == ("AND",):
            p.next()
            parts.append(_unary(p))
        elif nxt is not None and nxt[0] not in (")", "OR"):
            raise ValueError(
                f"operands must be joined by AND/OR (at {nxt}) — "
                "the boolean grammar has no implicit conjunction")
        else:
            break
    return parts[0] if len(parts) == 1 else ("and", parts)


def _unary(p: _P):
    tok = p.peek()
    if tok is None:
        raise ValueError("unexpected end of expression")
    if tok == ("NOT",):
        p.next()
        return ("not", _unary(p))
    if tok == ("(",):
        p.next()
        inner = _or(p)
        if p.next() != (")",):
            raise ValueError("unbalanced parentheses")
        return inner
    if tok[0] in ("term", "phrase", "span", "qual"):
        p.next()
        return tok
    raise ValueError(f"unexpected token {tok}")


def _check_bounded(node, top: bool = False) -> None:
    kind = node[0]
    if kind == "not":
        if top:
            raise ValueError("pure-NOT query is unbounded")
        _check_bounded(node[1])
    elif kind == "and":
        if all(c[0] == "not" for c in node[1]):
            raise ValueError("an AND needs at least one positive conjunct "
                             "(pure-NOT is unbounded)")
        for c in node[1]:
            _check_bounded(c[1] if c[0] == "not" else c)
    elif kind == "or":
        for c in node[1]:
            if c[0] == "not":
                raise ValueError("NOT under OR is unbounded — write "
                                 "x AND NOT y")
            _check_bounded(c)


def _leaf_docs(index: dict, node, spark) -> DataFrame:
    empty = _empty(spark, "doc_id long")
    kind = node[0]
    if kind == "term":
        ds = _resolve_exclusions(index, node[1], None)
        return empty() if ds is None else ds
    if kind in ("phrase", "span"):
        clause = (_positional_clause(index, "", 0, "phrase", node[1])
                  if kind == "phrase" else
                  _positional_clause(index, "", 0,
                                     "ospan" if node[3] else "span",
                                     node[1], node[2]))
        m, _ = _match_positions(index, [clause], None, f"{kind} matching")
        return empty() if m is None else m.select("doc_id")
    if kind == "qual":
        return (index["docs"].filter(_qualifier_pred(node[1], node[2]))
                .select("doc_id"))
    raise ValueError(f"not a leaf: {node}")


def _eval(index: dict, node, spark) -> DataFrame:
    kind = node[0]
    if kind in ("term", "phrase", "span", "qual"):
        return _leaf_docs(index, node, spark)
    if kind == "or":
        out = None
        for c in node[1]:
            ds = _eval(index, c, spark)
            out = ds if out is None else out.unionByName(ds)
        return out.distinct()
    if kind == "and":
        pos = [c for c in node[1] if c[0] != "not"]
        neg = [c[1] for c in node[1] if c[0] == "not"]
        out = None
        for c in pos:
            ds = _eval(index, c, spark)
            out = ds if out is None else out.join(ds, "doc_id", "left_semi")
        for c in neg:
            out = out.join(_eval(index, c, spark), "doc_id", "left_anti")
        return out
    raise ValueError(f"bad node {node}")


def _scoring_words(node) -> list[str]:
    kind = node[0]
    if kind == "term":
        return node[1].split()
    if kind == "phrase":
        return node[1].split()
    if kind == "span":
        return node[1].split()
    if kind == "qual":
        return []
    if kind == "not":
        return []
    return [w for c in node[1] for w in _scoring_words(c)]


def bool_search(index: dict, expr: str, k: int = 10,
                with_snippets: bool = False, with_titles: bool = False,
                offset: int = 0, n_fragments: "int | None" = None,
                k1: "float | None" = None,
                b: "float | None" = None) -> DataFrame:
    """Ranked recursive-boolean search (module docstring): evaluate the
    tree to a candidate doc set, then BM25-rank the candidates over the
    tree's scoring terms through the ordinary ``search`` DataFrame-scope
    path (same plan, same tie-breaks, same snippet/title/pagination and
    query-time ``k1``/``b`` surfaces). bm25 only — ref_compat's
    conjunction contradicts an OR tree by construction."""
    spark = index["docs"].sparkSession
    tree = parse_bool(expr)
    words = sorted(set(_scoring_words(tree)))
    empty = _empty(
        spark, "doc_id long, conv_id string, turn_idx int, role string, "
              "tool string, ts timestamp, score double")
    if not words:
        return empty()
    release_query_caches(index)  # previous query's caches only
    cand = _eval(index, tree, spark).persist()
    # shield everything the evaluation persisted (leaf doc sets register
    # themselves in _query_persists) across search()'s own release, then
    # hand the union to the NEXT query's release — the querylang pattern
    held = index.pop("_query_persists", [])
    out = search(index, " ".join(words), k=k, mode="bm25", scope=cand,
                 with_snippets=with_snippets, with_titles=with_titles,
                 offset=offset, n_fragments=n_fragments, k1=k1, b=b)
    index.setdefault("_query_persists", []).extend(held + [cand])
    return out


def bool_search_many(index: dict, exprs: "dict[str, str]", k: int = 10,
                     with_snippets: bool = False,
                     with_titles: bool = False, offset: int = 0,
                     k1=None, b=None) -> DataFrame:
    """Batched recursive-boolean replay: MANY boolean trees ranked in ONE
    shared job. Distinct LEAVES resolve once across the whole batch (a
    term/phrase/span appearing in several trees decodes a single time —
    the leaf cache), each query's algebra is doc_id-keyed joins over the
    shared sets, and the ranked pass rides ``search_many``'s union
    decode with the candidate sets applied through its
    ``scope_clauses``/``clause_arity`` hooks (each query restricted to
    its own tree's doc set). Returns (query_id, rank, doc_id, conv_id,
    turn_idx, role, tool, ts, score[, title][, snippet]) — row-identical
    to per-query ``bool_search``. Queries whose trees carry no scoring
    term contribute no rows (single-path contract)."""
    from searchengine_spark.operators.search import search_many
    spark = index["docs"].sparkSession
    trees = {qid: parse_bool(e) for qid, e in exprs.items()}
    words = {qid: sorted(set(_scoring_words(t)))
             for qid, t in trees.items()}
    ranked_q = {qid: " ".join(ws) for qid, ws in words.items() if ws}
    empty = _empty(
        spark, "query_id string, rank int, doc_id long, conv_id string, "
              "turn_idx int, role string, tool string, ts timestamp, "
              "score double")
    if not ranked_q:
        return empty()
    release_query_caches(index)
    cache: dict = {}

    def _eval_shared(node) -> DataFrame:
        kind = node[0]
        if kind in ("term", "phrase", "span", "qual"):
            if node not in cache:
                cache[node] = _leaf_docs(index, node, spark)
            return cache[node]
        if kind == "or":
            out = None
            for c in node[1]:
                ds = _eval_shared(c)
                out = ds if out is None else out.unionByName(ds)
            return out.distinct()
        pos = [c for c in node[1] if c[0] != "not"]
        neg = [c[1] for c in node[1] if c[0] == "not"]
        out = None
        for c in pos:
            ds = _eval_shared(c)
            out = ds if out is None else out.join(ds, "doc_id", "left_semi")
        for c in neg:
            out = out.join(_eval_shared(c), "doc_id", "left_anti")
        return out

    parts = []
    for qid in ranked_q:
        parts.append(_eval_shared(trees[qid])
                     .select(F.lit(qid).alias("query_id"),
                             F.lit(0).alias("clause"), "doc_id"))
    clauses = parts[0] if len(parts) == 1 else parts[0]
    for p in parts[1:]:
        clauses = clauses.unionByName(p)
    clauses = clauses.persist()
    held = index.pop("_query_persists", [])
    out = search_many(index, ranked_q, k=k, with_snippets=with_snippets,
                      with_titles=with_titles, offset=offset,
                      scope_clauses=clauses,
                      clause_arity={qid: 1 for qid in ranked_q},
                      k1=k1, b=b)
    index.setdefault("_query_persists", []).extend(held + [clauses])
    return out


def bool_select(index: dict, expr: str,
                with_text: bool = False) -> DataFrame:
    """Full match-set EXPORT for a boolean tree — every candidate doc
    with its BM25 score over the tree's scoring terms (the
    ``search_select`` scroll surface × the boolean algebra: select a
    training subset by an arbitrary AND/OR/NOT expression in one call).
    Candidates containing no scoring term (possible only via
    qualifier-only branches) carry no decoded row and drop, like the
    ranked path — ``bool_count`` reports the raw candidate size.
    Returns ``search_select``'s schema."""
    spark = index["docs"].sparkSession
    tree = parse_bool(expr)
    words = sorted(set(_scoring_words(tree)))
    empty = _empty(
        spark, "doc_id long, conv_id string, turn_idx int, role string, "
              "tool string, ts timestamp, nt long, score double"
              + (", text string" if with_text else ""))
    if not words:
        return empty()
    from searchengine_spark.operators.search import search_select
    release_query_caches(index)
    cand = _eval(index, tree, spark).persist()
    held = index.pop("_query_persists", [])
    out = search_select(index, " ".join(words), scope=cand,
                        with_text=with_text)
    index.setdefault("_query_persists", []).extend(held + [cand])
    return out


def bool_count(index: dict, expr: str) -> DataFrame:
    """Candidate-set size of a boolean expression — EXACTLY ONE row
    ``(n_matches long)``, qualifier-only branches included (unlike the
    ranked page, which needs a scoring term; see module docstring)."""
    spark = index["docs"].sparkSession
    tree = parse_bool(expr)
    release_query_caches(index)  # leaf persists stay registered for the
    # NEXT query's release (they must outlive this lazy result)
    cand = _eval(index, tree, spark)
    return cand.agg(F.count("*").cast("long").alias("n_matches"))
