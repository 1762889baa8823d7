"""Layout guard for the shared positional query path: every phrase, near
and span match — in the six positional operators, the query grammar,
boolean leaves, rescore and percolation — runs through the one matcher
in ``search.py``: ``_match_positions`` (resolve + positional decode +
scope filter) → ``_match_clauses`` (per-kind fan-out and matching) →
``_span_scan`` (the span kernels). A positional decode or a span scan
(``F.aggregate``) anywhere else, a retired per-family matcher, or a
per-query ``createDataFrame`` broadcast map in a positional function is a
new copy of a step that has exactly one owner."""

from __future__ import annotations

import ast
import pathlib

OPS = pathlib.Path(__file__).resolve().parents[1] / "searchengine_spark" / "operators"
QUERY_MODULES = ("search.py", "querylang.py", "boolean.py", "percolate.py")
DECODER = ("search.py", "_match_positions")
SCANNER = ("search.py", "_span_scan")
RETIRED = {"_phrase_match_docs", "_span_match_docs", "_ordered_span_agg",
           "_clause_match_pairs", "_int_cursor_filter", "_phrase_matches",
           "_span_matches", "_span_window_filter", "_ospan_chain_filter"}
# functions that serve positional queries; none may build a literal
# lookup as a broadcast createDataFrame (``_fanout_by_term`` owns that
# fallback for huge batches)
POSITIONAL = {"_match_positions", "_match_clauses", "_span_scan",
              "_positional_search", "_banned_pairs", "_clause_matches",
              "phrase_search", "phrase_search_many", "near_search",
              "near_search_many", "span_search", "span_search_many",
              "rescore_search", "_resolve_grammar", "query_search_many",
              "_leaf_docs"}


def _calls(fn) -> "list[ast.Call]":
    return [n for n in ast.walk(fn) if isinstance(n, ast.Call)]


def _name(call: ast.Call) -> "str | None":
    f = call.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _functions():
    """(file, top-level function node) for every query module."""
    for name in QUERY_MODULES:
        tree = ast.parse((OPS / name).read_text(), filename=name)
        for top in tree.body:
            if isinstance(top, ast.FunctionDef):
                yield name, top


def test_decode_and_span_scans_only_in_matcher():
    owners = {"_decode_positions": set(), "aggregate": set()}
    for fname, fn in _functions():
        for call in _calls(fn):
            if _name(call) in owners:
                owners[_name(call)].add((fname, fn.name))
    assert owners["_decode_positions"] == {DECODER}, owners
    assert owners["aggregate"] == {SCANNER}, owners


def test_retired_positional_helpers_are_gone():
    defined = {fn.name for _, fn in _functions()}
    assert {DECODER[1], SCANNER[1], "_match_clauses"} <= defined
    assert not defined & RETIRED, sorted(defined & RETIRED)


def test_positional_functions_build_no_broadcast_maps():
    seen, offenders = set(), []
    for fname, fn in _functions():
        if fn.name not in POSITIONAL:
            continue
        seen.add(fn.name)
        for call in _calls(fn):
            if _name(call) == "broadcast" and any(
                    _name(c) == "createDataFrame" for c in _calls(call)):
                offenders.append((fname, fn.name))
    assert seen == POSITIONAL, sorted(POSITIONAL - seen)
    assert not offenders, offenders
