"""Layout guard for the BM25/ref_compat top-k path: ``search`` (a batch of
one) and ``search_many`` are thin wrappers over one planner in
``search.py`` — ``_topk_matches`` (resolve, decode, scope, NOT, the
per-(query, doc) ``nt``/``tf_sum``/``bm25`` aggregate) and ``_topk`` (the
ranking tail and the winners' docs join with titles and snippets). A
scored aggregate or a title/snippet projection anywhere else in the query
modules, a DataFrame built by either wrapper, or a private flag that
turns a wrapper into a second entry point is a new copy of a step that
has exactly one owner. ``_match_set`` (the count family: facets, count,
select, grouped) keeps its own match-set aggregate."""

from __future__ import annotations

import ast
import pathlib

OPS = pathlib.Path(__file__).resolve().parents[1] / "searchengine_spark" / "operators"
QUERY_MODULES = ("search.py", "querylang.py", "boolean.py", "hybrid.py",
                 "sharded.py", "passages.py")
AGGREGATE_OWNERS = {("search.py", "_topk_matches"), ("search.py", "_match_set")}
PROJECTION_OWNERS = {("search.py", "_topk")}
TITLES_AND_SNIPPETS = {"extract_title", "snippet_col", "fragments_col",
                       "make_snippet", "make_fragments", "expand_query_words"}
WRAPPERS = {"search", "search_many"}
# DataFrame-building calls (and the read-path steps that start a plan)
PLAN_CALLS = {"join", "groupBy", "agg", "filter", "where", "withColumn",
              "select", "orderBy", "sort", "limit", "union", "unionByName",
              "createDataFrame", "broadcast", "resolve_terms", "_scope_info",
              "pcache_split", "_posting_rows", "_term_blocks",
              "_decode_blocks", "_match_set"}


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


def _calls(fn) -> "list[ast.Call]":
    return [n for n in ast.walk(fn) if isinstance(n, ast.Call)]


def _aliases(fn) -> set:
    """String aliases given anywhere in a function."""
    return {c.args[0].value for c in _calls(fn)
            if _name(c) == "alias" and c.args
            and isinstance(c.args[0], ast.Constant)}


def test_scored_aggregate_only_in_planner():
    owners = set()
    for fname, fn in _functions():
        if ({"nt", "tf_sum", "bm25"} <= _aliases(fn)
                and any(_name(c) == "agg" for c in _calls(fn))):
            owners.add((fname, fn.name))
    assert owners == AGGREGATE_OWNERS, sorted(owners ^ AGGREGATE_OWNERS)


def test_titles_and_snippets_only_in_planner_tail():
    owners = set()
    for fname, fn in _functions():
        if fname != "search.py":
            continue
        for call in _calls(fn):
            if _name(call) in TITLES_AND_SNIPPETS:
                owners.add((fname, fn.name))
    assert owners == PROJECTION_OWNERS, sorted(owners ^ PROJECTION_OWNERS)


def test_wrappers_build_no_plan():
    seen = {}
    for fname, fn in _functions():
        if fname == "search.py" and fn.name in WRAPPERS:
            seen[fn.name] = {_name(c) for c in _calls(fn)}
    assert set(seen) == WRAPPERS
    for name, calls in seen.items():
        assert "_topk" in calls, name
        assert not calls & PLAN_CALLS, (name, sorted(calls & PLAN_CALLS))


def test_full_set_flag_is_gone():
    for fname, fn in _functions():
        params = {a.arg for a in ast.walk(fn) if isinstance(a, ast.arg)}
        kws = {k.arg for c in _calls(fn) for k in c.keywords}
        assert "_full_set" not in params | kws, (fname, fn.name)
