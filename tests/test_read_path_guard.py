"""Layout guard for the shared posting read path: every query-time term
resolution goes through ``search.resolve_terms`` and every posting block
scan through ``search._term_blocks``. A ``term_bucket`` filter or a direct
call to a resolver branch anywhere else in ``operators/`` is a new copy of
a step that has exactly one owner."""

from __future__ import annotations

import ast
import pathlib

OPS = pathlib.Path(__file__).resolve().parents[1] / "searchengine_spark" / "operators"

# term_bucket may appear only in the block selector and in the fielded
# write/load paths (partitioned saves); plans/manifest.py is outside OPS
TERM_BUCKET_OWNERS = {("search.py", "_term_blocks"),
                      ("fielded.py", "save_fielded_index"),
                      ("fielded.py", "load_fielded_index")}
RESOLVER_BRANCHES = {"_resolve_terms_driver", "_resolve_terms_paged"}
RESOLVER_OWNERS = {("search.py", "resolve_terms")}


def _scan() -> tuple[set, set]:
    """(file, top-level function) pairs holding a term_bucket filter /
    a direct resolver-branch call."""
    buckets, resolvers = set(), set()
    for path in sorted(OPS.glob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for top in tree.body:
            owner = (path.name, getattr(top, "name", "<module>"))
            for node in ast.walk(top):
                if not isinstance(node, ast.Call):
                    continue
                fn = node.func
                name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
                if name in RESOLVER_BRANCHES:
                    resolvers.add(owner)
                strs = [a.value for a in node.args
                        if isinstance(a, ast.Constant) and isinstance(a.value, str)]
                if name == "col" and "term_bucket" in strs:
                    buckets.add(owner)
                if name in ("filter", "where") and any("term_bucket" in s for s in strs):
                    buckets.add(owner)
    return buckets, resolvers


def test_term_bucket_filters_only_in_block_selector():
    buckets, _ = _scan()
    assert ("search.py", "_term_blocks") in buckets  # the guard sees the owner
    assert buckets <= TERM_BUCKET_OWNERS, sorted(buckets - TERM_BUCKET_OWNERS)


def test_resolver_branches_called_only_by_resolve_terms():
    _, resolvers = _scan()
    assert resolvers == RESOLVER_OWNERS, sorted(resolvers ^ RESOLVER_OWNERS)
