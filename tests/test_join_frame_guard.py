"""Guard for small join-feeding frames: under ``operators/`` and
``plans/`` no ``createDataFrame`` takes a non-empty Python list or a list
comprehension. A list-built frame is a Python RDD, so every scan of it
(each broadcast join it feeds) runs a Python worker to re-serialize the
rows; a pandas-built frame is a local relation, scanned by the JVM alone.
Frames handed back to the caller as a query's result rows, which nothing
joins against, are allowlisted by (file, top-level function)."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "searchengine_spark"
DIRS = ("operators", "plans")

# result frames: the caller reads them, nothing joins them
RESULTS = {("querylang.py", "query_count")}


def _list_built() -> set:
    """(file, top-level function) of every createDataFrame whose data
    argument is a non-empty list literal or a list comprehension."""
    found = set()
    for d in DIRS:
        for path in sorted((PKG / d).glob("*.py")):
            tree = ast.parse(path.read_text(), filename=str(path))
            for top in tree.body:
                for node in ast.walk(top):
                    if not (isinstance(node, ast.Call)
                            and isinstance(node.func, ast.Attribute)
                            and node.func.attr == "createDataFrame"
                            and node.args):
                        continue
                    arg = node.args[0]
                    if (isinstance(arg, ast.ListComp)
                            or (isinstance(arg, ast.List) and arg.elts)):
                        found.add((path.name, getattr(top, "name", "<module>")))
    return found


def test_no_list_built_join_frames():
    found = _list_built()
    assert found <= RESULTS, sorted(found - RESULTS)


def test_result_allowlist_is_current():
    """Every allowlisted site still builds its result from a list; a site
    that stopped doing so leaves the allowlist."""
    assert RESULTS <= _list_built(), sorted(RESULTS - _list_built())
