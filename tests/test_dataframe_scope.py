"""A DataFrame ``scope`` is a pre-resolved candidate set, not a site: its
terms keep GLOBAL df semantics in both top-k entry points. The sharpest
case is a scope that is one term's own match set — every scoped doc holds
the term, so a per-scope 80 %-df prune would drop it and return nothing.
``search_many`` must return what per-query ``search`` returns."""

from __future__ import annotations

import pytest

from searchengine_spark.operators.search import (search, search_many,
                                                 search_select)


def _rows(rows):
    return [(r["doc_id"], round(r["score"], 9)) for r in rows]


@pytest.mark.parametrize("mode", ["ref_compat", "bm25"])
@pytest.mark.parametrize("query", ["лес", "лес дом"])
def test_dataframe_scope_batched_equals_single(index_general, index_ref,
                                               mode, query):
    index = index_ref if mode == "ref_compat" else index_general
    scope = search_select(index, "лес", mode=mode).select("doc_id")
    single = search(index, query, k=10, mode=mode, scope=scope).collect()
    batch = search_many(index, {"a": query, "b": "дом"}, k=10, mode=mode,
                        scope=scope).collect()
    got = sorted((r for r in batch if r["query_id"] == "a"),
                 key=lambda r: r["rank"])
    assert single, (mode, query)
    assert _rows(got) == _rows(single), (mode, query)
