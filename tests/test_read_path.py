"""The shared posting read path (operators/search.py): ``_term_blocks``
selects blocks (term-bucket partition pruning, term_id filter, scope
doc-bucket pruning) and ``_decode_blocks`` emits raw (term_id, doc_id, tf,
dl) rows. Over a saved, term-bucket-partitioned index they must reproduce
the uncompressed postings exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

from searchengine_spark.operators.search import (_decode_blocks, _scope_filter,
                                                 _scope_info, _term_blocks)
from searchengine_spark.plans.manifest import load_index, save_index


def _rows(df):
    return sorted(tuple(r) for r in
                  df.select("term_id", "doc_id", "tf", "dl").collect())


def test_selector_and_decoder_match_flat_postings(spark, index_general,
                                                  tmp_path_factory):
    path = str(tmp_path_factory.mktemp("read_path_idx"))
    save_index(index_general, path)
    loaded = load_index(spark, path)
    assert loaded["stats"]["term_buckets"]
    assert "term_bucket" in loaded["postings"].columns
    # the most frequent terms (multi-block lists) plus a few rare ones
    by_df = [r["term_id"] for r in
             loaded["terms"].orderBy(F.col("df").desc(), "term_id").collect()]
    term_ids = sorted(by_df[:4] + by_df[-3:])
    sc = _scope_info(loaded, "conv00001")
    assert sc["contiguous"]
    got = _scope_filter(
        _decode_blocks(_term_blocks(loaded, term_ids, sc), sum_df=10_000), sc)
    want = (index_general["postings_flat"]
            .filter(F.col("term_id").isin(term_ids)
                    & F.col("doc_id").between(sc["lo"], sc["hi"]))
            .join(index_general["docs"].select("doc_id", "dl"), "doc_id"))
    expected = _rows(want)
    assert expected and _rows(got) == expected
    # bucket pruning reads fewer blocks than the unscoped selection
    assert (_term_blocks(loaded, term_ids, sc).count()
            < _term_blocks(loaded, term_ids).count())
