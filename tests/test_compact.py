"""Compaction and shard merge (operators/compact.py).

compact_index must reproduce a fresh build FROM THE INDEX ITSELF (no text
re-analysis): after an upsert+delete chain, compact(reassign_ids=True) is
byte-identical to build_index over the equivalent corpus — blocks, term
dictionary, bounds, stats. merge_indexes must fold two disjoint shard
builds into an index that answers every query exactly like the combined
build, with the left shard's blocks passing through byte-identical, and
merge→compact must round-trip to the combined build byte-identically.
"""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from searchengine_spark.operators.compact import compact_index, merge_indexes
from searchengine_spark.operators.indexer import build_index
from searchengine_spark.operators.search import phrase_search, search
from searchengine_spark.operators.upsert import delete_turns, upsert_turns

SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
          "tool string, ts timestamp")
VOCAB = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "omega"]


def _mk_df(spark, rows):
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                      "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    return spark.createDataFrame(pdf, schema=SCHEMA)


@pytest.fixture(scope="module")
def rows():
    rng = random.Random(20260818)
    return [(f"c{i % 9}", i // 9, "user",
             " ".join(rng.choice(VOCAB) for _ in range(rng.randint(2, 12))),
             None, "2026-01-01 00:00:00")
            for i in range(90)]


def _build(spark, rows, **kw):
    return build_index(_mk_df(spark, rows), mode="general",
                       bucket_range=64, block_size=8, **kw)


# the combined build and the two halves' builds, shared by the merge tests
# (the operators under test read their inputs and never change them)
@pytest.fixture(scope="module")
def combined(spark, rows):
    return _build(spark, rows)


@pytest.fixture(scope="module")
def left_ix(spark, rows):
    return _build(spark, _split(rows)[0])


@pytest.fixture(scope="module")
def right_ix(spark, rows):
    return _build(spark, _split(rows)[1])


@pytest.fixture(scope="module")
def right_pos(spark, rows):
    return _build(spark, _split(rows)[1], with_positions=True)


def _ranked(index, q, mode="bm25", **kw):
    return [(r["conv_id"], r["turn_idx"], round(r["score"], 9))
            for r in search(index, q, k=50, mode=mode, **kw).collect()]


def _postings_rows(index):
    cols = ["term_id", "block_id", "first_doc_id", "n", "doc_deltas", "tfs",
            "dls", "block_max_score", "block_max_tf", "block_min_dl"]
    if index["stats"].get("positions"):
        cols.append("pos")
    rows = index["postings"].select(*cols).collect()
    out = []
    for r in rows:
        t = [r[c] for c in cols]
        t = [bytes(v) if isinstance(v, (bytearray, bytes)) else v for v in t]
        # float column: round for a stable byte-level comparison across
        # plans (same formula, same inputs — observed identical; the round
        # guards against nondeterministic agg order in future refactors)
        t[8] = round(t[8], 9)
        out.append(tuple(t))
    return sorted(out)


def _terms_rows(index):
    return sorted(
        (r["term"], r["term_id"], r["df"], round(r["max_score"], 9),
         r["max_tf"], r["min_dl"])
        for r in index["terms"].collect())


def _chain(spark, rows, **build_kw):
    """build → upsert (2 replace + 1 insert) → delete one conv; returns
    (chained_index, equivalent corpus rows)."""
    base = build_index(_mk_df(spark, rows), mode="general",
                       bucket_range=64, block_size=8, **build_kw)
    delta_rows = [("c2", 1, "user", "alpha alpha omega replacement", None,
                   "2026-02-01 00:00:00"),
                  ("c5", 3, "user", "beta gamma rewrite", None,
                   "2026-02-01 00:00:00"),
                  ("zz_new", 0, "user", "zeta zeta delta fresh insert", None,
                   "2026-02-01 00:00:00")]
    up = upsert_turns(base, _mk_df(spark, delta_rows))
    chained = delete_turns(up, F.col("conv_id") == "c7")
    repl = {(c, t): (c, t, r, x, tl, ts) for c, t, r, x, tl, ts in delta_rows}
    eq_rows = [repl.pop((c, t), (c, t, r, x, tl, ts))
               for c, t, r, x, tl, ts in rows if c != "c7"]
    eq_rows += list(repl.values())
    return chained, eq_rows


def test_compact_reassign_equals_rebuild(spark, rows):
    """The headline claim: compact(reassign_ids=True) == build_index on the
    equivalent corpus, byte-identical, with zero text re-analysis."""
    chained, eq_rows = _chain(spark, rows)
    assert chained["stats"].get("tf_bounds")  # chain left stale stored bounds
    compacted = compact_index(chained, reassign_ids=True)
    rebuilt = build_index(_mk_df(spark, eq_rows), mode="general",
                          bucket_range=64, block_size=8)
    assert not compacted["stats"].get("tf_bounds")
    assert _terms_rows(compacted) == _terms_rows(rebuilt)
    assert _postings_rows(compacted) == _postings_rows(rebuilt)
    for s in ("n_docs", "total_tokens", "n_terms"):
        assert compacted["stats"][s] == rebuilt["stats"][s]
    assert abs(compacted["stats"]["avgdl"] - rebuilt["stats"]["avgdl"]) < 1e-12
    # doc ids re-densified in (conv_id, turn_idx) order == rebuild's
    cd = sorted((r["conv_id"], r["turn_idx"], r["doc_id"])
                for r in compacted["docs"].collect())
    rd = sorted((r["conv_id"], r["turn_idx"], r["doc_id"])
                for r in rebuilt["docs"].collect())
    assert cd == rd
    for q in ("alpha", "alpha gamma", "zeta delta"):
        assert _ranked(compacted, q) == _ranked(rebuilt, q)
    # contiguous conv-prefix scope fast path restored by re-densification
    from searchengine_spark.operators.search import _scope_info
    assert _scope_info(compacted, "c3")["contiguous"]
    assert _ranked(compacted, "alpha gamma", scope="c3") == \
        _ranked(rebuilt, "alpha gamma", scope="c3")


def test_compact_inplace_keeps_ids_and_results(spark, rows):
    """Without reassign_ids: ids stable, results identical to pre-compact,
    stored bounds exact again (tf_bounds cleared)."""
    chained, _ = _chain(spark, rows)
    compacted = compact_index(chained)
    assert not compacted["stats"].get("tf_bounds")
    # same doc_id space (holes preserved)
    assert sorted(r["doc_id"] for r in compacted["docs"].collect()) == \
        sorted(r["doc_id"] for r in chained["docs"].collect())
    assert _terms_rows_no_bounds(compacted) == _terms_rows_no_bounds(chained)
    for q in ("alpha", "beta gamma", "zeta"):
        assert _ranked(compacted, q) == _ranked(chained, q)
        assert _ranked(compacted, q, mode="ref_compat") == \
            _ranked(chained, q, mode="ref_compat")


def _terms_rows_no_bounds(index):
    return sorted((r["term"], r["term_id"], r["df"])
                  for r in index["terms"].collect())


def test_compact_positional_and_geometry_change(spark, rows):
    """Positional chains compact exactly (phrase parity vs rebuild), and
    compaction may re-layout to a different geometry."""
    chained, eq_rows = _chain(spark, rows, with_positions=True)
    compacted = compact_index(chained, bucket_range=32, block_size=4,
                              reassign_ids=True)
    rebuilt = build_index(_mk_df(spark, eq_rows), mode="general",
                          bucket_range=32, block_size=4, with_positions=True)
    assert compacted["stats"]["bucket_range"] == 32
    assert compacted["stats"]["block_size"] == 4
    assert _postings_rows(compacted) == _postings_rows(rebuilt)
    pc = [(r["conv_id"], r["turn_idx"], r["n_matches"]) for r in
          phrase_search(compacted, "alpha alpha", k=50).collect()]
    pr = [(r["conv_id"], r["turn_idx"], r["n_matches"]) for r in
          phrase_search(rebuilt, "alpha alpha", k=50).collect()]
    assert pc == pr and pc
    # post-compaction upsert uses the NEW geometry (guard reads stats)
    again = upsert_turns(compacted, _mk_df(
        spark, [("c1", 0, "user", "omega omega", None,
                 "2026-03-01 00:00:00")]))
    assert again["stats"]["bucket_range"] == 32


def _split(rows):
    left = [r for r in rows if r[0] in ("c0", "c1", "c2", "c3")]
    right = [r for r in rows if r[0] not in ("c0", "c1", "c2", "c3")]
    return left, right


def test_merge_matches_combined_build(left_ix, right_ix, combined):
    """Two disjoint shard builds merged == one build over the union: term
    df identical, every query rank- AND score-identical, left-shard blocks
    byte-identical in the merged postings."""
    ia, ib = left_ix, right_ix
    merged = merge_indexes(ia, ib)
    md = {r["term"]: r["df"] for r in merged["terms"].collect()}
    cd = {r["term"]: r["df"] for r in combined["terms"].collect()}
    assert md == cd
    for s in ("n_docs", "total_tokens"):
        assert merged["stats"][s] == combined["stats"][s]
    assert abs(merged["stats"]["avgdl"] - combined["stats"]["avgdl"]) < 1e-12
    for q in ("alpha", "alpha gamma", "beta delta epsilon"):
        assert _ranked(merged, q) == _ranked(combined, q)
        assert _ranked(merged, q, mode="ref_compat") == \
            _ranked(combined, q, mode="ref_compat")
    # a's blocks pass through untouched (byte-identical subset)
    a_rows = _postings_rows(ia)
    m_rows = set(_postings_rows_anyterms(merged))
    # a's term_ids are preserved for a's terms, so a's rows appear verbatim
    assert all(t in m_rows for t in a_rows)


def _postings_rows_anyterms(index):
    return _postings_rows(index)


def test_merge_positional_and_scoped(spark, rows, right_pos):
    left, right = _split(rows)
    ia = build_index(_mk_df(spark, left), mode="general",
                     bucket_range=64, block_size=8, with_positions=True)
    ib = right_pos
    merged = merge_indexes(ia, ib)
    combined = build_index(_mk_df(spark, rows), mode="general",
                           bucket_range=64, block_size=8,
                           with_positions=True)
    pm = [(r["conv_id"], r["turn_idx"], r["n_matches"]) for r in
          phrase_search(merged, "alpha beta", k=50).collect()]
    pc = [(r["conv_id"], r["turn_idx"], r["n_matches"]) for r in
          phrase_search(combined, "alpha beta", k=50).collect()]
    assert pm == pc and pm
    # scope on a merged index (doc space has a bucket-aligned gap): falls
    # back to the semi-join path, same results
    assert _ranked(merged, "alpha gamma", scope="c5") == \
        _ranked(combined, "alpha gamma", scope="c5")


def test_merge_then_compact_equals_combined_build(left_ix, right_ix,
                                                  combined):
    """The LSM round-trip: shard builds → cheap merge → compact(reassign)
    == the combined build, byte-identical."""
    merged = merge_indexes(left_ix, right_ix)
    assert merged["stats"].get("tf_bounds")
    compacted = compact_index(merged, reassign_ids=True)
    assert _terms_rows(compacted) == _terms_rows(combined)
    assert _postings_rows(compacted) == _postings_rows(combined)


def test_merge_fielded_matches_combined_build(spark, rows):
    """Fielded shard merge: per-field dictionaries fold exactly (df_field
    summed, bounds max/min), blocks rigid-shift without decode, and BM25F
    ranking is rank- AND score-identical to the combined build immediately
    (no compaction debt — fielded bounds are stats-independent)."""
    from searchengine_spark.operators.compact import merge_fielded_indexes
    from searchengine_spark.operators.fielded import (
        bm25f_search, build_fielded_index)
    left, right = _split(rows)
    fa = build_fielded_index(_mk_df(spark, left), mode="general",
                             bucket_range=64, block_size=8)
    fb = build_fielded_index(_mk_df(spark, right), mode="general",
                             bucket_range=64, block_size=8)
    merged = merge_fielded_indexes(fa, fb)
    combined = build_fielded_index(_mk_df(spark, rows), mode="general",
                                   bucket_range=64, block_size=8)
    for fname in ("title", "body"):
        md = {r["term"]: r["df_field"]
              for r in merged["fields"][fname]["terms"].collect()}
        cd = {r["term"]: r["df_field"]
              for r in combined["fields"][fname]["terms"].collect()}
        assert md == cd
        assert abs(merged["fields"][fname]["avgdl"]
                   - combined["fields"][fname]["avgdl"]) < 1e-12
    assert merged["stats"]["n_docs"] == combined["stats"]["n_docs"]
    for q in ("alpha", "alpha gamma", "beta delta"):
        gm = [(r["conv_id"], r["turn_idx"], round(r["score"], 9))
              for r in bm25f_search(merged, q, k=50).collect()]
        gc = [(r["conv_id"], r["turn_idx"], round(r["score"], 9))
              for r in bm25f_search(combined, q, k=50).collect()]
        assert gm == gc and gm
    # left shard's body blocks pass through byte-identical
    def _rows(ix, fname):
        return sorted(
            (r["term_id"], r["block_id"], r["first_doc_id"], r["n"],
             bytes(r["doc_deltas"]), bytes(r["tfs"]), bytes(r["dls"]))
            for r in ix["fields"][fname]["postings"].collect())
    assert set(_rows(fa, "body")) <= set(_rows(merged, "body"))
    # guards: overlapping corpora & mismatched fields
    import pytest as _pytest
    with _pytest.raises(ValueError, match="disjoint"):
        merge_fielded_indexes(fa, fa)
    fc = build_fielded_index(_mk_df(spark, right), mode="general",
                             fields={"body": F.col("text")},
                             bucket_range=64, block_size=8)
    with _pytest.raises(ValueError, match="field names"):
        merge_fielded_indexes(fa, fc)


def test_merge_guards(spark, rows, left_ix, right_pos):
    left, right = _split(rows)
    ia = left_ix
    with pytest.raises(ValueError, match="disjoint"):
        merge_indexes(ia, ia)
    ic = build_index(_mk_df(spark, right), mode="general",
                     bucket_range=32, block_size=8)
    with pytest.raises(ValueError, match="geometry"):
        merge_indexes(ia, ic)
    ip = right_pos
    with pytest.raises(ValueError, match="positional"):
        merge_indexes(ia, ip)


def test_compact_into_path_snapshot_flow(spark, combined, tmp_path_factory):
    """Persisted compaction: save → commit → upsert snapshot →
    compact_into_path → CURRENT flips → loaded snapshot has exact bounds
    and identical results."""
    from searchengine_spark.operators.compact import compact_into_path
    from searchengine_spark.operators.upsert import merge_into_path
    from searchengine_spark.plans.manifest import commit_snapshot, read_current
    from searchengine_spark.plans.manifest import load_index, save_index

    base = combined
    root = str(tmp_path_factory.mktemp("cmproot"))
    save_index(base, f"{root}/snap-00000")
    commit_snapshot(root, "snap-00000")
    merge_into_path(spark, root, _mk_df(
        spark, [("c4", 2, "user", "omega omega compact target", None,
                 "2026-02-01 00:00:00")]))
    upserted = load_index(spark, read_current(root))
    assert upserted["stats"].get("tf_bounds")
    new_dir = compact_into_path(spark, root, reassign_ids=True)
    assert read_current(root) == new_dir
    loaded = load_index(spark, new_dir)
    assert not loaded["stats"].get("tf_bounds")
    for q in ("alpha", "omega", "beta gamma"):
        assert _ranked(loaded, q) == _ranked(upserted, q)
