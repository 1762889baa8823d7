"""Delta+varint codec property tests (numpy-vectorized LEB128)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from searchengine_spark.operators.codec import (
    decode_block, decode_doc_ids_batch, decode_positions, encode_block,
    split_blocks, varint_decode, varint_encode)


@given(st.lists(st.integers(min_value=0, max_value=2**62 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr)), arr)


def test_varint_boundaries():
    bounds = []
    for k in range(1, 9):
        bounds += [(1 << (7 * k)) - 1, 1 << (7 * k), (1 << (7 * k)) + 1]
    arr = np.array([0, 1] + bounds, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr)), arr)


@given(st.sets(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=400))
@settings(max_examples=100, deadline=None)
def test_block_roundtrip(ids):
    doc_ids = np.array(sorted(ids), dtype=np.int64)
    tfs = (doc_ids % 97 + 1).astype(np.int64)
    f, n, d, t = encode_block(doc_ids, tfs)
    got_ids, got_tfs = decode_block(f, n, d, t)
    assert np.array_equal(got_ids, doc_ids)
    assert np.array_equal(got_tfs, tfs)


@given(st.lists(st.sets(st.integers(min_value=0, max_value=10**12),
                        min_size=1, max_size=200),
                min_size=0, max_size=20))
@settings(max_examples=100, deadline=None)
def test_decode_doc_ids_batch_matches_per_block(blocks):
    """Batched segmented decode == per-block decode over ANY block mix
    (including single-posting blocks, where the deltas buffer is empty)."""
    firsts, ns, bufs, expected = [], [], [], []
    for ids in blocks:
        doc_ids = np.array(sorted(ids), dtype=np.int64)
        tfs = np.ones(len(doc_ids), dtype=np.int64)
        f, n, d, _ = encode_block(doc_ids, tfs)
        firsts.append(f)
        ns.append(n)
        bufs.append(d)
        expected.append(doc_ids)
    got = decode_doc_ids_batch(
        np.array(firsts, dtype=np.int64), np.array(ns, dtype=np.int64),
        b"".join(bufs))
    want = (np.concatenate(expected) if expected
            else np.zeros(0, dtype=np.int64))
    assert np.array_equal(got, want)


def test_split_blocks_covers_all_and_max():
    rng = np.random.default_rng(7)
    ids = np.unique(rng.integers(0, 10**6, 1000)).astype(np.int64)
    tfs = rng.integers(1, 50, len(ids)).astype(np.int64)
    dls = rng.integers(1, 500, len(ids)).astype(np.int64)
    scores = rng.random(len(ids))
    cols = split_blocks(ids, tfs, dls, scores=scores, block_size=128)
    out_ids, out_tfs, lo = [], [], 0
    for i, (first, n, d, t) in enumerate(zip(
            cols["first_doc_id"], cols["n"], cols["doc_deltas"], cols["tfs"])):
        di, ti = decode_block(first, n, d, t)
        out_ids.append(di)
        out_tfs.append(ti)
        assert n <= 128
        assert cols["block_max_score"][i] == scores[lo:lo + n].max()
        assert cols["block_max_tf"][i] == tfs[lo:lo + n].max()
        assert cols["block_min_dl"][i] == dls[lo:lo + n].min()
        assert np.array_equal(varint_decode(cols["dls"][i]), dls[lo:lo + n])
        lo += n
    assert np.array_equal(np.concatenate(out_ids), ids)
    assert np.array_equal(np.concatenate(out_tfs), tfs)
    assert "pos" not in cols


@given(st.lists(st.sets(st.integers(min_value=0, max_value=5000),
                        min_size=1, max_size=6),
                min_size=1, max_size=300),
       st.integers(min_value=1, max_value=64))
@settings(max_examples=100, deadline=None)
def test_split_blocks_positions_roundtrip(docs, block_size):
    """Per-doc position lists (tf = list length, tf=1 docs included) go
    through the splitter over one or many blocks; the codec position
    decoder returns them exactly, per block and over all blocks' streams
    concatenated (the batched read/write-path decode)."""
    plists = [sorted(p) for p in docs]
    ids = np.arange(len(plists), dtype=np.int64) * 3 + 1
    tfs = np.array([len(p) for p in plists], dtype=np.int64)
    cols = split_blocks(ids, tfs, tfs + 2, positions=plists,
                        block_size=block_size)
    assert len(cols["pos"]) == -(-len(plists) // block_size)
    lo = 0
    for n, tb, pb in zip(cols["n"], cols["tfs"], cols["pos"]):
        # reference format: each doc's positions diffed from 0, concatenated
        assert pb == varint_encode(np.concatenate(
            [np.diff(np.array(p, dtype=np.int64), prepend=0)
             for p in plists[lo:lo + n]]).astype(np.uint64))
        flat = decode_positions(varint_decode(tb), pb)
        assert flat.tolist() == [x for p in plists[lo:lo + n] for x in p]
        lo += n
    flat = decode_positions(tfs, b"".join(cols["pos"]))
    got = np.split(flat, np.cumsum(tfs)[:-1])
    assert [g.tolist() for g in got] == plists
