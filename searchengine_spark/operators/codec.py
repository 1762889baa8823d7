"""Delta+varint posting-block codec, fully numpy-vectorized.

The reference stores one uncompressed row per posting in a B-tree table
(reference: model/IndexEntity.java:10-24 — (page_id, lemma_id, rank_value)).
At 10^12-turn scale that layout is untenable; per the north rule we
block-compress posting lists: doc-id deltas + tfs as LEB128 varints in
fixed-size blocks with per-block max-score metadata (block-max WAND).

Pure numpy throughout (vectorized encode/decode — no per-value Python loop)
so it runs fast inside Arrow-batched pandas UDFs.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128

# varint byte-count boundaries: value v needs searchsorted(bounds, v, 'right')+1 bytes
_BOUNDS = np.array([(1 << (7 * k)) - 1 for k in range(1, 10)], dtype=np.uint64)


def varint_encode(vals: np.ndarray) -> bytes:
    """LEB128-encode an array of non-negative ints, vectorized."""
    vals = np.asarray(vals, dtype=np.uint64)
    if len(vals) == 0:
        return b""
    nb = np.searchsorted(_BOUNDS, vals, side="right").astype(np.int64) + 1
    max_b = int(nb.max())
    shifts = (np.arange(max_b, dtype=np.uint64) * np.uint64(7))
    chunks = (vals[:, None] >> shifts[None, :]) & np.uint64(0x7F)
    chunks = chunks.astype(np.uint8)
    j = np.arange(max_b)
    keep = j[None, :] < nb[:, None]
    cont = j[None, :] < (nb[:, None] - 1)
    chunks[cont] |= 0x80
    return chunks[keep].tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes back to uint64 array, vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.zeros(0, dtype=np.uint64)
    term = (b & 0x80) == 0
    n_vals = int(term.sum())
    gid = np.zeros(len(b), dtype=np.int64)
    gid[1:] = np.cumsum(term[:-1])
    starts = np.zeros(n_vals, dtype=np.int64)
    starts[1:] = np.flatnonzero(term)[:-1] + 1
    pos = np.arange(len(b), dtype=np.uint64) - starts[gid].astype(np.uint64)
    vals = np.zeros(n_vals, dtype=np.uint64)
    np.bitwise_or.at(vals, gid, (b & np.uint8(0x7F)).astype(np.uint64) << (pos * np.uint64(7)))
    return vals


def encode_block(doc_ids: np.ndarray, tfs: np.ndarray) -> tuple[int, int, bytes, bytes]:
    """One block of a posting list (doc_ids strictly increasing).

    Returns (first_doc_id, n, doc_deltas, tfs_bytes); doc_ids are
    reconstructed as first_doc_id + cumsum([0] + deltas).
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    n = len(doc_ids)
    deltas = np.diff(doc_ids).astype(np.uint64)
    return int(doc_ids[0]), n, varint_encode(deltas), varint_encode(np.asarray(tfs, dtype=np.uint64))


def decode_block(first_doc_id: int, n: int, doc_deltas: bytes, tfs: bytes) -> tuple[np.ndarray, np.ndarray]:
    deltas = varint_decode(doc_deltas).astype(np.int64)
    doc_ids = np.empty(n, dtype=np.int64)
    doc_ids[0] = first_doc_id
    if n > 1:
        doc_ids[1:] = first_doc_id + np.cumsum(deltas)
    return doc_ids, varint_decode(tfs).astype(np.int64)


def split_blocks(doc_ids: np.ndarray, tfs: np.ndarray, scores: np.ndarray,
                 block_size: int = BLOCK_SIZE):
    """Yield (block_id, first_doc_id, n, deltas, tfs, block_max_score)."""
    order = np.argsort(doc_ids, kind="stable")
    doc_ids, tfs, scores = doc_ids[order], tfs[order], scores[order]
    for bid, lo in enumerate(range(0, len(doc_ids), block_size)):
        hi = min(lo + block_size, len(doc_ids))
        first, n, d, t = encode_block(doc_ids[lo:hi], tfs[lo:hi])
        yield bid, first, n, d, t, float(scores[lo:hi].max())


def decode_doc_ids_batch(first_doc_ids: np.ndarray, ns: np.ndarray,
                         deltas_buf: bytes) -> np.ndarray:
    """Reconstruct doc_ids for MANY blocks in one pass.

    ``deltas_buf`` is the concatenation of the blocks' doc_deltas buffers in
    order; each block i contributes ns[i]-1 deltas (its first doc_id is
    stored out-of-band in first_doc_ids). One varint_decode + one segmented
    cumsum replaces a per-block Python loop — decoding a 10^5-posting term
    is one numpy pass instead of ~10^3 DataFrame constructions.
    """
    ns = np.asarray(ns, dtype=np.int64)
    total = int(ns.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    deltas = varint_decode(deltas_buf).astype(np.int64)
    starts = np.cumsum(ns) - ns
    vals = np.empty(total, dtype=np.int64)
    vals[starts] = np.asarray(first_doc_ids, dtype=np.int64)
    mask = np.ones(total, dtype=bool)
    mask[starts] = False
    vals[mask] = deltas
    g = np.cumsum(vals)
    corr = g[starts] - np.asarray(first_doc_ids, dtype=np.int64)
    return g - np.repeat(corr, ns)


def decode_postings(first_doc_ids: np.ndarray, ns: np.ndarray,
                    deltas_buf: bytes, tfs_buf: bytes,
                    dls_buf: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Many blocks' concatenated (doc_deltas, tfs, dls) buffers →
    (doc_ids, tfs, dls) int64 arrays, one numpy pass per stream. The one
    block decode every read path shares: the executor-side mapInPandas
    decoder and the driver-side hot tier, WAND θ and BM25F θ passes."""
    return (decode_doc_ids_batch(first_doc_ids, ns, deltas_buf),
            varint_decode(tfs_buf).astype(np.int64),
            varint_decode(dls_buf).astype(np.int64))
