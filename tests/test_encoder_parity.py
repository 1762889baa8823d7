"""The Arrow-batched block encoder (``codec.block_encoder`` over
``codec.encode_blocks``) writes exactly the blocks ``codec.split_blocks``
writes for each (term_id, doc-range bucket) group on its own — also when
a group straddles two or more Arrow batches and is carried over — in the
pure kernel and behind every Spark writer."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from searchengine_spark.operators.codec import (block_encoder, block_fields,
                                                split_blocks)

BS = 4            # block size of every test here
BPB = 3           # blocks per bucket in the kernel property


def _reference(groups, scored, positional, block_size, bpb):
    """Per-group split_blocks output, concatenated, as block_fields rows."""
    rows = []
    for (term_id, bucket), g in groups:
        cols = split_blocks(
            g["doc_id"], g["tf"], g["dl"],
            scores=g["score"] if scored else None,
            positions=g["positions"] if positional else None,
            block_size=block_size)
        for j in range(len(cols["n"])):
            rows.append({"term_id": term_id, "block_id": bucket * bpb + j,
                         **{c: v[j] for c, v in cols.items()}})
    return rows


def _groups_strategy():
    # one group: (n postings in 1..3·BS+1, first doc, seed)
    return st.lists(st.tuples(st.integers(1, 3 * BS + 1),
                              st.integers(0, 2**40), st.integers(0, 2**16)),
                    min_size=1, max_size=8)


@given(_groups_strategy(), st.booleans(), st.booleans(),
       st.sampled_from(["int", "long"]),
       st.lists(st.integers(1, 40), min_size=1, max_size=6))
@settings(max_examples=120, deadline=None)
def test_batched_kernel_equals_per_group_split(spec, scored, positional,
                                               bound_type, cuts):
    """A sorted multi-group posting stream, cut into Arrow batches at
    arbitrary points (groups straddle batches), encodes to the same
    blocks, in the same order, as split_blocks over each group."""
    groups, cols = [], {c: [] for c in ("term_id", "bucket", "doc_id", "tf",
                                        "dl", "score", "positions")}
    for gi, (n, first, seed) in enumerate(spec):
        rng = np.random.default_rng(seed)
        doc = first + np.cumsum(rng.integers(1, 300, n))
        tf = rng.integers(1, 6, n)
        g = {"doc_id": doc, "tf": tf, "dl": rng.integers(tf, 2**20),
             "score": rng.random(n),
             "positions": [np.sort(rng.choice(10**4, t, replace=False))
                           for t in tf]}
        key = (gi // 2, gi % 2)          # two buckets per term
        groups.append((key, g))
        cols["term_id"] += [key[0]] * n
        cols["bucket"] += [key[1]] * n
        for c in ("doc_id", "tf", "dl", "score", "positions"):
            cols[c] += list(g[c])
    names = ["term_id", "bucket", "doc_id", "tf", "dl",
             *(["score"] if scored else []),
             *(["positions"] if positional else [])]
    types = {"term_id": pa.int64(), "bucket": pa.int32(),
             "doc_id": pa.int64(), "tf": pa.int64(), "dl": pa.int32(),
             "score": pa.float64(), "positions": pa.list_(pa.int32())}
    table = pa.table({c: pa.array([x.tolist() if c == "positions" else x
                                   for x in cols[c]], type=types[c])
                      for c in names})
    batches, lo = [], 0
    for c in cuts * (len(table) // sum(cuts) + 1):
        if lo >= len(table):
            break
        batches.append(table.slice(lo, c).to_batches()[0])
        lo += c

    encode, _ = block_encoder(BS, BPB, scored, positional, bound_type)
    got = pa.Table.from_batches(list(encode(iter(batches)))).to_pylist()
    want = _reference(groups, scored, positional, BS, BPB)
    fields = [c for c, _ in block_fields(scored, positional, bound_type)]
    assert [list(r) for r in got] == [fields] * len(got)
    assert got == [{c: r[c] for c in fields} for r in want]


# --------------------------------------------------------------------------
# every Spark writer, with Arrow batches far smaller than a group
# --------------------------------------------------------------------------

SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
          "tool string, ts timestamp")


def _blocks_match_split(postings, stats, positional: bool,
                        with_score: bool = False, df_of=None):
    """Decode ``postings`` with the read path's decoder, re-encode every
    (term_id, bucket) group with split_blocks, and compare block by block.
    ``with_score`` also checks block_max_score against the build-time
    BM25 of each posting (``df_of``: the dictionary's term_id → df)."""
    from searchengine_spark.operators.indexer import bm25_idf, bm25_tf_part
    from searchengine_spark.operators.search import _decode_blocks

    br, bs = stats["bucket_range"], stats["block_size"]
    bpb = -(-br // bs)
    flat = _decode_blocks(postings, positions=positional)
    if with_score:
        flat = flat.join(df_of, "term_id").withColumn(
            "score", bm25_idf(F.col("df"), stats["n_docs"])
            * bm25_tf_part(F.col("tf"), F.col("dl"), stats["avgdl"]))
    rows = flat.toPandas().sort_values(["term_id", "doc_id"])
    rows["bucket"] = rows["doc_id"] // br
    groups = [((int(t), int(b)),
               {c: (g[c].tolist() if c == "positions" else g[c].to_numpy())
                for c in g.columns})
              for (t, b), g in rows.groupby(["term_id", "bucket"], sort=True)]
    want = pd.DataFrame(_reference(groups, with_score, positional, bs, bpb))
    cols = ["term_id", "block_id", "first_doc_id", "n", "doc_deltas", "tfs",
            "dls", "block_max_tf", "block_min_dl",
            *(["block_max_score"] if with_score else []),
            *(["pos"] if positional else [])]
    got = (postings.select(*cols).toPandas()
           .sort_values(["term_id", "block_id"]).reset_index(drop=True))
    want = want[cols].sort_values(["term_id", "block_id"]) \
                     .reset_index(drop=True)
    assert len(got) == len(want) > 0
    for c in cols:
        assert got[c].tolist() == want[c].tolist(), c


@pytest.fixture
def tiny_arrow_batches(spark):
    """Arrow batches of 3 records: most groups straddle batches."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    yield
    spark.conf.set(key, prev)


def _df(spark, pdf):
    pdf = pdf.copy()
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return spark.createDataFrame(pdf, schema=SCHEMA)


def _delta(base, i):
    """Six replaced turns with an extra word, plus a new conversation."""
    d = base.drop_duplicates(["conv_id", "turn_idx"]).iloc[6 * i: 6 * i + 6]
    d = d.assign(text=d["text"] + f" parityword{i}")
    new = base.drop_duplicates(["conv_id", "turn_idx"]).iloc[:4]
    new = new.assign(conv_id=new["conv_id"] + f"_new{i}")
    return pd.concat([d, new])


def test_every_writer_matches_split_blocks(spark, tiny_arrow_batches):
    from searchengine_spark.operators.compact import compact_index
    from searchengine_spark.operators.fielded import (build_fielded_index,
                                                      upsert_fielded)
    from searchengine_spark.operators.indexer import build_index
    from searchengine_spark.operators.upsert import delete_turns, upsert_turns
    from searchengine_spark.sources.fixtures import transcripts_pdf

    base = transcripts_pdf(12)
    kw = dict(bucket_range=24, block_size=BS)
    ix = build_index(_df(spark, base), mode="general", **kw)
    df_of = ix["terms"].select("term_id", "df")
    _blocks_match_split(ix["postings"], ix["stats"], False,
                        with_score=True, df_of=df_of)
    ix = upsert_turns(ix, _df(spark, _delta(base, 0)))
    _blocks_match_split(ix["postings"], ix["stats"], False)
    ix = delete_turns(ix, F.col("conv_id") == base["conv_id"].iloc[0])
    _blocks_match_split(ix["postings"], ix["stats"], False)
    ix = compact_index(ix, reassign_ids=True)
    _blocks_match_split(ix["postings"], ix["stats"], False, with_score=True,
                        df_of=ix["terms"].select("term_id", "df"))

    px = build_index(_df(spark, base), mode="general", with_positions=True,
                     **kw)
    _blocks_match_split(px["postings"], px["stats"], True)
    px = upsert_turns(px, _df(spark, _delta(base, 1)))
    _blocks_match_split(px["postings"], px["stats"], True)

    fx = build_fielded_index(_df(spark, base), **kw)
    fx = upsert_fielded(fx, _df(spark, _delta(base, 2)))
    for fl in fx["fields"].values():
        _blocks_match_split(fl["postings"], fx["stats"], False)
