"""Structured-Streaming surface: micro-batch index maintenance + windowed
stats (SURVEY.md §2.7 — a scale capability the reference lacks; its analog
is the ad-hoc upsert endpoint, controllers/ApiController.java:50-53)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from searchengine_spark.operators.indexer import build_index
from searchengine_spark.operators.search import search
from searchengine_spark.plans.manifest import commit_snapshot, read_current
from searchengine_spark.plans.manifest import load_index, save_index
from searchengine_spark.streaming.stream_index import (
    stream_index_turns, streaming_stats)

SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def _mk_df(spark, rows):
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    return spark.createDataFrame(pdf, schema=SCHEMA)


def _row(conv, turn, text, ts="2026-01-01 00:00:00", role="user"):
    return (conv, turn, role, text, None, ts)


def test_stream_merge_matches_rebuild(spark, tmp_path_factory):
    base_rows = [_row("c0", 0, "alpha beta"), _row("c0", 1, "beta gamma"),
                 _row("c1", 0, "gamma delta alpha")]
    drop1 = [_row("c2", 0, "epsilon beta"), _row("c0", 1, "zeta zeta")]
    drop2 = [_row("c3", 0, "alpha epsilon")]

    root = str(tmp_path_factory.mktemp("stream_root"))
    src = str(tmp_path_factory.mktemp("stream_src"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))

    base = build_index(_mk_df(spark, base_rows), mode="general",
                       bucket_range=256, block_size=32)
    save_index(base, f"{root}/snap-00000")
    commit_snapshot(root, "snap-00000")

    _mk_df(spark, drop1).write.parquet(f"{src}/d1")
    _mk_df(spark, drop2).write.parquet(f"{src}/d2")
    # file-source stream over the drop files (glob into subdirs)
    q = stream_index_turns(spark, f"{src}/*", root, ckpt, available_now=True)
    q.awaitTermination(120)

    mutated = {(r[0], r[1]): r for r in base_rows}
    for r in drop1 + drop2:
        mutated[(r[0], r[1])] = r
    rebuilt = build_index(_mk_df(spark, list(mutated.values())), mode="general",
                          bucket_range=256, block_size=32)

    final = load_index(spark, read_current(root))
    up = {r["term"]: r["df"] for r in final["terms"].collect()}
    rb = {r["term"]: r["df"] for r in rebuilt["terms"].collect()}
    assert up == rb
    got = search(final, "alpha epsilon", k=10, mode="bm25") \
        .select("conv_id", "turn_idx", "score").collect()
    want = search(rebuilt, "alpha epsilon", k=10, mode="bm25") \
        .select("conv_id", "turn_idx", "score").collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in got] == \
           [(r["conv_id"], r["turn_idx"]) for r in want]
    for a, b in zip(got, want):
        assert abs(a["score"] - b["score"]) < 1e-9


def test_stream_merge_with_periodic_compaction(spark, tmp_path_factory):
    """Log-structured sink: compact_every=1 compacts after every applied
    merge, so the drained index has EXACT stored WAND bounds (no tf_bounds
    fallback), re-densified ids, and is byte-identical to a fresh rebuild
    over the mutated corpus — while the batch-id commit protocol stays
    idempotent (re-run applies nothing)."""
    base_rows = [_row("c0", 0, "alpha beta"), _row("c0", 1, "beta gamma"),
                 _row("c1", 0, "gamma delta alpha")]
    drop1 = [_row("c2", 0, "epsilon beta"), _row("c0", 1, "zeta zeta")]
    drop2 = [_row("c3", 0, "alpha epsilon")]

    root = str(tmp_path_factory.mktemp("cstream_root"))
    src = str(tmp_path_factory.mktemp("cstream_src"))
    ckpt = str(tmp_path_factory.mktemp("cstream_ckpt"))

    base = build_index(_mk_df(spark, base_rows), mode="general",
                       bucket_range=256, block_size=32)
    save_index(base, f"{root}/snap-00000")
    commit_snapshot(root, "snap-00000")
    _mk_df(spark, drop1).write.parquet(f"{src}/d1")
    _mk_df(spark, drop2).write.parquet(f"{src}/d2")

    q = stream_index_turns(spark, f"{src}/*", root, ckpt,
                           available_now=True, compact_every=1)
    q.awaitTermination(120)

    mutated = {(r[0], r[1]): r for r in base_rows}
    for r in drop1 + drop2:
        mutated[(r[0], r[1])] = r
    rebuilt = build_index(_mk_df(spark, list(mutated.values())),
                          mode="general", bucket_range=256, block_size=32)
    final = load_index(spark, read_current(root))
    assert not final["stats"].get("tf_bounds")  # compaction restored bounds

    def _terms(ix):
        return sorted((r["term"], r["term_id"], r["df"],
                       round(r["max_score"], 9), r["max_tf"], r["min_dl"])
                      for r in ix["terms"].collect())

    def _blocks(ix):
        return sorted(
            (r["term_id"], r["block_id"], r["first_doc_id"], r["n"],
             bytes(r["doc_deltas"]), bytes(r["tfs"]), bytes(r["dls"]),
             round(r["block_max_score"], 9), r["block_max_tf"],
             r["block_min_dl"])
            for r in ix["postings"].select(
                "term_id", "block_id", "first_doc_id", "n", "doc_deltas",
                "tfs", "dls", "block_max_score", "block_max_tf",
                "block_min_dl").collect())

    assert _terms(final) == _terms(rebuilt)
    assert _blocks(final) == _blocks(rebuilt)
    # replay safety: draining again (same checkpoint) changes nothing
    cur = read_current(root)
    stream_index_turns(spark, f"{src}/*", root, ckpt, available_now=True,
                       compact_every=1).awaitTermination(120)
    assert read_current(root) == cur
    # fielded + compact_every is an explicit error (no fielded compaction)
    with pytest.raises(ValueError, match="main index only"):
        stream_index_turns(spark, f"{src}/*", root, ckpt, fielded=True,
                           compact_every=2)


def test_stream_restart_is_idempotent(spark, tmp_path_factory):
    """Re-running the drained stream (same checkpoint) applies nothing new."""
    root = str(tmp_path_factory.mktemp("re_root"))
    src = str(tmp_path_factory.mktemp("re_src"))
    ckpt = str(tmp_path_factory.mktemp("re_ckpt"))
    base = build_index(_mk_df(spark, [_row("c0", 0, "alpha beta")]),
                       mode="general", bucket_range=256, block_size=32)
    save_index(base, f"{root}/snap-00000")
    commit_snapshot(root, "snap-00000")
    _mk_df(spark, [_row("c1", 0, "beta gamma")]).write.parquet(f"{src}/d1")

    stream_index_turns(spark, f"{src}/*", root, ckpt).awaitTermination(120)
    first = read_current(root)
    stream_index_turns(spark, f"{src}/*", root, ckpt).awaitTermination(120)
    assert read_current(root) == first  # no duplicate snapshot


def test_stream_merge_fielded_matches_rebuild(spark, tmp_path_factory):
    """Streaming maintenance of a FIELDED (BM25F) index: two micro-batches
    merged through stream_index_turns(fielded=True) == a from-scratch
    fielded rebuild over the mutated corpus (df parity per field, BM25F
    rank+score parity)."""
    from searchengine_spark.operators.fielded import (
        bm25f_search, build_fielded_index, load_fielded_index,
        save_fielded_index)

    base_rows = [_row("c0", 0, "alpha beta"), _row("c0", 1, "beta gamma"),
                 _row("c1", 0, "gamma delta alpha")]
    drop1 = [_row("c2", 0, "epsilon beta"), _row("c0", 1, "zeta zeta")]
    drop2 = [_row("c3", 0, "alpha epsilon")]

    root = str(tmp_path_factory.mktemp("fstream_root"))
    src = str(tmp_path_factory.mktemp("fstream_src"))
    ckpt = str(tmp_path_factory.mktemp("fstream_ckpt"))

    base = build_fielded_index(_mk_df(spark, base_rows), mode="general")
    save_fielded_index(base, f"{root}/snap-00000")
    commit_snapshot(root, "snap-00000")

    _mk_df(spark, drop1).write.parquet(f"{src}/d1")
    _mk_df(spark, drop2).write.parquet(f"{src}/d2")
    q = stream_index_turns(spark, f"{src}/*", root, ckpt,
                           available_now=True, fielded=True)
    q.awaitTermination(120)

    mutated = {(r[0], r[1]): r for r in base_rows}
    for r in drop1 + drop2:
        mutated[(r[0], r[1])] = r
    rebuilt = build_fielded_index(_mk_df(spark, list(mutated.values())),
                                  mode="general")

    final = load_fielded_index(spark, read_current(root))
    for name in rebuilt["fields"]:
        up = {r["term"]: r["df_field"]
              for r in final["fields"][name]["terms"].collect()}
        rb = {r["term"]: r["df_field"]
              for r in rebuilt["fields"][name]["terms"].collect()}
        assert up == rb, name
    got = bm25f_search(final, "alpha epsilon", k=10).collect()
    want = bm25f_search(rebuilt, "alpha epsilon", k=10).collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in got] == \
           [(r["conv_id"], r["turn_idx"]) for r in want]
    assert got  # non-vacuous
    for a, b in zip(got, want):
        assert abs(a["score"] - b["score"]) < 1e-9


def test_streaming_stats_windowed(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("stats_src"))
    rows = [_row("c0", 0, "aa", "2026-01-01 00:00:10", "user"),
            _row("c0", 1, "bbbb", "2026-01-01 00:00:50", "assistant"),
            _row("c1", 0, "cc", "2026-01-01 00:01:10", "user"),
            _row("c1", 1, "dd", "2026-01-01 00:01:20", "user")]
    _mk_df(spark, rows).write.parquet(f"{src}/d1")
    stream = spark.readStream.schema(SCHEMA).parquet(f"{src}/*")
    agg = streaming_stats(stream, window="1 minute", watermark="2 minutes")
    q = (agg.writeStream.format("memory").queryName("winstats")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(str(r["window_start"]), r["role"]): (r["n_turns"], r["n_chars"])
           for r in spark.sql("select * from winstats").collect()}
    assert got[("2026-01-01 00:00:00", "user")] == (1, 2)
    assert got[("2026-01-01 00:00:00", "assistant")] == (1, 4)
    assert got[("2026-01-01 00:01:00", "user")] == (2, 4)


def test_stream_dedup_first_seen_wins(spark, tmp_path_factory):
    """Cross-batch content dedup: a text seen in an earlier drop (or
    earlier within the same batch) never reaches the output again;
    whitespace/case variants count as the same content."""
    from searchengine_spark.streaming.stream_dedup import (read_deduped,
                                                           stream_dedup_turns)
    src = str(tmp_path_factory.mktemp("dd_src"))
    out = str(tmp_path_factory.mktemp("dd_out"))
    ckpt = str(tmp_path_factory.mktemp("dd_ckpt"))
    drop1 = [_row("c0", 0, "alpha beta"), _row("c0", 1, "alpha  BETA"),
             _row("c1", 0, "gamma")]
    drop2 = [_row("c2", 0, "alpha beta"), _row("c2", 1, "delta"),
             _row("c2", 2, "gamma")]
    # one FILE per drop: with maxFilesPerTrigger=1 the source ingests one
    # file per batch and "first seen" is defined by INGEST order — a
    # multi-file drop would make the within-drop winner depend on file
    # enumeration order (mtime ties), not on the engine's contract
    _mk_df(spark, drop1).coalesce(1).write.parquet(f"{src}/d1")
    q = stream_dedup_turns(spark, f"{src}/*", out, ckpt)
    q.awaitTermination(120)
    _mk_df(spark, drop2).coalesce(1).write.parquet(f"{src}/d2")
    q = stream_dedup_turns(spark, f"{src}/*", out, ckpt)
    q.awaitTermination(120)
    rows = {(r["conv_id"], r["turn_idx"]): r["text"]
            for r in read_deduped(spark, out).collect()}
    # within-batch: (c0,0) beats its case/whitespace variant (c0,1)
    # cross-batch: drop2's "alpha beta" and "gamma" are dropped
    assert rows == {("c0", 0): "alpha beta", ("c1", 0): "gamma",
                    ("c2", 1): "delta"}


def test_stream_dedup_replay_idempotent(spark, tmp_path_factory):
    """A replayed batch (fresh checkpoint, same data) must not duplicate
    output: batch-keyed overwrite + the committed-pointer skip."""
    from searchengine_spark.streaming.stream_dedup import (
        dedup_stream_batch, read_deduped)
    out = str(tmp_path_factory.mktemp("dd_out2"))
    batch = _mk_df(spark, [_row("c0", 0, "one"), _row("c1", 0, "two")])
    apply = dedup_stream_batch(out)
    apply(batch, 0)
    apply(batch, 0)          # replay of a committed batch: no-op
    assert read_deduped(spark, out).count() == 2
    # a NEW batch with the same content is state-filtered
    apply(_mk_df(spark, [_row("c9", 0, "one")]), 1)
    assert read_deduped(spark, out).count() == 2


def test_merge_batch_commits_once_per_batch(spark, tmp_path, monkeypatch):
    """Every applied batch — a merge, or a merge followed by compaction —
    is exactly ONE pointer flip, and that flip carries batch_id and
    merges_since_compact together (the idempotent-replay invariant); a
    replayed batch commits nothing."""
    import searchengine_spark.plans.manifest as M
    from searchengine_spark.streaming.stream_index import merge_batch

    root = str(tmp_path)
    base = build_index(_mk_df(spark, [_row("c0", 0, "alpha beta"),
                                      _row("c0", 1, "beta gamma")]),
                       mode="general", bucket_range=256, block_size=32)
    save_index(base, f"{root}/snap-00000")
    commit_snapshot(root, "snap-00000")

    calls = []
    orig = M.commit_snapshot

    def recording(root_, snapshot, **meta):
        calls.append(meta)
        orig(root_, snapshot, **meta)

    monkeypatch.setattr(M, "commit_snapshot", recording)
    apply = merge_batch(root, compact_every=2)
    batches = [[_row("c2", 0, "epsilon beta")], [_row("c0", 1, "zeta zeta")],
               [_row("c3", 0, "alpha epsilon")]]
    for batch_id, rows in enumerate(batches):
        apply(_mk_df(spark, rows), batch_id)
    assert calls == [{"batch_id": 0, "merges_since_compact": 1},
                     {"batch_id": 1, "merges_since_compact": 0},
                     {"batch_id": 2, "merges_since_compact": 1}]
    assert M.read_pointer(root)["batch_id"] == 2
    apply(_mk_df(spark, batches[0]), 0)  # checkpoint replay
    assert len(calls) == 3
