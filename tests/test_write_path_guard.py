"""Layout guard for the shared posting write path: every posting block is
encoded by the batched kernel ``codec.encode_blocks`` (through
``indexer.encode_postings``; ``split_blocks`` is its single-list entry
point), no per-group ``applyInPandas`` encoder is left in ``operators/``,
every upsert/delete rewrites its touched groups through
``upsert._rewrite_touched``, and every persisted flow names and commits its
snapshot through ``manifest.commit_new_snapshot``. A call to one of these
steps' primitives anywhere else in the package is a new copy of a step
that has exactly one owner."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "searchengine_spark"

OWNERS = {
    # block encoding: the batched kernel (encode_block, the single-block
    # codec primitive, emits its own varints); Spark reaches the kernel
    # only through encode_postings' mapInArrow factory
    "varint_encode": {("codec.py", "encode_blocks"), ("codec.py", "encode_block")},
    "encode_blocks": {("codec.py", "block_encoder"), ("codec.py", "split_blocks")},
    "block_encoder": {("indexer.py", "encode_postings")},
    # snapshot naming and pointer flips: the commit helper; rollback is a
    # bare pointer flip and the dedup sink commits its own state dirs
    "next_snapshot_name": {("manifest.py", "commit_new_snapshot")},
    "commit_snapshot": {("manifest.py", "commit_new_snapshot"),
                        ("upsert.py", "rollback_to"),
                        ("stream_dedup.py", "dedup_stream_batch")},
    # the touched-group rewrite serves exactly the four incremental writers
    "_rewrite_touched": {("upsert.py", "upsert_turns"),
                         ("upsert.py", "delete_turns"),
                         ("fielded.py", "upsert_fielded"),
                         ("fielded.py", "delete_fielded")},
}
GONE = {"_make_block_encoder", "_make_block_decoder", "_make_field_encoder"}


def _scan() -> tuple[dict, set]:
    """name → {(file, top-level function)} holding a call to it, and the
    set of top-level names defined in the package."""
    calls: dict[str, set] = {name: set() for name in OWNERS}
    defined = set()
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for top in tree.body:
            name = getattr(top, "name", "<module>")
            defined.add(name)
            for node in ast.walk(top):
                if not isinstance(node, ast.Call):
                    continue
                fn = node.func
                called = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
                if called in calls:
                    calls[called].add((path.name, name))
    return calls, defined


def test_write_path_steps_have_one_owner():
    calls, _ = _scan()
    for name, owners in OWNERS.items():
        assert calls[name], name  # the guard sees the owner
        assert calls[name] <= owners, (name, sorted(calls[name] - owners))


def test_rewrite_helper_serves_every_incremental_writer():
    calls, _ = _scan()
    assert calls["_rewrite_touched"] == OWNERS["_rewrite_touched"]


def test_retired_write_path_copies_are_gone():
    _, defined = _scan()
    assert not (GONE & defined), sorted(GONE & defined)


def test_no_applyinpandas_in_operators():
    """Every operator stage that crosses into Python is Arrow-batched
    (mapInArrow / mapInPandas): no per-group applyInPandas is left."""
    found = []
    for path in sorted((PKG / "operators").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Attribute) and node.attr == "applyInPandas":
                found.append((path.name, node.lineno))
    assert not found, found
