"""Decoded-postings cache tier for the serving path (docs/ROADMAP.md
round-4 #4; the reference has no analog — it re-reads the posting rows from
MySQL per query, services/SearchingServiceImpl.java:203-235).

A repeated hot-term query pays the same posting-block scan + varint decode
every time, even though an index is immutable between upserts
(``upsert_index`` returns a NEW index dict, so a cache that lives inside the
index dict can never serve stale rows — a merged index starts cold). This
module caches the decoded ``(term_id, doc_id, tf, dl)`` rows of hot terms as
persisted DataFrames keyed by term_id:

- First touch decodes the term once through the query path's own block
  selector and decoder (``search._term_blocks`` → ``search._decode_blocks``:
  term_bucket partition pruning + a single coalesced mapInPandas task per
  ~50k postings) and ``persist()``s
  the result; the query that populated it reads the same DataFrame, so the
  populate costs nothing extra.
- Every later query touching the term skips the parquet scan AND the Python
  decode stage entirely: the per-query work left is codegen scoring over
  in-memory columnar batches + the aggregation. A query whose terms are all
  cached runs with zero Python workers.
- Scoring is NOT cached (it depends on per-query idf / corpus stats); the
  cached rows are stats-independent, so one cache serves bm25, ref_compat
  and scoped queries alike. Cached and freshly decoded rows share one
  schema and one scorer (``search._bm25_col``), so their scores are
  bit-identical.

Sizing for a 1000-executor cluster: the budget is decoded rows (== Σ df of
the cached terms, known from the dictionary — no counting jobs), default
5M rows ≈ a few hundred MB spread across executors; ``persist()`` uses
MEMORY_AND_DISK so an undersized cluster spills instead of failing, and —
unlike ``localCheckpoint`` — recomputes from lineage on executor loss.
Eviction is LRU by term, never evicting the running query's own terms.
Terms below ``PCACHE_MIN_DF`` aren't cached: their decode is a single small
task that costs less than the bookkeeping, and a long-tail term is unlikely
to repeat.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import DataFrame

PCACHE_MIN_DF = 20_000    # don't cache long-tail terms (decode is 1 small task)
PCACHE_MAX_ROWS = 5_000_000  # LRU budget in decoded postings across all terms


def pcache_eligible(df) -> bool:
    """Whether ``pcache_split`` serves a term with this df from the cache
    (a pure predicate: it reads no cache state and changes none)."""
    return PCACHE_MIN_DF <= int(df) <= PCACHE_MAX_ROWS


def pcache_split(index: dict, trows: list[dict],
                 postings: "DataFrame | None" = None, ns: str = ""):
    """Split resolved dictionary rows into (cached, direct_rows).

    ``cached`` is one DataFrame of decoded (term_id, doc_id, tf, dl) rows —
    the union of the persisted per-term entries for every cache-eligible
    term in ``trows`` (populating misses) — or None when no term is
    eligible. ``direct_rows`` are the dictionary rows the caller must still
    decode through the normal block path.

    ``postings``/``ns`` let other posting tables of the SAME index share
    the one LRU budget: the fielded path passes each field's postings with
    ``ns="f:<field>"`` (term_id spaces are per-field, so entries are keyed
    (ns, term_id)). All tables use the same block codec, so the decode is
    shared.
    """
    cache = index.setdefault("_pcache", {"entries": OrderedDict(), "rows": 0})
    entries: OrderedDict = cache["entries"]
    hit_keys, direct = [], []
    for r in trows:
        if not pcache_eligible(r["df"]):
            direct.append(r)
            continue
        key = (ns, r["term_id"])
        if key in entries:
            entries.move_to_end(key)
        else:
            from searchengine_spark.operators.search import (_decode_blocks,
                                                             _term_blocks)
            df_ = int(r["df"])
            dec = _decode_blocks(_term_blocks(index, [r["term_id"]],
                                              postings=postings),
                                 sum_df=df_).persist()
            entries[key] = {"df": dec, "rows": df_}
            cache["rows"] += df_
        hit_keys.append(key)
    # LRU eviction down to budget; the running query's terms are pinned (a
    # query whose own terms exceed the budget runs over-budget once and is
    # trimmed by the next query).
    in_use = set(hit_keys)
    while cache["rows"] > PCACHE_MAX_ROWS:
        victim = next((k for k in entries if k not in in_use), None)
        if victim is None:
            break
        ent = entries.pop(victim)
        cache["rows"] -= ent["rows"]
        try:
            ent["df"].unpersist()
        except Exception:  # noqa: BLE001 — a dead SparkContext is fine here
            pass
    if not hit_keys:
        return None, direct
    out = entries[hit_keys[0]]["df"]
    for key in hit_keys[1:]:
        out = out.unionByName(entries[key]["df"])
    return out, direct


def clear_postings_cache(index: dict) -> None:
    """Unpersist and drop every cached term, and drop the driver tier's
    decoded postings and winner metadata (``index["_hotcache"]``,
    operators/hot.py), e.g. before discarding an index in a long-lived
    session: every plain ``search()`` fills the driver tier."""
    index.pop("_hotcache", None)
    cache = index.pop("_pcache", None)
    if not cache:
        return
    for ent in cache["entries"].values():
        try:
            ent["df"].unpersist()
        except Exception:  # noqa: BLE001
            pass
