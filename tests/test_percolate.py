"""Percolation (reverse search): percolate == the grammar's forward match
set, query by query, across the feature matrix (terms, min:m, OR-groups,
phrases, spans, ordered spans, NOT terms/clauses, qualifiers, dead
queries) on the tiny positional corpus shared with test_querylang; plus a
Structured-Streaming smoke through percolate_stream."""

from __future__ import annotations

import pytest

from searchengine_spark.operators.percolate import percolate
from searchengine_spark.operators.querylang import query_search

from tests.test_querylang import qpos_index  # noqa: F401 (pytest fixture)

QUERIES = {
    "t1": "alpha gamma",                        # any-term (OR) match set
    "t2": "alpha -gamma",                       # NOT term
    "mm": "alpha gamma delta min:2",            # minimum-should-match
    "p1": '"alpha beta"',                       # phrase clause
    "np": 'alpha -"beta gamma"',                # NOT phrase
    "s1": 'beta "alpha gamma"~1',               # span clause
    "os1": 'beta "alpha gamma"~2!',             # ordered span
    "os2": 'beta "gamma alpha"~1!',             # order-sensitivity
    "nos": 'alpha -"gamma alpha"~1!',           # NOT ordered span
    "g1": "(gamma|delta) alpha",                # OR-group
    "q1": "alpha role:assistant",               # qualifier
    "q2": "alpha site:x00 tool:bash",           # two qualifiers
    "q3": "alpha -tool:bash",                   # negated (null-safe)
    "dead": 'alpha "beta zzznope"',             # unmatchable positive
    "noop": 'alpha -"beta zzznope"',            # unmatchable NOT → no-op
    "notonly": "-alpha",                        # no positive words
}


def _forward_sets(index, queries):
    """Ground truth: each query's FULL match set via the forward grammar
    path (k big enough to return everything on the 5-doc corpus)."""
    return {qid: {r["conv_id"]
                  for r in query_search(index, qstr, k=100).collect()}
            for qid, qstr in queries.items()}


def _percolate_sets(docs, queries, **kw):
    got: dict[str, set] = {}
    for r in percolate(queries, docs, **kw).collect():
        got.setdefault(r["query_id"], set()).add(r["conv_id"])
    return got


def test_percolate_matches_forward_path(qpos_index):
    exp = _forward_sets(qpos_index, QUERIES)
    got = _percolate_sets(qpos_index["docs"], QUERIES)
    for qid in QUERIES:
        assert got.get(qid, set()) == exp[qid], (
            f"{qid!r} ({QUERIES[qid]!r}): percolate {got.get(qid, set())} "
            f"!= forward {exp[qid]}")
    # non-vacuous: the matrix must exercise real matches and real misses
    assert sum(bool(s) for s in exp.values()) >= 8
    assert exp["dead"] == set() and exp["notonly"] == set()
    assert exp["os2"] == {"x000"}


def test_percolate_empty_and_subset_batches(qpos_index):
    docs = qpos_index["docs"]
    # empty batch → empty result with the right schema
    out = percolate(QUERIES, docs.limit(0))
    assert out.columns == ["query_id", "conv_id", "turn_idx"]
    assert out.count() == 0
    # a sub-batch percolates independently of the rest of the corpus
    sub = docs.filter(docs.conv_id.isin("x000", "x003"))
    got = _percolate_sets(sub, {"t1": "alpha gamma", "p1": '"alpha beta"'})
    assert got["t1"] == {"x000", "x003"}
    assert got["p1"] == {"x000"}  # x003 has no adjacent "alpha beta"


def test_percolate_wildcard_needs_index(qpos_index):
    docs = qpos_index["docs"]
    with pytest.raises(ValueError, match="wildcard/fuzzy"):
        percolate({"w": "alp*"}, docs)
    got = _percolate_sets(docs, {"w": "alph* -delta"}, index=qpos_index)
    exp = {r["conv_id"]
           for r in query_search(qpos_index, "alph* -delta", k=100).collect()}
    assert got.get("w", set()) == exp and exp


def test_percolate_stream_smoke(spark, tmp_path):
    """foreachBatch wiring: files dropped into a source dir percolate per
    micro-batch; matches accumulate with batch ids."""
    from searchengine_spark.operators.percolate import percolate_stream
    from searchengine_spark.streaming.stream_index import TURN_SCHEMA
    src = str(tmp_path / "src")
    from datetime import datetime
    t0 = datetime(2026, 1, 1)
    rows = [("c1", 0, "user", "alpha beta gamma", None, t0),
            ("c2", 0, "user", "delta epsilon", None, t0)]
    df = spark.createDataFrame(rows, TURN_SCHEMA)
    df.write.parquet(src)
    got: list = []

    def sink(matches, batch_id):
        got.extend((batch_id, r["query_id"], r["conv_id"])
                   for r in matches.collect())

    stream = spark.readStream.schema(TURN_SCHEMA).parquet(src)
    q = percolate_stream({"a": 'alpha "beta gamma"', "d": "delta -epsilon"},
                         stream, sink,
                         checkpoint=str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    assert (0, "a", "c1") in got          # phrase matched in-stream
    assert all(g[1] != "d" for g in got)  # NOT term banned c2


BOOL_EXPRS = {
    "b1": "alpha AND gamma",
    "b2": "alpha AND NOT gamma",
    "b3": "(gamma OR delta) AND alpha",
    "b4": '(alpha AND "alpha beta") OR (delta AND NOT beta)',
    "b5": "alpha AND (role:assistant OR tool:bash)",
    "b6": 'beta AND "alpha gamma"~1',
    "b7": "(alpha AND NOT (gamma OR delta)) OR tool:bash",
}


def test_percolate_bool_matches_forward_eval(qpos_index):
    """Boolean-tree percolation == the forward boolean evaluator's
    candidate set, query by query (terms, nesting, NOT, phrases, spans,
    qualifiers)."""
    from searchengine_spark.operators.boolean import _eval, parse_bool
    from searchengine_spark.operators.percolate import percolate_bool
    spark = qpos_index["docs"].sparkSession
    docs = qpos_index["docs"]
    got: dict[str, set] = {}
    for r in percolate_bool(BOOL_EXPRS, docs).collect():
        got.setdefault(r["query_id"], set()).add(r["conv_id"])
    id2conv = {r["doc_id"]: r["conv_id"]
               for r in docs.select("doc_id", "conv_id").collect()}
    hit = 0
    for qid, e in BOOL_EXPRS.items():
        cand = _eval(qpos_index, parse_bool(e), spark)
        exp = {id2conv[r["doc_id"]] for r in cand.collect()}
        assert got.get(qid, set()) == exp, (qid, e)
        hit += bool(exp)
    assert hit >= 5  # non-vacuous matrix


def test_percolate_bool_stream_smoke(spark, tmp_path):
    """Boolean trees over a stream: foreachBatch wiring + AND/NOT
    semantics per micro-batch."""
    from searchengine_spark.operators.percolate import percolate_bool_stream
    from searchengine_spark.streaming.stream_index import TURN_SCHEMA
    from datetime import datetime
    t0 = datetime(2026, 1, 1)
    src = str(tmp_path / "bsrc")
    rows = [("c1", 0, "user", "alpha beta gamma", None, t0),
            ("c2", 0, "user", "alpha epsilon", None, t0)]
    spark.createDataFrame(rows, TURN_SCHEMA).write.parquet(src)
    got: list = []

    def sink(matches, batch_id):
        got.extend((batch_id, r["query_id"], r["conv_id"])
                   for r in matches.collect())

    stream = spark.readStream.schema(TURN_SCHEMA).parquet(src)
    q = percolate_bool_stream(
        {"x": "alpha AND (beta OR epsilon)",
         "y": "alpha AND NOT gamma"},
        stream, sink, checkpoint=str(tmp_path / "bckpt"))
    q.processAllAvailable()
    q.stop()
    matched = {(g[1], g[2]) for g in got}
    assert matched == {("x", "c1"), ("x", "c2"), ("y", "c2")}


def test_percolate_above_litmap_parity(qpos_index, monkeypatch):
    """Past LIT_MAP_MAX every lookup auto-switches: requirement fan-outs
    become broadcast joins of the (term → query) postings, scalar lookups
    (min-match / arity / clause lengths) become broadcast joins, qualifier
    predicates dedupe by signature, clause-free queries keep matching via
    the anti-join path. Forcing the cap to 0 must not change one match."""
    import searchengine_spark.operators.percolate as P
    import searchengine_spark.operators.search as S
    exp = _forward_sets(qpos_index, QUERIES)
    monkeypatch.setattr(P, "LIT_MAP_MAX", 0)
    monkeypatch.setattr(S, "LIT_MAP_MAX", 0)
    got = _percolate_sets(qpos_index["docs"], QUERIES)
    for qid in QUERIES:
        assert got.get(qid, set()) == exp[qid], (qid, QUERIES[qid])


def test_percolate_bool_above_litmap_parity(qpos_index, monkeypatch):
    """Boolean-tree percolation past the cap: the per-query codegen OR
    chain is replaced by the Arrow-batched RPN evaluator (plan size O(1)
    in |registry|); match sets must be identical."""
    import searchengine_spark.operators.percolate as P
    import searchengine_spark.operators.search as S
    from searchengine_spark.operators.percolate import percolate_bool
    docs = qpos_index["docs"]

    def sets():
        got: dict[str, set] = {}
        for r in percolate_bool(BOOL_EXPRS, docs).collect():
            got.setdefault(r["query_id"], set()).add(r["conv_id"])
        return got

    exp = sets()
    monkeypatch.setattr(P, "LIT_MAP_MAX", 0)
    monkeypatch.setattr(S, "LIT_MAP_MAX", 0)
    got = sets()
    assert got == exp and sum(bool(s) for s in exp.values()) >= 5


def test_percolate_5000_query_registry(qpos_index):
    """A 5,000-query registry (10k+ requirement entries, naturally above
    LIT_MAP_MAX) percolates in ONE inverted pass; expected match sets are
    recomputed in plain Python from the docs' analyzed token sets."""
    from searchengine_spark.functions.analysis import analyze_text
    docs = qpos_index["docs"]
    rows = docs.select("conv_id", "text").collect()
    toks = {r["conv_id"]: set(analyze_text(r["text"], "general",
                                           dictionary="fixture"))
            for r in rows}
    vocab = sorted(set().union(*toks.values()))
    n = len(vocab)
    queries, exp = {}, {}
    for i in range(5000):
        a = i % n
        b = (i * 7 + 3) % n
        if b == a:
            b = (b + 1) % n
        q = f"{vocab[a]} {vocab[b]} min:2"
        c = None
        if i % 3 == 0:
            c = vocab[(i * 5 + 1) % n]
            q += f" -{c}"
        qid = f"q{i:05d}"
        queries[qid] = q
        m = {cv for cv, ts in toks.items()
             if vocab[a] in ts and vocab[b] in ts
             and (c is None or c not in ts)}
        if m:
            exp[qid] = m
    got = _percolate_sets(docs, queries)
    assert got == exp
    assert len(exp) >= 100  # non-vacuous: plenty of real matches


def test_percolate_table_matches_dict_path(qpos_index):
    """Table-native percolation (registry as a DataFrame, distributed
    compile, join-based kernels) == the dict path on the supported
    grammar, query by query."""
    from searchengine_spark.operators.percolate import percolate_table
    docs = qpos_index["docs"]
    spark = docs.sparkSession
    supported = dict(QUERIES)  # full matrix incl. qualifiers (r4: the
    # table tier evaluates qualifier leaves data-side)
    exp = _percolate_sets(docs, supported)
    qdf = spark.createDataFrame(list(supported.items()),
                                "query_id string, query string")
    got: dict[str, set] = {}
    for r in percolate_table(qdf, docs).collect():
        got.setdefault(r["query_id"], set()).add(r["conv_id"])
    for qid in supported:
        assert got.get(qid, set()) == exp.get(qid, set()), (
            qid, supported[qid])


def test_percolate_table_rejects_wildcards(qpos_index):
    import pytest
    from searchengine_spark.operators.percolate import percolate_table
    docs = qpos_index["docs"]
    spark = docs.sparkSession
    qdf = spark.createDataFrame([("q", "alp* beta")],
                                "query_id string, query string")
    with pytest.raises(Exception, match="unsupported in percolate_table"):
        percolate_table(qdf, docs).collect()
    bad = spark.createDataFrame([("q", "alpha after:notadate")],
                                "query_id string, query string")
    with pytest.raises(Exception, match="ISO 8601"):
        percolate_table(bad, docs).collect()


def test_percolate_table_5000_and_compiled_reuse(qpos_index):
    """The 5,000-query registry as a TABLE matches the same pure-Python
    ground truth; a pre-compiled requirements frame short-circuits
    compilation and produces identical matches (the streaming reuse
    path)."""
    from searchengine_spark.functions.analysis import analyze_text
    from searchengine_spark.operators.percolate import (compile_query_table,
                                                        percolate_table)
    docs = qpos_index["docs"]
    spark = docs.sparkSession
    rows = docs.select("conv_id", "text").collect()
    toks = {r["conv_id"]: set(analyze_text(r["text"], "general",
                                           dictionary="fixture"))
            for r in rows}
    vocab = sorted(set().union(*toks.values()))
    n = len(vocab)
    qrows, exp = [], {}
    for i in range(5000):
        a, b = i % n, (i * 7 + 3) % n
        if b == a:
            b = (b + 1) % n
        q = f"{vocab[a]} {vocab[b]} min:2"
        c = None
        if i % 3 == 0:
            c = vocab[(i * 5 + 1) % n]
            q += f" -{c}"
        qid = f"q{i:05d}"
        qrows.append((qid, q))
        m = {cv for cv, ts in toks.items()
             if vocab[a] in ts and vocab[b] in ts
             and (c is None or c not in ts)}
        if m:
            exp[qid] = m
    qdf = spark.createDataFrame(qrows, "query_id string, query string")
    got: dict[str, set] = {}
    for r in percolate_table(qdf, docs).collect():
        got.setdefault(r["query_id"], set()).add(r["conv_id"])
    assert got == exp
    # compiled-registry reuse (what a stream does every micro-batch)
    req = compile_query_table(qdf).localCheckpoint(eager=True)
    got2: dict[str, set] = {}
    for r in percolate_table(qdf.limit(0), docs, compiled=req).collect():
        got2.setdefault(r["query_id"], set()).add(r["conv_id"])
    assert got2 == exp


def test_percolate_table_stream_smoke(spark, tmp_path):
    """Streaming table percolation: the registry compiles once, every
    micro-batch reuses the checkpointed requirements frame."""
    from datetime import datetime

    from searchengine_spark.operators.percolate import percolate_table_stream
    from searchengine_spark.streaming.stream_index import TURN_SCHEMA
    src = str(tmp_path / "tsrc")
    t0 = datetime(2026, 1, 1)
    rows = [("c1", 0, "user", "alpha beta gamma", None, t0),
            ("c2", 0, "user", "delta epsilon", None, t0)]
    spark.createDataFrame(rows, TURN_SCHEMA).write.parquet(src)
    qdf = spark.createDataFrame(
        [("a", 'alpha "beta gamma"'), ("d", "delta -epsilon")],
        "query_id string, query string")
    got: list = []

    def sink(matches, batch_id):
        got.extend((batch_id, r["query_id"], r["conv_id"])
                   for r in matches.collect())

    stream = spark.readStream.schema(TURN_SCHEMA).parquet(src)
    q = percolate_table_stream(qdf, stream, sink,
                               checkpoint=str(tmp_path / "tckpt"))
    q.processAllAvailable()
    q.stop()
    assert (0, "a", "c1") in got
    assert all(g[1] != "d" for g in got)


def test_percolate_with_scores(qpos_index):
    """with_scores=True: identical match SET plus tf_sum == the Σtf of
    each query's ranked (positive, analyzed) terms in the doc —
    recomputed here from the analyzed token streams."""
    from searchengine_spark.functions.analysis import analyze_text
    docs = qpos_index["docs"]
    qs = {"t1": "alpha gamma", "mm": "alpha gamma delta min:2",
          "p1": '"alpha beta"', "g1": "(gamma|delta) alpha"}
    plain = _percolate_sets(docs, qs)
    ranked_of = {"t1": {"alpha", "gamma"},
                 "mm": {"alpha", "gamma", "delta"},
                 "p1": {"alpha", "beta"},
                 "g1": {"alpha", "gamma", "delta"}}
    toks = {r["conv_id"]: analyze_text(r["text"], "general",
                                       dictionary="fixture")
            for r in docs.select("conv_id", "text").collect()}
    got = {}
    for r in percolate(qs, docs, with_scores=True).collect():
        got[(r["query_id"], r["conv_id"])] = r["tf_sum"]
    assert {q for q, _ in got} <= set(qs)
    assert plain == {qid: {c for q, c in got if q == qid}
                     for qid in plain}
    for (qid, conv), tf_sum in got.items():
        exp = sum(1 for t in toks[conv] if t in ranked_of[qid])
        assert tf_sum == exp, (qid, conv)


def test_percolate_tier_autodispatch(qpos_index, monkeypatch):
    """Above TABLE_TIER_MIN, percolate() routes supported registries to
    the table-native tier (VERDICT r4 #2): (a) the table tier is
    actually invoked, (b) results are identical to the dict tier on the
    same registry, (c) the dispatched plan does not grow with registry
    size (no per-query literal state), and (d) dict-only grammar /
    with_scores stay on the dict tier even above the threshold."""
    import searchengine_spark.operators.percolate as P
    docs = qpos_index["docs"]

    qs = {f"q{i:04d}": q for i, q in enumerate(
        ["alpha gamma", "alpha -gamma", '"alpha beta"',
         "(gamma|delta) alpha", "alpha gamma delta min:2"] * 40)}
    assert len(qs) == 200

    # dict-tier ground truth (threshold above registry size)
    monkeypatch.setattr(P, "TABLE_TIER_MIN", 10_000)
    exp = _percolate_sets(docs, qs)

    # (a)+(b): lower the threshold → table tier runs, same matches
    calls = []
    real_table = P.percolate_table

    def spy(*a, **kw):
        calls.append(1)
        return real_table(*a, **kw)

    monkeypatch.setattr(P, "percolate_table", spy)
    monkeypatch.setattr(P, "TABLE_TIER_MIN", 100)
    got = _percolate_sets(docs, qs)
    assert calls, "registry above TABLE_TIER_MIN did not dispatch"
    assert got == exp

    # (c): plan size is O(1) in registry size on the dispatched path
    monkeypatch.setattr(P, "percolate_table", real_table)
    big = {f"b{i:05d}": qs[f"q{i % 200:04d}"] for i in range(2000)}
    plan_small = P.percolate(qs, docs)._jdf.queryExecution() \
        .optimizedPlan().toString()
    plan_big = P.percolate(big, docs)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert len(plan_big) < 2 * len(plan_small) + 10_000, (
        len(plan_small), len(plan_big))

    # (d): dict-only grammar and with_scores bypass the table tier
    monkeypatch.setattr(P, "percolate_table", spy)
    calls.clear()
    wq = dict(qs)
    wq["w"] = "alp* beta"   # wildcard → dict tier (needs index anyway)
    got_w = _percolate_sets(docs, wq, index=qpos_index)
    assert not calls and got_w.items() >= exp.items()
    P.percolate(qs, docs, with_scores=True).collect()
    assert not calls


def test_percolate_table_dedup_compiled_once(qpos_index):
    """The requirement-set dedup belongs to the compiled registry: a
    micro-batch over a compiled registry where every query has four
    duplicates pays only for fanning the representatives' matches out —
    not the per-batch registry aggregation, driver collect and two
    checkpoints a per-call dedup costs — and every duplicate gets exactly
    its dict-tier match set."""
    from searchengine_spark.operators.percolate import (compile_query_table,
                                                        percolate_table)
    docs = qpos_index["docs"]
    spark = docs.sparkSession
    sc = spark.sparkContext
    table_ok = {k: v for k, v in QUERIES.items()
                if k not in ("q1", "q2", "q3")}  # qualifiers: dict tier
    dup = {f"{k}_{i}": q for k, q in table_ok.items() for i in range(5)}

    def batch_jobs(queries, tag):
        qdf = spark.createDataFrame(sorted(queries.items()),
                                    "query_id string, query string")
        req = compile_query_table(qdf).localCheckpoint(eager=True)
        for i in range(3):  # the last call is warm
            sc.setJobGroup(f"perc-{tag}-{i}", "percolate_table batch")
            rows = percolate_table(qdf.limit(0), docs,
                                   compiled=req).collect()
        sc.setJobGroup("", "")
        got: dict[str, set] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["conv_id"])
        return len(sc.statusTracker().getJobIdsForGroup(f"perc-{tag}-2")), got

    n_core, got_core = batch_jobs(table_ok, "core")
    n_dup, got_dup = batch_jobs(dup, "dup")
    assert got_dup == _percolate_sets(docs, dup)
    assert got_dup == {f"{k}_{i}": s for k, s in got_core.items()
                       for i in range(5)}
    assert n_dup <= n_core + 4, (n_dup, n_core)
