"""The two workloads. The engine is driven only through its public functions
and sees only the generated transcripts and query log. Timed phases are
closed loops with one client: the next operation starts when the previous
one has returned.

- ``search``: one index served two ways. A window of ``--seconds`` of
  ``hot_search(index, q, k=10)``, the driver tier with a queried working
  set larger than its LRU budget; then a fixed set of
  ``search(index, q, k=10)`` + ``collect()`` calls, the distributed path
  with the postings cache holding its eligible working set and WAND
  engaged on a share of the queries;
- ``ingest``: ``build_index``, then ``upsert_turns`` micro-batches each
  followed by read-after-write ``search()`` calls, one per query shape,
  for ``--seconds``; traced
  runs then add ``compact_index(reassign_ids=True)`` and ``save_index``.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

from perfbench import inputs
from perfbench.oracle import Oracle

K = 10

# Benchmark sizes. The engine's cache budgets and its WAND cost gate are
# sized for corpora of 10^8+ turns; the benchmark scales them to its corpus
# so the relations the workloads assert (fits / larger than / a share of
# queries pruned) hold at a size whose build fits in one run. Every
# override is printed with every run. ``stream`` gives each workload its
# own corpus.
SIZES = {
    "search": {"n_turns": 6000, "stream": 0, "hot_warm": 100, "hot_max_rows": 40_000,
               "hot_cpu_ops": 200, "full_queries": 5, "pcache_min_df": 1000,
               "prune_min_postings": 500},
    "ingest": {"n_turns": 4000, "stream": 1, "max_batches": 8},
}
# Self-check sizes: every code path, in seconds of work per workload.
TINY = {
    "search": {"n_turns": 400, "stream": 0, "hot_warm": 20, "hot_max_rows": 1_000,
               "hot_cpu_ops": 5, "full_queries": 5, "pcache_min_df": 50,
               "prune_min_postings": 30},
    "ingest": {"n_turns": 400, "stream": 1, "max_batches": 2},
}

# (n_terms, scoring mode, n_excluded_terms), cycled per query: 20 % ref_compat
# AND queries, 20 % with a NOT clause, the rest 1-3-term BM25.
FULL_SHAPES = [(1, "bm25", 0), (2, "bm25", 0), (2, "ref_compat", 0), (3, "bm25", 0),
               (2, "bm25", 1)]
HOT_SHAPES = [(1, "bm25", 0), (2, "bm25", 0), (3, "bm25", 0), (2, "bm25", 0)]
WARM_AT = 10**6  # warm-up queries come from log positions no timed query uses
# ingest's reads after each upsert: the search() phase's five shapes, with
# terms at fixed popularity ranks (terms, mode, excluded terms). With Zipf
# draws, five reads' CPU spread by 23 % between seeds, since the terms'
# document frequencies set the decode work.
INGEST_READS = [([0], "bm25", []), ([1, 12], "bm25", []), ([2, 30], "ref_compat", []),
                ([4, 8, 60], "bm25", []), ([3, 20], "bm25", [6])]
# The search() phase's Zipf exponent over the lemma vocabulary.
FULL_ZIPF_S = 1.0
# The hot_search window's exponent: about 30 % of its ops need a Spark job
# (a term evicted from the LRU, or winners not seen before), so p50 is a
# hit and p90 a miss, both well away from the boundary. At 1.0 nearly
# every op would miss.
HOT_ZIPF_S = 2.0
# A hot log's term draws are stratified over 128 CDF slices, not 8: at 2.0
# one draw in 8 lands in the long tail, and which tail terms come up sets
# the count of refetches and unseen winners. With 8 slices that count
# spread by 22 % between seeds over 150 calls, with 128 by 5 % over 200.
HOT_STRATA = 128
HOT_CHECK_EVERY = 50  # the hot window checks every 50th op (seeded phase) + its first 10


@dataclass
class Ctx:
    spark: object
    work: Path
    seed: int
    seconds: float
    tracer: object
    size: dict
    session_s: float


@dataclass
class Run:
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)     # BENCHMARK.json end_to_end metrics
    report: dict = field(default_factory=dict)  # every metric the workload defines
    info: dict = field(default_factory=dict)
    timed_s: float = 0.0  # wall time of every timed phase

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def put(self, name: str, value: float, unit: str, n: int = 1, note: str = "",
            e2e: "str | None" = None) -> None:
        self.report[name] = {"value": float(value), "unit": unit, "n": int(n), "note": note}
        if e2e:
            self.e2e[e2e] = {"value": float(value), "unit": unit}


@dataclass
class Window:
    lat: list      # latencies in seconds of the ops that returned
    n_ops: int     # ops attempted
    wall_s: float  # wall time, input making left out
    cpu_s: float   # engine CPU time (see tree_cpu_s), input making left out
    cpu_ops: int   # the ops cpu_s covers


# -- helpers -----------------------------------------------------------------

PCTS = (50, 75, 90, 95, 99, 99.9)


def tail_pct(n: int) -> "float | None":
    """Highest reported percentile with at least 10 samples beyond it."""
    ok = [p for p in PCTS if n * (100 - p) / 100 >= 10]
    return max(ok) if ok else None


def put_latency(run: Run, name: str, xs_s: list, e2e: "str | None" = None,
                p: float = 50) -> None:
    xs = np.asarray(xs_s) * 1e3
    v = float(np.percentile(xs, p)) if len(xs) else float("nan")
    beyond = int((xs > v).sum())
    tp = tail_pct(len(xs))
    note = f"p{p:g} of n={len(xs)} ({beyond} beyond); highest supported percentile: " + \
        (f"p{tp:g} = {np.percentile(xs, tp):.3f} ms" if tp else "none (n < 20)")
    run.put(name, v, "ms", len(xs), note, e2e=e2e)


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it: the driver, the Spark JVM and its Python workers.
    Workers that already exited count through their parent's reaped-child
    times. Unlike wall time, this does not grow when the host takes the
    CPUs away from the machine (steal), which on shared hosts moves the
    wall time of a Spark job by 20-40 % from run to run."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended meanwhile
            continue
        pid = int(name)
        kids.setdefault(int(fields[1]), []).append(pid)
        # utime, stime, cutime, cstime
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(kids.get(pid, ()))
    return total / _TICK


def materialize(index: dict) -> None:
    for key in ("docs", "terms", "postings"):
        index[key].count()


def build(ctx: Ctx, df) -> tuple[dict, float]:
    """build_index + first materialization of the served tables (the
    builder returns lazy checkpoints; a server pays this before serving)."""
    from searchengine_spark.operators import indexer as I
    t0 = time.perf_counter()
    with ctx.tracer.span("indexer", group=True):
        idx = I.build_index(df)
        materialize(idx)
    return idx, time.perf_counter() - t0


def closed_loop(ctx: Ctx, run: Run, start: int, op, prep, seconds: float = 0.0,
                n_min: int = 0, limit: "int | None" = None) -> Window:
    """Run op(i, prep(i)) for i = start, start+1, ... until ``seconds``
    elapsed and at least ``n_min`` ops ran, or ``limit`` ops ran. ``prep``
    makes the op's input (the benchmark's own work): it runs before the
    op's clock starts and its time is left out of the window. Engine CPU
    is taken over the first ``n_min`` ops when ``n_min`` is set, so it
    covers the same log positions however fast the host runs."""
    ctx.tracer.phase = "window"
    lat = []
    i = start
    prep_s = prep_cpu = 0.0
    cpu_at = n_min or None
    c_end = None
    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    while ((time.perf_counter() - t0 - prep_s < seconds or i - start < n_min)
           and (limit is None or i - start < limit)):
        t, c = time.perf_counter(), time.process_time()
        x = prep(i)
        prep_s += time.perf_counter() - t
        prep_cpu += time.process_time() - c
        t = time.perf_counter()
        try:
            op(i, x)
            lat.append(time.perf_counter() - t)
        except Exception as e:  # noqa: BLE001 — counted in error_rate
            run.fail(f"op {i}: {type(e).__name__}: {e}"[:300])
        i += 1
        if i - start == cpu_at:
            c_end = tree_cpu_s() - prep_cpu
    wall = time.perf_counter() - t0 - prep_s
    if c_end is None:
        c_end = tree_cpu_s() - prep_cpu
    w = Window(lat, i - start, wall, c_end - c0, cpu_at or i - start)
    run.attempted += w.n_ops
    run.timed_s += w.wall_s
    ctx.tracer.phase = "post"
    return w


def dictionary_df(idx: dict) -> dict[str, int]:
    t = idx["terms"].select("term", "df").toPandas()
    return dict(zip(t["term"], t["df"].astype(int)))


def rows_of(res) -> list[tuple]:
    return [(r["conv_id"], int(r["turn_idx"]), float(r["score"])) for r in res]


def check(run: Run, oracle: Oracle, i: int, q: dict, answer: list) -> None:
    msg = oracle.check(answer, q["q"], q["exclude"], q["mode"], K)
    if msg:
        run.fail(f"op {i} {q['mode']} {q['q']!r} exclude={q['exclude']!r}: {msg}")


# -- workloads ---------------------------------------------------------------

def search(ctx: Ctx) -> Run:
    from searchengine_spark.operators import hot as H
    from searchengine_spark.operators import pcache as P
    from searchengine_spark.operators import search as S
    run, size = Run(), ctx.size
    saved = P.PCACHE_MIN_DF, S.PRUNE_MIN_POSTINGS, H.HOT_MAX_ROWS
    P.PCACHE_MIN_DF, S.PRUNE_MIN_POSTINGS, H.HOT_MAX_ROWS = (
        size["pcache_min_df"], size["prune_min_postings"], size["hot_max_rows"])
    try:
        pdf, df = inputs.staged_corpus(ctx.spark, ctx.work, ctx.seed, size["n_turns"], size["stream"])
        idx, build_s = build(ctx, df)

        # hot_search window
        hlog = inputs.QueryLog(ctx.seed, HOT_ZIPF_S, HOT_SHAPES, HOT_STRATA)
        hwarm = size["hot_warm"]
        phase = ctx.seed % HOT_CHECK_EVERY
        frames: dict[int, object] = {}
        hot_cpu: list[float] = []

        def hot_op(i, q):
            c = time.process_time()
            with ctx.tracer.op("hot"):
                res = H.hot_search(idx, q["q"], k=K)
            hot_cpu.append(time.process_time() - c)
            if i < hwarm + 10 or i % HOT_CHECK_EVERY == phase:
                frames[i] = res

        t0 = time.perf_counter()
        for i in range(hwarm):
            hot_op(i, hlog.query(i))
        hot_warm_s = time.perf_counter() - t0
        del hot_cpu[:]
        hot = closed_loop(ctx, run, hwarm, hot_op, hlog.query, seconds=ctx.seconds,
                          n_min=size["hot_cpu_ops"])
        hot_cache = idx.get("_hotcache", {"terms": {}, "rows": 0})
        hot_cached = len(hot_cache["terms"]), hot_cache["rows"]

        # search() phase: one cycle of shapes
        flog = inputs.QueryLog(ctx.seed, FULL_ZIPF_S, FULL_SHAPES)
        n_full = size["full_queries"]
        answers: dict[int, list] = {}

        def full_op(i, q):
            with ctx.tracer.op("search"):
                res = S.search(idx, q["q"], k=K, mode=q["mode"], exclude=q["exclude"])
                with ctx.tracer.span("search.exec", group=True):
                    answers[i] = rows_of(res.collect())

        full = closed_loop(ctx, run, 0, full_op, flog.query, n_min=n_full, limit=n_full)

        oracle = Oracle(pdf.to_dict("records"))
        for i, res in sorted(frames.items()):
            if i >= hwarm:
                check(run, oracle, i, hlog.query(i),
                      list(zip(res["conv_id"], res["turn_idx"].astype(int), res["score"])))
        fq = [flog.query(i) for i in range(full.n_ops)]
        for q in fq:
            if q["i"] in answers:
                check(run, oracle, q["i"], q, answers[q["i"]])
        # which search() queries took the WAND (block-max pruned) path: the
        # engine's own report of what search() does with these arguments
        wand = sum(S.explain_query(idx, q["q"], k=K, mode=q["mode"])["wand"]["prunes"]
                   for q in fq)
        df_of = dictionary_df(idx)
        hot_terms = {t for i in range(hwarm + hot.n_ops) for t in hlog.query(i)["lemmas"]}
        hot_rows = sum(df_of.get(t, 0) for t in hot_terms)
        full_terms = {t for q in fq for t in q["lemmas"]}
        elig = [t for t in full_terms if P.PCACHE_MIN_DF <= df_of.get(t, 0) <= P.PCACHE_MAX_ROWS]
        elig_rows = sum(df_of[t] for t in elig)
        run.info.update({
            "n_docs": idx["stats"]["n_docs"], "n_terms": len(df_of), "input_turns": len(pdf),
            "build_s": round(build_s, 3), "hot_warm_queries": hwarm,
            "hot_warm_s": round(hot_warm_s, 3), "hot_zipf_s": HOT_ZIPF_S,
            "hot_queried_terms": len(hot_terms), "hot_queried_sum_df": hot_rows,
            "HOT_MAX_ROWS": H.HOT_MAX_ROWS,
            "hot_queried_sum_df_over_budget": round(hot_rows / H.HOT_MAX_ROWS, 3),
            "hot_exceeds_budget": hot_rows > H.HOT_MAX_ROWS,
            "hot_cached_terms_at_end": hot_cached[0], "hot_cached_rows_at_end": hot_cached[1],
            "hot_checked_ops": sum(1 for i in frames if i >= hwarm),
            "full_queried_terms": len(full_terms),
            "pcache_eligible_terms": len(elig), "pcache_eligible_rows": elig_rows,
            "PCACHE_MIN_DF": P.PCACHE_MIN_DF, "PCACHE_MAX_ROWS": P.PCACHE_MAX_ROWS,
            "pcache_fits": elig_rows <= P.PCACHE_MAX_ROWS,
            "PRUNE_MIN_POSTINGS": S.PRUNE_MIN_POSTINGS, "wand_queries": wand,
            "wand_share": round(wand / max(1, len(fq)), 3)})
        P.clear_postings_cache(idx)

        run.put("setup_s", ctx.session_s + build_s + hot_warm_s, "s",
                note="session start + build + hot warm-up", e2e="setup_s")
        put_latency(run, "hot_p50_ms", hot.lat)
        put_latency(run, "hot_p90_ms", hot.lat, p=90)
        run.put("hot_qps", len(hot.lat) / hot.wall_s, "1/s", len(hot.lat))
        # The median call is a zero-job hit, whose work is all in the driver
        # process: its CPU is read from the driver's own clock. The mean over
        # the window, Spark jobs of the misses included, moves with the host
        # (25 % spread between seeds), so it is reported but not bounded.
        run.put("hot_cpu_ms", float(np.median(hot_cpu)) * 1e3, "ms", len(hot_cpu),
                note="median engine CPU per hot_search call (a hit)", e2e="op_cpu_ms")
        run.put("hot_window_cpu_ms", hot.cpu_s * 1e3 / hot.cpu_ops, "ms", hot.cpu_ops,
                note="engine CPU of the window's first calls / their count, misses included")
        put_latency(run, "search_p50_ms", full.lat)
        put_latency(run, "search_p90_ms", full.lat, p=90)
        run.put("search_qps", len(full.lat) / full.wall_s, "1/s", len(full.lat))
        # a mean, not a median: the five shapes differ in cost, and which
        # one sits in the middle changes with the terms drawn
        run.put("search_cpu_ms", full.cpu_s * 1e3 / full.cpu_ops, "ms", full.cpu_ops,
                note="engine CPU per search() + collect(), mean of the phase")
        return run
    finally:
        P.PCACHE_MIN_DF, S.PRUNE_MIN_POSTINGS, H.HOT_MAX_ROWS = saved


def _du(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def ingest(ctx: Ctx) -> Run:
    from searchengine_spark.operators import search as S
    from searchengine_spark.operators import upsert as U
    from searchengine_spark.operators.pcache import clear_postings_cache
    run, size = Run(), ctx.size
    pdf, df = inputs.staged_corpus(ctx.spark, ctx.work, ctx.seed, size["n_turns"], size["stream"])
    idx, build_s = build(ctx, df)
    log = inputs.QueryLog(ctx.seed, FULL_ZIPF_S, FULL_SHAPES)
    n_reads = len(INGEST_READS)
    # one untimed search() first: the read-after-write query is then not
    # the JVM's first call into the query path (its compile work swung the
    # read's CPU by 30 % between runs), as on a server that already serves
    t0 = time.perf_counter()
    q = log.query(WARM_AT)
    S.search(idx, q["q"], k=K).collect()
    clear_postings_cache(idx)
    warm_s = time.perf_counter() - t0
    deltas = inputs.micro_batches(ctx.seed, pdf, size["max_batches"])
    delta_dfs = [ctx.spark.createDataFrame(d, schema=inputs.SCHEMA) for d in deltas]
    state = {"idx": idx}
    answers: list[list] = []  # read-after-write answer of each micro-batch
    up_lat, fresh_lat, up_cpu, fresh_cpu = [], [], [], []

    def reads(j):
        return [log.at_ranks(j * n_reads + k, *r) for k, r in enumerate(INGEST_READS)]

    def op(j, qs):
        c0, t0 = tree_cpu_s(), time.perf_counter()
        answer = []
        with ctx.tracer.op("ingest"):
            with ctx.tracer.span("upsert", group=True):
                new = U.upsert_turns(state["idx"], delta_dfs[j])
            c1, t1 = tree_cpu_s(), time.perf_counter()
            for q in qs:
                c, t = tree_cpu_s(), time.perf_counter()
                res = S.search(new, q["q"], k=K, mode=q["mode"], exclude=q["exclude"])
                with ctx.tracer.span("search.exec", group=True):
                    answer.append(rows_of(res.collect()))
                fresh_lat.append(time.perf_counter() - t)
                fresh_cpu.append(tree_cpu_s() - c)
        clear_postings_cache(state["idx"])
        state["idx"] = new
        answers.append(answer)
        up_lat.append(t1 - t0)
        up_cpu.append(c1 - c0)

    w = closed_loop(ctx, run, 0, op, reads, seconds=ctx.seconds, limit=size["max_batches"])
    if w.n_ops == size["max_batches"]:
        run.info["note"] = "window ended early: every prepared micro-batch was applied"

    run.attempted += sum(len(a) for a in answers)  # each read is an answer to check
    # read-after-write answers against the corpus after each upsert
    corpus = {(r["conv_id"], int(r["turn_idx"])): r for r in pdf.to_dict("records")}
    oracle = None
    for j, answer in enumerate(answers):
        corpus = inputs.apply_upsert(corpus, deltas[j])
        oracle = Oracle(list(corpus.values()))
        for q, a in zip(reads(j), answer):
            check(run, oracle, j, q, a)
    run.info.update({
        "n_docs_built": idx["stats"]["n_docs"], "input_turns": len(pdf),
        "micro_batches": len(answers), "delta_rows": [len(d) for d in deltas[:len(answers)]],
        "search_warm_s": round(warm_s, 3)})
    if ctx.tracer.traced:
        compact_and_save(ctx, run, state["idx"], corpus, oracle, log)
    clear_postings_cache(state["idx"])

    run.put("setup_s", ctx.session_s + build_s + warm_s, "s",
            note="session start + build + one search()", e2e="setup_s")
    run.put("build_turns_per_s", len(pdf) / build_s, "turns/s",
            note="dominated by the fixed per-build cost of Spark jobs at this size")
    put_latency(run, "upsert_p50_ms", up_lat)
    put_latency(run, "fresh_search_p50_ms", fresh_lat)
    put_latency(run, "microbatch_p50_ms", w.lat)
    run.put("microbatches_per_s", len(w.lat) / w.wall_s, "1/s", len(w.lat))
    run.put("upsert_cpu_ms", float(np.median(up_cpu)) * 1e3, "ms", len(up_cpu),
            note="median engine CPU per upsert_turns")
    run.put("microbatch_cpu_ms", w.cpu_s * 1e3 / w.cpu_ops, "ms", w.cpu_ops,
            note="engine CPU per micro-batch (upsert + its read-after-write searches)",
            e2e="op_cpu_ms")
    # a median over reads, each measured on its own: the mean over a batch's
    # reads spread by 23 % between seeds while the whole micro-batch spread
    # by 7 %, so CPU the upsert leaves running lands in the reads after it
    run.put("fresh_search_cpu_ms", float(np.median(fresh_cpu)) * 1e3, "ms", len(fresh_cpu),
            note="median engine CPU per read-after-write search() + collect()")
    return run


def compact_and_save(ctx: Ctx, run: Run, idx: dict, corpus: dict, oracle: "Oracle | None",
                     log) -> None:
    """compact_index(reassign_ids=True) + save_index of the upserted index,
    then one checked query on the compacted index. Traced runs only: the
    two cost about 15 s of a slow host's run and are single-shot, so they
    carry no bounded metric; their layers are measured here."""
    from searchengine_spark.operators import compact as C
    from searchengine_spark.operators import search as S
    from searchengine_spark.operators.pcache import clear_postings_cache
    from searchengine_spark.plans import manifest as M
    t0 = time.perf_counter()
    with ctx.tracer.span("compact", group=True):
        comp = C.compact_index(idx, reassign_ids=True)
        materialize(comp)
    compact_s = time.perf_counter() - t0
    out = ctx.work / "index" / f"ingest-s{ctx.seed}"
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    with ctx.tracer.span("manifest", group=True) as rec:
        M.save_index(comp, str(out))
    save_s = time.perf_counter() - t0
    written = _du(out)
    rec["bytes"] = written
    shutil.rmtree(out, ignore_errors=True)

    qf = log.query(10_000)
    run.attempted += 1
    try:
        check(run, oracle or Oracle(list(corpus.values())), 10_000, qf,
              rows_of(S.search(comp, qf["q"], k=K).collect()))
    except Exception as e:  # noqa: BLE001
        run.fail(f"compacted search: {type(e).__name__}: {e}"[:300])
    clear_postings_cache(comp)
    text_bytes = sum(len(r["text"].encode("utf-8")) for r in corpus.values())
    run.info.update({"n_docs_final": comp["stats"]["n_docs"], "save_s": round(save_s, 3),
                     "bytes_written": written, "text_bytes": text_bytes})
    run.put("compact_s", compact_s, "s")
    run.put("index_bytes_per_text_byte", written / text_bytes, "B/B")


WORKLOADS = {"search": search, "ingest": ingest}
