"""Traced runs: spans and counts recorded from the benchmark's side.

Nothing inside ``searchengine_spark`` is instrumented. ``Tracer.install``
wraps the public entry points of each layer where the caller looks them up
(``operators.search`` binds ``analyze_text`` and ``pcache_split`` at import,
so those names are patched in the search module); the benchmark's own calls
into the indexer, upsert, compact and manifest layers are wrapped in
``Tracer.span`` directly. Spans (name, start, end, parent, operation id)
stay in memory and are written out as JSON lines when the run ends.

Spark work is attributed with job groups: every operation, and every span
opened with ``group=True``, runs under its own group id, and the jobs,
tasks and failed tasks of each group are read back from
``statusTracker()`` when the span ends. The tracer times all of its own
code that runs in the timed window: span bookkeeping, job-group lookups
and everything a wrapper does outside the wrapped call (cache diffs, size
callbacks, the extra call layer). That time over the window's wall time
is ``trace.overhead_frac``. It leaves out indirect costs such as a colder
CPU cache; a paired traced / untraced comparison of ``hot_p50_ms`` shows
those. An untraced run uses ``NullTracer`` and installs no wrapper at all.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import time
import uuid
from collections import defaultdict

import numpy as np

LAYERS = ("session", "analysis", "indexer", "codec", "search", "pcache", "hot",
          "upsert", "compact", "manifest")

# (name, unit, better) of every per-layer metric a traced run reports.
LAYER_METRICS = [
    ("session.start_s", "s", "lower"),
    ("indexer.build_s", "s", "lower"),
    ("indexer.jobs", "count", "lower"),
    ("indexer.tasks", "count", "lower"),
    ("analysis.query_us", "us", "lower"),
    ("analysis.calls", "count", "lower"),
    ("search.plan_ms", "ms", "lower"),
    ("search.exec_ms", "ms", "lower"),
    ("search.jobs_per_query", "count", "lower"),
    ("search.tasks_per_query", "count", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("pcache.term_hits", "count", "higher"),
    ("pcache.term_misses", "count", "lower"),
    ("pcache.hit_ratio", "ratio", "higher"),
    ("pcache.evictions", "count", "lower"),
    ("hot.hit_ms", "ms", "lower"),
    ("hot.zero_job_ratio", "ratio", "higher"),
    ("hot.fetch_jobs", "count", "lower"),
    ("hot.fetch_ms", "ms", "lower"),
    ("hot.evicted_terms", "count", "lower"),
    ("hot.cached_rows", "rows", "higher"),
    ("codec.decode_ms", "ms", "lower"),
    ("codec.bytes_decoded", "B", "lower"),
    ("upsert.ms", "ms", "lower"),
    ("upsert.jobs", "count", "lower"),
    ("upsert.tasks", "count", "lower"),
    ("compact.s", "s", "lower"),
    ("compact.jobs", "count", "lower"),
    ("manifest.save_s", "s", "lower"),
    ("manifest.bytes_written", "B", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
] + [(f"self_s.{layer}", "s", "lower") for layer in LAYERS + ("other",)]


class NullTracer:
    traced = False
    phase = "setup"

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False, **attrs):
        yield None

    @contextlib.contextmanager
    def op(self, kind: str):
        yield None


class Tracer:
    traced = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.groups: list[str] = []
        self.op_id: "int | None" = None
        self.n_ops = 0
        self.phase = "setup"
        self.overhead_s = defaultdict(float)  # phase -> seconds of bookkeeping
        self.counts = defaultdict(float)      # (phase, counter) -> value
        self._patches: list[tuple] = []
        # job-group ids must not repeat across tracers sharing one session
        self._gids = (f"pb-{uuid.uuid4().hex[:8]}-{n}" for n in itertools.count(1))

    # -- spans --------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False, **attrs):
        t0 = time.perf_counter()
        rec = {"name": name, "parent": self.stack[-1] if self.stack else -1,
               "op": self.op_id, "phase": self.phase, **attrs}
        idx = len(self.spans)
        self.spans.append(rec)
        self.stack.append(idx)
        gid = None
        if group:
            gid = next(self._gids)
            self.groups.append(gid)
            self.sc.setJobGroup(gid, name, False)
        rec["start"] = time.perf_counter()
        self.overhead_s[self.phase] += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            if gid is not None:
                self.groups.pop()
                if self.groups:
                    self.sc.setJobGroup(self.groups[-1], "", False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                rec.update(self._jobs(gid))
            self.overhead_s[self.phase] += time.perf_counter() - rec["end"]

    @contextlib.contextmanager
    def op(self, kind: str):
        """One timed operation of the workload: its own job group, and the
        Spark work of every nested group summed into the op span."""
        self.n_ops += 1
        self.op_id = self.n_ops
        first = len(self.spans)
        try:
            with self.span("op." + kind, group=True) as rec:
                yield rec
            nested = [s for s in self.spans[first:] if "jobs" in s]
            for key in ("jobs", "tasks", "failed_tasks"):
                rec["total_" + key] = sum(s[key] for s in nested)
        finally:
            self.op_id = None

    def _jobs(self, gid: str) -> dict:
        st = self.sc.statusTracker()
        ids = list(st.getJobIdsForGroup(gid))
        deadline = time.perf_counter() + 5.0
        infos = [st.getJobInfo(j) for j in ids]
        while any(i is not None and i.status not in ("SUCCEEDED", "FAILED") for i in infos) \
                and time.perf_counter() < deadline:
            time.sleep(0.005)  # the status listener trails the action by a few ms
            infos = [st.getJobInfo(j) for j in ids]
        tasks = failed = 0
        for info in infos:
            for sid in (info.stageIds if info is not None else ()):
                si = st.getStageInfo(sid)
                if si is not None:
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
        return {"jobs": len(ids), "tasks": tasks, "failed_tasks": failed}

    # -- wrappers -----------------------------------------------------------

    def _patch(self, module, attr: str, wrapper) -> None:
        orig = getattr(module, attr)
        self._patches.append((module, attr, orig))
        setattr(module, attr, functools.wraps(orig)(wrapper(orig)))

    def _wrapper(self, name: str, group: bool = False, before=None, after=None):
        """Wrap a function in a span. ``before(*args)`` runs ahead of the
        call and its result goes to ``after(rec, that, *args)`` once the call
        returned. Everything the wrapper does outside the wrapped call counts
        as the tracer's overhead; calls nested inside keep their own."""
        def wrap(orig):
            def inner(*a, **kw):
                t_in = time.perf_counter()
                phase = self.phase
                ov0 = self.overhead_s[phase]
                that = before(*a, **kw) if before is not None else None
                t0 = t1 = nested = 0.0
                try:
                    with self.span(name, group=group) as rec:
                        ov_call = self.overhead_s[phase]
                        t0 = time.perf_counter()
                        try:
                            out = orig(*a, **kw)
                        finally:
                            t1 = time.perf_counter()
                            nested = self.overhead_s[phase] - ov_call
                    if after is not None:
                        after(rec, that, *a, **kw)
                    return out
                finally:
                    own = (time.perf_counter() - t_in) - (t1 - t0)
                    self.overhead_s[phase] = ov0 + own + nested
            return inner
        return wrap

    def install(self) -> None:
        from searchengine_spark.operators import codec, hot, pcache, search

        def put_bytes(rec, n, *a, **kw):
            rec["bytes"] = n

        self._patch(search, "analyze_text", self._wrapper("analysis"))
        self._patch(search, "search", self._wrapper("search", group=True))
        self._patch(codec, "varint_decode", self._wrapper(
            "codec", before=lambda buf, *a, **k: len(buf), after=put_bytes))
        self._patch(codec, "decode_doc_ids_batch", self._wrapper(
            "codec", before=lambda f, n, buf, *a, **k: len(buf), after=put_bytes))
        self._patch(hot, "_fetch_term_rows", self._wrapper("hot.fetch", group=True))

        def pcache_before(index, trows, *a, **kw):
            ns = kw.get("ns", a[1] if len(a) > 1 else "")
            elig = {(ns, r["term_id"]) for r in trows
                    if pcache.PCACHE_MIN_DF <= int(r["df"]) <= pcache.PCACHE_MAX_ROWS}
            return set(index.get("_pcache", {}).get("entries", {})), elig

        def pcache_after(rec, that, index, *a, **kw):
            before, elig = that
            after = set(index.get("_pcache", {}).get("entries", {}))
            self.counts[(self.phase, "pcache.term_hits")] += len(elig & before)
            self.counts[(self.phase, "pcache.term_misses")] += len(elig - before)
            self.counts[(self.phase, "pcache.evictions")] += len((before | elig) - after)

        self._patch(search, "pcache_split", self._wrapper(
            "pcache", before=pcache_before, after=pcache_after))

        def hot_before(index, *a, **kw):
            return set(index.get("_hotcache", {}).get("terms", {}))

        def hot_after(rec, before, index, *a, **kw):
            cache = index.get("_hotcache", {"terms": {}, "rows": 0})
            rec["evicted"] = len(before - set(cache["terms"]))
            rec["cached_rows"] = cache["rows"]

        self._patch(hot, "hot_search", self._wrapper("hot", before=hot_before, after=hot_after))

    def uninstall(self) -> None:
        while self._patches:
            module, attr, orig = self._patches.pop()
            setattr(module, attr, orig)

    def dump(self, path) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")

    # -- per-layer report ---------------------------------------------------

    def self_seconds(self) -> dict[str, float]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] >= 0:
                child[s["parent"]] += s["end"] - s["start"]
        out = {layer: 0.0 for layer in LAYERS}
        out["other"] = 0.0
        for i, s in enumerate(self.spans):
            layer = s["name"].split(".")[0]
            layer = layer if layer in out else "other"
            out[layer] += (s["end"] - s["start"]) - child[i]
        return out

    def layer_metrics(self, window_s: float, session_s: float) -> dict[str, float]:
        """Per-layer metrics (see README.md for each definition). Window
        metrics use the spans of the timed window only."""
        def dur(s):
            return s["end"] - s["start"]

        def med(xs):
            return float(np.median(xs)) if len(xs) else 0.0

        win = [s for s in self.spans if s["phase"] == "window"]

        def named(name, spans=win):
            return [s for s in spans if s["name"] == name]

        ops = [s for s in win if s["name"].startswith("op.")]
        n_ops = max(1, len(ops))
        op_jobs = {s["op"]: s.get("total_jobs", 0) for s in ops}
        m = {"session.start_s": session_s}
        builds = named("indexer", self.spans)
        m["indexer.build_s"] = med([dur(s) for s in builds])
        m["indexer.jobs"] = med([s["jobs"] for s in builds])
        m["indexer.tasks"] = med([s["tasks"] for s in builds])
        an = named("analysis")
        m["analysis.query_us"] = med([dur(s) for s in an]) * 1e6
        m["analysis.calls"] = len(an) / n_ops
        se, ex = named("search"), named("search.exec")
        m["search.plan_ms"] = med([dur(s) for s in se]) * 1e3
        m["search.exec_ms"] = med([dur(s) for s in ex]) * 1e3
        n_q = max(1, len(se))
        m["search.jobs_per_query"] = sum(s["jobs"] for s in se + ex) / n_q
        m["search.tasks_per_query"] = sum(s["tasks"] for s in se + ex) / n_q
        m["spark.failed_tasks"] = sum(s.get("total_failed_tasks", 0) for s in ops)
        for c in ("pcache.term_hits", "pcache.term_misses", "pcache.evictions"):
            m[c] = self.counts[("window", c)]
        looked = m["pcache.term_hits"] + m["pcache.term_misses"]
        m["pcache.hit_ratio"] = m["pcache.term_hits"] / looked if looked else 0.0
        hot = named("hot")
        hot_ops = [s for s in ops if s["name"] == "op.hot"]
        m["hot.hit_ms"] = med([dur(s) for s in hot if op_jobs.get(s["op"]) == 0]) * 1e3
        m["hot.zero_job_ratio"] = (sum(1 for s in hot_ops if s.get("total_jobs") == 0)
                                   / len(hot_ops)) if hot_ops else 0.0
        fetch = named("hot.fetch")
        m["hot.fetch_jobs"] = sum(s["jobs"] for s in fetch)
        m["hot.fetch_ms"] = med([dur(s) for s in fetch]) * 1e3
        m["hot.evicted_terms"] = sum(s.get("evicted", 0) for s in hot)
        m["hot.cached_rows"] = hot[-1].get("cached_rows", 0) if hot else 0
        codec = [s for s in named("codec")
                 if s["parent"] < 0 or self.spans[s["parent"]]["name"] != "codec"]
        m["codec.decode_ms"] = sum(dur(s) for s in codec) * 1e3 / n_ops
        m["codec.bytes_decoded"] = sum(s.get("bytes", 0) for s in codec) / n_ops
        up = named("upsert")
        m["upsert.ms"] = med([dur(s) for s in up]) * 1e3
        m["upsert.jobs"] = med([s["jobs"] for s in up])
        m["upsert.tasks"] = med([s["tasks"] for s in up])
        comp = named("compact", self.spans)
        m["compact.s"] = med([dur(s) for s in comp])
        m["compact.jobs"] = med([s["jobs"] for s in comp])
        man = named("manifest", self.spans)
        m["manifest.save_s"] = med([dur(s) for s in man])
        m["manifest.bytes_written"] = med([s.get("bytes", 0) for s in man])
        m["trace.overhead_frac"] = self.overhead_s["window"] / window_s if window_s else 0.0
        for layer, v in self.self_seconds().items():
            m[f"self_s.{layer}"] = v
        return m
