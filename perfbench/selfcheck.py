#!/usr/bin/env python3
"""Self-check of the benchmark itself at a tiny size (not a repository test).

    python3 perfbench/selfcheck.py

Runs both workloads traced, in one Spark session, at the TINY sizes
with a 1-second window (about two minutes in all, most of it Spark job
overhead), and asserts that every metric named by the benchmark's spec and
by BENCHMARK.json is reported with its unit, and that error_rate is 0.
Exits 0 when every assertion holds.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import run as R  # noqa: E402

EXPECTED_REPORT = {
    "search": {"setup_s": "s", "hot_p50_ms": "ms", "hot_p90_ms": "ms", "hot_qps": "1/s",
               "hot_cpu_ms": "ms", "hot_window_cpu_ms": "ms", "search_p50_ms": "ms",
               "search_p90_ms": "ms", "search_qps": "1/s", "search_cpu_ms": "ms"},
    "ingest": {"setup_s": "s", "build_turns_per_s": "turns/s", "upsert_p50_ms": "ms",
               "fresh_search_p50_ms": "ms", "microbatch_p50_ms": "ms",
               "microbatches_per_s": "1/s", "upsert_cpu_ms": "ms", "microbatch_cpu_ms": "ms",
               "fresh_search_cpu_ms": "ms", "compact_s": "s", "index_bytes_per_text_byte": "B/B"},
}
# run.info facts the search workload must show: the cache relations it
# asserts, and WAND taken by some search() queries
EXPECTED_INFO = {"search": {"pcache_fits": lambda v: v is True, "wand_queries": lambda v: v > 0,
                            "hot_exceeds_budget": lambda v: v is True}}


def main() -> int:
    m = R.machine()
    R.prepare_env(m)
    from perfbench.tracer import LAYER_METRICS
    from perfbench.workloads import TINY
    spec = json.loads((R.ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(R.WORKLOAD_NAMES), "workload list"
    e2e_spec = {x["name"]: x["unit"] for x in spec["end_to_end"]}
    layer_spec = {x["name"]: (x["unit"], x["better"]) for x in spec["per_layer"]}
    assert layer_spec == {n: (u, b) for n, u, b in LAYER_METRICS}, "per_layer spec drifted"
    problems = []
    spark, session_s = R.start_spark(m["nproc"])
    try:
        for w in R.WORKLOAD_NAMES:
            run, layers = R.execute(w, 1, 1.0, True, TINY, spark, session_s)
            for line in (R.result_line(run, None), R.result_line(run, layers)):
                json.dumps(line)
            got_e2e = {n: v["unit"] for n, v in R.result_line(run, None)["metrics"].items()}
            if got_e2e != e2e_spec:
                problems.append(f"{w}: end_to_end metrics {got_e2e} != BENCHMARK.json {e2e_spec}")
            for name, unit in EXPECTED_REPORT[w].items():
                r = run.report.get(name)
                if r is None or r["unit"] != unit:
                    problems.append(f"{w}: report metric {name} [{unit}] missing or wrong unit: {r}")
            if set(layers) != {n for n, _, _ in LAYER_METRICS}:
                problems.append(f"{w}: per-layer metric names differ from LAYER_METRICS")
            for key, ok in EXPECTED_INFO.get(w, {}).items():
                if key not in run.info or not ok(run.info[key]):
                    problems.append(f"{w}: unexpected {key} = {run.info.get(key)!r}")
            if run.failed or not run.attempted:
                problems.append(f"{w}: error_rate {run.failed}/{run.attempted}: {run.errors}")
            print(f"{w}: attempted={run.attempted} failed={run.failed} "
                  f"e2e={json.dumps(run.e2e)}", flush=True)
    finally:
        R.stop_spark(spark)
    for p in problems:
        print("FAIL " + p)
    print("selfcheck " + ("FAILED" if problems else "OK"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
