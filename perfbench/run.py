#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload search --seed 1 --seconds 6 --trace 0

Run from anywhere; the engine sources are found next to this directory.
Prints a human-readable report, then as its LAST stdout line one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Exit status is 0
only when every checked answer matched the golden model. Scratch files
(Spark local dirs, staged inputs, traces) live in ``.perfbench_work/`` at
the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
WORKLOAD_NAMES = ("search", "ingest")
DEADLINE_S = 170  # a run that has not finished by then fails without a result
DRIVER_MEM_CAP_MB = 3072


def machine() -> dict:
    with open("/proc/meminfo") as f:
        ram_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "ram_gib": round(ram_kb / 2**20, 1),
            "loadavg_at_start": [round(x, 2) for x in os.getloadavg()],
            "driver_mem": f"{min(DRIVER_MEM_CAP_MB, ram_kb // 1024 // 4)}m"}


def prepare_env(m: dict) -> None:
    """Everything the Spark driver, JVM and Python workers need, set before
    pyspark starts: the engine on the workers' path whatever the cwd,
    a driver heap that fits the machine, scratch dirs inside the checkout."""
    tmp = WORK / "tmp"
    for d in (tmp, WORK / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    py = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + py if py else "")
    os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = m["driver_mem"]
    os.environ["SPARK_GRAFT_CPUS"] = str(m["nproc"])
    os.environ["TMPDIR"] = str(tmp)
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = str(tmp)
    sys.path.insert(0, str(ROOT))


def start_spark(nproc: int):
    from searchengine_spark.plans.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # C1 only: a run's JVM lives under a minute, and with the default
        # tiered compilation C2 compile threads compete with the four task
        # threads (search() p50 about 2x slower and noisier). C1-only
        # reserves a 48 MB code cache by default, which a run can fill
        # (the JIT then stops), so it gets the tiered default of 240 MB.
        "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m",
    })
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit
    (its Python workers are its children and end with it)."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def execute(workload: str, seed: int, seconds: float, trace: bool, sizes: dict, spark,
            session_s: float) -> tuple:
    """One workload on a started session → (Run, per-layer metrics | None)."""
    from perfbench import workloads as W
    from perfbench.tracer import NullTracer, Tracer
    tracer = Tracer(spark.sparkContext) if trace else NullTracer()
    if trace:
        now = time.perf_counter()
        tracer.spans.append({"name": "session", "parent": -1, "op": None, "phase": "setup",
                             "start": now - session_s, "end": now})
        tracer.install()
    try:
        ctx = W.Ctx(spark, WORK, seed, seconds, tracer, sizes[workload], session_s)
        run = W.WORKLOADS[workload](ctx)
    finally:
        if trace:
            tracer.uninstall()
    spark.catalog.clearCache()
    layers = None
    if trace:
        layers = tracer.layer_metrics(run.timed_s, session_s)
        (WORK / "traces").mkdir(parents=True, exist_ok=True)
        tracer.dump(WORK / "traces" / f"{workload}-s{seed}.jsonl")
    return run, layers


def result_line(run, layers) -> dict:
    from perfbench.tracer import LAYER_METRICS
    if layers is None:
        metrics = run.e2e
    else:
        metrics = {n: {"value": float(layers[n]), "unit": u} for n, u, _ in LAYER_METRICS}
    return {"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
            "metrics": metrics}


def print_report(workload: str, args, m: dict, run, layers) -> None:
    print(f"perfbench workload={workload} seed={args.seed} seconds={args.seconds} trace={int(args.trace)}")
    print("machine: " + json.dumps(m))
    print("workload: " + json.dumps(run.info, default=str))
    for name, r in run.report.items():
        print(f"  {name:28s} {r['value']:14.4f} {r['unit']:8s} n={r['n']:<6d} {r['note']}")
    rate = run.failed / run.attempted if run.attempted else 0.0
    print(f"  {'error_rate':28s} {rate:14.4f} {'ratio':8s} n={run.attempted:<6d} "
          f"{run.failed} of {run.attempted} operations raised or answered wrong")
    for e in run.errors:
        print("  error: " + e)
    if layers is not None:
        from perfbench.tracer import LAYER_METRICS
        for n, u, _ in LAYER_METRICS:
            print(f"  layer {n:26s} {layers[n]:14.4f} {u}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "searchengine_spark").is_dir() or not (ROOT / "tests" / "golden_model.py").is_file():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    m = machine()
    prepare_env(m)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    from perfbench.workloads import SIZES
    spark, session_s = start_spark(m["nproc"])
    try:
        run, layers = execute(args.workload, args.seed, args.seconds, bool(args.trace), SIZES,
                              spark, session_s)
    finally:
        stop_spark(spark)
        signal.alarm(0)
    print_report(args.workload, args, m, run, layers)
    print(json.dumps(result_line(run, layers)), flush=True)
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
