"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we'd set on a real cluster: AQE on
(runtime re-plan + skew-join splitting), Arrow enabled for the pandas-UDF
analysis path, shuffle partitions sized to the parallelism instead of the
200 default, UTC session time zone so timestamp fixtures are stable, and
a driver heap sized from the host's RAM (``default_driver_memory``).

Python workers fork from the engine's own daemon (``plans/pydaemon.py``,
``spark.python.daemon.module``): it preloads what workers run, freezes
those objects out of the per-task garbage collection and stops
``importlib.invalidate_caches()`` from re-reading ``pyspark.zip``'s
directory at every task. That start-up cost was about 190 ms of worker
CPU per task, reused workers included, and 0.48 s for a fresh worker
(Python 3.11, 4-core host); with the daemon it is ~7 ms and 0.01 s. The
engine's root goes on the workers' ``PYTHONPATH``, so the daemon (and
the engine functions workers unpickle) import from any working
directory. Both settings apply to ``local[...]`` masters only
(``worker_conf``): a cluster's executors need not have the driver's
checkout, and a daemon that cannot import would fail every Python task.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the searchengine_spark package
ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


DRIVER_MEM_CAP_MB = 24 * 1024


def default_driver_memory() -> str:
    """``spark.driver.memory`` when SPARK_GRAFT_DRIVER_MEM is unset: a
    quarter of physical RAM, capped at 24g, so the driver JVM and its
    Python workers fit beside each other on a small host."""
    try:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (ValueError, OSError, AttributeError):  # RAM not reportable
        return f"{DRIVER_MEM_CAP_MB}m"
    return f"{min(DRIVER_MEM_CAP_MB, ram_mb // 4)}m"


def worker_conf(master: str) -> dict[str, str]:
    """The Python-worker settings ``get_spark`` adds for ``master``: the
    engine's daemon and the engine's root on the workers' ``PYTHONPATH``
    when the master is ``local`` (the workers run on this host, from this
    checkout); none otherwise, so a cluster keeps ``pyspark.daemon`` and
    its own ``PYTHONPATH``."""
    if master != "local" and not master.startswith("local["):
        return {}
    return {"spark.python.daemon.module": "searchengine_spark.plans.pydaemon",
            "spark.executorEnv.PYTHONPATH": ENGINE_ROOT}


def get_spark(
    app_name: str = "searchengine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's session (module docstring). On a local master, Python
    workers fork from ``plans/pydaemon.py``, which removes the ~190 ms of
    worker CPU a task paid before its function ran (0.48 s on a fresh
    worker); pass ``extra_conf={"spark.python.daemon.module":
    "pyspark.daemon"}`` for PySpark's own daemon. ``extra_conf`` entries
    override every default."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    # local[N] → N concurrent tasks; shuffle partitions default to that width.
    if shuffle_partitions is None:
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = (os.cpu_count() or 32) if inner == "*" else int(inner)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in {**worker_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
