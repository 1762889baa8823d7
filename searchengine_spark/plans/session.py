"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we'd set on a real cluster: AQE on
(runtime re-plan + skew-join splitting), Arrow enabled for the pandas-UDF
analysis path, shuffle partitions sized to the parallelism instead of the
200 default, UTC session time zone so timestamp fixtures are stable, and
a driver heap sized from the host's RAM (``default_driver_memory``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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


def get_spark(
    app_name: str = "searchengine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
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
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
