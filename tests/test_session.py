"""Session factory defaults (plans/session.py)."""

from __future__ import annotations

import os

from searchengine_spark.plans.session import get_spark


def test_local_n_sets_shuffle_partitions(spark, monkeypatch):
    """local[N] defaults shuffle partitions to N, not the host core count."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setattr(os, "cpu_count", lambda: 64)
    try:
        s = get_spark("tests", master="local[4]")
        assert s.conf.get("spark.sql.shuffle.partitions") == "4"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_driver_memory_default_is_a_quarter_of_ram_capped(monkeypatch):
    """Without SPARK_GRAFT_DRIVER_MEM the driver heap is RAM / 4, never
    above 24g: 16 GiB → 4096m, 1 TiB → 24576m."""
    from searchengine_spark.plans import session

    page = 4096
    for ram_gib, want in ((16, "4096m"), (1024, "24576m"), (2, "512m")):
        monkeypatch.setattr(os, "sysconf", lambda name, r=ram_gib: {
            "SC_PAGE_SIZE": page,
            "SC_PHYS_PAGES": r * 2**30 // page}[name])
        assert session.default_driver_memory() == want


def test_driver_memory_env_override_wins(spark, monkeypatch):
    """SPARK_GRAFT_DRIVER_MEM still sets the heap; unset, the RAM-derived
    default applies (read from SparkSession.Builder.config; the session
    already exists, so the JVM keeps its heap)."""
    from pyspark.sql import SparkSession

    from searchengine_spark.plans import session

    seen = {}
    real = SparkSession.Builder.config

    def spy(self, key=None, value=None, *a, **kw):
        if key == "spark.driver.memory":
            seen["mem"] = value
        return real(self, key, value, *a, **kw)

    monkeypatch.setattr(SparkSession.Builder, "config", spy)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    session.get_spark("tests", master="local[4]")
    assert seen["mem"] == "3g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    session.get_spark("tests", master="local[4]")
    assert seen["mem"] == session.default_driver_memory()
