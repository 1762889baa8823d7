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
