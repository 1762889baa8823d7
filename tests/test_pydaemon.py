"""The engine's PySpark worker daemon (plans/pydaemon.py): a zip archive's
directory is re-read only when the archive changed, and Spark's Python
workers fork from a daemon that preloaded what they run and froze it out
of the per-task garbage collection."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd

from searchengine_spark.plans import pydaemon


def test_zip_directory_reread_only_when_the_archive_changes(tmp_path,
                                                            monkeypatch):
    arc = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(arc, "w") as z:
        z.writestr("pyd_mod_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(arc)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(pydaemon, "_read_at", {})
    try:
        import pyd_mod_a
        assert pyd_mod_a.X == 1
        pydaemon.install_zip_cache()
        reads = []
        real = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert arc not in reads  # unchanged: the directory is not re-read
        with zipfile.ZipFile(arc, "w") as z:
            z.writestr("pyd_mod_a.py", "X = 2\n")
            z.writestr("pyd_mod_b.py", "Y = 3\n")
        importlib.invalidate_caches()
        assert reads.count(arc) == 1  # rewritten: read once more
        import pyd_mod_b
        assert pyd_mod_b.Y == 3
    finally:
        for m in ("pyd_mod_a", "pyd_mod_b"):
            sys.modules.pop(m, None)
        sys.path_importer_cache.pop(arc, None)
        zipimport._zip_directory_cache.pop(arc, None)


def test_workers_fork_from_the_preloaded_frozen_daemon(spark):
    assert spark.conf.get("spark.python.daemon.module") == \
        "searchengine_spark.plans.pydaemon"

    def probe(batches):
        import gc
        loaded = [m for m in ("pandas", "pyarrow",
                              "searchengine_spark.operators.codec")
                  if m in sys.modules]
        frozen = gc.get_freeze_count()
        for _ in batches:
            pass
        yield pd.DataFrame({"loaded": [",".join(loaded)],
                            "frozen": [frozen]})

    rows = (spark.range(1).coalesce(1)
            .mapInPandas(probe, "loaded string, frozen long").collect())
    assert rows[0]["loaded"] == "pandas,pyarrow,searchengine_spark.operators.codec"
    assert rows[0]["frozen"] > 0


def test_only_local_masters_get_the_engine_daemon():
    from searchengine_spark.plans.session import ENGINE_ROOT, worker_conf
    for master in ("local", "local[2]", "local[*]", "local[4,2]"):
        assert worker_conf(master) == {
            "spark.python.daemon.module": "searchengine_spark.plans.pydaemon",
            "spark.executorEnv.PYTHONPATH": ENGINE_ROOT}
    # a cluster's executors need not have this checkout: pyspark.daemon
    # and their own PYTHONPATH stay
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443",
                   "local-cluster[2,1,1024]"):
        assert worker_conf(master) == {}
