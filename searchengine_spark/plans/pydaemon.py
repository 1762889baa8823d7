"""The engine's PySpark worker daemon: ``pyspark.daemon`` without the
start-up cost every Python task pays again.

PySpark forks each Python worker from one daemon process and reuses a
worker across tasks. Measured with Python 3.11 on a 4-core host, a task
still paid about 190 ms of worker CPU before its function ran, even on a
reused worker, and a 1-partition identity ``mapInPandas`` cost 268 ms:

- ``pyspark.worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()`` at every task. On Python 3.11 that
  makes each zipimporter (about 16, most over ``pyspark.zip``) re-read its
  archive's central directory: 1,328 entries per read, 0.58 of 0.66 s of
  such a call under cProfile;
- the daemon's ``gc.collect()`` after every task walks the ~73 k objects
  that numpy, pandas, pyarrow and pyspark leave in the heap, ~50 ms;
- a freshly forked worker imports numpy, pandas, pyarrow, pyspark's
  worker and the engine's worker code itself: 0.48 s of CPU.

This module is ``spark.python.daemon.module`` in sessions that
``plans.session.get_spark`` starts on a local master. Before the daemon's
first fork it

1. makes ``zipimport.zipimporter.invalidate_caches`` re-read an archive
   only when its (mtime, size) differs from the last read
   (``install_zip_cache``). An archive added to the path later, or one
   that really changes, is read as before;
2. imports what workers run: numpy, pandas, pyarrow, ``pyspark.worker``
   and the engine modules whose functions execute in workers (the
   analysis UDFs, the block codec, ``search``'s block decoder);
3. calls ``gc.freeze()``, so those objects sit in the permanent generation
   and the per-task collection skips them;

then runs ``pyspark.daemon.manager()``. A reused worker's CPU per task
went from ~190 ms to ~7 ms, and a fresh worker starts at 0.01 s of CPU
instead of 0.48 s.

Run it as a module (``python -m searchengine_spark.plans.pydaemon``), as
Spark does; importing it changes nothing until ``install_zip_cache`` or
``main`` is called.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

# archive path → (mtime_ns, size) taken just before its directory was read
_read_at: "dict[str, tuple]" = {}


def _stamp(archive: str) -> "tuple | None":
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install_zip_cache() -> None:
    """Let ``zipimporter.invalidate_caches`` skip an archive whose (mtime,
    size) is unchanged since its directory was last read. The archives
    read so far are read once more here, each under a fresh stamp, so the
    stamps match what the importers hold. Idempotent."""
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "_stamped", False):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None \
                and _read_at.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        _read_at[self.archive] = stamp

    invalidate_caches._stamped = True
    for archive in list(zipimport._zip_directory_cache):
        stamp = _stamp(archive)
        try:
            zipimport._zip_directory_cache[archive] = \
                zipimport._read_directory(archive)
        except zipimport.ZipImportError:
            continue
        _read_at[archive] = stamp
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls) and finder.archive in _read_at:
            finder._files = zipimport._zip_directory_cache[finder.archive]
    cls.invalidate_caches = invalidate_caches


def preload() -> None:
    """Import what the workers run, once, before the daemon forks."""
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.daemon  # noqa: F401
    import pyspark.worker  # noqa: F401

    import searchengine_spark.functions.analysis  # noqa: F401
    import searchengine_spark.operators.codec  # noqa: F401
    import searchengine_spark.operators.search  # noqa: F401


def main() -> None:
    preload()
    install_zip_cache()  # after the imports: stamps every archive they read
    gc.freeze()
    from pyspark import daemon
    daemon.manager()


if __name__ == "__main__":
    main()
