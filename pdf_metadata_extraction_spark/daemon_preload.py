"""Python worker daemon that pays per-worker and per-task set-up once.

The pyspark daemon forks one worker per concurrent task. Three set-up
costs are moved out of the forked workers:

1. **Heavy imports.** pandas/pyarrow/numpy and the engine's own kernels
   are imported once in the daemon parent, so every fork inherits the
   loaded modules copy-on-write instead of importing them on its first
   Arrow batch.
2. **Zip-directory re-reads.** Before every task, ``pyspark.worker``
   calls ``importlib.invalidate_caches()`` (``worker_util.
   setup_spark_files``). Before Python 3.12 that makes each
   ``zipimporter`` re-parse its archive's whole central directory in
   pure Python, right away. The workers hold 14 importers into
   ``pyspark.zip`` (1,328 entries): 0.12 s of CPU per python task,
   measured on Python 3.11, and a flagship iteration over 2,000 pages
   runs 16 python tasks. ``guard_zip_directories`` makes the re-read
   happen only when the archive's ``(st_mtime_ns, st_size)`` changed.
   Python 3.12 made the re-read lazy (CPython gh-103200), so there the
   guard does nothing.
3. **Garbage-collector walks of the inherited heap.** After every task
   of a reused worker the daemon calls ``gc.collect()``, which walks
   every GC-tracked object the worker holds: ~74k of them inherited
   from the preload imports, 38-42 ms of CPU each time, measured on
   Python 3.11 (an empty ``mapInArrow`` task cost ~45 ms of worker
   CPU). ``gc.freeze()`` right before ``manager()`` moves the inherited
   heap into the permanent generation, CPython's documented recipe for
   forking servers, so the collections walk only what the tasks
   themselves allocated (~4 ms per empty task). Frozen objects are
   never collected; they are module state that lives as long as the
   worker anyway.

Opt in with ``spark.python.daemon.module =
pdf_metadata_extraction_spark.daemon_preload`` (``session.get_spark``
sets it for ``local`` masters; env-overridable). The module must be
importable on every worker host: true for local mode and for any
cluster that ships the package.

RDD and SQL python stages share one daemon per session. Spark starts a
daemon per distinct worker env, and ``session.get_spark`` gives RDD
jobs the ``SPARK_SIMPLIFIED_TRACEBACK`` variable the SQL runners add,
so ``mapInArrow``, the Arrow UDFs and a ``createDataFrame(list)``
collect all fork from this one process. It starts with the session's
first python task, not at session build."""

import gc
import os
import sys
import zipimport

# EVERY preload import is individually guarded: a missing/broken
# library must degrade to the stock lazy-import behavior, never take
# the daemon (and with it every python stage of the session) down.
for _mod in (
    "pandas",
    "pyarrow",
    "pyarrow.pandas_compat",  # the lazy half of arrow<->pandas
    "numpy",
    # the engine's own python kernels (segmenter, linker)
    "pdf_metadata_extraction_spark.plans.pipeline",
):
    try:
        __import__(_mod)
    except Exception:  # pragma: no cover - defensive only
        pass

from pyspark.daemon import manager


def _stat_key(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def guard_zip_directories() -> None:
    """Re-read a zip archive's directory on ``invalidate_caches()`` only
    when the archive changed, and stamp every importer that exists now
    with its archive's current stat key (no re-read: the directory was
    read when the importer was made). An importer without a stamp reads
    on its first call, as before, and is stamped then. Idempotent; a
    no-op from Python 3.12 on."""
    if sys.version_info >= (3, 12):
        return
    cls = zipimport.zipimporter
    if not getattr(cls.invalidate_caches, "reads_only_on_change", False):
        stock = cls.invalidate_caches

        def invalidate_caches(self):
            key = _stat_key(self.archive)
            if key is None or key != getattr(self, "_dir_stat_key", None):
                stock(self)
                self._dir_stat_key = key

        invalidate_caches.reads_only_on_change = True
        cls.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder._dir_stat_key = _stat_key(finder.archive)


if __name__ == "__main__":
    guard_zip_directories()
    gc.freeze()
    manager()
