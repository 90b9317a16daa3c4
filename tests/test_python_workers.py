"""Python worker set-up: the daemon's zip-directory guard
(``importlib.invalidate_caches()``, called by ``pyspark.worker`` before
every task, must not re-parse an unchanged zip archive, and must still
pick up a rewritten one), the frozen heap the workers inherit, the
local-only daemon default, the default core count, and the logged pool
warm-up."""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipfile
import zipimport

from pdf_metadata_extraction_spark.daemon_preload import guard_zip_directories

MOD = "zipguard_probe_mod"


def _write_zip(path, body: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{MOD}.py", body)


def test_guard_skips_unchanged_archive_and_rereads_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "VALUE = 1\n")
    # restore the stock method (and sys.path) when the test ends
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.syspath_prepend(archive)
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        assert importlib.import_module(MOD).VALUE == 1

        guard_zip_directories()
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        # different size and a later mtime: either alone marks a change
        _write_zip(archive, "VALUE = 22  # rewritten\n")
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        assert archive in reads
        del sys.modules[MOD]
        assert importlib.import_module(MOD).VALUE == 22
    finally:
        sys.modules.pop(MOD, None)
        sys.path_importer_cache.pop(archive, None)


def test_preload_daemon_workers_inherit_frozen_heap(spark):
    """Workers fork from a daemon that froze its preloaded heap, so the
    daemon's ``gc.collect()`` after every task skips the inherited
    objects (pandas, pyarrow, numpy, the engine: tens of thousands)."""
    assert spark.conf.get("spark.python.daemon.module") == (
        "pdf_metadata_extraction_spark.daemon_preload"
    )
    counts = (
        spark.sparkContext.parallelize([0], 1)
        .map(lambda _: gc.get_freeze_count())
        .collect()
    )
    assert counts[0] > 10_000


def test_default_cpus_is_usable_core_count(monkeypatch):
    from pdf_metadata_extraction_spark.session import default_cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


def test_daemon_default_only_on_local_master(monkeypatch):
    from pdf_metadata_extraction_spark.session import python_daemon_module

    monkeypatch.delenv("SPARK_GRAFT_PY_DAEMON", raising=False)
    preload = "pdf_metadata_extraction_spark.daemon_preload"
    assert python_daemon_module("local[4]") == preload
    assert python_daemon_module("local-cluster[2,1,1024]") == preload
    assert python_daemon_module("spark://head:7077") is None
    assert python_daemon_module("yarn") is None
    monkeypatch.setenv("SPARK_GRAFT_PY_DAEMON", "shipped.daemon")
    assert python_daemon_module("yarn") == "shipped.daemon"
    monkeypatch.setenv("SPARK_GRAFT_PY_DAEMON", "")
    assert python_daemon_module("local[4]") is None


def test_warm_up_failure_is_logged_not_raised(caplog):
    from pdf_metadata_extraction_spark.session import warm_python_pool

    class NoContext:
        @property
        def sparkContext(self):
            raise RuntimeError("no context")

    with caplog.at_level("WARNING"):
        warm_python_pool(NoContext())
    assert "warm-up failed" in caplog.text
    assert "no context" in caplog.text
