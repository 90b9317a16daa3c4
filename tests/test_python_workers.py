"""Python worker set-up: the daemon's zip-directory guard
(``importlib.invalidate_caches()``, called by ``pyspark.worker`` before
every task, must not re-parse an unchanged zip archive, and must still
pick up a rewritten one), the frozen heap the workers inherit, the
local-only daemon default, the default core count, and the one python
worker pool a session starts on first use (one daemon for RDD and SQL
python stages, none at build) whose Arrow UDF errors stay short, and
that driver-held rows (a collected ``local_frame``, a lineage append)
start no python process at all."""

from __future__ import annotations

import gc
import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

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


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A fresh session's python processes. A daemon is a daemon_preload
# process whose parent is the JVM; its workers are its children.
_POOL_PROBE = """
import json, os
from pdf_metadata_extraction_spark.session import get_spark

def children():
    kids = {}
    for p in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{p}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    return kids

def cmdline(pid):
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().decode(errors="replace")
    except OSError:
        return ""

def pool():
    kids = children()
    jvm = [p for p in kids.get(os.getpid(), []) if "java" in cmdline(p)]
    under_jvm = [c for p in jvm for c in kids.get(p, [])]
    daemons = [p for p in under_jvm if "daemon_preload" in cmdline(p)]
    return {"jvm": len(jvm), "python_children": len(under_jvm),
            "daemons": len(daemons),
            "workers": sum(len(kids.get(d, [])) for d in daemons)}
"""

# the pool read at three points: right after get_spark(), after one
# mapInArrow, and after an RDD-runner job (the collect of a
# createDataFrame(list) frame) plus the flagship's link_options over
# segments_from_pages
_POOL_CHILD = _POOL_PROBE + """
from pdf_metadata_extraction_spark.operators.linking import link_options
from pdf_metadata_extraction_spark.plans.pipeline import segments_from_pages
from pdf_metadata_extraction_spark.sources.pages_synth import row_for_doc
from pyspark.sql import functions as F

spark = get_spark(app_name="pool", master="local[2]", shuffle_partitions=2)
seen = {"build": pool()}
spark.range(4).mapInArrow(lambda it: it, "id long").collect()
seen["mapInArrow"] = pool()
spark.createDataFrame([(i, str(i)) for i in range(8)], "k int, v string").collect()
rows = [row_for_doc(i) for i in range(6, 30)]
pages = spark.createDataFrame(
    [(r["url"], r["html"]) for r in rows], "url string, html binary")
options = spark.createDataFrame(
    [("mentions", "spark", "spark", True)],
    "extraction_name string, option_id string, label string, multi_value boolean")
segs = segments_from_pages(pages).withColumn("extraction_name", F.lit("mentions"))
link_options(segs, options).collect()
seen["link_options"] = pool()
print(json.dumps(seen))
spark.stop()
"""


@pytest.fixture(scope="module")
def pool_counts():
    out = subprocess.run(
        [sys.executable, "-c", _POOL_CHILD], cwd=ROOT, env=dict(os.environ),
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def test_python_pool_starts_on_first_python_stage(pool_counts):
    assert pool_counts["build"]["jvm"] == 1, pool_counts
    assert pool_counts["build"]["python_children"] == 0, pool_counts
    assert pool_counts["mapInArrow"]["daemons"] == 1, pool_counts


def test_rdd_and_sql_python_stages_share_one_daemon(pool_counts):
    assert pool_counts["link_options"]["daemons"] == 1, pool_counts


# the pool after collecting a local_frame of flagship options and one
# lineage append: driver-held rows, so no python process should start
_LOCAL_FRAME_CHILD = _POOL_PROBE + """
import sys
from pdf_metadata_extraction_spark.plans.lineage import LineageWriter
from pdf_metadata_extraction_spark.schemas import local_frame

spark = get_spark(app_name="local_frame", master="local[2]", shuffle_partitions=2)
local_frame(spark, [("mentions", "spark", "spark", True)],
    "extraction_name string, option_id string, label string, multi_value boolean",
).collect()
LineageWriter(spark, sys.argv[1], "run").record("stage", 3, 2, 5)
rows = spark.read.parquet(sys.argv[1] + "/lineage").count()
print(json.dumps({"pool": pool(), "lineage_rows": rows}))
spark.stop()
"""


def test_local_frame_and_lineage_append_start_no_python_worker(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", _LOCAL_FRAME_CHILD, str(tmp_path)], cwd=ROOT,
        env=dict(os.environ), capture_output=True, text=True, timeout=300,
        check=True,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])
    assert got["lineage_rows"] == 1, got
    assert got["pool"]["jvm"] == 1, got
    assert got["pool"]["python_children"] == 0, got


def test_arrow_udf_error_names_user_exception_without_worker_frames(spark):
    def boom(xs: pa.Array) -> pa.Array:
        raise ValueError("bad page 42")

    udf = F.arrow_udf(boom, "long")
    with pytest.raises(PythonException) as err:
        spark.range(2).select(udf("id")).collect()
    text = str(err.value)
    assert "ValueError" in text and "bad page 42" in text, text
    assert "pyspark/worker.py" not in text, text
