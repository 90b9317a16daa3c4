"""Session defaults that must hold outside a tuned box: with no env
override, neither Spark's shuffle and spill directories nor the
registry's checkpoint scratch sit on RAM-backed ``/dev/shm``;
pyspark's per-Column call-site capture is off, while analysis errors
still name what they could not resolve; and a local session lists a
partitioned table's directories on the driver, with no Spark job,
finding the same files a listing job finds."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = """
import json
from pdf_metadata_extraction_spark.session import get_spark
import __spark_entry__ as E
spark = get_spark(app_name="defaults", master="local[1]", shuffle_partitions=1)
disk = spark._jvm.org.apache.spark.SparkEnv.get().blockManager().diskBlockManager()
print(json.dumps({
    "spark.local.dir": spark.conf.get("spark.local.dir"),
    "block dirs": [d.getAbsolutePath() for d in disk.localDirs()],
    "checkpoint scratch": E._scratch_dir("defaults_"),
}))
spark.stop()
"""


def test_fresh_session_keeps_scratch_off_tmpfs():
    env = {k: v for k, v in os.environ.items() if k not in (
        "SPARK_GRAFT_LOCAL_DIR", "SPARK_GRAFT_SCRATCH", "SPARK_LOCAL_DIRS",
    )}
    out = subprocess.run(
        [sys.executable, "-c", _CHILD], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    paths = json.loads(out.strip().splitlines()[-1])
    assert paths["block dirs"], paths
    for what, p in paths.items():
        for path in p if isinstance(p, list) else [p]:
            assert not os.path.realpath(path).startswith("/dev/shm"), (what, path)


_CAPTURE_CHILD = """
import json
from pyspark.errors import AnalysisException
from pyspark.errors.utils import is_debugging_enabled
from pdf_metadata_extraction_spark.session import get_spark
spark = get_spark(app_name="capture", master="local[1]", shuffle_partitions=1)
try:
    spark.range(3).select("no_such_column").collect()
    err = None
except AnalysisException as exc:
    err = str(exc)
print(json.dumps({"capture": is_debugging_enabled(), "error": err}))
spark.stop()
"""


def test_fresh_session_skips_call_site_capture():
    out = subprocess.run(
        [sys.executable, "-c", _CAPTURE_CHILD], cwd=ROOT,
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])
    assert got["capture"] is False, got
    assert got["error"] and "no_such_column" in got["error"], got


_LISTING_CHILD = """
import json, sys
from pdf_metadata_extraction_spark.session import LISTING_THRESHOLD_CONF, get_spark
from pyspark.sql import functions as F

path = sys.argv[1]
SCHEMA = "id long, url_bucket int"

def listed(extra_conf):
    spark = get_spark(app_name="listing", master="local[2]",
                      shuffle_partitions=2, extra_conf=extra_conf)
    if extra_conf is None:
        spark.range(640).withColumn(
            "url_bucket", (F.col("id") % 64).cast("int")
        ).write.partitionBy("url_bucket").parquet(path)
    sc = spark.sparkContext
    sc.setJobGroup("listing", "listing")
    try:
        df = spark.read.schema(SCHEMA).parquet(path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    got = {
        "threshold": spark.conf.get(LISTING_THRESHOLD_CONF),
        "jobs": len(sc.statusTracker().getJobIdsForGroup("listing")),
        "files": sorted(df.inputFiles()),
        "buckets": sorted(r[0] for r in df.select("url_bucket").distinct().collect()),
        "count": df.count(),
    }
    spark.stop()
    return got

print(json.dumps({
    "default": listed(None),
    "spark_32": listed({LISTING_THRESHOLD_CONF: "32"}),
}))
"""


def test_local_session_lists_partitions_on_the_driver(tmp_path):
    """A 64-bucket table read with its schema given runs no job in a
    fresh local session (Spark's default of 32 ran a 64-task listing
    job), and finds the same files, buckets and rows as a session that
    brings Spark's 32 back through ``extra_conf``."""
    out = subprocess.run(
        [sys.executable, "-c", _LISTING_CHILD, str(tmp_path / "pages")],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])
    local, spark_32 = got["default"], got["spark_32"]
    assert local["jobs"] == 0, local["jobs"]
    assert spark_32["threshold"] == "32", spark_32["threshold"]
    assert spark_32["jobs"] >= 1, spark_32["jobs"]
    assert len(local["files"]) >= 64
    assert local["buckets"] == list(range(64))
    assert local["count"] == 640
    for key in ("files", "buckets", "count"):
        assert local[key] == spark_32[key], key


def test_listing_threshold_only_on_in_process_local_master():
    from pdf_metadata_extraction_spark.session import (
        LOCAL_LISTING_THRESHOLD,
        listing_threshold,
    )

    assert listing_threshold("local") == LOCAL_LISTING_THRESHOLD
    assert listing_threshold("local[4]") == LOCAL_LISTING_THRESHOLD
    assert listing_threshold("local[*]") == LOCAL_LISTING_THRESHOLD
    assert listing_threshold("local-cluster[2,1,1024]") is None
    assert listing_threshold("spark://h:7077") is None
    assert listing_threshold("yarn") is None
