"""Session defaults that must hold outside a tuned box: with no env
override, neither Spark's shuffle and spill directories nor the
registry's checkpoint scratch sit on RAM-backed ``/dev/shm``; and
pyspark's per-Column call-site capture is off, while analysis errors
still name what they could not resolve."""

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
