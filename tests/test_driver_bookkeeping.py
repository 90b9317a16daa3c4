"""Driver-side bookkeeping runs no Spark job and few py4j round trips.

Rows the driver already holds become a frame only through
``schemas.local_frame``: its plan is a ``LocalTableScan``, so an action
on it runs no job, and nested types and timestamps survive the Arrow
trip. An AST scan fails on any other ``createDataFrame`` in engine code
(the package and ``__spark_entry__.py``). The checkpoint sidecar helpers
resolve each JVM class in one py4j lookup.
"""

import ast
import datetime
from pathlib import Path

from pyspark.sql import Row
from pyspark.sql import types as T

from pdf_metadata_extraction_spark.operators import ckpt
from pdf_metadata_extraction_spark.schemas import LINEAGE, SEGMENT_BOX, local_frame

ROOT = Path(__file__).resolve().parents[1]
PKG = "pdf_metadata_extraction_spark"
HELPER = (f"{PKG}/schemas.py", "local_frame")


def _engine_files() -> list[Path]:
    return [ROOT / "__spark_entry__.py", *sorted((ROOT / PKG).rglob("*.py"))]


def _create_dataframe_calls(path: Path) -> list[tuple[str, int]]:
    """``(enclosing top-level function, line)`` of every
    ``<x>.createDataFrame(...)`` call in ``path``."""
    found = []
    for top in ast.parse(path.read_text()).body:
        name = getattr(top, "name", None)
        for node in ast.walk(top):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"):
                found.append((name, node.lineno))
    return found


def test_engine_builds_driver_rows_only_through_local_frame():
    stray, in_helper = [], 0
    for path in _engine_files():
        rel = path.relative_to(ROOT).as_posix()
        for func, line in _create_dataframe_calls(path):
            if (rel, func) == HELPER:
                in_helper += 1
            else:
                stray.append(f"{rel}:{line}")
    assert in_helper == 1, in_helper
    assert not stray, f"createDataFrame outside local_frame: {stray}"


def test_scan_finds_calls_at_any_depth(tmp_path):
    """The guard's own check: calls nested in methods and closures are
    found, and a mention in a docstring or comment is not a call."""
    src = tmp_path / "probe.py"
    src.write_text(
        '"""spark.createDataFrame(rows) in a docstring."""\n'
        "class Q:\n"
        "    def q(self, spark):\n"
        "        def inner():\n"
        "            return spark.createDataFrame([], 'a int')\n"
        "        # spark.createDataFrame(comment)\n"
        "        return inner\n"
    )
    assert _create_dataframe_calls(src) == [("Q", 5)]


def _jobs_of(spark, group: str, action) -> tuple[int, object]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_local_frame_plans_a_local_scan_and_runs_no_job(spark):
    df = local_frame(spark, [("a", 1), ("b", None)], "k string, v long")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan"), plan
    n_jobs, rows = _jobs_of(spark, "local_frame_collect", df.collect)
    assert n_jobs == 0, n_jobs
    assert rows == [Row(k="a", v=1), Row(k="b", v=None)]
    n_jobs, rows = _jobs_of(
        spark, "local_frame_empty",
        local_frame(spark, [], "q_ppm long, value long, n long").collect,
    )
    assert (n_jobs, rows) == (0, [])


def test_local_frame_keeps_nested_types_and_timestamps(spark):
    """Collected ``Row``s re-wrap unchanged: structs, arrays of structs,
    non-null fields and UTC instants (the session time zone)."""
    schema = T.StructType([
        T.StructField("node", T.LongType(), False),
        T.StructField("boxes", T.ArrayType(SEGMENT_BOX), True),
        T.StructField("tags", T.MapType(T.StringType(), T.IntegerType()), True),
        T.StructField("ts", T.TimestampType(), True),
    ])
    box = Row(left=1.0, top=2.0, width=3.0, height=4.0, page_width=5.0,
              page_height=6.0, page_number=1, segment_type="Text")
    ts = datetime.datetime(2021, 3, 4, 5, 6, 7, 891000,
                           tzinfo=datetime.timezone.utc)
    first = local_frame(
        spark, [(7, [box, None], {"a": 1}, ts), (8, None, None, None)], schema
    )
    assert first.schema == schema
    rows = first.collect()
    again = local_frame(spark, rows, first.schema)
    assert again.collect() == rows
    assert rows[0]["boxes"][0] == box and rows[0]["boxes"][1] is None
    assert rows[0]["tags"] == {"a": 1}
    assert first.selectExpr("cast(ts as string)").first()[0] == (
        "2021-03-04 05:06:07.891"
    )
    assert first.selectExpr("unix_micros(ts)").first()[0] == (
        int(ts.timestamp()) * 1_000_000 + 891000
    )
    lineage = local_frame(
        spark, [("run", "stage", "all", 0, 1, 2, 3, ts)], LINEAGE
    )
    assert lineage.schema == LINEAGE
    assert lineage.selectExpr("unix_micros(ts)").first()[0] == (
        int(ts.timestamp()) * 1_000_000 + 891000
    )


def test_fs_exists_resolves_path_in_one_lookup(spark, tmp_path):
    """One ``r\\nu\\n`` (get unknown member) command per JVM class: a
    walk of ``spark._jvm.org.apache.hadoop.fs.Path`` sent one per
    package segment, five in all."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    lookups = []

    def counted(command, *args, **kwargs):
        if command.startswith("r\nu\n"):
            lookups.append(command.split("\n")[2])
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        assert ckpt.fs_exists(spark, str(tmp_path))
    finally:
        client.send_command = send
    assert len(lookups) <= 1, lookups
