"""Streaming HLL sketch sink — driven end-to-end with an availableNow
file-source stream (register state survives across micro-batches),
plus register compaction and its kill-and-rerun contract."""

from pyspark.sql import functions as F
from pyspark.sql import types as T


def test_streaming_distinct_sketch(spark, tmp_path):
    """Round-6: incremental HLL cardinality as a streaming sink — the
    merged register state after the last batch equals the batch-built
    sketch of the union (mergeability), overlapping values across
    batches are not double-counted, and a per-batch estimate snapshot
    materializes."""
    import json

    from pdf_metadata_extraction_spark.operators.sketch import (
        distinct_estimate,
        hll_registers,
    )
    from pdf_metadata_extraction_spark.streaming.incremental import (
        run_distinct_sketch,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    schema = T.StructType(
        [T.StructField("host", T.StringType()),
         T.StructField("url", T.StringType())]
    )
    b1 = [{"host": "h1", "url": f"u{i}"} for i in range(120)]
    # batch 2 overlaps 60 of batch 1's urls and adds 80 new ones
    b2 = [{"host": "h1", "url": f"u{i}"} for i in range(60, 260, 1)][:140]
    (feed / "b1.jsonl").write_text("\n".join(json.dumps(r) for r in b1))
    (feed / "b2.jsonl").write_text("\n".join(json.dumps(r) for r in b2))
    work = str(tmp_path / "sk")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(str(feed))
    q = run_distinct_sketch(stream, work, ["host"], "url", p=6)
    q.awaitTermination(180)

    whole = spark.createDataFrame(
        [(r["host"], r["url"]) for r in b1 + b2], "host string, url string"
    )
    expect_regs = hll_registers(whole, ["host"], "url", p=6)
    merged = (
        spark.read.parquet(f"{work}/registers")
        .drop("batch_id")
        .groupBy("host", "bucket")
        .agg(F.max("register").alias("register"))
    )
    assert merged.subtract(expect_regs).count() == 0
    assert expect_regs.subtract(merged).count() == 0

    ests = spark.read.parquet(f"{work}/estimates")
    last = ests.where("batch_id = 1").collect()[0]
    batch_est = distinct_estimate(whole, ["host"], "url", p=6).collect()[0]
    assert last["est"] == batch_est["est"]
    assert ests.where("batch_id = 0").count() == 1


def test_streaming_sketch_compaction_preserves_state(spark, tmp_path):
    """compact_registers merges all pre-N partitions into batch_id=N-1
    and deletes the originals; the merged state (and therefore every
    future estimate) is unchanged — register-max is associative."""
    import json

    from pdf_metadata_extraction_spark.operators.sketch import (
        hll_registers,
    )
    from pdf_metadata_extraction_spark.streaming.incremental import (
        compact_registers,
        run_distinct_sketch,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    schema = T.StructType(
        [T.StructField("host", T.StringType()),
         T.StructField("url", T.StringType())]
    )
    allrows = []
    for b in range(3):
        rows = [{"host": "h", "url": f"u{b}-{i}"} for i in range(50)]
        allrows += rows
        (feed / f"b{b}.jsonl").write_text(
            "\n".join(json.dumps(r) for r in rows)
        )
    work = str(tmp_path / "sk")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(str(feed))
    run_distinct_sketch(stream, work, ["host"], "url", p=5)\
        .awaitTermination(180)

    compact_registers(spark, work, upto_batch=2)
    import os

    parts = sorted(
        d for d in os.listdir(f"{work}/registers")
        if d.startswith("batch_id=")
    )
    assert parts == ["batch_id=1", "batch_id=2"], parts
    whole = spark.createDataFrame(
        [(r["host"], r["url"]) for r in allrows], "host string, url string"
    )
    expect = hll_registers(whole, ["host"], "url", p=5)
    merged = (
        spark.read.parquet(f"{work}/registers")
        .drop("batch_id")
        .groupBy("host", "bucket")
        .agg(F.max("register").alias("register"))
    )
    assert merged.subtract(expect).count() == 0
    assert expect.subtract(merged).count() == 0


class _Killed(BaseException):
    """A process kill at a chosen call, as seen by the code under test."""


class _KillAtRename:
    """A Hadoop FileSystem whose ``rename`` kills the caller."""

    def __init__(self, fs):
        self._fs = fs

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def rename(self, src, dst):
        raise _Killed


def test_compaction_killed_before_rename_reruns_without_loss(
    spark, tmp_path, monkeypatch
):
    """A compaction killed between deleting its target partition and
    renaming the merged tmp into place loses nothing: the rerun
    finishes the interrupted commit, so the merged registers still
    equal those of every batch, and the old partitions are gone."""
    import os

    import pytest

    from pdf_metadata_extraction_spark.operators import ckpt
    from pdf_metadata_extraction_spark.operators.sketch import hll_registers
    from pdf_metadata_extraction_spark.streaming.incremental import (
        compact_registers,
    )

    work = str(tmp_path / "sk")
    allrows = []
    for b in range(4):
        rows = [("h", f"u{b}-{i}") for i in range(50)]
        allrows += rows
        hll_registers(
            spark.createDataFrame(rows, "host string, url string"),
            ["host"], "url", p=5,
        ).write.parquet(f"{work}/registers/batch_id={b}")

    fs_for = ckpt.fs_for

    def killing_fs_for(sp, path):
        fs, jpath = fs_for(sp, path)
        return _KillAtRename(fs), jpath

    monkeypatch.setattr(ckpt, "fs_for", killing_fs_for)
    with pytest.raises(_Killed):
        compact_registers(spark, work, upto_batch=3)
    monkeypatch.undo()
    # the kill window: the target is gone, its registers only in the tmp
    assert not os.path.exists(f"{work}/registers/batch_id=2")

    compact_registers(spark, work, upto_batch=3)
    parts = sorted(
        d for d in os.listdir(f"{work}/registers")
        if d.startswith("batch_id=")
    )
    assert parts == ["batch_id=2", "batch_id=3"], parts
    expect = hll_registers(
        spark.createDataFrame(allrows, "host string, url string"),
        ["host"], "url", p=5,
    )
    merged = (
        spark.read.parquet(f"{work}/registers")
        .drop("batch_id")
        .groupBy("host", "bucket")
        .agg(F.max("register").alias("register"))
    )
    assert merged.subtract(expect).count() == 0
    assert expect.subtract(merged).count() == 0
