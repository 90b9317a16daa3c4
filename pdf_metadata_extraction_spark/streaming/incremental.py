"""Streaming incremental cardinality against DURABLE sketch state.

Each micro-batch appends its HLL registers as a parquet partition
(Iceberg in production) instead of keeping them in the streaming state
store, so the state survives restarts, is unbounded by watermarks, and
old state is never rewritten except by the explicit compaction below.

Failure/replay contract: Structured Streaming may re-run a micro-batch
after a crash. Every write is keyed by ``batch_id`` (hive-style
``batch_id=N`` directories, overwritten whole on re-run), and the merge
read covers exactly the partitions the first attempt saw — a replayed
batch overwrites its own outputs: idempotent, no double-counted
registers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def run_distinct_sketch(
    pages_stream: DataFrame,
    work_dir: str,
    key_cols: list[str],
    value_col: str,
    p: int = 8,
    available_now: bool = True,
):
    """Streaming incremental cardinality: per micro-batch HLL registers
    appended as a ``batch_id``-keyed partition, plus a merged estimate
    snapshot after every batch — "distinct urls per host, ever" over a
    continuous crawl WITHOUT rescanning or even retaining the accepted
    pages (the register table is ≤ 2^p rows per key per batch, and the
    merge is a register-wise max).

    This is the sketch-mergeability contract made operational: state
    is parquet partitions (Iceberg in production), bounded, append-only;
    a replayed batch overwrites its own partition and merges exactly
    the partitions its first attempt saw (``batch_id <= N``) — the
    module's standard idempotent re-run contract.

    Layout: ``{work_dir}/registers/batch_id=N/`` (keys, bucket,
    register), ``{work_dir}/estimates/batch_id=N/`` (keys,
    zero_registers, est — the estimate as of batch N inclusive),
    ``{work_dir}/ck/`` — the stream checkpoint.

    Long-run note: register ROWS are bounded (≤ 2^p per key per batch)
    but the PARTITION COUNT grows one directory per batch — at 10^5
    batches the merge read lists 10^5 dirs (a small-files concern, not
    a data-volume one). Production compacts: periodically rewrite
    partitions < N as one merged ``batch_id=N-1`` table (register-max
    is associative, so compaction commutes with future merges) — the
    same maintenance an Iceberg table would schedule.
    """
    from pdf_metadata_extraction_spark.operators.sketch import (
        hll_estimate,
        hll_registers,
        merge_registers,
    )

    root = work_dir.rstrip("/")
    reg_dir = f"{root}/registers"
    est_dir = f"{root}/estimates"

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        regs = hll_registers(batch_df, key_cols, value_col, p=p)
        regs.write.mode("overwrite").parquet(
            f"{reg_dir}/batch_id={batch_id}"
        )
        merged = merge_registers(
            sp.read.parquet(reg_dir)
            .where(F.col("batch_id") <= batch_id)
            .drop("batch_id")
        )
        hll_estimate(merged, key_cols, p=p).write.mode("overwrite").parquet(
            f"{est_dir}/batch_id={batch_id}"
        )

    writer = (
        pages_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", f"{root}/ck")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_registers(
    spark, work_dir: str, upto_batch: int
) -> None:
    """Compact the sketch sink's register partitions: merge every
    ``batch_id < upto_batch`` partition into ONE partition stored as
    ``batch_id = upto_batch - 1`` and delete the originals. Register-
    max is associative, so compaction commutes with all future merges
    and with replay (a replayed batch N >= upto_batch still reads
    exactly the state its first attempt saw — now in fewer files).

    This is the maintenance job run_distinct_sketch's long-run note
    names: rows were always bounded; this bounds the DIRECTORY count
    too. Write is tmp-then-rename via the Hadoop FileSystem API (works
    on file:/ hdfs:/ s3a: alike, same as the CC checkpoint sidecars).
    """
    from pyspark.sql import functions as F

    from pdf_metadata_extraction_spark.operators import ckpt

    reg_dir = work_dir.rstrip("/") + "/registers"
    fs, jroot = ckpt.fs_for(spark, reg_dir)
    if not fs.exists(jroot):
        return
    Path = getattr(spark._jvm, "org.apache.hadoop.fs.Path")  # one py4j lookup
    tmp = f"{reg_dir}/_compact_tmp_{upto_batch}"
    jtmp = Path(tmp)
    target = Path(f"{reg_dir}/batch_id={upto_batch - 1}")
    # a run killed between deleting the target and renaming the tmp
    # into its place left the target's registers only in the tmp (the
    # merge of every old partition, committed: _SUCCESS is written
    # last). Finish that commit before reading anything: a fresh merge
    # would read around the hidden tmp and lose the target's registers.
    if (not fs.exists(target)
            and fs.exists(Path(f"{tmp}/_SUCCESS"))
            and not fs.rename(jtmp, target)):
        raise IOError(
            f"compact_registers: resuming rename {tmp} -> {target} "
            f"failed; batch_id={upto_batch - 1}'s registers are in {tmp}"
        )
    olds = [
        s.getPath()
        for s in fs.listStatus(jroot)
        if s.getPath().getName().startswith("batch_id=")
        and int(s.getPath().getName().split("=", 1)[1]) < upto_batch
    ]
    if len(olds) <= 1:
        return
    merged = (
        spark.read.parquet(reg_dir)
        .where(F.col("batch_id") < upto_batch)
        .drop("batch_id")
    )
    keys = [c for c in merged.columns if c != "register"]
    compacted = merged.groupBy(*keys).agg(
        F.max("register").alias("register")
    )
    compacted.write.mode("overwrite").parquet(tmp)
    # Delete ONLY the rename target, rename the tmp into place (a
    # silently failed rename raises), and only then drop the other old
    # partitions. The merged state equals the originals at every step:
    # between the delete and the rename the target's registers live in
    # the committed tmp, which the resume above moves into place.
    fs.delete(target, True)
    if not fs.rename(jtmp, target):
        raise IOError(
            f"compact_registers: rename {tmp} -> {target} failed; "
            f"batch_id={upto_batch - 1}'s registers are in {tmp}, and "
            f"a rerun finishes the rename"
        )
    for p in olds:
        if p.getName() != target.getName():
            fs.delete(p, True)
