"""Per-stage lineage + metrics rows and stage checkpoints (north rule).

Generalizes the reference's last-run metadata ``{timestamp,
sample_count}`` + gzip sample cache (/root/reference/src/use_cases/
SamplesCacheUseCase.py:13-76) to:

- ``lineage`` rows (schemas.LINEAGE): one row per (run_id, stage) with
  input/output counts, salt, wall time — appended to a parquet (Iceberg
  in production) table so any run is auditable. A stage's rows (its
  ``all`` row, its per-partition rows and whatever gate row its caller
  adds) land in ONE append: one parquet file, one Spark job, built from
  an Arrow table so no python worker runs.
- **stage checkpoints**: ``checkpoint_stage`` writes a stage's output
  table under ``{root}/{stage}``; a re-run with the same run_id reuses
  the materialized output instead of recomputing (the resumability
  requirement: any partition range resumes without recompute, since the
  checkpoint is partitioned by url_bucket like the input). A reused
  stage runs no job and appends nothing, so a resume records no row.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from pdf_metadata_extraction_spark.operators import ckpt
from pdf_metadata_extraction_spark.schemas import LINEAGE, local_frame


class LineageWriter:
    def __init__(self, spark: SparkSession, root: str, run_id: str) -> None:
        self.spark = spark
        self.root = root
        self.run_id = run_id
        self.lineage_path = os.path.join(root, "lineage")

    def record(self, stage: str, input_rows: int, output_rows: int,
               wall_ms: int, partition_range: str = "all", salt: int = 0) -> None:
        self.append([(stage, partition_range, salt, input_rows, output_rows, wall_ms)])

    def append(self, rows: list[tuple]) -> None:
        """Append ``(stage, partition_range, salt, input_rows,
        output_rows, wall_ms)`` rows as one parquet file. The frame is
        a ``local_frame``, so its plan is a LocalTableScan: the append
        is the write's one job, with no python stage."""
        now = datetime.now(timezone.utc)
        local_frame(
            self.spark, [(self.run_id, *r, now) for r in rows], LINEAGE
        ).coalesce(1).write.mode("append").parquet(self.lineage_path)

    def stage_path(self, stage: str) -> str:
        return os.path.join(self.root, "stages", self.run_id, stage)

    def committed(self, stage: str) -> bool:
        """Whether a finished checkpoint of ``stage`` is on disk — the
        same Hadoop FileSystem test the CC and PageRank checkpoints use,
        so a ``file:``/``hdfs:`` root resumes like a local one."""
        marker = os.path.join(self.stage_path(stage), "_SUCCESS")
        return ckpt.fs_exists(self.spark, marker)

    def read_stage(self, stage: str, schema: StructType | str) -> DataFrame:
        # read back with the EXPLICIT schema: an empty stage output (a
        # legitimate result of aggressive gates — zero matches, all
        # pages dropped) writes no part files, and schema INFERENCE on
        # such a dir throws UNABLE_TO_INFER_SCHEMA; the schema the code
        # knows is authoritative either way (and skipping inference is free)
        return self.spark.read.schema(schema).parquet(self.stage_path(stage))

    def write_stage(
        self,
        stage: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        input_rows: int = -1,
        partition_row_cap: int = 4096,
    ) -> tuple[DataFrame, list[tuple]]:
        """Write a stage's output and count it. Returns the read-back
        frame and its lineage rows, not yet appended: the ``all`` row
        first (its output_rows is the stage's row count), then the
        per-partition rows."""
        t0 = time.monotonic()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.stage_path(stage))
        out = self.read_stage(stage, df.schema)
        parts = []
        if partition_by:
            # per-partition lineage rows (north rule: any partition
            # range is independently auditable/resumable) — one row per
            # partition value of the FIRST partition column, from one
            # grouped count (bounded: each value is a directory on
            # disk) that also gives the stage total. Capped so a
            # pathological layout can't flood the lineage table, but the
            # cap is NEVER silent: the tail beyond the cap is recorded
            # as one explicit __overflow__ aggregate row, so
            # sum(partition output_rows) == the 'all' row always holds
            # (the audited invariant). Partition rows carry ONLY
            # output_rows — stage-level input_rows/wall_ms are not
            # attributable per partition, so they stay null here and
            # live on the 'all' row.
            col = partition_by[0]
            counts = sorted(
                (tuple(r) for r in out.groupBy(col).count().collect()),
                # Spark's ascending order: nulls first
                key=lambda r: (r[0] is not None, r[0]),
            )
            n_out = sum(n for _, n in counts)
            head = counts[:partition_row_cap]
            parts = [(stage, f"{col}={v}", 0, None, n, None) for v, n in head]
            tail = n_out - sum(n for _, n in head)
            if tail:
                parts.append((stage, f"{col}=__overflow__", 0, None, tail, None))
        else:
            n_out = out.count()
        wall_ms = int((time.monotonic() - t0) * 1000)
        return out, [(stage, "all", 0, input_rows, n_out, wall_ms), *parts]

    def checkpoint_stage(
        self,
        stage: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        input_rows: int = -1,
        partition_row_cap: int = 4096,
    ) -> DataFrame:
        """Materialize a stage's output; reuse it if already on disk.

        Cuts lineage (like ``df.checkpoint``) *and* survives driver
        restarts — the reference's sample-cache semantics, done with
        tables instead of gzip JSON.
        """
        if self.committed(stage):
            return self.read_stage(stage, df.schema)
        out, rows = self.write_stage(
            stage, df, partition_by, input_rows, partition_row_cap
        )
        self.append(rows)
        return out

    def read_lineage(self) -> DataFrame:
        return self.spark.read.schema(LINEAGE).parquet(self.lineage_path)
