"""Per-stage lineage + metrics rows and stage checkpoints (north rule).

Generalizes the reference's last-run metadata ``{timestamp,
sample_count}`` + gzip sample cache (/root/reference/src/use_cases/
SamplesCacheUseCase.py:13-76) to:

- ``lineage`` rows (schemas.LINEAGE): one row per (run_id, stage) with
  input/output counts, salt, wall time — appended to a parquet (Iceberg
  in production) table so any run is auditable.
- **stage checkpoints**: ``checkpoint_stage`` writes a stage's output
  table under ``{root}/{stage}``; a re-run with the same run_id reuses
  the materialized output instead of recomputing (the resumability
  requirement: any partition range resumes without recompute, since the
  checkpoint is partitioned by url_bucket like the input).
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from pdf_metadata_extraction_spark.schemas import LINEAGE


class LineageWriter:
    def __init__(self, spark: SparkSession, root: str, run_id: str) -> None:
        self.spark = spark
        self.root = root
        self.run_id = run_id
        self.lineage_path = os.path.join(root, "lineage")

    def record(self, stage: str, input_rows: int, output_rows: int,
               wall_ms: int, partition_range: str = "all", salt: int = 0) -> None:
        row = [(
            self.run_id, stage, partition_range, salt,
            input_rows, output_rows, wall_ms,
            datetime.now(timezone.utc).replace(tzinfo=None),
        )]
        self.spark.createDataFrame(row, LINEAGE).coalesce(1).write.mode("append").parquet(
            self.lineage_path
        )

    def stage_path(self, stage: str) -> str:
        return os.path.join(self.root, "stages", self.run_id, stage)

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
        path = self.stage_path(stage)
        marker = os.path.join(path, "_SUCCESS")
        # read back with the EXPLICIT schema: an empty stage output (a
        # legitimate result of aggressive gates — zero matches, all
        # pages dropped) writes no part files, and schema INFERENCE on
        # such a dir throws UNABLE_TO_INFER_SCHEMA; the plan's schema
        # is authoritative either way (and skipping inference is free)
        if os.path.exists(marker):
            return self.spark.read.schema(df.schema).parquet(path)
        t0 = time.monotonic()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        out = self.spark.read.schema(df.schema).parquet(path)
        wall_ms = int((time.monotonic() - t0) * 1000)
        out_rows = out.count()
        self.record(
            stage,
            input_rows=input_rows,
            output_rows=out_rows,
            wall_ms=wall_ms,
        )
        if partition_by:
            # per-partition lineage rows (north rule: any partition
            # range is independently auditable/resumable) — one row per
            # partition value of the FIRST partition column. Capped so a
            # pathological layout can't flood the lineage table, but the
            # cap is NEVER silent: the tail beyond the cap is recorded
            # as one explicit __overflow__ aggregate row, so
            # sum(partition output_rows) == the 'all' row always holds
            # (the audited invariant). Partition rows carry ONLY
            # output_rows — stage-level input_rows/wall_ms are not
            # attributable per partition, so they stay null here and
            # live on the 'all' row.
            col = partition_by[0]
            cap = partition_row_cap
            head = out.groupBy(col).count().orderBy(col).limit(cap).collect()
            covered = sum(r["count"] for r in head)
            now = datetime.now(timezone.utc).replace(tzinfo=None)
            rows = [
                (
                    self.run_id, stage, f"{col}={r[col]}", 0,
                    None, r["count"], None, now,
                )
                for r in head
            ]
            if covered < out_rows:
                rows.append((
                    self.run_id, stage, f"{col}=__overflow__", 0,
                    None, out_rows - covered, None, now,
                ))
            if rows:
                self.spark.createDataFrame(rows, LINEAGE).coalesce(1).write.mode(
                    "append"
                ).parquet(self.lineage_path)
        return out

    def read_lineage(self) -> DataFrame:
        return self.spark.read.schema(LINEAGE).parquet(self.lineage_path)
