"""Table IO — Iceberg in production, parquet stand-in in this sandbox
(SURVEY.md §2.1 S4; the Iceberg runtime jar is not available here).

``write_table``/``read_table`` switch on whether an Iceberg catalog is
configured (``spark.sql.catalog.<name>``). The parquet path reproduces
the same physical layout (explicit bucket column + partitionBy) so plans
and pruning behave identically; the Iceberg path uses ``writeTo`` with
the DDL the production deployment would carry:

    CREATE TABLE kg.pages (url string, warc_ts timestamp, html binary,
                           text string, lang string)
    USING iceberg PARTITIONED BY (bucket(64, url), days(warc_ts))

Tenancy columns (run_name, extraction_name) are injected on append —
the reference injects them in its Mongo sink
(/root/reference/src/adapters/MongoPersistenceRepository.py:38-41).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def has_iceberg(spark: SparkSession, catalog: str = "kg") -> bool:
    return spark.conf.get(f"spark.sql.catalog.{catalog}", None) is not None


def write_table(
    df: DataFrame,
    name: str,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "append",
    tenancy: tuple[str, str] | None = None,
) -> None:
    """S4 sink. ``tenancy=(run_name, extraction_name)`` injects the
    partition columns like the reference's save_data."""
    spark = df.sparkSession
    if tenancy is not None:
        df = df.withColumn("run_name", F.lit(tenancy[0])).withColumn(
            "extraction_name", F.lit(tenancy[1])
        )
        partition_by = ["run_name", "extraction_name"] + (partition_by or [])
    if has_iceberg(spark):
        writer = df.writeTo(f"kg.{name}")
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return
    w = df.write.mode(mode)
    if partition_by:
        # one file per partition value instead of tasks×values slivers
        w = df.repartition(*[F.col(c) for c in partition_by]).write.mode(
            mode
        ).partitionBy(*partition_by)
    w.parquet(path)


def read_table(spark: SparkSession, name: str, path: str) -> DataFrame:
    if has_iceberg(spark):
        return spark.read.table(f"kg.{name}")
    return spark.read.parquet(path)
