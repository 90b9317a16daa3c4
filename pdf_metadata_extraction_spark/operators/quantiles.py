"""Exact distributed quantiles — corpus-level percentiles (median /
p90 / p99 document length, event latencies) computed EXACTLY at
100 TB, where `percentile_approx` trades accuracy and a naive global
`ORDER BY` window is one task sorting the corpus.

Reference anchor: the reference eyeballs per-tenant performance
percentiles offline (SURVEY.md §2 A2/A3 family); a web-scale corpus
report needs exact "p99 page length per crawl" style numbers that are
reproducible run-to-run (an approx sketch is neither exact nor
engine-portable).

Method: the two-pass global-rank discipline (`packing.global_rank`:
range partition on the order key, collect per-range COUNTS — rows,
never data — broadcast prefixes, intra-range row_number), then select
the rows whose rank hits each quantile's target rank. The only
driver-side state is `num_ranges` counts and the q-list.

Definition (discrete, lower): the q-quantile of n values is the value
at 1-based rank max(1, ceil(q·n)) in (value, id) order — tie-free by
construction, so both engines pick the identical row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_metadata_extraction_spark.schemas import local_frame


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    id_col: str,
    qs: list[float],
    num_ranges: int = 32,
) -> DataFrame:
    """(q_ppm, value, n) — one row per requested quantile, exact.

    ``qs`` are fractions in (0, 1]; they are carried as integer ppm so
    the output key is exact. NULL values are excluded (a NULL is not a
    measurement). One range-partitioned shuffle + one broadcast join +
    one rank filter; no global window, no sort of more than one range
    partition's rows per task."""
    from pdf_metadata_extraction_spark.operators.packing import (
        global_rank,
    )

    if not qs or any(not (0.0 < q <= 1.0) for q in qs):
        raise ValueError(f"qs must be fractions in (0,1], got {qs}")
    vals = df.where(F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("value"), F.col(id_col).alias("_id")
    )
    n = vals.count()
    if n == 0:
        return local_frame(
            vals.sparkSession, [], "q_ppm long, value long, n long"
        )
    import math

    targets = [
        (int(round(q * 1_000_000)), max(1, math.ceil(q * n))) for q in qs
    ]
    t_df = F.broadcast(
        local_frame(
            vals.sparkSession,
            [(int(p), int(r)) for p, r in targets],
            "q_ppm long, _tr long",
        )
    )
    ranked = global_rank(vals, ["value", "_id"], num_ranges=num_ranges)
    return (
        ranked.join(t_df, ranked["rnk"] == t_df["_tr"])
        .select(
            "q_ppm",
            F.col("value"),
            F.lit(n).cast("long").alias("n"),
        )
        .orderBy("q_ppm")
    )
