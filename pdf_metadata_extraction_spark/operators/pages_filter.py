"""F2 — valid-pages filter (SURVEY.md §2.2).

Reference analogue: ``FilterValidSegmentsPagesUseCase.for_training /
for_prediction`` — compute per-document page lists worth parsing (pages
where labels appear, widened by a margin; prediction reuses the page
statistics learned at training) — call sites
/root/reference/src/use_cases/SampleProcessorUseCase.py:28,50-51.

Spark recast: prune *before* the expensive parse. Training reduces the
labels to one aggregate — the (min, max) label page over the
extraction, widened ±``margin`` — and prediction applies it as a page
window inside ``plans.pipeline.segments_from_pages(page_range=...)``,
so out-of-window tokens never reach the segmenter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_MARGIN = 1


def page_range_stats(labels: DataFrame, margin: int = DEFAULT_MARGIN) -> tuple[int, int] | None:
    """Training-time aggregate reused at prediction: the (min, max) label
    page over the extraction, widened. None when labels carry no boxes."""
    row = (
        labels.select(F.explode("label_segments_boxes").alias("b"))
        .agg(
            F.min("b.page_number").alias("lo"), F.max("b.page_number").alias("hi")
        )
        .collect()[0]
    )
    if row["lo"] is None:
        return None
    return max(1, int(row["lo"]) - margin), int(row["hi"]) + margin
