"""Triple assembly + graph materialization (SURVEY.md §1.1 Suggestion → triple).

Reference analogue: ``Suggestion`` rows (shape pinned
/root/reference/src/tests/test_app.py:565-587) returned by
``get_suggestions`` after the ×4/3 egress scale (app.py:165-175). Recast
as the (subj, pred, obj) row of the knowledge graph: subj = url /
entity_name, pred = extraction_name, obj = text or linked option id,
plus provenance (segment span + boxes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_metadata_extraction_spark.operators.boxes import scale_up_output

TRIPLE_COLS = [
    "run_name", "extraction_name", "url", "entity_name", "text",
    "values", "segment_text", "page_number", "segments_boxes",
]


def finalize_triples(df: DataFrame) -> DataFrame:
    """Apply the egress box scale (F6) and column order; entity_name falls
    back to url (reference: SampleProcessorUseCase.py:55)."""
    out = df
    if "segments_boxes" in out.columns:
        out = out.withColumn("segments_boxes", scale_up_output("segments_boxes"))
    out = out.withColumn(
        "entity_name", F.coalesce(F.col("entity_name"), F.col("url"))
    )
    _types = {
        "text": "string",
        "segment_text": "string",
        "page_number": "int",
        "values": "array<struct<id:string,label:string,segment_text:string>>",
        "segments_boxes": (
            "array<struct<left:double,top:double,width:double,height:double,"
            "page_width:double,page_height:double,page_number:int,segment_type:string>>"
        ),
    }
    for c in TRIPLE_COLS:
        if c not in out.columns:
            out = out.withColumn(c, F.lit(None).cast(_types.get(c, "string")))
    return out.select(*TRIPLE_COLS)


def triples_to_edges(triples: DataFrame) -> DataFrame:
    """Explode triples to flat (subj, pred, obj) edge rows.

    Options case → one edge per linked value (obj = option id); text
    case → one edge with obj = extracted text.
    """
    # single pass: unify the two obj sources into one array, then explode —
    # a union here would recompute the whole upstream pipeline twice.
    # the values' (id, segment_text) pairs zipped and cast by position,
    # not a transform lambda: generated code instead of an interpreted
    # call per value
    obj_t = "array<struct<obj:string,segment_text:string>>"
    has_values = F.coalesce(F.size("values"), F.lit(0)) > 0
    objs = F.when(
        has_values,
        F.arrays_zip("values.id", "values.segment_text").cast(obj_t),
    ).otherwise(
        F.when(
            F.col("text").isNotNull() & (F.col("text") != ""),
            F.array(F.struct("text", "segment_text")).cast(obj_t),
        ).otherwise(F.array().cast(obj_t))
    )
    return triples.select(
        F.coalesce("entity_name", "url").alias("subj"),
        F.col("extraction_name").alias("pred"),
        F.explode(objs).alias("o"),
        F.col("url").alias("provenance_url"),
    ).select(
        "subj", "pred",
        F.col("o.obj").alias("obj"),
        "provenance_url",
        F.col("o.segment_text").alias("segment_text"),
    )
