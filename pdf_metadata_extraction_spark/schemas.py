"""Table schemas for the KG-construction engine.

Derived from the reference's Pydantic data model (SURVEY.md §1.1) and the
authoritative input shape in BASELINE.json ``input_hint``:
``pages(url string, warc_ts timestamp, html binary, text string, lang string)``.

Production target is Iceberg with ``PARTITIONED BY (bucket(N, url))``
(+ optional ``days(warc_ts)``); in this sandbox tables are parquet and
the bucket column is materialized explicitly (``url_bucket``) so the
partition layout — and therefore pruning/co-location behavior — is the
same one a 1000-executor cluster would see.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- tokens
# reference analogue: pdf2xml <text top left width height font> rows
# (reference fixture: src/tests/resources/.../xml_to_train/test.xml:20-140).
TOKENS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page", T.IntegerType(), False),
        T.StructField("token_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("left", T.DoubleType(), True),
        T.StructField("top", T.DoubleType(), True),
        T.StructField("width", T.DoubleType(), True),
        T.StructField("height", T.DoubleType(), True),
        T.StructField("font_id", T.StringType(), True),
        T.StructField("font_size", T.DoubleType(), True),
        T.StructField("bold", T.BooleanType(), True),
    ]
)

# ---------------------------------------------------------------- boxes
# reference analogue: SegmentBox (fields pinned src/tests/test_app.py:106-112;
# default segment_type "Text" at test_app.py:137).
SEGMENT_BOX = T.StructType(
    [
        T.StructField("left", T.DoubleType(), True),
        T.StructField("top", T.DoubleType(), True),
        T.StructField("width", T.DoubleType(), True),
        T.StructField("height", T.DoubleType(), True),
        T.StructField("page_width", T.DoubleType(), True),
        T.StructField("page_height", T.DoubleType(), True),
        T.StructField("page_number", T.IntegerType(), True),
        T.StructField("segment_type", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------- segments
# reference analogue: paragraph/segment from PdfData.from_xml_file
# (call site src/use_cases/SampleProcessorUseCase.py:36-40; multi-box
# output pinned src/tests/test_end_to_end.py:187-192).
SEGMENTS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("segment_id", T.IntegerType(), False),
        T.StructField("page", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("segment_type", T.StringType(), True),
        T.StructField("boxes", T.ArrayType(SEGMENT_BOX), True),
        T.StructField("is_label", T.BooleanType(), True),
        # font statistics over member tokens — the reference's segment
        # scorer is largely font-driven (LightGBM feature set)
        T.StructField("font_size", T.DoubleType(), True),
        T.StructField("bold_ratio", T.DoubleType(), True),
    ]
)

# ---------------------------------------------------------------- labels
# reference analogue: Mongo `labeled_data` rows
# (shapes: src/tests/test_end_to_end.py:106-116, :209-218, :300-307).
OPTION = T.StructType(
    [
        T.StructField("id", T.StringType(), True),
        T.StructField("label", T.StringType(), True),
    ]
)

LABELS = T.StructType(
    [
        T.StructField("run_name", T.StringType(), False),
        T.StructField("extraction_name", T.StringType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("language_iso", T.StringType(), True),
        T.StructField("label_text", T.StringType(), True),
        T.StructField("values", T.ArrayType(OPTION), True),
        T.StructField("source_text", T.StringType(), True),
        T.StructField("entity_name", T.StringType(), True),
        T.StructField("page_width", T.DoubleType(), True),
        T.StructField("page_height", T.DoubleType(), True),
        T.StructField("xml_segments_boxes", T.ArrayType(SEGMENT_BOX), True),
        T.StructField("label_segments_boxes", T.ArrayType(SEGMENT_BOX), True),
    ]
)

# ---------------------------------------------------------------- options
# reference analogue: Option{id,label} (src/domain/Options.py:5-8) — the
# entity-linking candidate dictionary, always broadcast.
OPTIONS_TABLE = T.StructType(
    [
        T.StructField("extraction_name", T.StringType(), False),
        T.StructField("option_id", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("multi_value", T.BooleanType(), False),
    ]
)

# ---------------------------------------------------------------- prediction requests
PREDICTION_REQUESTS = T.StructType(
    [
        T.StructField("run_name", T.StringType(), False),
        T.StructField("extraction_name", T.StringType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("entity_name", T.StringType(), True),
        T.StructField("source_text", T.StringType(), True),
        T.StructField("page_width", T.DoubleType(), True),
        T.StructField("page_height", T.DoubleType(), True),
        T.StructField("xml_segments_boxes", T.ArrayType(SEGMENT_BOX), True),
    ]
)

# ---------------------------------------------------------------- triples
# reference analogue: Suggestion (src/tests/test_app.py:565-587) recast as
# (subj, pred, obj) + provenance.
VALUE = T.StructType(
    [
        T.StructField("id", T.StringType(), True),
        T.StructField("label", T.StringType(), True),
        T.StructField("segment_text", T.StringType(), True),
    ]
)

TRIPLES = T.StructType(
    [
        T.StructField("run_name", T.StringType(), False),
        T.StructField("extraction_name", T.StringType(), False),  # pred
        T.StructField("url", T.StringType(), True),  # subj
        T.StructField("entity_name", T.StringType(), True),
        T.StructField("text", T.StringType(), True),  # obj (text case)
        T.StructField("values", T.ArrayType(VALUE), True),  # obj (options case)
        T.StructField("segment_text", T.StringType(), True),
        T.StructField("page_number", T.IntegerType(), True),
        T.StructField("segments_boxes", T.ArrayType(SEGMENT_BOX), True),
    ]
)

# ---------------------------------------------------------------- lineage
# generalizes the reference's last-run metadata {timestamp, sample_count}
# (src/use_cases/SamplesCacheUseCase.py:60-76) to per-stage,
# per-partition-range metrics rows (FIXTURES.md §9).
LINEAGE = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_range", T.StringType(), True),
        T.StructField("salt", T.IntegerType(), True),
        T.StructField("input_rows", T.LongType(), True),
        T.StructField("output_rows", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


def arrow_schema(spark, schema: T.StructType):
    """The ``pyarrow.Schema`` a ``mapInArrow`` stage of ``spark`` must
    emit for ``schema`` (large string/binary types when the session
    sets ``spark.sql.execution.arrow.useLargeVarTypes``)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    large = spark.conf.get("spark.sql.execution.arrow.useLargeVarTypes") == "true"
    return to_arrow_schema(schema, prefers_large_types=large)


def local_frame(spark, rows, schema: T.StructType | str):
    """A DataFrame of rows the driver already holds (tuples or ``Row``s
    in ``schema``'s column order). They reach ``createDataFrame`` as a
    ``pyarrow.Table``, so the plan is a ``LocalTableScan`` and no action
    on the frame runs a job for them; a python list would plan a
    ``Scan ExistingRDD`` over pickled rows, whose first action runs a
    PythonRDD job with one task per core. Timestamps are instants and
    come back in the session time zone. Every engine-built frame of
    driver-held rows goes through here."""
    import pyarrow as pa

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = schema.fieldNames()
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=arrow_schema(spark, schema)
    )
    return spark.createDataFrame(table, schema)
