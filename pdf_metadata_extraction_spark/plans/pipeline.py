"""End-to-end extraction pipelines (SURVEY.md §3 — the top entry points).

Reference lifecycle recast (SURVEY.md §3.1/§3.2): the HTTP/queue/Celery
hops collapse into one Spark lineage:

    pages ⋈ labels → segments (fused Arrow stage) → method argmax +
    selector fit (driver; training sets are tiny per extraction by the
    reference's design) → broadcast model → score → W1 top-1 →
    method-apply / option broadcast-join → triples → nodes/edges.

Four extractor kinds, mirroring the reference registry
(/root/reference/src/drivers/extractors.py:10-15):
- ``pdf_to_text``          (xml docs,   free-text label)
- ``pdf_to_multi_option``  (xml docs,   closed vocabulary)
- ``text_to_text``         (source_text, free-text label)
- ``text_to_multi_option`` (source_text, closed vocabulary)

Scale notes:
- pages→segments is **fused** into a single mapInArrow (tokenize +
  segment per document in one Arrow batch) — no shuffle; boxes ride in
  as columns via a url join that is broadcast (requests/labels are small
  per extraction) or co-partitioned at the Iceberg bucket(url) layout.
- the only wide operations are the W1 window (partitionBy url — same
  bucketing) and the final groupBy for multi-option value collection.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdf_metadata_extraction_spark.operators import methods as M
from pdf_metadata_extraction_spark.operators.boxes import scale_down_labels
from pdf_metadata_extraction_spark.operators.extract import (
    is_pdf2xml,
    parse_html_blocks,
    tokenize_bytes,
)
from pdf_metadata_extraction_spark.operators.linking import (
    link_options,
    plain_paragraph,
)
from pdf_metadata_extraction_spark.operators.segment import (
    html_blocks_to_segments,
    segment_doc,
)
from pdf_metadata_extraction_spark.operators.selector import (
    best_segment_per_doc,
    frequent_words,
    score_segments,
    train_selector,
)
from pdf_metadata_extraction_spark.operators.triples import finalize_triples
from pdf_metadata_extraction_spark.schemas import SEGMENTS, arrow_schema, local_frame


@dataclass
class ExtractionModel:
    """The trained artifact (reference: model dir + extractor_job.json
    sidecar, src/adapters/CloudModelStorage.py:21-114). Broadcastable."""

    run_name: str
    extraction_name: str
    kind: str
    multi_value: bool = False
    options: list[tuple[str, str]] = field(default_factory=list)
    method_name: str | None = None
    method_state: dict = field(default_factory=dict)
    selector_state: dict = field(default_factory=dict)
    vocab: list[str] = field(default_factory=list)
    # F2: learned (lo, hi) label-page window, applied pre-segmentation at
    # prediction (None → no pruning)
    page_stats: tuple[int, int] | None = None


# ------------------------------------------------------------ fused stage
def segments_from_pages(
    pages_with_boxes: DataFrame, page_range: tuple[int, int] | None = None
) -> DataFrame:
    """(url, html, xml_segments_boxes?, label_segments_boxes?) → segments.

    One fused Arrow stage: tokenize + segment per document. Label boxes
    are expected already ×0.75-ingested (boxes.scale_down_labels).

    ``page_range``: F2 valid-pages filter — tokens outside the learned
    (lo, hi) page window are dropped *before* segmentation (the
    reference prunes pages before parse, SampleProcessorUseCase.py:28,51).

    Web pages without segment or label boxes skip the synthetic token
    geometry: ``html_blocks_to_segments`` gives the same segments in one
    pass over the blocks (all on page 1). pdf2xml pages and pages with
    boxes go through ``tokenize_bytes`` → ``segment_doc``.
    """
    cols = ["url", "html"]
    has_seg = "xml_segments_boxes" in pages_with_boxes.columns
    has_label = "label_segments_boxes" in pages_with_boxes.columns
    if has_seg:
        cols.append("xml_segments_boxes")
    if has_label:
        cols.append("label_segments_boxes")
    df = pages_with_boxes.select(*cols)
    out_schema = arrow_schema(df.sparkSession, SEGMENTS)
    web_in_range = page_range is None or page_range[0] <= 1 <= page_range[1]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            urls = batch.column("url").to_pylist()
            htmls = batch.column("html").to_pylist()
            none = [None] * batch.num_rows
            sbs = batch.column("xml_segments_boxes").to_pylist() if has_seg else none
            lbs = batch.column("label_segments_boxes").to_pylist() if has_label else none
            rows = []
            for url, data, sb, lb in zip(urls, htmls, sbs, lbs):
                sb = sb or []
                lb = lb or []
                if data and not sb and not lb and not is_pdf2xml(data):
                    segs = (
                        html_blocks_to_segments(parse_html_blocks(data))
                        if web_in_range else []
                    )
                else:
                    toks = tokenize_bytes(data)
                    if page_range is not None:
                        toks = [
                            t for t in toks
                            if page_range[0] <= t["page"] <= page_range[1]
                        ]
                    dims = (0.0, 0.0)
                    if sb and sb[0].get("page_width"):
                        dims = (sb[0]["page_width"], sb[0]["page_height"])
                    segs = segment_doc(toks, sb, lb, dims)
                for s in segs:
                    s["url"] = url
                    rows.append(s)
            yield pa.RecordBatch.from_pylist(rows, schema=out_schema)

    return df.mapInArrow(run, schema=SEGMENTS)


def _ingest_labels(labels: DataFrame) -> DataFrame:
    """F5: scale label boxes ×0.75 on ingest (xml boxes untouched)."""
    if "label_segments_boxes" in labels.columns:
        labels = labels.withColumn(
            "label_segments_boxes", scale_down_labels("label_segments_boxes")
        )
    return labels


# ------------------------------------------------------------ training
class TrainingCancelled(Exception):
    """Raised between training stages when the extraction's cancel flag
    is set (reference parity: POST /cancel_training +
    GET /is_extractor_cancelled, /root/reference/src/drivers/rest/
    app.py:189-221; the distributed executor polls the flag between
    sub-jobs and abandons the job)."""


def _check_cancel(cancel_check) -> None:
    if cancel_check is not None and cancel_check():
        raise TrainingCancelled()


def train_extraction(
    spark: SparkSession,
    labels: DataFrame,
    pages: DataFrame | None = None,
    options: list[tuple[str, str]] | None = None,
    multi_value: bool = False,
    run_name: str = "default",
    extraction_name: str = "default",
    cancel_check=None,
) -> ExtractionModel:
    """§3.1 create_model: samples → per-method performance → argmax → fit.

    Raises ValueError(NO_VALID_RESULTS) on an empty training set — the
    reference's exact pinned error (test_end_to_end.py:72). When
    ``cancel_check`` (a zero-arg callable) returns True at a stage
    boundary, raises TrainingCancelled — the long stages (segmenting,
    selector fit, method selection) are each preceded by a check, like
    the reference worker polling /is_extractor_cancelled between
    sub-jobs.
    """
    _check_cancel(cancel_check)
    labels = labels.where(
        (F.col("run_name") == run_name) & (F.col("extraction_name") == extraction_name)
    )
    labels = _ingest_labels(labels).cache()
    _persisted = [labels]
    # cancellation or any mid-training error must not leak cached
    # frames in a long-lived service session (round-3 review)
    try:
        n = labels.count()
        has_xml = n > 0 and labels.where(F.col("url").isNotNull()).count() > 0

        model = ExtractionModel(
            run_name=run_name,
            extraction_name=extraction_name,
            kind="",
            multi_value=multi_value,
            options=options or [],
        )

        if options:
            model.kind = "pdf_to_multi_option" if has_xml else "text_to_multi_option"
            if n == 0:
                raise ValueError(M.NO_VALID_RESULTS)
            return model

        if not has_xml:
            model.kind = "text_to_text"
            pairs = [
                (r["source_text"], r["label_text"])
                for r in labels.select("source_text", "label_text").collect()
            ]
            _check_cancel(cancel_check)
            name, state, _acc = M.select_best_method(pairs)
            model.method_name, model.method_state = name, state
            return model

        # pdf_to_text: segments of labeled docs, selector + method fit
        model.kind = "pdf_to_text"
        assert pages is not None, "pdf extraction training needs the pages table"
        label_docs = labels.select(
            "url", "xml_segments_boxes", "label_segments_boxes", "label_text"
        )
        pages_boxed = pages.select("url", "html").join(
            F.broadcast(label_docs), "url", "inner"
        )
        segs = segments_from_pages(pages_boxed)
        # label marking is box-based (J2) OR label-text containment — the
        # reference's golden pdf_to_text case has a label box that grazes the
        # wrong token; the text signal is what pins the right segment.
        segs = (
            segs.join(F.broadcast(labels.select("url", "label_text")), "url", "left")
            .withColumn(
                "is_label",
                F.col("is_label")
                | (
                    F.col("label_text").isNotNull()
                    & (F.instr(F.col("text"), F.col("label_text")) > 0)
                ),
            )
            .drop("label_text")
            .cache()
        )
        _persisted.append(segs)
        vocab = frequent_words(labels.where(F.col("label_text").isNotNull()), "label_text")
        model.vocab = vocab
        _check_cancel(cancel_check)
        model.selector_state = train_selector(segs, vocab)
        # F2: learn the label-page window for prediction-time pruning
        from pdf_metadata_extraction_spark.operators.pages_filter import page_range_stats

        model.page_stats = page_range_stats(labels)

        # method pairs: (label segment text, label_text) per labeled doc
        label_segs = (
            segs.where(F.col("is_label"))
            .join(F.broadcast(labels.select("url", "label_text")), "url")
            .select("url", "segment_id", "text", "label_text")
            .orderBy("url", "segment_id")
            .collect()
        )
        pairs = [(r["text"], r["label_text"]) for r in label_segs]
        _check_cancel(cancel_check)
        name, state, _acc = M.select_best_method(pairs)
        model.method_name, model.method_state = name, state
        return model
    finally:
        for _df in _persisted:
            _df.unpersist()


# ------------------------------------------------------------ prediction
def predict_extraction(
    spark: SparkSession,
    model: ExtractionModel,
    requests: DataFrame,
    pages: DataFrame | None = None,
) -> DataFrame:
    """§3.2 suggestions: the triple-producing path. Returns TRIPLES rows."""
    requests = requests.where(
        (F.col("run_name") == model.run_name)
        & (F.col("extraction_name") == model.extraction_name)
    )
    if model.kind == "text_to_text":
        out = M.apply_method(
            requests.select("run_name", "extraction_name", "url", "entity_name",
                            "source_text"),
            model.method_name,
            model.method_state,
        ).drop("source_text")
        return finalize_triples(out)

    if model.kind == "text_to_multi_option":
        opts_df = _options_df(spark, model)
        linked = link_options(
            requests.select("run_name", "extraction_name", "url", "entity_name",
                            "source_text"),
            opts_df,
            text_col="source_text",
        )
        out = linked.withColumnRenamed("source_text", "_src").drop("_src")
        return finalize_triples(out)

    assert pages is not None, "pdf extraction prediction needs the pages table"
    req_cols = requests.select(
        "url", "run_name", "extraction_name", "entity_name", "xml_segments_boxes"
    )
    pages_boxed = pages.select("url", "html").join(F.broadcast(req_cols), "url", "inner")
    segs = segments_from_pages(
        pages_boxed.select("url", "html", "xml_segments_boxes"),
        page_range=model.page_stats,
    )
    segs = segs.join(
        F.broadcast(req_cols.select("url", "run_name", "extraction_name", "entity_name")),
        "url",
    )

    if model.kind == "pdf_to_multi_option":
        opts_df = _options_df(spark, model)
        linked = link_options(segs, opts_df).where(F.size("values") > 0)
        # best matching segment per url: most values, then first in reading order
        w = Window.partitionBy("url").orderBy(
            F.desc(F.size("values")), F.asc("segment_id")
        )
        best = linked.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
        out = best.select(
            "run_name", "extraction_name", "url", "entity_name",
            F.lit(None).cast("string").alias("text"),
            "values",
            F.format_string('<p class="ix_paragraph">%s</p>', F.col("text")).alias(
                "segment_text"
            ),
            F.col("page").alias("page_number"),
            F.col("boxes").alias("segments_boxes"),
        )
        return finalize_triples(out)

    # pdf_to_text: score → W1 top-1 → method apply
    scored = score_segments(segs, model.selector_state)
    best = best_segment_per_doc(scored)
    applied = M.apply_method(
        best.select("run_name", "extraction_name", "url", "entity_name",
                    F.col("text").alias("source_text"),
                    F.col("page").alias("page_number"),
                    F.col("boxes").alias("segments_boxes")),
        model.method_name,
        model.method_state,
    ).drop("source_text")
    return finalize_triples(applied)


def _options_df(spark: SparkSession, model: ExtractionModel) -> DataFrame:
    return local_frame(
        spark,
        [
            (model.extraction_name, oid, label, model.multi_value)
            for oid, label in model.options
        ],
        "extraction_name string, option_id string, label string, multi_value boolean",
    )
