"""The fused segments stage picks a segmenter per page: web pages without
boxes take the one-pass block segmenter, pdf2xml pages the token path.
Either way its rows equal ``segment_doc`` over ``tokenize_bytes`` on the
driver, with the page window applied before segmentation."""

from __future__ import annotations

import pytest

from pdf_metadata_extraction_spark.operators.extract import tokenize_bytes
from pdf_metadata_extraction_spark.operators.segment import segment_doc
from pdf_metadata_extraction_spark.plans.pipeline import segments_from_pages
from pdf_metadata_extraction_spark.sources.pages_synth import row_for_doc


def _key(seg: dict) -> tuple:
    return (seg["url"], seg["segment_id"])


@pytest.mark.parametrize("page_range", [None, (1, 1), (2, 3)])
def test_segments_from_pages_equals_driver_kernels(spark, page_range):
    # ids 0-5 are the pdf2xml fixtures (un_note spans pages 1-2), the
    # rest are web pages
    rows = [row_for_doc(i) for i in range(40)]
    pages = spark.createDataFrame(
        [(r["url"], r["html"]) for r in rows], "url string, html binary"
    )
    want = []
    for r in rows:
        toks = tokenize_bytes(r["html"])
        if page_range is not None:
            toks = [t for t in toks if page_range[0] <= t["page"] <= page_range[1]]
        want += [dict(s, url=r["url"]) for s in segment_doc(toks, [], [], (0.0, 0.0))]
    got = [
        row.asDict(recursive=True)
        for row in segments_from_pages(pages, page_range).collect()
    ]
    assert sorted(got, key=_key) == sorted(want, key=_key)
    assert want  # every window keeps some segments
