"""Stage 2 — document bytes → positioned tokens → byte-identical text.

Reference analogue (SURVEY.md §2.1 S2): ``PdfData.from_xml_file`` parsing
poppler pdf2xml ``<text top left width height font>`` rows (call site
/root/reference/src/use_cases/SampleProcessorUseCase.py:36-40; format
fixture src/tests/resources/.../xml_to_train/test.xml:4-21). Degenerate
inputs — empty page (blank.xml), no pages (no_pages.xml), missing file —
yield an empty token set, never an error
(SampleProcessorUseCase.py:37-40).

Spark-first recast: one ``mapInPandas`` stage over the ``pages`` table.
Each input row is one whole document (html bytes), so tokenization and
text extraction are *map-side only* — zero shuffles; the output keeps
the input's url-bucket partitioning, which downstream per-url stages
reuse. Two content types are sniffed per row:

- pdf2xml bytes (the embedded reference fixture docs) → positioned
  token parse, geometry preserved;
- web HTML → boilerplate strip (script/style/nav/header/footer/aside
  subtrees dropped) + block-level text emission in reading order with
  synthetic geometry (block index → top), tag → segment_type hint.
  The fused segments stage (``plans.pipeline.segments_from_pages``)
  skips the synthetic geometry for web pages: it segments the blocks
  directly (``segment.html_blocks_to_segments``, equal by construction
  and property test). ``tokenize_bytes`` still emits the geometry for
  ``extract_tokens`` and the text path.

The per-row invariant (BASELINE.json input_hint): ``extract_text`` must
reproduce ``pages.text`` **byte-identically** — pinned by
tests/test_extract_golden.py.

Scale notes: parsing is CPU-bound, embarrassingly parallel, Arrow-batched
(spark.sql.execution.arrow.maxRecordsPerBatch bounds memory per batch).
At 100 TB the scan should project only (url, html) — column pruning is
verified in tests via .explain (ReadSchema).
"""

from __future__ import annotations

import html as _htmllib
import re
from collections.abc import Iterator
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame

from pdf_metadata_extraction_spark.schemas import TOKENS

# tags whose entire subtree is boilerplate for Common-Crawl-style pages
_STRIP_TAGS = {
    "script", "style", "nav", "header", "footer", "aside", "noscript",
    "template", "head", "title",
}
# tags that close a text block
_BLOCK_TAGS = {
    "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "td", "th",
    "div", "section", "article", "main", "blockquote", "pre", "tr",
    "ul", "ol", "table", "br", "body",
}
_TITLE_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6"}

# synthetic geometry for web blocks (no renderer available; reading order
# is the real signal, geometry is a consistent pseudo-layout)
_LINE_H = 20.0
_PAGE_W, _PAGE_H = 612.0, 792.0


def normalize_ws(s: str) -> str:
    """Fold whitespace runs to one space and strip the ends. ``str.split``
    and ``re``'s ``\\s`` agree on every code point (``str.isspace``)."""
    return " ".join(s.split())


def tokens_to_text(token_texts: list[str]) -> str:
    """Canonical document text from ordered token texts (one doc).

    Contract: whitespace-normalize each token, drop empties, join with a
    single space. This is the byte-identity function both the generator
    (pages.text) and the extractor must agree on.
    """
    parts = [normalize_ws(t) for t in token_texts]
    return " ".join(p for p in parts if p)


# ------------------------------------------------------------ pdf2xml
_PAGE_RE = re.compile(rb'<page\s+number="(\d+)"[^>]*height="([\d.]+)"\s+width="([\d.]+)"')
_TEXT_RE = re.compile(
    rb'<text\s+top="(-?[\d.]+)"\s+left="(-?[\d.]+)"\s+width="(-?[\d.]+)"'
    rb'\s+height="(-?[\d.]+)"\s+font="([^"]*)"(?:\s+size="(-?[\d.]+)")?\s*>(.*?)</text>',
    re.DOTALL,
)
_TAG_RE = re.compile(r"<[^>]+>")


def parse_pdf2xml(data: bytes) -> list[dict]:
    """Positioned tokens from pdf2xml-shaped bytes (regex scan, no DOM).

    Returns token dicts in document order; nested inline markup
    (<b>/<i>/<a href>) is stripped, entities unescaped — matching the
    reference's token text (e.g. '<b>General Assembly </b>' → 'General
    Assembly ' with trailing space preserved, test.xml:27).
    """
    tokens = []
    # split by page so token page numbers are correct
    page_spans = [(m.start(), int(m.group(1))) for m in _PAGE_RE.finditer(data)]
    page_spans.append((len(data), -1))
    for (start, pnum), (end, _) in zip(page_spans, page_spans[1:]):
        chunk = data[start:end]
        for i, m in enumerate(_TEXT_RE.finditer(chunk)):
            raw = m.group(7).decode("utf-8", errors="replace")
            txt = _htmllib.unescape(_TAG_RE.sub("", raw))
            bold = b"<b>" in m.group(7)
            tokens.append(
                {
                    "page": pnum,
                    "token_idx": i,
                    "text": txt,
                    "left": float(m.group(2)),
                    "top": float(m.group(1)),
                    "width": float(m.group(3)),
                    "height": float(m.group(4)),
                    "font_id": m.group(5).decode(),
                    "font_size": float(m.group(6)) if m.group(6) else 0.0,
                    "bold": bold,
                }
            )
    return tokens


# ------------------------------------------------------------ web HTML
class _BlockExtractor(HTMLParser):
    """Boilerplate-stripping block-text extractor (stdlib, no deps)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, str]] = []  # (tag, text)
        self._buf: list[str] = []
        self._block_tag = "p"
        self._strip_depth = 0

    def _flush(self) -> None:
        txt = normalize_ws("".join(self._buf))
        if txt:
            self.blocks.append((self._block_tag, txt))
        self._buf = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "body":
            # recover from an unclosed <head> (common in the wild)
            self._strip_depth = 0
        if tag in _STRIP_TAGS:
            self._strip_depth += 1
            return
        if self._strip_depth == 0 and tag in _BLOCK_TAGS:
            self._flush()
            if tag not in ("br", "body", "ul", "ol", "table", "tr"):
                self._block_tag = tag

    def handle_endtag(self, tag: str) -> None:
        if tag in _STRIP_TAGS:
            self._strip_depth = max(0, self._strip_depth - 1)
            return
        if self._strip_depth == 0 and tag in _BLOCK_TAGS:
            self._flush()
            self._block_tag = "p"

    def handle_data(self, data: str) -> None:
        if self._strip_depth == 0:
            self._buf.append(data)


def parse_html_blocks_slow(data: bytes) -> list[tuple[str, str]]:
    parser = _BlockExtractor()
    parser.feed(data.decode("utf-8", errors="replace"))
    parser.close()  # flush buffered partial markup (e.g. a trailing bare '&')
    parser._flush()
    return parser.blocks


# fast path: regex scan instead of the (pure-python, ~5× slower) stdlib
# HTMLParser. Semantics are identical for well-formed HTML — pinned by a
# differential test over the whole synthetic corpus; inputs the fast
# path can't prove safe (unbalanced strip-subtrees, exotic markup) fall
# back to the stdlib parser.
_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
_DECL_RE = re.compile(r"<![^>]*>")
_STRIP_SUBTREE_RE = re.compile(
    r"<(script|style|nav|header|footer|aside|noscript|template|head|title)\b"
    r"[^>]*>.*?</\1\s*>",
    re.DOTALL | re.IGNORECASE,
)
_ANY_STRIP_TAG_RE = re.compile(
    r"</?(?:script|style|nav|header|footer|aside|noscript|template|head|title)\b",
    re.IGNORECASE,
)
_TAG_TOKEN_RE = re.compile(r"<(/?)([a-zA-Z][a-zA-Z0-9]*)(?:\s[^>]*)?/?>")
_NON_FLUSH_TAGS = ("br", "body", "ul", "ol", "table", "tr")


def parse_html_blocks_fast(text: str) -> list[tuple[str, str]] | None:
    """Regex block extractor. Returns None when the input can't be
    handled safely (caller falls back to the stdlib parser)."""
    text = _COMMENT_RE.sub("", text)
    text = _DECL_RE.sub("", text)  # <!doctype ...> and other declarations
    # peel strip-subtrees (loop handles nesting, e.g. <nav> inside <header>)
    for _ in range(6):
        stripped = _STRIP_SUBTREE_RE.sub("", text)
        if stripped == text:
            break
        text = stripped
    if _ANY_STRIP_TAG_RE.search(text):
        return None  # unbalanced strip-subtree → stdlib parser decides
    blocks: list[tuple[str, str]] = []
    buf: list[str] = []
    cur = "p"

    def flush() -> None:
        nonlocal buf
        if buf:
            txt = normalize_ws(_htmllib.unescape("".join(buf)))
            if txt:
                blocks.append((cur, txt))
            buf = []

    pos = 0
    for m in _TAG_TOKEN_RE.finditer(text):
        chunk = text[pos:m.start()]
        if chunk:
            buf.append(chunk)
        pos = m.end()
        closing, tag = m.group(1), m.group(2).lower()
        if tag in _BLOCK_TAGS:
            flush()
            if not closing and tag not in _NON_FLUSH_TAGS:
                cur = tag
            elif closing:
                cur = "p"
    tail = text[pos:]
    if tail:
        buf.append(tail)
    flush()
    return blocks


def parse_html_blocks(data: bytes) -> list[tuple[str, str]]:
    text = data.decode("utf-8", errors="replace")
    fast = parse_html_blocks_fast(text)
    if fast is not None:
        return fast
    return parse_html_blocks_slow(data)


def html_blocks_to_tokens(blocks: list[tuple[str, str]]) -> list[dict]:
    """DOM blocks → pseudo-positioned tokens.

    Geometry encodes the segmentation intent: a paragraph-sized vertical
    gap between blocks keeps each block its own segment; consecutive
    ``li`` blocks sit close so the proximity clusterer merges a list
    into one segment (the reference's pinned 7-LIST_ITEM-lines → one
    paragraph behavior, test_end_to_end_paragraph_extractor.py:98-104).
    """
    toks = []
    top = 72.0
    prev_tag = None
    for i, (tag, txt) in enumerate(blocks):
        if i > 0:
            top += _LINE_H if (prev_tag == "li" and tag == "li") else 2 * _LINE_H
        toks.append(
            {
                "page": 1,
                "token_idx": i,
                "text": txt,
                "left": 72.0,
                "top": top,
                "width": min(6.0 * len(txt), _PAGE_W - 144.0),
                "height": _LINE_H * 0.6,
                "font_id": tag,
                "font_size": 20.0 if tag in _TITLE_TAGS else 10.0,
                "bold": tag in _TITLE_TAGS,
            }
        )
        prev_tag = tag
    return toks


def is_pdf2xml(data: bytes) -> bool:
    head = data[:256]
    return b"<pdf2xml" in head or b"pdf2xml" in head[:128]


def tokenize_bytes(data: bytes | None) -> list[dict]:
    """Dispatch one document's bytes → token dicts (empty ok: F3 null-tolerant)."""
    if not data:
        return []
    if is_pdf2xml(data):
        return parse_pdf2xml(data)
    return html_blocks_to_tokens(parse_html_blocks(data))


def extract_text_of_bytes(data: bytes | None) -> str:
    return tokens_to_text([t["text"] for t in tokenize_bytes(data)])


# ------------------------------------------------------------ Spark stages
def extract_tokens(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) → tokens DF. Map-side only (no shuffle)."""
    pages = pages.select("url", "html")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for url, data in zip(pdf["url"].values, pdf["html"].values):
                for tok in tokenize_bytes(bytes(data) if data is not None else None):
                    tok = dict(tok)
                    tok["url"] = url
                    out.append(tok)
            yield pd.DataFrame(
                out,
                columns=[f.name for f in TOKENS.fields],
            )

    return pages.mapInPandas(run, schema=TOKENS)


def extract_text(pages: DataFrame) -> DataFrame:
    """pages(url, html) → (url, text): the byte-identity stage (no shuffle)."""
    pages = pages.select("url", "html")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = [
                extract_text_of_bytes(bytes(d) if d is not None else None)
                for d in pdf["html"].values
            ]
            yield pd.DataFrame({"url": pdf["url"].values, "text": texts})

    return pages.mapInPandas(run, schema="url string, text string")
