"""Parse-stage functions: HTML → extracted text, HTML → outgoing links.

The reference delegates parsing to the spider (Spider.parse,
/root/reference/core/src/spider.rs:29; css-selector examples in
/root/reference/python/examples/complex_spider_example.py:325-353). We
pin ONE deterministic extraction algorithm (stdlib html.parser, no
third-party deps) so extracted text is byte-identical per url run-to-run
— the per-row invariant.

Pinned text algorithm:
  * strict UTF-8 decode (invalid bytes → NULL row, routed to the error
    channel — mirrors /root/reference/core/src/response.rs:71-78 which
    errors on invalid UTF-8 rather than lossy-decoding)
  * all character data outside <script>/<style>, each chunk
    whitespace-stripped, empty chunks dropped, joined with "\\n"

Link extraction: every href attribute of <a> tags in document order.

Both are Arrow-batched pandas UDFs (Series→Series). The crawl engine's
default parse uses parse_resolve_udf instead: text and links from one
HTML pass, with the links resolved to canonical absolute URLs inside
the same Python worker call — the only Python on the parse hot path.
"""

from __future__ import annotations

from html.parser import HTMLParser

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from scrapy_rs_spark.functions.url import resolve_series

_SKIP_TAGS = {"script", "style"}


class _TextExtractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.chunks: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip_depth += 1

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1

    def handle_data(self, data):
        if self._skip_depth == 0:
            stripped = data.strip()
            if stripped:
                self.chunks.append(stripped)


class _LinkExtractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.links: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag == "a":
            for name, value in attrs:
                if name == "href" and value:
                    self.links.append(value)


def _decode(html: bytes | str | None, encoding: str | None = None):
    """Strict decode of a response body. encoding overrides the default
    UTF-8 per request (reference Request.encoding, request.rs:74-90 —
    the reference decodes non-UTF-8 bodies per request encoding,
    response.rs:71-78). Invalid bytes (or an unknown codec) → None,
    routed to the error channel."""
    if html is None or isinstance(html, str):
        return html
    try:
        return bytes(html).decode(encoding or "utf-8", errors="strict")
    except (UnicodeDecodeError, LookupError):
        return None


def extract_text(html: bytes | str | None, encoding: str | None = None) -> str | None:
    """Pinned html→text. None on undecodable bytes (strict decode;
    per-request encoding override honored)."""
    html = _decode(html, encoding)
    if html is None:
        return None
    p = _TextExtractor()
    try:
        p.feed(html)
        p.close()
    except Exception:
        return None
    return "\n".join(p.chunks)


def extract_links(html: bytes | str | None, encoding: str | None = None) -> list[str]:
    html = _decode(html, encoding)
    if html is None:
        return []
    p = _LinkExtractor()
    try:
        p.feed(html)
        p.close()
    except Exception:
        return []
    return p.links


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text)


@pandas_udf(ArrayType(StringType()))
def extract_links_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_links)


class _PageExtractor(HTMLParser):
    """One pass for BOTH text and links — the engine's parse stage uses
    this so each page's HTML is parsed once, not twice."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.chunks: list[str] = []
        self.links: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
        elif tag == "a":
            for name, value in attrs:
                if name == "href" and value:
                    self.links.append(value)

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1

    def handle_data(self, data):
        if self._skip_depth == 0:
            stripped = data.strip()
            if stripped:
                self.chunks.append(stripped)


def parse_page(
    html: bytes | str | None, encoding: str | None = None
) -> tuple[str | None, list[str]]:
    """Pinned single-pass parse: (text, links). Byte-identical to
    extract_text/extract_links (same parser callbacks, same order);
    per-request encoding override honored like the reference."""
    html = _decode(html, encoding)
    if html is None:
        return None, []
    p = _PageExtractor()
    try:
        p.feed(html)
        p.close()
    except Exception:
        return None, []
    return "\n".join(p.chunks), p.links


_PAGE_STRUCT = StructType(
    [
        StructField("text", StringType()),
        StructField("links", ArrayType(StringType())),
    ]
)


@pandas_udf(_PAGE_STRUCT)
def parse_resolve_udf(
    html: pd.Series, encoding: pd.Series, base: pd.Series
) -> pd.DataFrame:
    """The engine's default parse in ONE Python pass per page: text plus
    outgoing links already resolved against ``base`` (the page's
    url_canon) and canonicalized, unresolvable hrefs dropped, document
    order kept. ``encoding`` is the per-request decode override
    (frontier column; NULL → strict UTF-8, request.rs:74-90).

    Byte-identical to parse_page → explode → urljoin_udf → drop NULL:
    each batch's hrefs are flattened and resolved by the same
    vectorized resolve_series urljoin_udf wraps, then regrouped per
    page."""
    if encoding.isna().all():
        parsed = [parse_page(h) for h in html]
    else:
        parsed = [
            parse_page(h, e if isinstance(e, str) and e else None)
            for h, e in zip(html, encoding)
        ]
    counts = [len(links) for _, links in parsed]
    hrefs = [href for _, links in parsed for href in links]
    resolved = (
        resolve_series(
            pd.Series(np.repeat(base.to_numpy(dtype=object), counts)),
            pd.Series(hrefs, dtype="object"),
        ).tolist()
        if hrefs
        else []
    )
    links, pos = [], 0
    for n in counts:
        links.append([u for u in resolved[pos : pos + n] if u is not None])
        pos += n
    return pd.DataFrame({"text": [t for t, _ in parsed], "links": links})
