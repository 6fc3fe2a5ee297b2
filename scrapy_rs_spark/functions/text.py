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

One HTMLParser subclass (_PageExtractor) does both in a single pass;
parse_page returns (text, hrefs), and extract_text / extract_links are
its two halves. Link resolution has one helper too (_resolve_links:
the batch's hrefs flattened through the vectorized resolve_series,
regrouped per page). UDFs:

  * parse_resolve_udf(html, encoding, base) → struct(text, links): the
    crawl engine's parse and link_graph's edges — text plus links
    already canonical, in one Python pass per page
  * resolve_links_udf(base, hrefs) → links: resolves an href array the
    extractor did not produce (a spider's links hook, a redirect
    Location) with the same helper
  * extract_text_udf / extract_links_udf: html → text / raw hrefs

Resolving inside the UDF that produces the array keeps plans free of
the explode → urljoin_udf → IS NOT NULL shape, under which Catalyst
evaluates the UDF twice (once for the filter, once for the projection).
"""

from __future__ import annotations

from html.parser import HTMLParser

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from scrapy_rs_spark.functions.url import resolve_series

_SKIP_TAGS = {"script", "style"}


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


class _PageExtractor(HTMLParser):
    """The one pinned extractor: text chunks and <a href> values in a
    single pass, so each page's HTML is parsed once."""

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
    """Pinned single-pass parse: (text, raw hrefs). Undecodable bytes
    or a parser error → (None, []); per-request encoding override
    honored like the reference."""
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


def extract_text(html: bytes | str | None, encoding: str | None = None) -> str | None:
    """Pinned html→text. None on undecodable bytes (strict decode;
    per-request encoding override honored)."""
    return parse_page(html, encoding)[0]


def extract_links(html: bytes | str | None, encoding: str | None = None) -> list[str]:
    """Pinned html→hrefs of <a> tags, in document order, unresolved."""
    return parse_page(html, encoding)[1]


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text)


@pandas_udf(ArrayType(StringType()))
def extract_links_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_links)


def _resolve_links(base: pd.Series, hrefs: list[list[str]]) -> list[list[str]]:
    """Resolve each row's hrefs against its base: the batch's hrefs are
    flattened into ONE call of the vectorized resolve_series (the
    kernel urljoin_udf wraps), then regrouped per row. Canonical URLs,
    unresolvable hrefs dropped, document order kept. A NULL base gives
    [] without resolving its row's hrefs."""
    counts = [0 if na else len(h) for na, h in zip(base.isna(), hrefs)]
    flat = [href for n, h in zip(counts, hrefs) if n for href in h]
    resolved = (
        resolve_series(
            pd.Series(np.repeat(base.to_numpy(dtype=object), counts)),
            pd.Series(flat, dtype="object"),
        ).tolist()
        if flat
        else []
    )
    out, pos = [], 0
    for n in counts:
        out.append([u for u in resolved[pos : pos + n] if u is not None])
        pos += n
    return out


@pandas_udf(ArrayType(StringType()))
def resolve_links_udf(base: pd.Series, hrefs: pd.Series) -> pd.Series:
    """ARRAY<STRING> of hrefs → canonical absolute URLs against
    ``base``, unresolvable or NULL hrefs dropped, order kept (a NULL
    array → []). The engine runs a links hook's output and redirect
    Locations through it, so no plan filters on a UDF's NULLs."""
    return pd.Series(
        _resolve_links(base, [[] if h is None else list(h) for h in hrefs]),
        index=hrefs.index,
    )


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
    (frontier column; NULL → strict UTF-8, request.rs:74-90). A NULL
    ``base`` yields links [] unresolved: the engine passes one when a
    links hook owns the links column.

    Byte-identical to parse_page → explode → urljoin_udf → drop NULL:
    the hrefs go through _resolve_links, as in resolve_links_udf."""
    if encoding.isna().all():
        parsed = [parse_page(h) for h in html]
    else:
        parsed = [
            parse_page(h, e if isinstance(e, str) and e else None)
            for h, e in zip(html, encoding)
        ]
    return pd.DataFrame(
        {
            "text": [t for t, _ in parsed],
            "links": _resolve_links(base, [links for _, links in parsed]),
        }
    )
