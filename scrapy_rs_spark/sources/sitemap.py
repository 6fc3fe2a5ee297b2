"""Sitemap ingestion: robots.txt Sitemap lines → sitemapindex →
urlset → frontier seeds (the SitemapSpider analogue, beyond-reference:
scrapy-rs recognizes ``Sitemap:`` lines but does not model them,
sources/robots.py:76-82 mirroring robots/src parsing).

Everything is JVM-side split + regexp_extract — whole-stage codegen,
zero Python in the loop, so extracting a billion <url> entries is a
flat scan. Sitemaps are not XML-parsed (namespaces, stray whitespace
and truncated files are the norm in the wild); entries are framed by
their closing ``</url>`` / ``</sitemap>`` tags and fields lifted with
anchored regexes, the same tolerant treatment sitemap consumers
actually apply.

Scale shape: sitemap files are ≤50k entries by spec, so one sitemap's
entry blocks always fit a task after the explode; the fan-out
dimension is sitemap COUNT, which partitions naturally. The index
walk (``sitemap_seeds``) is a bounded iterative join against the
pages table — same replay pattern as the crawl's fetch join, hop
count capped by ``max_hops`` (the spec allows one index level; real
sites nest two)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_LOC = r"<loc>\s*([^<\s][^<]*?)\s*</loc>"
_LASTMOD = r"<lastmod>\s*([^<]*?)\s*</lastmod>"
_CHANGEFREQ = r"<changefreq>\s*([^<]*?)\s*</changefreq>"
_PRIORITY = r"<priority>\s*([^<]*?)\s*</priority>"


def _text(html_col: str):
    return F.col(html_col).cast("string")


def sitemap_entries(
    sitemap_pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """urlset documents → one row per ``<url>`` entry:
    (sitemap_url, loc, lastmod, changefreq, priority) — lastmod/
    changefreq/priority NULL when absent. Blocks are framed by
    ``</url>``; a block without a <loc> (preamble, trailing tags) is
    dropped."""
    blocks = sitemap_pages.select(
        F.col(url_col).alias("sitemap_url"),
        F.explode(F.split(_text(html_col), "</url>")).alias("__b"),
    )
    nullif = lambda c: F.when(c != "", c)  # noqa: E731
    return (
        blocks.select(
            "sitemap_url",
            F.regexp_extract("__b", _LOC, 1).alias("loc"),
            nullif(F.regexp_extract("__b", _LASTMOD, 1)).alias("lastmod"),
            nullif(F.regexp_extract("__b", _CHANGEFREQ, 1)).alias(
                "changefreq"
            ),
            nullif(F.regexp_extract("__b", _PRIORITY, 1)).alias("priority"),
        )
        .filter(F.col("loc") != "")
    )


def sitemap_index_entries(
    index_pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """sitemapindex documents → (index_url, loc) per child sitemap."""
    blocks = index_pages.select(
        F.col(url_col).alias("index_url"),
        F.explode(F.split(_text(html_col), "</sitemap>")).alias("__b"),
    )
    return (
        blocks.select(
            "index_url",
            F.regexp_extract("__b", _LOC, 1).alias("loc"),
        )
        .filter(F.col("loc") != "")
    )


def is_sitemap_index(html_col: str = "html"):
    """Column predicate: the document declares a <sitemapindex> root."""
    return F.instr(_text(html_col), "<sitemapindex") > 0


def robots_sitemaps(
    robots_pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """robots.txt bodies → (robots_url, sitemap_url) per ``Sitemap:``
    line (RFC 9309 §2.2.2 non-group lines; robots.py's group parser
    deliberately skips them — this is their consumer)."""
    lines = robots_pages.select(
        F.col(url_col).alias("robots_url"),
        F.explode(F.split(_text(html_col), "\r?\n")).alias("__l"),
    )
    sm = F.regexp_extract("__l", r"(?i)^\s*sitemap\s*:\s*(\S+)", 1)
    return (
        lines.select("robots_url", sm.alias("sitemap_url"))
        .filter(F.col("sitemap_url") != "")
    )


def sitemap_seeds(
    sitemap_urls: DataFrame,
    pages: DataFrame,
    max_hops: int = 2,
    url_col: str = "url",
    html_col: str = "html",
    on_exhausted: str = "raise",
) -> DataFrame:
    """Walk sitemap URLs (column ``sitemap_url``, e.g. from
    robots_sitemaps) through up to ``max_hops`` levels of sitemapindex
    against the pages table, returning frontier-ready seed rows:
    (url, priority, lastmod) — sitemap <priority> 0.0-1.0 mapped onto
    the scheduler's integer scale as round(p*10) (default 5, the spec
    default 0.5), so seeds_frontier + the W1 priority rank honor the
    site's own ordering hints.

    Each hop is one equi-join against pages plus the codegen'd
    extraction — a missing sitemap page simply contributes nothing
    (archive replay may not hold every child). Emptiness of the next
    hop rides a take(1) on the (small) index-entry frame, not the
    corpus. If index nesting is still unexpanded when the hop budget
    runs out, silently dropping those subtrees would be seed loss —
    the default ``on_exhausted='raise'`` fails loudly (raise
    ``max_hops`` or pass ``'warn'`` to keep the partial seed set)."""
    src = pages.select(
        F.col(url_col).alias("__p_url"), F.col(html_col).alias("__p_html")
    )
    frontier = sitemap_urls.select(
        F.col("sitemap_url").alias("__s_url")
    ).distinct()
    out: DataFrame | None = None
    pending = False
    for _ in range(max_hops + 1):
        fetched = frontier.join(
            src, frontier["__s_url"] == src["__p_url"]
        ).select(F.col("__p_url").alias("url"), F.col("__p_html").alias("html"))
        leaves = fetched.filter(~is_sitemap_index("html"))
        entries = sitemap_entries(leaves).select(
            F.col("loc").alias("url"),
            F.coalesce(
                F.round(F.col("priority").cast("double") * 10).cast("int"),
                F.lit(5),
            ).alias("priority"),
            "lastmod",
        )
        out = entries if out is None else out.unionByName(entries)
        nxt = sitemap_index_entries(
            fetched.filter(is_sitemap_index("html"))
        ).select(F.col("loc").alias("__s_url")).distinct()
        pending = bool(nxt.take(1))
        if not pending:
            break
        frontier = nxt
    if pending:
        msg = (
            f"sitemap index nesting exceeds max_hops={max_hops}: "
            "unexpanded child sitemaps remain, so the seed set would be "
            "silently incomplete — raise max_hops, or pass "
            "on_exhausted='warn' to accept the partial set"
        )
        if on_exhausted == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning)
    # Collapse per URL, not per (url, priority, lastmod): a URL listed
    # in multiple sitemaps with different hints must yield ONE seed row
    # (highest priority / newest lastmod win) — duplicate seed rows
    # would reach the frontier nondeterministically. "Newest" compares
    # instants, not strings (W3C datetimes carry timezone offsets); the
    # winning row's original string is kept. The string breaks ties
    # between spellings of one instant, and decides alone when no
    # lastmod parses (a NULL instant sorts lowest).
    newest = F.max(
        F.struct(F.try_to_timestamp("lastmod").alias("ts"), "lastmod")
    )
    return out.groupBy("url").agg(
        F.max("priority").alias("priority"),
        newest["lastmod"].alias("lastmod"),
    )
