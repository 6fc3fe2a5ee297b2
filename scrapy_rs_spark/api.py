"""Public API parity with the reference Python bindings (X7).

Reference surface (/root/reference/python/src/lib.rs:33-64):
PySpider(name, start_urls, allowed_domains) + PyEngine(spider).run()
→ PyEngineStats; PySettings.from_file/create_engine. Here:

    spider = Spider("docs", start_urls=[...], allowed_domains=[...])
    stats = run_crawl(spark, spider, pages, settings)

The spider's parse hook is the only user code on the hot path; it runs
as an Arrow pandas UDF (Spider.parse_text / parse_links are plain
per-document Python callables, batch-wrapped for you — or pass
ready-made pandas UDFs via text_udf/links_udf).

Compatibility note — per-record PyRequest/PyResponse objects
(python/src/lib.rs:33-64) are deliberately NOT mirrored: a request here
is a frontier ROW and a response is a fetched ROW; anything the
reference exposes as object attributes (url, method, body, cookies,
headers, meta, status, depth) exists as a column of the same name, and
per-record logic becomes a column expression or an Arrow-batched UDF
over those columns. Code that loops over response objects translates
to a transform on the DataFrame instead (see operators/middleware.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import pandas_udf
import json

from pyspark.sql.types import ArrayType, MapType, StringType

from scrapy_rs_spark.plans.engine import CrawlEngine, CrawlStats
from scrapy_rs_spark.settings import Settings


@dataclass
class Spider:
    """Spider declaration ⇔ reference Spider trait
    (/root/reference/core/src/spider.rs:11-40). allowed_domains IS
    enforced here (the reference declares but never enforces it —
    documented deviation, SURVEY.md F10)."""

    name: str
    start_urls: list[str] = field(default_factory=list)
    allowed_domains: list[str] = field(default_factory=list)
    # per-document hooks: html bytes → text / list of hrefs / field map
    parse_text: Callable[[bytes], str] | None = None
    parse_links: Callable[[bytes], list[str]] | None = None
    # DynamicItem parity (reference core/src/item.rs:28-36): arbitrary
    # extracted fields land in items.fields MAP<STRING,STRING>
    parse_fields: Callable[[bytes], dict] | None = None
    # or pre-built pandas UDFs (take precedence)
    text_udf: object | None = None
    links_udf: object | None = None
    fields_udf: object | None = None
    # close-lifecycle hook (reference Spider::closed,
    # core/src/spider.rs + engine close sequence
    # engine/src/lib.rs:1285-1420): runs once at crawl exit on the
    # driver, bounded by Settings.close_timeout_ms
    closed: Callable[[], None] | None = None

    def _text_udf(self):
        return _hook_udf(self.text_udf, self.parse_text, StringType(), None)

    def _links_udf(self):
        return _hook_udf(
            self.links_udf, self.parse_links, ArrayType(StringType()), []
        )

    def _fields_udf(self):
        return _hook_udf(
            self.fields_udf,
            self.parse_fields,
            MapType(StringType(), StringType()),
            None,
            _string_map,
        )


def _string_map(d: dict | None) -> dict[str, str] | None:
    """DynamicItem values are arbitrary JSON; stringify non-strings so
    the columnar map stays STRING→STRING."""
    if d is None:
        return None
    return {
        str(k): v if isinstance(v, str) else json.dumps(v)
        for k, v in d.items()
    }


def _hook_udf(udf, fn, return_type, null, convert=lambda v: v):
    """A spider hook as an Arrow pandas UDF over html: the ready-made
    ``udf`` when given, else the per-document ``fn`` (html bytes →
    value) batch-wrapped, with ``null`` for a NULL body and
    ``convert`` applied to what ``fn`` returns; None when neither is
    set."""
    if udf is not None or fn is None:
        return udf

    @pandas_udf(return_type)
    def _u(html: pd.Series) -> pd.Series:
        return html.map(lambda b: null if b is None else convert(fn(bytes(b))))

    return _u


def run_crawl(
    spark: SparkSession,
    spider: Spider,
    pages: DataFrame,
    settings: Settings | None = None,
    robots: DataFrame | None = None,
    store_path: str | None = None,
    max_rounds: int = 1_000,
    **engine_kwargs,
) -> CrawlStats:
    """Engine::run() analogue: seed → rounds until drained → stats."""
    settings = settings or Settings()
    if spider.allowed_domains and not settings.domain_whitelist:
        settings.domain_whitelist = list(spider.allowed_domains)
    engine = CrawlEngine(
        spark,
        pages,
        settings,
        robots=robots,
        store_path=store_path,
        parse_text_udf=spider._text_udf(),
        parse_links_udf=spider._links_udf(),
        parse_fields_udf=spider._fields_udf(),
        spider_close_hook=spider.closed,
        **engine_kwargs,
    )
    stats = engine.run(spider.start_urls, max_rounds=max_rounds)
    stats.engine = engine  # expose items()/seen()/frontier() accessors
    return stats
