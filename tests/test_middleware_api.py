"""Middleware/pipeline chains (X2-X4) and the public Spider API (X7),
mirroring the reference's middleware behavior tests
(/root/reference/middleware/tests/middleware_tests.rs:34-403: header
injection, URL filter allow/deny) and the Python-bindings surface."""

import pyspark.sql.functions as F
import pytest

from scrapy_rs_spark.api import Spider, run_crawl
from scrapy_rs_spark.operators.middleware import (
    HIGHEST,
    LOWEST,
    MiddlewareChain,
    conditional,
    csv_file_pipeline,
    default_headers,
    filter_pipeline,
    json_file_pipeline,
    rate_limit,
    url_filter,
)
from scrapy_rs_spark.settings import Settings


@pytest.fixture()
def reqs(spark):
    return spark.createDataFrame(
        [
            ("http://a.test/1", None),
            ("http://a.test/admin/2", {"x-req": "keep"}),
            ("http://b.test/3", None),
        ],
        "url STRING, headers MAP<STRING,STRING>",
    )


def test_default_headers_injection(spark, reqs):
    t = default_headers({"accept": "text/html"}, user_agent="crawlspark/0.1")
    out = {r.url: r.headers for r in t(reqs).collect()}
    assert out["http://a.test/1"]["user-agent"] == "crawlspark/0.1"
    assert out["http://a.test/admin/2"]["x-req"] == "keep"  # preserved
    assert out["http://a.test/admin/2"]["accept"] == "text/html"


def test_url_filter_allow_deny(spark, reqs):
    # deny wins; allow restricts (middleware/src/lib.rs:213-299)
    t = url_filter(allow=r"a\.test", deny=r"/admin/")
    urls = {r.url for r in t(reqs).collect()}
    assert urls == {"http://a.test/1"}


def test_rate_limit(spark, reqs):
    assert rate_limit(2)(reqs).count() == 2


def test_conditional(spark, reqs):
    t = conditional(
        F.col("url").contains("admin"),
        lambda df: df.withColumn("url", F.upper(F.col("url"))),
    )
    urls = {r.url for r in t(reqs).collect()}
    assert "HTTP://A.TEST/ADMIN/2" in urls
    assert "http://a.test/1" in urls  # untouched


def test_chain_priority_order(spark, reqs):
    # HIGHEST runs first (lib.rs:478-483): tag → then filter on the tag
    chain = MiddlewareChain()
    chain.add(
        "drop-tagged",
        lambda df: df.filter(F.col("tag") != "admin"),
        priority=LOWEST,
    )
    chain.add(
        "tag",
        lambda df: df.withColumn(
            "tag",
            F.when(F.col("url").contains("admin"), "admin").otherwise("ok"),
        ),
        priority=HIGHEST,
    )
    assert chain(reqs).count() == 2


def test_pipelines(spark, reqs, tmp_path):
    items = reqs.select("url", F.lit("t").alias("item_type"))
    kept = filter_pipeline(~F.col("url").contains("admin"))(items)
    assert kept.count() == 2
    json_file_pipeline(str(tmp_path / "j"))(kept)
    assert spark.read.json(str(tmp_path / "j")).count() == 2
    csv_file_pipeline(str(tmp_path / "c"))(kept)
    assert spark.read.option("header", True).csv(str(tmp_path / "c")).count() == 2


def _pages(spark):
    rows = [
        (
            "http://a.test/1",
            b'<html><body>alpha <a href="/2">n</a>'
            b'<a href="http://evil.test/x">ext</a></body></html>',
        ),
        ("http://a.test/2", b"<html><body>beta</body></html>"),
        ("http://evil.test/x", b"<html><body>evil</body></html>"),
    ]
    return spark.createDataFrame(
        [(u, bytearray(h)) for u, h in rows], "url STRING, html BINARY"
    ).select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        "html",
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
        F.lit(200).alias("status"),
        F.lit(None).cast("map<string,string>").alias("headers"),
    )


def test_spider_api_allowed_domains_and_custom_parse(spark, tmp_path):
    spider = Spider(
        name="t",
        start_urls=["http://a.test/1"],
        allowed_domains=["a.test"],  # enforced (deviation F10)
        parse_text=lambda html: html.decode("utf-8").upper()[:20],
    )
    stats = run_crawl(
        spark,
        spider,
        _pages(spark),
        Settings(scheduler_type="breadth_first"),
        store_path=str(tmp_path / "spider"),
    )
    assert stats.requests == 2  # evil.test never crawled
    items = {r.url: r.text for r in stats.engine.items().collect()}
    assert set(items) == {"http://a.test/1", "http://a.test/2"}
    assert items["http://a.test/2"].startswith("<HTML><BODY>BETA")


def test_engine_middleware_hooks(spark, tmp_path):
    from scrapy_rs_spark.plans.engine import CrawlEngine

    chain = MiddlewareChain().add(
        "ua", default_headers({}, user_agent="mw-test"), priority=HIGHEST
    )
    items_seen = MiddlewareChain().add(
        "filter", filter_pipeline(F.col("url").contains("/1"))
    )
    eng = CrawlEngine(
        spark,
        _pages(spark),
        Settings(scheduler_type="breadth_first", domain_whitelist=["a.test"]),
        store_path=str(tmp_path / "mw"),
        request_middlewares=chain,
        item_pipelines=items_seen,
    )
    stats = eng.run(["http://a.test/1"])
    assert stats.requests == 2
    # pipeline filtered the written items down to /1
    assert {r.url for r in eng.items().collect()} == {"http://a.test/1"}


def test_fields_hook_keeps_per_request_encoding(spark, tmp_path):
    """A parse_fields hook replaces only the fields map: the shift-jis
    seed still decodes through its per-request encoding, so its text
    and its link to a UTF-8 page match the no-hook crawl."""
    from scrapy_rs_spark.plans.engine import CrawlEngine

    sjis = "<html><body>こんにちは<a href='http://u.test/b'>b</a></body></html>"
    pages = spark.createDataFrame(
        [
            ("http://jp.test/a", 200, bytearray(sjis.encode("shift_jis"))),
            ("http://u.test/b", 200, bytearray(b"<html><body>utf</body></html>")),
        ],
        "url STRING, status INT, html BINARY",
    ).withColumn("headers", F.lit(None).cast("map<string,string>"))
    seed = {"url": "http://jp.test/a", "encoding": "shift_jis"}
    crawled = {}
    for name, hook in (("plain", None), ("fields", lambda b: {"n": len(b)})):
        spider = Spider(name, parse_fields=hook)
        eng = CrawlEngine(
            spark,
            pages,
            Settings(respect_robots_txt=False),
            store_path=str(tmp_path / name),
            parse_fields_udf=spider._fields_udf(),
        )
        stats = eng.run([seed])
        assert (stats.requests, stats.items, stats.errors) == (2, 2, 0)
        crawled[name] = {
            r.url: (r.text, r.fields) for r in eng.items().collect()
        }
    texts = {u: t for u, (t, _) in crawled["plain"].items()}
    assert texts["http://jp.test/a"] == "こんにちは\nb"
    assert {u: t for u, (t, _) in crawled["fields"].items()} == texts
    assert {u: f for u, (_, f) in crawled["fields"].items()} == {
        "http://jp.test/a": {"n": str(len(sjis.encode("shift_jis")))},
        "http://u.test/b": {"n": "29"},
    }


def test_middleware_dropping_every_eligible_row_ends_crawl(spark, tmp_path):
    """A request middleware that drops the only eligible row leaves a
    round that serves nothing and finds nothing; rounds are
    deterministic, so the crawl ends there instead of repeating that
    round up to max_rounds. The dropped row stays queued (resumable)."""
    from scrapy_rs_spark.plans.engine import CrawlEngine
    from scrapy_rs_spark.sources.mocksite import BASE_URL, mock_site_pages

    eng = CrawlEngine(
        spark,
        mock_site_pages(spark, page_count=3, links_per_page=2),
        Settings(scheduler_type="breadth_first"),
        store_path=str(tmp_path / "deny"),
        request_middlewares=url_filter(deny="/2$"),
    )
    stats = eng.run([f"{BASE_URL}/0"], max_rounds=8)
    assert stats.requests == 2  # /0, then /1; /2 is dropped
    assert [m["requests"] for m in stats.per_round] == [0, 1, 1, 0]
    assert stats.rounds == 3
    assert [r.url for r in eng.frontier().collect()] == [f"{BASE_URL}/2"]


def test_response_middleware_emptying_a_round_keeps_crawling(spark, tmp_path):
    """A response middleware that drops every response of a polite round
    leaves that round with no requests and no new URLs, yet over-budget
    rows are still servable next round — the crawl must go on to serve
    them rather than end at the emptied round."""
    from scrapy_rs_spark.plans.engine import CrawlEngine
    from scrapy_rs_spark.sources.mocksite import BASE_URL, mock_site_pages

    eng = CrawlEngine(
        spark,
        mock_site_pages(spark, page_count=5, links_per_page=1),
        Settings(
            scheduler_type="breadth_first",
            domain_delay_ms=5000,
            round_duration_ms=10_000,  # budget = 2 per host per round
        ),
        store_path=str(tmp_path / "resp_drop"),
        response_middlewares=url_filter(deny="/[01]$"),
    )
    stats = eng.run([f"{BASE_URL}/{i}" for i in range(5)], max_rounds=8)
    # round 1 fetches /0 and /1, whose responses are dropped
    assert [m["requests"] for m in stats.per_round] == [0, 0, 2, 1]
    assert {r.url for r in eng.items().collect()} == {
        f"{BASE_URL}/{i}" for i in (2, 3, 4)
    }
