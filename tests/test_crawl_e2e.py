"""End-to-end crawl goldens (FIXTURES.md §7).

* two-page crawl: exact stats {requests:2, responses:2, items:2,
  errors:0} like /root/reference/engine/src/lib.rs:1477-1517
* mock-site BFS: closed-form (i+k+1)%N link graph → closed-form
  frontier per round, seen membership, visit order
* byte-identical extracted text vs the pages table's golden text column
* retry/backoff, robots enforcement, politeness budget, resume
"""

import pyspark.sql.functions as F
import pytest

from scrapy_rs_spark.functions.text import extract_text
from scrapy_rs_spark.plans.engine import CrawlEngine
from scrapy_rs_spark.settings import Settings
from scrapy_rs_spark.sources.mocksite import (
    BASE_URL,
    expected_links,
    mock_site_pages,
    mock_site_robots,
)

N, LINKS = 20, 5


@pytest.fixture(scope="module")
def pages(spark):
    df = mock_site_pages(spark, page_count=N, links_per_page=LINKS, partitions=4)
    df = df.localCheckpoint(eager=True)
    return df


def bfs_closed_form(max_depth):
    """Expected BFS levels from seed 0 over the (i+k+1)%N graph."""
    seen = {0}
    levels = [[0]]
    frontier = [0]
    for _ in range(max_depth):
        nxt = sorted(
            {t for i in frontier for t in expected_links(i, N, LINKS)} - seen
        )
        if not nxt:
            break
        seen.update(nxt)
        levels.append(nxt)
        frontier = nxt
    return levels, seen


def test_two_page_crawl_stats(spark, tmp_path):
    """engine/src/lib.rs:1510-1516 exact stats shape."""
    pages2 = spark.createDataFrame(
        [
            (
                "http://t.test/page1",
                bytearray(
                    b'<html><body><a href="/page2">next</a></body></html>'
                ),
                200,
            ),
            (
                "http://t.test/page2",
                bytearray(b"<html><body>end</body></html>"),
                200,
            ),
        ],
        "url STRING, html BINARY, status INT",
    ).select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        "html",
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
        "status",
        F.lit(None).cast("map<string,string>").alias("headers"),
    )
    eng = CrawlEngine(
        spark,
        pages2,
        Settings(scheduler_type="breadth_first"),
        store_path=str(tmp_path / "two"),
    )
    stats = eng.run(["http://t.test/page1"])
    assert stats.requests == 2
    assert stats.responses == 2
    assert stats.items == 2
    assert stats.errors == 0


def test_mock_site_bfs_order_seen_and_text(spark, pages, tmp_path):
    max_depth = 2
    levels, exp_seen = bfs_closed_form(max_depth)
    eng = CrawlEngine(
        spark,
        pages,
        Settings(scheduler_type="breadth_first", max_depth=max_depth),
        store_path=str(tmp_path / "bfs"),
    )
    stats = eng.run([f"{BASE_URL}/0"])
    total = sum(len(l) for l in levels)
    assert stats.requests == total
    assert stats.items == total
    assert stats.errors == 0

    # per-round visit order: BFS levels; within a round our pinned order
    # is url ASC (set-oriented arrival; SURVEY.md §7.0 determinism note)
    for rnd_metrics, level in zip(stats.per_round[1:], levels):
        assert rnd_metrics["requests"] == len(level)
    items = eng.items()
    got_urls = {r.url for r in items.select("url").collect()}
    assert got_urls == {f"{BASE_URL}/{i}" for i in exp_seen}

    # seen membership = crawled ∪ frontier (depth≤2 candidates enqueued
    # but depth-3 never discovered); here frontier drained fully
    seen_n = eng.seen().count()
    assert seen_n == len(exp_seen)

    # byte-identical extracted text vs the golden text column (C10)
    joined = items.alias("i").join(
        pages.alias("p"), F.col("i.url") == F.col("p.url")
    )
    mismatches = joined.filter(
        ~F.col("i.text").eqNullSafe(F.col("p.text"))
    ).count()
    assert mismatches == 0
    # and the text is what the pinned extractor produces locally
    row = pages.filter(F.col("url") == f"{BASE_URL}/0").collect()[0]
    assert extract_text(bytes(row.html)) == row.text
    assert "Mock Page 0" in row.text


def test_visit_order_exact_sequence(spark, pages, tmp_path):
    """Full deterministic visit sequence: rounds are BFS levels, rows
    within a round ordered by batch_rank = url ASC."""
    eng = CrawlEngine(
        spark,
        pages,
        Settings(scheduler_type="breadth_first", max_depth=1),
        store_path=str(tmp_path / "order"),
    )
    eng.run([f"{BASE_URL}/0"])
    levels, _ = bfs_closed_form(1)
    expected = [f"{BASE_URL}/0"] + sorted(
        (f"{BASE_URL}/{i}" for i in levels[1]), key=str
    )
    # reconstruct order from committed metrics + items rounds
    items = eng.items().orderBy("rnd", "url").collect()
    got = [r.url for r in items]
    assert got == expected


def test_retry_exhaustion_counts_error(spark, pages, tmp_path):
    eng = CrawlEngine(
        spark,
        pages,
        Settings(max_retries=1, scheduler_type="breadth_first"),
        store_path=str(tmp_path / "retry"),
    )
    stats = eng.run([f"{BASE_URL}/does-not-exist"])
    assert stats.requests == 2  # initial + 1 retry
    assert stats.retries == 1
    assert stats.errors == 1
    assert stats.items == 0



def test_retry_gated_past_an_empty_round_still_serves(spark, pages, tmp_path):
    """A 15 s backoff against 10 s rounds gates the retry two rounds
    out, so the round between serves nothing — the crawl must still
    run the retry's round rather than end at the empty one."""
    eng = CrawlEngine(
        spark,
        pages,
        Settings(
            max_retries=1,
            retry_backoff_base_ms=15_000,
            scheduler_type="breadth_first",
        ),
        store_path=str(tmp_path / "retry_gated"),
    )
    stats = eng.run([f"{BASE_URL}/does-not-exist"])
    assert [m["requests"] for m in stats.per_round] == [0, 1, 0, 1]
    assert stats.retries == 1 and stats.errors == 1


def test_robots_enforcement(spark, pages, tmp_path):
    robots = mock_site_robots(spark, failure_mode=True)  # Disallow /5 /10 /15
    eng = CrawlEngine(
        spark,
        pages,
        Settings(scheduler_type="breadth_first", max_depth=2),
        robots=robots,
        store_path=str(tmp_path / "robots"),
    )
    stats = eng.run([f"{BASE_URL}/0"])
    fetched = {r.url for r in eng.items().select("url").collect()}
    # RFC 9309 prefix semantics: /5, /10, /15 blocked (and /1x beyond N)
    assert f"{BASE_URL}/5" not in fetched
    assert f"{BASE_URL}/10" not in fetched
    assert f"{BASE_URL}/15" not in fetched
    assert f"{BASE_URL}/4" in fetched
    assert stats.errors == 0


def test_politeness_budget_bounds_round(spark, pages, tmp_path):
    # crawl_delay 2500ms with 10s rounds → ≤4 fetches per host per round
    eng = CrawlEngine(
        spark,
        pages,
        Settings(
            scheduler_type="breadth_first",
            max_depth=2,
            domain_delay_ms=2500,
            round_duration_ms=10_000,
        ),
        store_path=str(tmp_path / "polite"),
    )
    stats = eng.run([f"{BASE_URL}/0"])
    per_round = [m["requests"] for m in stats.per_round if m["round"] > 0]
    assert all(n <= 4 for n in per_round)
    # same pages crawled in the end, just over more rounds
    _, exp_seen = bfs_closed_form(2)
    got = {r.url for r in eng.items().select("url").collect()}
    assert got == {f"{BASE_URL}/{i}" for i in exp_seen}


def test_resume_identical_to_uninterrupted(spark, pages, tmp_path):
    cfg = Settings(scheduler_type="breadth_first", max_depth=2)
    full = CrawlEngine(spark, pages, cfg, store_path=str(tmp_path / "full"))
    full_stats = full.run([f"{BASE_URL}/0"])

    part = CrawlEngine(spark, pages, cfg, store_path=str(tmp_path / "part"))
    part.run([f"{BASE_URL}/0"], max_rounds=1)  # stop after round 1
    resumed_stats = part.resume()  # continue from the checkpoint

    assert resumed_stats.requests == full_stats.requests
    assert resumed_stats.items == full_stats.items
    a = {r.url for r in full.items().select("url").collect()}
    b = {r.url for r in part.items().select("url").collect()}
    assert a == b
    sa = {r.url_hash for r in full.seen().collect()}
    sb = {r.url_hash for r in part.seen().collect()}
    assert sa == sb
