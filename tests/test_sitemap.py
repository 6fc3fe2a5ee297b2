"""Sitemap ingestion: extraction, robots discovery, the index walk,
and sitemap-seeded crawling."""

import pyspark.sql.functions as F

from scrapy_rs_spark.sources.sitemap import (
    is_sitemap_index,
    robots_sitemaps,
    sitemap_entries,
    sitemap_index_entries,
    sitemap_seeds,
)

URLSET_A = b"""<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc> http://site.test/0 </loc>
    <lastmod>2025-01-03</lastmod>
    <changefreq>daily</changefreq>
    <priority>0.8</priority>
  </url>
  <url><loc>http://site.test/1</loc></url>
</urlset>"""

URLSET_B = b"""<urlset>
  <url><loc>http://site.test/2</loc><priority>0.2</priority></url>
  <url><loc>http://site.test/1</loc></url>
</urlset>"""

INDEX = b"""<?xml version="1.0"?>
<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <sitemap><loc>http://site.test/sitemap-a.xml</loc></sitemap>
  <sitemap>
    <loc>http://site.test/sitemap-b.xml</loc>
    <lastmod>2025-01-05</lastmod>
  </sitemap>
  <sitemap><loc>http://site.test/sitemap-missing.xml</loc></sitemap>
</sitemapindex>"""

ROBOTS = b"""User-agent: *\r\nDisallow: /private\r\nSitemap: http://site.test/sitemap-index.xml\r\nsitemap: http://site.test/sitemap-b.xml\r\n"""


def _pages(spark, rows):
    return spark.createDataFrame(
        [(u, h) for u, h in rows], "url string, html binary"
    )


def test_sitemap_entries_fields_and_nulls(spark):
    df = sitemap_entries(
        _pages(spark, [("http://site.test/sitemap-a.xml", URLSET_A)])
    )
    rows = {r["loc"]: r for r in df.collect()}
    assert set(rows) == {"http://site.test/0", "http://site.test/1"}
    r0 = rows["http://site.test/0"]
    assert (r0["lastmod"], r0["changefreq"], r0["priority"]) == (
        "2025-01-03",
        "daily",
        "0.8",
    )
    r1 = rows["http://site.test/1"]
    assert (r1["lastmod"], r1["changefreq"], r1["priority"]) == (
        None,
        None,
        None,
    )
    assert r0["sitemap_url"] == "http://site.test/sitemap-a.xml"


def test_index_detection_and_entries(spark):
    pages = _pages(
        spark,
        [
            ("http://site.test/sitemap-index.xml", INDEX),
            ("http://site.test/sitemap-a.xml", URLSET_A),
        ],
    )
    idx = pages.filter(is_sitemap_index("html"))
    assert [r["url"] for r in idx.collect()] == [
        "http://site.test/sitemap-index.xml"
    ]
    locs = sorted(
        r["loc"] for r in sitemap_index_entries(idx).collect()
    )
    assert locs == [
        "http://site.test/sitemap-a.xml",
        "http://site.test/sitemap-b.xml",
        "http://site.test/sitemap-missing.xml",
    ]


def test_robots_sitemaps_case_insensitive_crlf(spark):
    df = robots_sitemaps(
        _pages(spark, [("http://site.test/robots.txt", ROBOTS)])
    )
    assert sorted(r["sitemap_url"] for r in df.collect()) == [
        "http://site.test/sitemap-b.xml",
        "http://site.test/sitemap-index.xml",
    ]


def test_sitemap_seeds_walks_index_and_maps_priority(spark):
    """robots → index → {a, b, missing}: union of both urlsets,
    priority 0.8→8, 0.2→2, absent→5; url/1 appears in both sitemaps
    but seeds collapse to one row per url (max priority/lastmod); the
    missing child sitemap contributes nothing."""
    pages = _pages(
        spark,
        [
            ("http://site.test/robots.txt", ROBOTS),
            ("http://site.test/sitemap-index.xml", INDEX),
            ("http://site.test/sitemap-a.xml", URLSET_A),
            ("http://site.test/sitemap-b.xml", URLSET_B),
        ],
    )
    sm = robots_sitemaps(
        pages.filter(F.col("url").endswith("robots.txt"))
    )
    seeds = sitemap_seeds(sm, pages)
    got = {
        (r["url"], r["priority"], r["lastmod"]) for r in seeds.collect()
    }
    assert got == {
        ("http://site.test/0", 8, "2025-01-03"),
        ("http://site.test/1", 5, None),
        ("http://site.test/2", 2, None),
    }


def test_crawl_seeded_from_sitemap(spark, tmp_path):
    """Engine e2e: a sitemap over mocksite pages {3, 7, 11}, crawled at
    max_depth=0 → exactly the three sitemap URLs are fetched."""
    from scrapy_rs_spark.api import Settings
    from scrapy_rs_spark.plans.engine import CrawlEngine
    from scrapy_rs_spark.sources.mocksite import mock_site_pages
    from scrapy_rs_spark.sources.seeds import seeds_frontier

    body = (
        "<urlset>"
        + "".join(
            f"<url><loc>http://mocksite.test/{i}</loc>"
            f"<priority>0.{9 - j}</priority></url>"
            for j, i in enumerate([3, 7, 11])
        )
        + "</urlset>"
    ).encode()
    web = mock_site_pages(spark, page_count=20, links_per_page=3,
                          golden_text=False)
    sitemap_page = _pages(
        spark, [("http://mocksite.test/sitemap.xml", body)]
    )
    seeds = sitemap_seeds(
        spark.createDataFrame(
            [("http://mocksite.test/sitemap.xml",)], "sitemap_url string"
        ),
        sitemap_page,
    )
    assert {r["priority"] for r in seeds.collect()} == {9, 8, 7}
    eng = CrawlEngine(
        spark,
        web,
        Settings(scheduler_type="priority", max_depth=0),
        store_path=str(tmp_path / "store"),
    )
    stats = eng.run(seeds_frontier(spark, seeds.select("url", "priority")))
    assert stats.requests == 3
    assert stats.items == 3
    assert stats.errors == 0


def test_deep_nesting_exceeding_hops_is_loud(spark):
    """Index nesting deeper than max_hops must not silently drop
    subtrees: default raises; on_exhausted='warn' keeps the partial
    set with a RuntimeWarning."""
    import pytest

    deep_index = (
        b"<sitemapindex><sitemap>"
        b"<loc>http://site.test/sitemap-index.xml</loc>"
        b"</sitemap></sitemapindex>"
    )  # index → itself: inexhaustible nesting
    leaf = b"<urlset><url><loc>http://site.test/0</loc></url></urlset>"
    pages = _pages(
        spark,
        [
            ("http://site.test/sitemap-index.xml", deep_index),
            ("http://site.test/leaf.xml", leaf),
        ],
    )
    sm = spark.createDataFrame(
        [
            ("http://site.test/sitemap-index.xml",),
            ("http://site.test/leaf.xml",),
        ],
        "sitemap_url string",
    )
    with pytest.raises(RuntimeError, match="max_hops"):
        sitemap_seeds(sm, pages, max_hops=1)
    with pytest.warns(RuntimeWarning, match="max_hops"):
        seeds = sitemap_seeds(sm, pages, max_hops=1, on_exhausted="warn")
        assert [r["url"] for r in seeds.collect()] == ["http://site.test/0"]


def test_sitemap_seeds_newest_lastmod_across_offsets(spark):
    """A URL listed twice with lastmods in different timezone offsets
    keeps the later INSTANT, not the larger string: 23:30-05:00 on the
    3rd is 04:30Z on the 4th, after 01:00Z on the 4th. Two spellings of
    one instant resolve by the string, whatever the row order."""
    c = b"""<urlset>
  <url><loc>http://site.test/3</loc>
    <lastmod>2025-01-03T23:30:00-05:00</lastmod></url>
  <url><loc>http://site.test/5</loc>
    <lastmod>2025-01-04T01:00:00+00:00</lastmod></url>
</urlset>"""
    d = b"""<urlset>
  <url><loc>http://site.test/3</loc>
    <lastmod>2025-01-04T01:00:00+00:00</lastmod></url>
  <url><loc>http://site.test/4</loc><lastmod>yesterday</lastmod></url>
  <url><loc>http://site.test/5</loc>
    <lastmod>2025-01-04T01:00:00Z</lastmod></url>
</urlset>"""
    robots = (
        b"Sitemap: http://site.test/sitemap-c.xml\r\n"
        b"Sitemap: http://site.test/sitemap-d.xml\r\n"
    )
    pages = _pages(
        spark,
        [
            ("http://site.test/robots.txt", robots),
            ("http://site.test/sitemap-c.xml", c),
            ("http://site.test/sitemap-d.xml", d),
        ],
    )
    sm = robots_sitemaps(
        pages.filter(F.col("url").endswith("robots.txt"))
    )
    got = {r["url"]: r["lastmod"] for r in sitemap_seeds(sm, pages).collect()}
    assert got == {
        "http://site.test/3": "2025-01-03T23:30:00-05:00",
        "http://site.test/4": "yesterday",
        "http://site.test/5": "2025-01-04T01:00:00Z",
    }
