"""URL kernel corpus tests — parity with rust-url behaviors asserted in
the reference's own tests (core/src/request.rs:255-352,
core/src/response.rs:317-329). The canonical form defines seen-set
identity, so these pin crawl membership."""

import pyspark.sql.functions as F
import pytest

from scrapy_rs_spark.functions.url import (
    canonicalize,
    canonicalize_url_udf,
    resolve,
    url_hash_expr,
    urljoin_udf,
    with_url_identity,
)

# raw → expected canonical (FIXTURES.md §5)
CANON_CORPUS = [
    # reference: Request::get("https://example.com") → "https://example.com/"
    # (core/src/request.rs:261-263)
    ("https://example.com", "https://example.com/"),
    ("https://example.com/", "https://example.com/"),
    ("HTTPS://EXAMPLE.COM/Path", "https://example.com/Path"),
    ("https://example.com:443/x", "https://example.com/x"),
    ("http://example.com:80/x", "http://example.com/x"),
    ("http://example.com:8080/x", "http://example.com:8080/x"),
    ("https://example.com/a/../b", "https://example.com/b"),
    ("https://example.com/a/./b", "https://example.com/a/b"),
    ("https://example.com/a%2fb", "https://example.com/a%2Fb"),
    ("https://example.com/a b", "https://example.com/a%20b"),
    ("https://example.com/x#frag", "https://example.com/x"),
    ("https://example.com/x?q=1#frag", "https://example.com/x?q=1"),
    ("https://example.com?q=1", "https://example.com/?q=1"),
    ("not a url", None),
    ("", None),
]

# (base, href) → expected, from core/src/response.rs:317-329
JOIN_CORPUS = [
    ("https://example.com/page", "/absolute", "https://example.com/absolute"),
    ("https://example.com/page", "relative", "https://example.com/relative"),
    (
        "https://example.com/page",
        "?query=value",
        "https://example.com/page?query=value",
    ),
    ("https://example.com/a/b", "../c", "https://example.com/c"),
    ("https://example.com/a/b", "https://other.org/x", "https://other.org/x"),
    ("http://mocksite.test/3", "/7", "http://mocksite.test/7"),
    # query-string hrefs (round-3: vectorized fast paths must stay
    # byte-identical with the exact path on these ubiquitous shapes)
    ("http://h.test/a/b", "?page=2", "http://h.test/a/b?page=2"),
    ("http://h.test/a/b?q=old", "?new=1", "http://h.test/a/b?new=1"),
    ("http://h.test/a/", "c/d?x=1:2", "http://h.test/a/c/d?x=1:2"),
    ("http://h.test/x", "/p?x=1&y=2", "http://h.test/p?x=1&y=2"),
    ("http://h.test/a/b", "c?x=a//b", "http://h.test/a/c?x=a//b"),
    ("http://h.test/a/b", "/p?", "http://h.test/p"),  # bare '?' dropped
    # empty path segment in base: urljoin collapses '//' on merge — the
    # fast path must NOT fire (round-3 advice regression)
    ("http://h.test/a//b/", "c", "http://h.test/a/b/c"),
    ("http://h.test//x/", "y?q=1", "http://h.test/x/y?q=1"),
    # absolute hrefs already canonical resolve to themselves (fast
    # path); anything the guard rejects takes the exact path
    ("http://h.test/a/b", "http://o.test/x?y=1", "http://o.test/x?y=1"),
    ("https://h.test/a", "http://o.test/p/q", "http://o.test/p/q"),
    ("http://h.test/a", "http://o.test/a/../b", "http://o.test/b"),
    ("http://h.test/a", "http://O.test:80/x", "http://o.test/x"),
    ("http://h.test/a", "http://o.test/a?", "http://o.test/a"),
]


@pytest.mark.parametrize("raw,expected", CANON_CORPUS)
def test_canonicalize_py(raw, expected):
    assert canonicalize(raw) == expected


@pytest.mark.parametrize("base,href,expected", JOIN_CORPUS)
def test_resolve_py(base, href, expected):
    assert resolve(base, href) == expected


def test_canonicalize_udf_matches_python(spark):
    df = spark.createDataFrame([(r,) for r, _ in CANON_CORPUS], "raw STRING")
    got = {
        row.raw: row.canon
        for row in df.select(
            "raw", canonicalize_url_udf("raw").alias("canon")
        ).collect()
    }
    for raw, expected in CANON_CORPUS:
        assert got[raw] == expected, raw


def test_urljoin_udf(spark):
    df = spark.createDataFrame(JOIN_CORPUS, "base STRING, href STRING, expected STRING")
    bad = df.withColumn("got", urljoin_udf("base", "href")).filter(
        ~F.col("got").eqNullSafe(F.col("expected"))
    )
    assert bad.count() == 0


def test_url_identity_stable_and_method_sensitive(spark):
    df = spark.createDataFrame(
        [("https://example.com",), ("https://example.com/",)], "url STRING"
    )
    out = with_url_identity(df).select("url_canon", "url_hash", "host").collect()
    # both spellings canonicalize to the same identity
    assert out[0].url_hash == out[1].url_hash
    assert out[0].host == "example.com"
    # method is part of identity (request.rs:240-253)
    two = (
        spark.createDataFrame([("https://example.com/",)], "url STRING")
        .withColumn("h_get", url_hash_expr(F.col("url"), F.lit("GET")))
        .withColumn("h_post", url_hash_expr(F.col("url"), F.lit("POST")))
        .collect()[0]
    )
    assert two.h_get != two.h_post
