"""Property-based tests (hypothesis) for the URL kernel — the seen-set
identity function, so its invariants ARE crawl-membership invariants.

Pure-python properties (no Spark session needed — fast)."""

from hypothesis import given, settings
from hypothesis import strategies as st

import pandas as pd

from scrapy_rs_spark.functions.url import (
    _ABS_HREF,
    _ANY_DOT_SEG,
    _AFTER_LAST_SLASH,
    _BARE_QUERY_HREF,
    _CANON_REL_BASE,
    _FAST_HREF,
    _DOT_SEG,
    _ORIGIN,
    _REL_HREF,
    canonicalize,
    resolve,
    resolve_series,
)


def _href_path_part(href: str) -> str:
    """The path part of an href (before any '?') — the UDF's dot-segment
    and '//' exclusions apply to this part only."""
    return href.split("?", 1)[0]

_hosts = st.sampled_from(
    ["example.com", "EXAMPLE.com", "a-b.test", "xn--test.de", "h1.h2.org"]
)
_schemes = st.sampled_from(["http", "https", "HTTP", "HtTpS"])
_path_chars = st.text(
    alphabet="abcXYZ019-._~!$&'()*+,;=:@/%  #?", min_size=0, max_size=24
)
_ports = st.sampled_from(["", ":80", ":443", ":8080", ":1"])


@given(_schemes, _hosts, _ports, _path_chars)
@settings(max_examples=300, deadline=None)
def test_canonicalize_idempotent(scheme, host, port, path):
    """canonicalize is a normal form: applying it twice = once."""
    raw = f"{scheme}://{host}{port}/{path}"
    c1 = canonicalize(raw)
    if c1 is not None:
        assert canonicalize(c1) == c1


@given(_schemes, _hosts, _path_chars)
@settings(max_examples=300, deadline=None)
def test_canonicalize_host_scheme_lowered(scheme, host, path):
    c = canonicalize(f"{scheme}://{host}/{path}")
    if c is not None:
        prefix = c.split("/")[2]
        assert prefix == prefix.lower()
        assert c.split(":")[0] == scheme.lower()
        assert "#" not in c  # fragments always dropped


@given(_path_chars)
@settings(max_examples=300, deadline=None)
def test_urljoin_fast_path_equals_exact(href):
    """The vectorized fast path (origin + href) must agree with the
    exact urljoin+canonicalize path whenever its guard admits the href
    — the same predicate urljoin_udf applies."""
    base = "http://mocksite.test/3"
    pp = _href_path_part(href)
    is_fast = (
        href.startswith("/")
        and _FAST_HREF.match(href) is not None
        and _DOT_SEG.search(pp) is None
        and "//" not in pp
    )
    exact = resolve(base, href)
    if is_fast:
        assert exact == "http://mocksite.test" + href, (href, exact)


_rel_bases = st.sampled_from(
    [
        "http://mocksite.test/3",
        "http://a.test/",
        "https://h1.h2.org/dir/page.html",
        "http://x.test/a/b/c/",
        "HTTP://Upper.test/a",  # non-canonical: must NOT take the fast path
        "http://p.test:8080/a/b",  # explicit port: exact path only
        "http://q.test/a?x=1/y",  # query in base: exact path only
        # empty path segments: urljoin collapses '//' when merging a
        # relative href, so these MUST be rejected by _CANON_REL_BASE
        # (they are reachable as url_canon — canonicalize keeps '//')
        "http://e.test/a//b/",
        "http://e.test//x/",
        "http://e.test/a//",
    ]
)


@given(_rel_bases, _path_chars)
@settings(max_examples=400, deadline=None)
def test_urljoin_relative_fast_path_equals_exact(base, href):
    """The vectorized relative fast path (dir(base) + href) must agree
    with the exact urljoin+canonicalize path whenever its guard admits
    the (base, href) pair — the same predicate urljoin_udf applies."""
    pp = _href_path_part(href)
    is_rel_fast = (
        _REL_HREF.match(href) is not None
        and _ANY_DOT_SEG.search(pp) is None
        and "//" not in pp
        and not (_FAST_HREF.match(href) and not _DOT_SEG.search(pp))
        and _CANON_REL_BASE.match(base) is not None
        and _DOT_SEG.search(base) is None
    )
    if is_rel_fast:
        base_dir = _AFTER_LAST_SLASH.sub("", base)
        assert resolve(base, href) == base_dir + href, (base, href)


@given(_rel_bases, _path_chars)
@settings(max_examples=400, deadline=None)
def test_urljoin_bare_query_fast_path_equals_exact(base, query):
    """The bare-query fast path (base + '?query') must agree with the
    exact path whenever its guard admits the (base, href) pair."""
    href = "?" + query
    is_qry_fast = (
        _BARE_QUERY_HREF.match(href) is not None
        and _CANON_REL_BASE.match(base) is not None
        and _DOT_SEG.search(base) is None
    )
    if is_qry_fast:
        assert resolve(base, href) == base + href, (base, href)


def test_canon_rel_base_rejects_empty_segments():
    """Regression (round-3 advice): '//' in the base path must fall to
    the exact path — dir(base)+href would mint a second identity for
    the same logical URL (urljoin collapses empty segments on merge)."""
    assert _CANON_REL_BASE.match("http://h.test/a//b/") is None
    assert _CANON_REL_BASE.match("http://h.test//x/") is None
    assert _CANON_REL_BASE.match("http://h.test/a/b/") is not None
    assert _CANON_REL_BASE.match("http://h.test/") is not None
    # no-path base must not fast-path either (dir() would eat the host)
    assert _CANON_REL_BASE.match("http://h.test") is None
    # the concrete advice case: both resolutions give ONE identity
    assert resolve("http://h.test/a//b/", "c") == "http://h.test/a/b/c"


@given(st.text(min_size=0, max_size=40))
@settings(max_examples=300, deadline=None)
def test_canonicalize_never_raises(garbage):
    """Fail closed: arbitrary input → canonical URL or None, no crash."""
    out = canonicalize(garbage)
    assert out is None or isinstance(out, str)


@given(_hosts, _path_chars, _path_chars)
@settings(max_examples=200, deadline=None)
def test_resolve_never_raises(host, path, href):
    out = resolve(f"https://{host}/{path}", href)
    assert out is None or out.split("://")[0] in ("http", "https", "ftp", "ws", "wss")


@given(_schemes, _hosts, _ports, _path_chars, _rel_bases)
@settings(max_examples=400, deadline=None)
def test_urljoin_absolute_fast_path_equals_exact(scheme, host, port, path, base):
    """The absolute fast path (href unchanged) must agree with the
    exact path whenever its guard admits the href — whatever the base."""
    href = f"{scheme}://{host}{port}/{path}"
    tail = _ORIGIN.sub("", _href_path_part(href))
    is_abs_fast = (
        _ABS_HREF.match(href) is not None
        and _DOT_SEG.search(tail) is None
        and "//" not in tail
    )
    if is_abs_fast:
        assert resolve(base, href) == href, (base, href)


_hrefs = st.one_of(
    _path_chars,
    st.builds(lambda p: "/" + p, _path_chars),
    st.builds(lambda p: "?" + p, _path_chars),
    st.builds(
        lambda s, h, port, p: f"{s}://{h}{port}/{p}",
        _schemes, _hosts, _ports, _path_chars,
    ),
)


@given(st.lists(st.tuples(_rel_bases, _hrefs), min_size=1, max_size=12))
@settings(max_examples=300, deadline=None)
def test_resolve_series_equals_resolve(pairs):
    """The vectorized resolver (every fast path plus the exact
    fallback, as urljoin_udf and the fused parse UDF run it) is
    row-for-row identical to resolve()."""
    bases = pd.Series([b for b, _ in pairs], dtype="object")
    hrefs = pd.Series([h for _, h in pairs], dtype="object")
    got = resolve_series(bases, hrefs).tolist()
    assert got == [resolve(b, h) for b, h in pairs]
