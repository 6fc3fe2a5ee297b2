"""URL kernel: canonicalization, join-resolution, host, 64-bit identity.

Parity target: rust-url (WHATWG) behavior as asserted by the reference's
own tests — `Request::get("https://example.com")` yields
`https://example.com/` (/root/reference/core/src/request.rs:261-263) and
`Response::urljoin` resolution cases
(/root/reference/core/src/response.rs:317-329).

Pinned canonical form (corpus-tested in tests/test_url_kernel.py):
  * scheme + host lowercased; default port stripped (http:80, https:443)
  * empty path → "/"
  * RFC 3986 dot-segment removal
  * percent-escapes uppercased; unreserved chars that require escaping
    are escaped (space → %20); already-safe chars left intact
  * fragment dropped (pinned comparison policy, FIXTURES.md §5)

Identity (the seen-set key) mirrors the reference's Request Eq/Hash =
(url, method) (/root/reference/core/src/request.rs:240-253):
``xxhash64(url_canon || '\\0' || method)`` — computed JVM-side with the
built-in xxhash64 so the hot path never leaves the executor JVM.

All Python here is Arrow-batched pandas UDFs (no per-row Python on the
driver or in row-at-a-time UDFs).
"""

from __future__ import annotations

import re
from urllib.parse import quote, urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_DEFAULT_PORTS = {"http": 80, "https": 443, "ftp": 21, "ws": 80, "wss": 443}
_PCT_SPLIT = re.compile(r"%([0-9a-fA-F]{2})")
# RFC 3986 pchar minus pct-encoded, plus "/" for paths
_PATH_SAFE = "/:@!$&'()*+,;=~-._"
_QUERY_SAFE = _PATH_SAFE + "?="


def _normalize_percent(s: str, safe: str) -> str:
    """Uppercase existing %XX escapes; escape chars that need escaping;
    leave safe chars alone. Matches rust-url's escape normalization on
    the pinned corpus."""
    parts = _PCT_SPLIT.split(s)
    out = []
    for i, p in enumerate(parts):
        if i % 2:
            out.append("%" + p.upper())
        else:
            out.append(quote(p, safe=safe))
    return "".join(out)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 — rust-url resolves dot segments at parse time."""
    if "." not in path:
        return path
    output: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if output and output[-1] != "":
                output.pop()
                if not output:
                    output = [""]
        else:
            output.append(seg)
    if path.startswith("/") and (not output or output[0] != ""):
        output.insert(0, "")
    res = "/".join(output)
    if path.endswith(("/.", "/..", "/")) and not res.endswith("/"):
        res += "/"
    return res or "/"


def canonicalize(raw: str | None) -> str | None:
    """Canonicalize one absolute URL; None if unparseable (fail closed —
    reference errors on invalid URL at Request construction,
    /root/reference/core/src/request.rs:107-108)."""
    if raw is None:
        return None
    try:
        s = urlsplit(raw.strip())
        scheme = s.scheme.lower()
        if not scheme or s.hostname is None:
            return None
        host = s.hostname.lower()
        try:
            host.encode("ascii")
        except UnicodeEncodeError:
            host = host.encode("idna").decode("ascii")
        userinfo = ""
        if s.username:
            userinfo = s.username
            if s.password:
                userinfo += f":{s.password}"
            userinfo += "@"
        port = s.port
        netloc = userinfo + host
        if port is not None and port != _DEFAULT_PORTS.get(scheme):
            netloc += f":{port}"
        path = _normalize_percent(_remove_dot_segments(s.path or "/"), _PATH_SAFE)
        if not path.startswith("/"):
            path = "/" + path
        query = _normalize_percent(s.query, _QUERY_SAFE)
        return urlunsplit((scheme, netloc, path, query, ""))
    except ValueError:
        return None


def resolve(base: str | None, href: str | None) -> str | None:
    """urljoin (relative→absolute) + canonicalize.

    Covers the reference's tested cases: absolute path, relative path,
    bare query (/root/reference/core/src/response.rs:317-329)."""
    if base is None or href is None:
        return None
    try:
        return canonicalize(urljoin(base, href.strip()))
    except ValueError:
        return None


@pandas_udf(StringType())
def canonicalize_url_udf(urls: pd.Series) -> pd.Series:
    return urls.map(canonicalize)


# fast-path detectors for hrefs where urljoin+canonicalize reduces to a
# string concat: only chars canonicalize leaves untouched, no
# percent-escapes, no dot segments. A '?query' tail of safe chars is
# allowed (canonicalize leaves such queries byte-identical; the
# reference's own urljoin cases include bare-query hrefs,
# response.rs:317-329). Everything else falls back to the exact path.
# ';' is excluded: urllib's urljoin treats it as legacy params syntax
# (a trailing ';' is dropped), so ';' hrefs must take the exact path to
# stay byte-identical with resolve() (hypothesis-found corner).
# The query tail requires ≥1 char: urljoin drops a bare trailing '?'
# ('/a?' → '/a'), which a concat would keep.
_QUERY_TAIL = r"(?:\?[A-Za-z0-9_\-./~!$&'()*+,=:@?]+)?"
_FAST_HREF = re.compile(r"^/[A-Za-z0-9_\-./~!$&'()*+,=:@]*" + _QUERY_TAIL + "$")
# relative form: no leading '/', no ':' in the PATH part (scheme
# ambiguity — 'a:b' would parse as a scheme); ':' after '?' is safe
_REL_HREF = re.compile(
    r"^[A-Za-z0-9_\-.~!$&'()*+,=@][A-Za-z0-9_\-./~!$&'()*+,=@]*"
    + _QUERY_TAIL + "$"
)
# bare-query href ('?page=2'): replaces the base's query, path untouched
_BARE_QUERY_HREF = re.compile(r"^\?[A-Za-z0-9_\-./~!$&'()*+,=:@?]+$")
_DOT_SEG = re.compile(r"/\.\.?(?:/|$)")
_ANY_DOT_SEG = re.compile(r"(?:^|/)\.\.?(?:/|$)")
# origin gate for the absolute fast path: canonical scheme+host only —
# lowercase host, no port/userinfo (a non-canonical ':80' or mixed-case
# host would survive the concat but be rewritten by the exact path)
_ORIGIN = re.compile(r"^(https?://[a-z0-9.\-]+)(?=[/?#]|$)")
# base gate for the relative/bare-query fast paths: already-canonical
# http(s) URL — lowercase host, no port, no userinfo, no escapes, no
# query/fragment, and NO EMPTY PATH SEGMENTS: urllib's urljoin collapses
# '//' in the base path when merging a relative href
# ('http://h/a//b/' + 'c' → 'http://h/a/b/c'), so dir(base) + href
# would mint a second identity for the same logical URL. Segments are
# non-empty by construction here; '//' bases take the exact path.
_CANON_REL_BASE = re.compile(
    r"^https?://[a-z0-9.\-]+/"
    r"(?:[A-Za-z0-9_\-.~!$&'()*+,=:@]+(?:/[A-Za-z0-9_\-.~!$&'()*+,=:@]+)*/?)?$"
)
_AFTER_LAST_SLASH = re.compile(r"[^/]*$")
# absolute href already in canonical form: canonical http(s) origin (as
# _ORIGIN) followed by an absolute-path href that passes _FAST_HREF. It
# resolves to itself against any non-NULL base: urljoin returns it (or
# re-assembles the same parts) and canonicalize leaves it untouched.
# The dot-segment and '//' exclusions apply to the part after the origin.
_ABS_HREF = re.compile(r"^https?://[a-z0-9.\-]+" + _FAST_HREF.pattern[1:])


def resolve_series(base: pd.Series, href: pd.Series) -> pd.Series:
    """Vectorized resolve (the body of urljoin_udf, callable from other
    pandas UDFs). The three dominant shapes on a real crawl are
    handled as pandas string ops:

      * absolute-path hrefs ("/a/b", "/a?x=1") against a canonical
        http(s) origin → origin + href
      * relative-path hrefs ("a/b.html", "a/b?x=1") against an
        already-canonical base (the engine always passes url_canon) →
        dir(base) + href
      * bare-query hrefs ("?page=2") against a canonical base →
        base + href
      * absolute hrefs already in canonical form
        ("http://h.test/a/b") → href

    Anything unusual (dot segments, %-escapes, fragments, other
    schemes, ';', empty path segments, non-canonical bases) takes the
    exact urljoin+canonicalize path. Output is byte-identical either
    way (tests/test_url_kernel.py and hypothesis cross-check the
    paths). Dot-segment and '//' exclusions apply to the href's PATH
    part only — a query like '?x=a//b' is left untouched by
    canonicalize, so it is concat-safe."""
    href_s = href.astype("object")
    base_s = base.astype("object")
    # the dot-segment/'//' exclusions apply to the path part only; the
    # split is computed lazily — query-less batches (most of a typical
    # site) pay a single contains() pass, nothing else
    has_q = href_s.str.contains("?", regex=False, na=False)
    any_q = bool(has_q.any())
    if any_q:
        path_part = href_s.copy()
        path_part[has_q] = href_s[has_q].str.split("?", n=1).str[0]
    else:
        path_part = href_s
    fast = (
        href_s.str.match(_FAST_HREF, na=False)
        & ~path_part.str.contains(_DOT_SEG, na=True)
        & ~path_part.str.contains("//", regex=False, na=True)
    )
    origin = base_s.str.extract(_ORIGIN, expand=False)
    fast &= origin.notna()
    out = pd.Series([None] * len(href_s), dtype="object", index=href_s.index)
    out[fast] = origin[fast] + href_s[fast]
    base_ok = base_s.str.match(_CANON_REL_BASE, na=False) & ~base_s.str.contains(
        _DOT_SEG, na=True
    )
    # relative fast path: a real web corpus is mostly relative hrefs —
    # this keeps the parse round off the per-row python loop
    rel = (
        ~fast
        & href_s.str.match(_REL_HREF, na=False)
        & ~path_part.str.contains(_ANY_DOT_SEG, na=True)
        # urllib collapses empty path segments ('a//b' → quirky) —
        # exact path only, same exclusion as the absolute fast path
        & ~path_part.str.contains("//", regex=False, na=True)
        & base_ok
    )
    if rel.any():
        base_dir = base_s[rel].str.replace(_AFTER_LAST_SLASH, "", regex=True)
        out[rel] = base_dir + href_s[rel]
    handled = fast | rel
    if any_q:
        # bare-query fast path ('?page=2' — ubiquitous pagination
        # hrefs): a canonical base has no query → base + href
        qry = (
            ~handled
            & has_q
            & href_s.str.match(_BARE_QUERY_HREF, na=False)
            & base_ok
        )
        if qry.any():
            out[qry] = base_s[qry] + href_s[qry]
        handled = handled | qry
    absn = ~handled & href_s.str.match(_ABS_HREF, na=False) & base_s.notna()
    if absn.any():
        tail = path_part.str.replace(_ORIGIN, "", regex=True)
        absn &= ~tail.str.contains(_DOT_SEG, na=True) & ~tail.str.contains(
            "//", regex=False, na=True
        )
        out[absn] = href_s[absn]
        handled = handled | absn
    for i in out.index[~handled]:
        out[i] = resolve(base_s[i], href_s[i])
    return out


@pandas_udf(StringType())
def urljoin_udf(base: pd.Series, href: pd.Series) -> pd.Series:
    """resolve_series as an Arrow-batched pandas UDF."""
    return resolve_series(base, href)


def url_hash_expr(url_canon: Column | str, method: Column | str) -> Column:
    """64-bit identity: xxhash64(url_canon || '\\0' || method).

    JVM built-in (whole-stage codegen'd) — the 10^10-row seen set never
    touches Python. Mirrors (url, method) identity of
    /root/reference/core/src/request.rs:240-253."""
    u = F.col(url_canon) if isinstance(url_canon, str) else url_canon
    m = F.col(method) if isinstance(method, str) else method
    return F.xxhash64(F.concat(u, F.lit("\x00"), m))


def with_url_identity(df, url_col: str = "url", method_col: str | None = None):
    """Add url_canon, host, url_hash columns.

    host comes from the JVM built-in parse_url on the canonical form
    (no extra Python round-trip)."""
    method = (
        F.col(method_col) if method_col else F.lit("GET")
    )
    out = df.withColumn("url_canon", canonicalize_url_udf(F.col(url_col)))
    out = out.withColumn("host", F.expr("parse_url(url_canon, 'HOST')"))
    out = out.withColumn("url_hash", url_hash_expr(F.col("url_canon"), method))
    return out
