"""Common-Crawl WARC/WET ingestion: archive files → the pages table.

The engine's data model is "Common-Crawl-style pages tables" (BASELINE
north star); the native interchange format of that world is ISO 28500
WARC — `response` records wrapping raw HTTP captures, and the WET
derivative's `conversion` records wrapping extracted text. This module
is the landing path: read WARC/WET segment files straight into a
DataFrame with the same column contract the fetch join consumes
(sources/mocksite.py's pages shape), so a corpus replay crawl runs over
real archive segments instead of a synthesized web. The reference
engine has no archive ingestion (it only fetches live HTTP,
downloader/src/lib.rs) — this is one of the beyond-reference
training-data-pipeline operators.

Spark-first shape, sized for the real corpus layout:

* ``spark.read.format("binaryFile")`` lists the segment files; each
  file is ONE task. Common Crawl ships ~64k segment files of ~1 GiB
  gzip per monthly crawl, so file-count parallelism (not split
  parallelism — gzip members are not splittable) saturates any
  executor fleet, exactly how cc-pyspark and Sparkler consume it.
* Records are parsed from a STREAMING decompressor (multi-member gzip,
  the per-record-member layout Common Crawl uses) and emitted in
  bounded pandas batches — peak task memory is one compressed file +
  one in-flight record, never a decompressed segment (~5× larger).
* Framing is by ``Content-Length`` only. Payloads legally contain
  ``WARC/1.0`` bytes; splitting on markers corrupts such archives, so
  the parser never scans for them.

Determinism: serializers take explicit timestamps and write
``mtime=0`` gzip headers, so fixture bytes are reproducible and the
parse→serialize→parse loop is exact (pinned in tests/test_warc.py and
hash-gated every round by the ``warc_roundtrip`` driver query).
"""

from __future__ import annotations

import gzip
import io
from datetime import datetime, timezone
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CRLF = b"\r\n"
_WARC_DATE_FMT = "%Y-%m-%dT%H:%M:%SZ"

#: output contract of :func:`read_warc` (and the shared record parser)
WARC_SCHEMA = (
    "url string, warc_ts timestamp, warc_type string, status int, "
    "headers map<string,string>, html binary, text string, lang string, "
    "source_file string"
)
_WARC_COLS = [
    "url",
    "warc_ts",
    "warc_type",
    "status",
    "headers",
    "html",
    "text",
    "lang",
    "source_file",
]


# ---------------------------------------------------------------------------
# serializers (fixture/export side)
# ---------------------------------------------------------------------------


def _warc_date(ts_epoch: int) -> str:
    return datetime.fromtimestamp(int(ts_epoch), tz=timezone.utc).strftime(
        _WARC_DATE_FMT
    )


def serialize_record(headers: dict[str, str], payload: bytes) -> bytes:
    """One WARC/1.0 record: version line, headers (Content-Length
    computed here — callers never frame by hand), blank line, payload,
    record trailer."""
    head = [b"WARC/1.0"]
    for k, v in headers.items():
        head.append(f"{k}: {v}".encode("utf-8"))
    head.append(f"Content-Length: {len(payload)}".encode("ascii"))
    return (
        _CRLF.join(head) + _CRLF + _CRLF + payload + _CRLF + _CRLF
    )


def build_response_record(
    url: str,
    ts_epoch: int,
    body: bytes,
    status: int = 200,
    http_headers: dict[str, str] | None = None,
) -> bytes:
    """A ``response`` record wrapping a raw HTTP/1.1 capture (the WARC
    payload is status line + headers + CRLFCRLF + body, per ISO 28500
    §6.3 — what a crawler actually archives)."""
    hh = {"Content-Type": "text/html"}
    if http_headers:
        hh.update(http_headers)
    lines = [f"HTTP/1.1 {status} OK".encode("ascii")]
    for k, v in hh.items():
        lines.append(f"{k}: {v}".encode("utf-8"))
    lines.append(f"Content-Length: {len(body)}".encode("ascii"))
    payload = _CRLF.join(lines) + _CRLF + _CRLF + body
    return serialize_record(
        {
            "WARC-Type": "response",
            "WARC-Target-URI": url,
            "WARC-Date": _warc_date(ts_epoch),
        },
        payload,
    )


def build_conversion_record(
    url: str, ts_epoch: int, text: str, lang: str | None = None
) -> bytes:
    """A WET ``conversion`` record: extracted text as the payload,
    optional identified language header (the WET convention)."""
    headers = {
        "WARC-Type": "conversion",
        "WARC-Target-URI": url,
        "WARC-Date": _warc_date(ts_epoch),
        "Content-Type": "text/plain",
    }
    if lang is not None:
        headers["WARC-Identified-Content-Language"] = lang
    return serialize_record(headers, text.encode("utf-8"))


def gzip_member(record: bytes) -> bytes:
    """One record → one gzip member with a zeroed mtime (deterministic
    bytes; members concatenate into a Common-Crawl-style segment)."""
    return gzip.compress(record, mtime=0)


# ---------------------------------------------------------------------------
# parser (ingestion side)
# ---------------------------------------------------------------------------


def _open_stream(content: bytes) -> io.BufferedIOBase:
    """Streaming reader over raw or (multi-member) gzip bytes — gzip
    detected by magic, decompressed lazily so a task never holds a
    whole decompressed segment."""
    if content[:2] == b"\x1f\x8b":
        return gzip.GzipFile(fileobj=io.BytesIO(content))
    return io.BytesIO(content)


def _iter_records_at(
    stream: io.BufferedIOBase,
) -> Iterator[tuple[int, dict[str, str], bytes]]:
    """(start_offset, warc_headers, payload) per record — the framing
    kernel; start_offset is the stream position of the version line
    (CDX indexing needs it; plain consumers drop it)."""
    while True:
        start = stream.tell()
        line = stream.readline()
        if not line:
            return
        if line in (b"\r\n", b"\n"):
            continue
        if not line.startswith(b"WARC/"):
            raise ValueError(
                f"expected WARC version line, got {line[:40]!r}"
            )
        headers: dict[str, str] = {}
        while True:
            h = stream.readline()
            if h in (b"\r\n", b"\n", b""):
                break
            k, _, v = h.decode("utf-8", "replace").partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError) as e:
            raise ValueError(f"record missing Content-Length: {e}") from e
        payload = stream.read(length)
        if len(payload) != length:
            raise ValueError(
                f"truncated payload: wanted {length}, got {len(payload)}"
            )
        yield start, headers, payload


def iter_warc_records(
    stream: io.BufferedIOBase,
) -> Iterator[tuple[dict[str, str], bytes]]:
    """Yield (warc_headers, payload) per record. Content-Length framing
    only; raises ValueError on a malformed version line or truncated
    payload (framing is lost at that point — fail loudly rather than
    resynchronize on payload bytes that may themselves say WARC/1.0).

    Header FIELD NAMES are case-insensitive per ISO 28500 §4 and
    real-world tools do emit variants — keys come back LOWERCASED
    ('warc-type', 'content-length', ...) so lookups never silently
    miss a spec-legal spelling."""
    for _, headers, payload in _iter_records_at(stream):
        yield headers, payload


def iter_gzip_members(content: bytes) -> Iterator[tuple[int, int, bytes]]:
    """(offset, compressed_length, decompressed_bytes) per gzip member
    of a multi-member stream — the unit Common Crawl's CDX offsets
    address (one record per member in CC segments). Chunked feeding so
    a member's decompression never copies the whole remaining file."""
    import zlib

    pos, n = 0, len(content)
    while pos < n:
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        out = bytearray()
        p = pos
        while not d.eof and p < n:
            chunk = content[p : p + (1 << 20)]
            out += d.decompress(chunk)
            p += len(chunk)
        if not d.eof:
            raise ValueError(f"truncated gzip member at offset {pos}")
        consumed = (p - pos) - len(d.unused_data)
        yield pos, consumed, bytes(out)
        pos += consumed


def _parse_http_payload(
    payload: bytes,
) -> tuple[int | None, dict[str, str], bytes]:
    """(status, lowercased headers, body) from a raw HTTP capture."""
    head, sep, body = payload.partition(b"\r\n\r\n")
    if not sep:
        return None, {}, payload
    lines = head.split(b"\r\n")
    status: int | None = None
    parts = lines[0].split()
    if len(parts) >= 2 and parts[0].startswith(b"HTTP/"):
        try:
            status = int(parts[1])
        except ValueError:
            status = None
    hh: dict[str, str] = {}
    for ln in lines[1:]:
        k, _, v = ln.decode("utf-8", "replace").partition(":")
        hh[k.strip().lower()] = v.strip()
    return status, hh, body


def _parse_warc_date(s: str | None) -> datetime | None:
    if not s:
        return None
    try:
        return datetime.strptime(s, _WARC_DATE_FMT).replace(
            tzinfo=timezone.utc
        )
    except ValueError:
        return None


def parse_warc_file(
    source_file: str,
    content: bytes,
    record_types: frozenset[str],
) -> Iterator[tuple]:
    """Rows (in _WARC_COLS order) from one segment file's bytes — the
    shared kernel under read_warc AND the warc_roundtrip driver query,
    so the hash-gated path is the production parser, not a replica."""
    for headers, payload in iter_warc_records(_open_stream(content)):
        wtype = headers.get("warc-type", "").lower()
        if record_types and wtype not in record_types:
            continue
        url = headers.get("warc-target-uri")
        ts = _parse_warc_date(headers.get("warc-date"))
        if wtype == "response":
            status, hh, body = _parse_http_payload(payload)
            yield (url, ts, wtype, status, hh, body, None, None, source_file)
        else:  # conversion / resource: payload is the document itself
            lang = headers.get("warc-identified-content-language")
            yield (
                url,
                ts,
                wtype,
                None,
                {},
                None,
                payload.decode("utf-8", "replace"),
                lang,
                source_file,
            )


def _rows_to_pdf(rows: list[tuple]):
    pdf = pd.DataFrame(rows, columns=_WARC_COLS)
    # explicit tz-aware dtype: a tuple-built object column would rely
    # on Arrow inferring per-batch (and all-None batches infer wrong)
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"], utc=True)
    return pdf


def _make_parse(wanted: frozenset[str], batch_rows: int):
    """The mapInPandas kernel shared by read_warc and stream_warc."""

    def parse(batches):
        for pdf in batches:
            for source_file, content in zip(pdf["path"], pdf["content"]):
                rows: list[tuple] = []
                try:
                    for row in parse_warc_file(
                        source_file, bytes(content), wanted
                    ):
                        rows.append(row)
                        if len(rows) >= batch_rows:
                            yield _rows_to_pdf(rows)
                            rows = []
                except ValueError as e:
                    raise ValueError(f"{source_file}: {e}") from e
                if rows:
                    yield _rows_to_pdf(rows)

    return parse


def read_warc(
    spark: SparkSession,
    path: str,
    record_types: Iterable[str] = ("response", "conversion"),
    glob: str | None = None,
    batch_rows: int = 512,
) -> DataFrame:
    """Segment files at ``path`` → DataFrame(WARC_SCHEMA).

    One task per file (gzip is not splittable; Common Crawl's ~64k
    files/crawl out-parallelize any fleet). Records stream out in
    ``batch_rows`` pandas batches so task memory stays bounded by the
    compressed file plus one record. A malformed file raises with its
    path — a silently half-read archive is corpus loss."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    files = reader.load(path).select("path", "content")
    return files.mapInPandas(
        _make_parse(frozenset(record_types), batch_rows), schema=WARC_SCHEMA
    )


#: binaryFile's fixed schema — streaming sources must declare it
_BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def stream_warc(
    spark: SparkSession,
    path: str,
    record_types: Iterable[str] = ("response", "conversion"),
    glob: str | None = None,
    batch_rows: int = 512,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Standing archive ingest: a STREAMING DataFrame(WARC_SCHEMA)
    over a segment drop-zone — each new ``.warc(.gz)`` file that lands
    under ``path`` is parsed exactly once per checkpoint (Structured
    Streaming's file-source ledger), through the same kernel as
    read_warc. The landing pattern a continuously-archiving crawl
    feeds: writeStream the result to the parquet/Iceberg corpus with
    a checkpointLocation; cap per-trigger work with
    ``max_files_per_trigger`` so a backlog drains in bounded
    micro-batches instead of one giant one."""
    reader = spark.readStream.format("binaryFile").schema(
        _BINARYFILE_SCHEMA
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", str(int(max_files_per_trigger))
        )
    files = reader.load(path).select("path", "content")
    return files.mapInPandas(
        _make_parse(frozenset(record_types), batch_rows), schema=WARC_SCHEMA
    )


#: output contract of :func:`cdx_index`
CDX_SCHEMA = (
    "url string, warc_ts timestamp, warc_type string, "
    "source_file string, offset bigint, length bigint"
)


def cdx_index(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    batch_rows: int = 2048,
) -> DataFrame:
    """CDX-style random-access index over segment files: one row per
    record with the (offset, length) needed to fetch JUST that record
    later — the Common-Crawl index artifact (their cdx/cluster.idx),
    which is how a pipeline re-reads selected pages without rescanning
    petabytes of segments.

    Offset semantics follow the CC convention: for ``.warc.gz``
    segments (per-record gzip members) they address the COMPRESSED
    member; for plain ``.warc`` they address raw record bytes
    (version line through end of record). Either slice feeds
    :func:`fetch_cdx_record` unchanged. Same scale shape as read_warc:
    one task per file, bounded batches."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    files = reader.load(path).select("path", "content")

    def _index_one(source_file: str, content: bytes):
        if content[:2] == b"\x1f\x8b":
            for off, clen, data in iter_gzip_members(content):
                for _, headers, _p in _iter_records_at(io.BytesIO(data)):
                    yield (
                        headers.get("warc-target-uri"),
                        _parse_warc_date(headers.get("warc-date")),
                        headers.get("warc-type", "").lower(),
                        source_file,
                        off,
                        clen,
                    )
        else:
            recs = list(_iter_records_at(io.BytesIO(content)))
            for i, (start, headers, _p) in enumerate(recs):
                end = (
                    recs[i + 1][0] if i + 1 < len(recs) else len(content)
                )
                yield (
                    headers.get("warc-target-uri"),
                    _parse_warc_date(headers.get("warc-date")),
                    headers.get("warc-type", "").lower(),
                    source_file,
                    start,
                    end - start,
                )

    cols = ["url", "warc_ts", "warc_type", "source_file", "offset", "length"]

    def parse(batches):
        for pdf in batches:
            rows: list[tuple] = []
            for source_file, content in zip(pdf["path"], pdf["content"]):
                try:
                    for row in _index_one(source_file, bytes(content)):
                        rows.append(row)
                        if len(rows) >= batch_rows:
                            yield _cdx_pdf(rows, cols)
                            rows = []
                except ValueError as e:
                    raise ValueError(f"{source_file}: {e}") from e
            if rows:
                yield _cdx_pdf(rows, cols)

    return files.mapInPandas(parse, schema=CDX_SCHEMA)


def _cdx_pdf(rows: list[tuple], cols: list[str]):
    pdf = pd.DataFrame(rows, columns=cols)
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"], utc=True)
    return pdf


def fetch_cdx_record(
    source_file: str, offset: int, length: int
) -> list[tuple]:
    """Random access: read ONLY the indexed byte range of a segment
    file and parse the record(s) in it — rows in read_warc's column
    order. `source_file` accepts a plain path or the file: URI
    binaryFile puts in the index. A URI indexed raw (not
    percent-encoded) may name a file whose name holds a literal
    ``%XX``; when the unquoted path does not exist, the raw path is
    opened instead."""
    p = source_file
    if p.startswith("file:"):
        import os
        from urllib.parse import unquote, urlparse

        parts = urlparse(p)
        if parts.netloc not in ("", "localhost"):
            raise ValueError(
                f"fetch_cdx_record: remote file URI not supported: "
                f"{source_file!r} (netloc={parts.netloc!r})"
            )
        p = unquote(parts.path)
        if not os.path.exists(p):
            p = parts.path
    with open(p, "rb") as f:
        f.seek(int(offset))
        blob = f.read(int(length))
    return list(parse_warc_file(source_file, blob, frozenset()))


# ---------------------------------------------------------------------------
# adapters
# ---------------------------------------------------------------------------


def warc_to_pages(warc_df: DataFrame) -> DataFrame:
    """Archive rows → the pages-table contract the fetch join consumes
    (url, warc_ts, html, text, lang, status, headers — mocksite.py's
    shape): a replay crawl's web. ``response`` rows carry html + HTTP
    status/headers; ``conversion`` rows carry extracted text. Multiple
    captures of one url stay as-is — pick one with
    operators.curation.latest_snapshot when the crawl wants a
    single-capture web."""
    return warc_df.select(
        "url",
        "warc_ts",
        "html",
        "text",
        "lang",
        F.coalesce(
            F.col("status"),
            F.when(F.col("warc_type") == "conversion", F.lit(200)),
        ).alias("status"),
        "headers",
    )


def pages_to_warc_records(
    pages: DataFrame, compress: bool = True
) -> DataFrame:
    """Export side: each crawled page → one serialized ``response``
    record (url, warc_record binary), gzip-membered by default so
    concatenating a partition's records yields a valid segment file.
    Row-local pandas UDF — no shuffle; land it with any binary-capable
    sink (parquet here; a foreachPartition file writer on a real
    cluster)."""
    from pyspark.sql.functions import pandas_udf

    do_zip = compress
    # Arrow hands timestamp columns to pandas UDFs as tz-NAIVE values
    # in the SESSION timezone; a naive Timestamp.timestamp() assumes
    # UTC. Capture the session tz here so exported WARC-Dates are the
    # true instants even when the caller's session is not UTC.
    session_tz = pages.sparkSession.conf.get(
        "spark.sql.session.timeZone", "UTC"
    )

    @pandas_udf("binary")
    def _rec(
        url: pd.Series, ts: pd.Series, html: pd.Series, status: pd.Series
    ) -> pd.Series:
        out = []
        for u, t, h, s in zip(url, ts, html, status):
            if pd.isna(t):
                epoch = 0
            else:
                if t.tzinfo is None:
                    t = t.tz_localize(session_tz)
                epoch = int(t.timestamp())
            rec = build_response_record(
                u,
                epoch,
                b"" if h is None else bytes(h),
                200 if pd.isna(s) else int(s),
            )
            out.append(gzip_member(rec) if do_zip else rec)
        return pd.Series(out)

    return pages.select(
        "url",
        _rec(
            F.col("url"),
            F.col("warc_ts"),
            F.col("html"),
            F.col("status"),
        ).alias("warc_record"),
    )
