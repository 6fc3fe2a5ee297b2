"""WARC/WET ingestion: framing, round trips, and the replay crawl.

The parser frames by Content-Length only — the adversarial case is a
payload that *contains* ``WARC/1.0`` and blank lines, which a
marker-splitting parser would shred. Serializer bytes are pinned
deterministic (mtime=0) so the write→read loop is exact.
"""

import gzip

import pytest

from scrapy_rs_spark.sources.warc import (
    build_conversion_record,
    build_response_record,
    gzip_member,
    iter_warc_records,
    parse_warc_file,
    read_warc,
    warc_to_pages,
    pages_to_warc_records,
    _open_stream,
)

EPOCH = 1735689600  # 2025-01-01T00:00:00Z, mocksite's warc_ts base

ATTACK_BODY = (
    b"<html><body>WARC/1.0\r\n\r\n"
    b"WARC-Type: response\r\nContent-Length: 999999\r\n\r\n"
    b"not a record boundary</body></html>"
)


def _segment(records, per_record_gzip=True):
    if per_record_gzip:
        return b"".join(gzip_member(r) for r in records)
    return b"".join(records)


def test_roundtrip_response_records_plain_and_gzip(tmp_path):
    recs = [
        build_response_record(
            f"http://warc.test/{i}", EPOCH + i, f"<p>page {i}</p>".encode()
        )
        for i in range(5)
    ]
    for name, blob in (
        ("seg.warc", _segment(recs, per_record_gzip=False)),
        ("seg.warc.gz", _segment(recs, per_record_gzip=True)),
    ):
        got = list(
            iter_warc_records(_open_stream(blob))
        )
        assert len(got) == 5
        for i, (hdrs, payload) in enumerate(got):
            assert hdrs["warc-target-uri"] == f"http://warc.test/{i}"
            assert hdrs["warc-type"] == "response"
            assert payload.endswith(f"<p>page {i}</p>".encode())


def test_content_length_framing_survives_embedded_markers():
    recs = [
        build_response_record("http://warc.test/a", EPOCH, ATTACK_BODY),
        build_response_record("http://warc.test/b", EPOCH + 1, b"<p>ok</p>"),
    ]
    rows = list(
        parse_warc_file(
            "mem", _segment(recs, per_record_gzip=False), frozenset({"response"})
        )
    )
    assert [r[0] for r in rows] == ["http://warc.test/a", "http://warc.test/b"]
    assert rows[0][5] == ATTACK_BODY  # html byte-identical through framing
    assert rows[0][3] == 200


def test_truncated_payload_raises():
    rec = build_response_record("http://warc.test/x", EPOCH, b"0123456789")
    with pytest.raises(ValueError, match="truncated"):
        list(iter_warc_records(_open_stream(rec[:-14])))


def test_garbage_version_line_raises():
    with pytest.raises(ValueError, match="version line"):
        list(iter_warc_records(_open_stream(b"HELLO/9.9\r\n\r\n")))


def test_read_warc_dataframe(spark, tmp_path):
    """Two segment files (one gzip, one plain), mixed record types →
    one DataFrame; filtering, typing, and source_file attribution."""
    seg_a = _segment(
        [
            build_response_record(
                f"http://warc.test/{i}",
                EPOCH + i,
                f"<h1>doc {i}</h1>".encode(),
                status=200 + i,
                http_headers={"X-Seg": "a"},
            )
            for i in range(3)
        ]
    )
    seg_b = _segment(
        [
            build_conversion_record(
                f"http://warc.test/wet/{i}", EPOCH + 100 + i,
                f"text {i}", lang="en" if i % 2 == 0 else "de"
            )
            for i in range(4)
        ],
        per_record_gzip=False,
    )
    (tmp_path / "seg_a.warc.gz").write_bytes(seg_a)
    (tmp_path / "seg_b.warc").write_bytes(seg_b)

    df = read_warc(spark, str(tmp_path))
    rows = {r["url"]: r for r in df.collect()}
    assert len(rows) == 7
    r0 = rows["http://warc.test/0"]
    assert r0["warc_type"] == "response"
    assert r0["status"] == 200
    assert bytes(r0["html"]) == b"<h1>doc 0</h1>"
    assert r0["headers"]["x-seg"] == "a"
    assert r0["text"] is None
    assert int(r0["warc_ts"].timestamp()) == EPOCH
    assert r0["source_file"].endswith("seg_a.warc.gz")
    w1 = rows["http://warc.test/wet/1"]
    assert w1["warc_type"] == "conversion"
    assert w1["text"] == "text 1"
    assert w1["lang"] == "de"
    assert w1["status"] is None
    assert int(w1["warc_ts"].timestamp()) == EPOCH + 101

    only_wet = read_warc(spark, str(tmp_path), record_types=("conversion",))
    assert only_wet.count() == 4


def test_read_warc_malformed_file_names_path(spark, tmp_path):
    (tmp_path / "bad.warc").write_bytes(b"not a warc at all\r\n")
    with pytest.raises(Exception, match="bad.warc"):
        read_warc(spark, str(tmp_path)).collect()


def test_replay_crawl_over_warc_pages(spark, tmp_path):
    """End-to-end: archive a mocksite-shaped web as WARC response
    records, ingest with read_warc → warc_to_pages, and BFS-crawl it.
    Closed form for (i+k+1)%N links: depth≤2 from page 0 with 3
    links/page over 40 pages visits {0} ∪ {1,2,3} ∪ {2..6} = 7 pages."""
    from scrapy_rs_spark.api import Settings
    from scrapy_rs_spark.plans.engine import CrawlEngine

    n, k = 40, 3
    recs = []
    for i in range(n):
        links = "".join(
            f'<a href="/{(i + j + 1) % n}">l</a>' for j in range(k)
        )
        recs.append(
            build_response_record(
                f"http://mocksite.test/{i}",
                EPOCH + i,
                f"<html><body>{links}</body></html>".encode(),
            )
        )
    # four segment files → four-way file parallelism
    for f in range(4):
        (tmp_path / f"part-{f}.warc.gz").write_bytes(
            _segment(recs[f::4])
        )

    pages = warc_to_pages(read_warc(spark, str(tmp_path)))
    eng = CrawlEngine(
        spark,
        pages,
        Settings(scheduler_type="breadth_first", max_depth=2),
        store_path=str(tmp_path / "store"),
    )
    stats = eng.run(["http://mocksite.test/0"])
    assert stats.requests == 7
    assert stats.items == 7
    assert stats.errors == 0


def test_pages_to_warc_records_roundtrip(spark):
    """Export → re-ingest is identity on (url, ts, status, html)."""
    from scrapy_rs_spark.sources.mocksite import mock_site_pages

    pages = mock_site_pages(spark, page_count=6, links_per_page=2,
                            golden_text=False)
    recs = pages_to_warc_records(pages).collect()
    assert len(recs) == 6
    blob = b"".join(bytes(r["warc_record"]) for r in recs)
    parsed = {
        r[0]: r
        for r in parse_warc_file("mem", blob, frozenset({"response"}))
    }
    src = {r["url"]: r for r in pages.collect()}
    assert parsed.keys() == src.keys()
    for url, row in parsed.items():
        assert bytes(row[5]) == bytes(src[url]["html"])
        assert row[3] == src[url]["status"]
        assert int(row[1].timestamp()) == int(
            src[url]["warc_ts"].timestamp()
        )
    # deterministic bytes: same pages → same records (mtime=0 members)
    again = pages_to_warc_records(pages).collect()
    assert {bytes(r["warc_record"]) for r in again} == {
        bytes(r["warc_record"]) for r in recs
    }


def test_warc_date_roundtrip_is_utc():
    rec = build_conversion_record("u", EPOCH + 86400 + 3661, "t")
    (hdrs, _), = iter_warc_records(_open_stream(rec))
    assert hdrs["warc-date"] == "2025-01-02T01:01:01Z"


def test_header_field_names_case_insensitive():
    """ISO 28500 header names are case-insensitive; spec-legal
    lowercase/mixed-case spellings must not cause silent record loss
    (or a bogus missing-Content-Length error)."""
    rec = (
        b"WARC/1.0\r\n"
        b"warc-type: Response\r\n"
        b"Warc-Target-Uri: http://warc.test/lc\r\n"
        b"WARC-DATE: 2025-01-01T00:00:00Z\r\n"
        b"content-length: 24\r\n"
        b"\r\n"
        b"HTTP/1.1 200 OK\r\n\r\nhi!\r\n\r\n"
    )
    rows = list(parse_warc_file("mem", rec, frozenset({"response"})))
    assert len(rows) == 1
    assert rows[0][0] == "http://warc.test/lc"
    assert rows[0][3] == 200
    assert int(rows[0][1].timestamp()) == EPOCH


def test_cdx_index_and_random_access(spark, tmp_path):
    """CDX rows point at fetchable slices: every indexed (offset,
    length) re-reads to exactly the record it indexes, for both
    per-member-gzip and plain segments."""
    from scrapy_rs_spark.sources.warc import cdx_index, fetch_cdx_record

    recs = [
        build_response_record(
            f"http://warc.test/{i}", EPOCH + i, f"<h1>{i}</h1>".encode()
        )
        for i in range(6)
    ]
    (tmp_path / "seg.warc.gz").write_bytes(_segment(recs[:3]))
    (tmp_path / "seg.warc").write_bytes(
        _segment(recs[3:], per_record_gzip=False)
    )

    idx = cdx_index(spark, str(tmp_path)).collect()
    assert len(idx) == 6
    by_url = {r["url"]: r for r in idx}
    for i in range(6):
        row = by_url[f"http://warc.test/{i}"]
        assert row["warc_type"] == "response"
        assert int(row["warc_ts"].timestamp()) == EPOCH + i
        got = fetch_cdx_record(
            row["source_file"], row["offset"], row["length"]
        )
        assert len(got) == 1
        assert got[0][0] == f"http://warc.test/{i}"
        assert bytes(got[0][5]) == f"<h1>{i}</h1>".encode()
    # gzip offsets are member offsets: distinct and increasing
    gz = sorted(
        r["offset"] for r in idx if r["source_file"].endswith(".warc.gz")
    )
    assert gz[0] == 0 and len(set(gz)) == 3
    # plain offsets slice the raw file: first record starts at byte 0
    plain = sorted(
        (r["offset"], r["length"])
        for r in idx
        if r["source_file"].endswith("seg.warc")
    )
    assert plain[0][0] == 0
    raw = (tmp_path / "seg.warc").read_bytes()
    assert sum(l for _, l in plain) == len(raw)


def test_fetch_cdx_record_raw_uri_with_literal_percent(tmp_path):
    """A segment whose name holds a literal ``%25``, indexed with a raw
    (not percent-encoded) file: URI: unquoting would look for
    ``100%off.warc``, so the raw path must be opened instead."""
    from scrapy_rs_spark.sources.warc import fetch_cdx_record

    rec = build_response_record("http://warc.test/p", EPOCH, b"<p>p</p>")
    seg = tmp_path / "100%25off.warc"
    seg.write_bytes(rec)
    got = fetch_cdx_record("file://" + str(seg), 0, len(rec))
    assert len(got) == 1 and got[0][0] == "http://warc.test/p"
    assert bytes(got[0][5]) == b"<p>p</p>"


def test_stream_warc_incremental_ingest(spark, tmp_path):
    """Standing ingest: an availableNow pass parses the files present;
    a second pass on the same checkpoint parses ONLY a newly-landed
    segment (the file-source ledger guarantees exactly-once)."""
    from scrapy_rs_spark.sources.warc import stream_warc

    drop = tmp_path / "drop"
    drop.mkdir()
    ckpt = str(tmp_path / "ckpt")
    (drop / "a.warc.gz").write_bytes(
        _segment(
            [
                build_response_record(
                    f"http://warc.test/{i}", EPOCH + i, f"<p>{i}</p>".encode()
                )
                for i in range(3)
            ]
        )
    )

    def drain():
        got = []
        q = (
            stream_warc(spark, str(drop))
            .writeStream.foreachBatch(
                lambda df, eid: got.extend(
                    (r["url"], bytes(r["html"])) for r in df.collect()
                )
            )
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(120)
        return sorted(got)

    first = drain()
    assert first == [
        (f"http://warc.test/{i}", f"<p>{i}</p>".encode()) for i in range(3)
    ]
    (drop / "b.warc.gz").write_bytes(
        _segment(
            [build_response_record("http://warc.test/new", EPOCH, b"<p>n</p>")]
        )
    )
    second = drain()
    assert second == [("http://warc.test/new", b"<p>n</p>")]


def test_lf_only_line_endings_parse():
    """Some tools emit bare-LF header lines; the framing kernel
    accepts them (readline splits on LF; CRLF handling strips both)."""
    rec = (
        b"WARC/1.0\nWARC-Type: response\n"
        b"WARC-Target-URI: http://x/lf\n"
        b"WARC-Date: 2025-01-01T00:00:00Z\n"
        b"Content-Length: 2\n\nhi\n\n"
    )
    rows = list(parse_warc_file("m", rec, frozenset({"response"})))
    assert len(rows) == 1 and rows[0][0] == "http://x/lf"


def test_truncated_gzip_member_raises():
    from scrapy_rs_spark.sources.warc import iter_gzip_members

    blob = gzip_member(
        build_response_record("http://x/0", EPOCH, b"b")
    )
    with pytest.raises(Exception):
        list(iter_gzip_members(blob + b"\x1f\x8bgarbage"))
