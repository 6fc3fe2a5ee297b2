"""Round-6 optimization pins: broadcast fetch join equivalence + plan
shape, array-built shingles/chunks equivalence against the windowed
reference formulation, id-only LSH band join equivalence, and the
engine's round-cache hygiene."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql.window import Window

# uses the session-scoped `spark` fixture from conftest.py — a local
# fixture calling build_session().stop() would stop the getOrCreate
# session shared with every other test file


def _rows(df):
    return sorted(
        tuple(str(v) for v in r) for r in df.collect()
    )


# ---------------------------------------------------------------------------
# fetch_join broadcast path
# ---------------------------------------------------------------------------

def _mini_web(spark):
    return spark.createDataFrame(
        [
            ("http://a.test/1", 200, b"<html>one</html>", {"k": "v"}),
            ("http://a.test/2", 404, b"<html>two</html>", None),
            ("http://a.test/2", 500, b"<html>dup</html>", None),  # dup match
        ],
        "url STRING, status INT, html BINARY, headers MAP<STRING,STRING>",
    )


def _mini_batch(spark):
    return spark.createDataFrame(
        [
            ("http://a.test/1", "http://a.test/1", 1, "a.test", "GET"),
            ("http://a.test/2", "http://a.test/2", 2, "a.test", "GET"),
            ("http://a.test/9", "http://a.test/9", 9, "a.test", "GET"),  # missing
        ],
        "url STRING, url_canon STRING, url_hash BIGINT, host STRING,"
        " method STRING",
    )


def test_fetch_join_broadcast_equals_left_join(spark):
    from scrapy_rs_spark.operators.fetch import fetch_join

    web, batch = _mini_web(spark), _mini_batch(spark)
    plain = fetch_join(batch, web)
    bcast = fetch_join(batch, web, broadcast_batch=True)
    assert sorted(plain.columns) == sorted(bcast.columns)
    assert _rows(plain.select(*sorted(plain.columns))) == _rows(
        bcast.select(*sorted(plain.columns))
    )
    # missing page surfaced with NULL status on both paths
    assert bcast.filter(F.col("url_canon") == "http://a.test/9").select(
        "status"
    ).collect()[0][0] is None
    # duplicate page rows keep join multiplicity on both paths
    assert (
        bcast.filter(F.col("url_canon") == "http://a.test/2").count() == 2
    )


def test_fetch_join_broadcast_plan_shape(spark):
    """The broadcast path's page-payload join must be a broadcast hash
    join (html scanned in place), with the batch as the build side."""
    from scrapy_rs_spark.operators.fetch import fetch_join

    web, batch = _mini_web(spark), _mini_batch(spark)
    plan = (
        fetch_join(batch, web, broadcast_batch=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    # any sort-merge join left in the plan must be the key-only
    # missing-page anti join — the html payload never rides one
    assert plan.count("SortMergeJoin") == plan.count("LeftAnti")


def test_fetch_join_broadcast_timeout_semantics(spark):
    from scrapy_rs_spark.operators.fetch import fetch_join

    web = _mini_web(spark).withColumn(
        "latency_ms",
        F.when(F.col("status") == 200, F.lit(9999)).otherwise(F.lit(1)),
    )
    batch = _mini_batch(spark)
    for bc in (False, True):
        out = fetch_join(batch, web, default_timeout_ms=1000,
                         broadcast_batch=bc)
        slow = out.filter(F.col("url_canon") == "http://a.test/1")
        r = slow.collect()[0]
        assert r["timed_out"] is True and r["status"] is None


# ---------------------------------------------------------------------------
# shingles / chunk_dedup array formulations vs windowed reference
# ---------------------------------------------------------------------------

def _edge_docs(spark):
    return spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, ""),
            (3, "one"),
            (4, "x  y   z"),  # empty words from double spaces
            (5, None),
            (6, "w1 w2 w3"),
        ],
        "doc_id BIGINT, text STRING",
    )


def _shingles_windowed(docs, n):
    words = docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    cols = [F.col("w")] + [F.lead("w", i).over(w) for i in range(1, n)]
    out = words.select(
        F.col("doc_id"),
        F.col("pos"),
        F.concat_ws(" ", *cols).alias("shingle"),
        cols[-1].alias("__last"),
    )
    return out.filter(F.col("__last").isNotNull()).drop("__last")


@pytest.mark.parametrize("n", [2, 3, 13])
def test_shingles_match_windowed_reference(spark, n):
    from scrapy_rs_spark.operators.textdedup import shingles

    docs = _edge_docs(spark)
    new = shingles(docs, n=n)
    ref = _shingles_windowed(docs, n)
    assert new.exceptAll(ref).count() == 0
    assert ref.exceptAll(new).count() == 0


def test_shingles_plan_has_no_exchange(spark):
    """The point of the array formulation: shingle generation is a pure
    projection — no Exchange, no Sort before the consumer."""
    from scrapy_rs_spark.operators.textdedup import shingles

    plan = (
        shingles(_edge_docs(spark), n=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Window" not in plan


def test_chunk_dedup_chunks_match_windowed_reference(spark):
    from scrapy_rs_spark.operators.curation import chunk_dedup

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(25))),
            (2, " ".join(f"w{i}" for i in range(25))),  # exact dup
            (3, "short text"),
            (4, " ".join(f"u{i}" for i in range(10))),  # exactly 1 chunk
        ],
        "doc_id BIGINT, text STRING",
    )
    out = {r["doc_id"]: r for r in chunk_dedup(docs, chunk_words=10).collect()}
    # duplicated docs lose all their chunks; unique docs keep all
    assert out[1]["n_dropped_chunks"] == 3 and out[1]["text_clean"] == ""
    assert out[2]["n_dropped_chunks"] == 3
    assert out[3]["n_dropped_chunks"] == 0
    assert out[3]["text_clean"] == "short text"
    assert out[4]["n_chunks"] == 1 and out[4]["n_dropped_chunks"] == 0
    # chunk boundaries: doc 1 has 25 words -> chunks of 10/10/5
    assert out[1]["n_chunks"] == 3


# ---------------------------------------------------------------------------
# id-only LSH band join
# ---------------------------------------------------------------------------

def test_lsh_band_candidates_match_payload_join(spark):
    """Pair set identical to the payload-through-the-join reference
    formulation, and vectors/norms re-attached correctly."""
    import numpy as np

    from scrapy_rs_spark.operators.similarity import (
        lsh_band_candidates,
        srp_band_buckets_udf,
        srp_planes,
    )

    rng = np.random.RandomState(7)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(8)]) for i in range(60)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    out = lsh_band_candidates(vecs, n_bands=4, n_planes=3, dim=8)
    # reference pair set: payload-carrying self-join + groupBy dedup
    planes = srp_planes(8, 12, seed=42)
    bb = srp_band_buckets_udf(planes, 4, 3)(F.col("embedding"))
    vb = vecs.select(
        F.col("vec_id"), F.col("embedding"),
        F.posexplode(bb).alias("__band", "__bucket"),
    )
    a = vb.select("__band", "__bucket", F.col("vec_id").alias("id_a"))
    b = vb.select("__band", "__bucket", F.col("vec_id").alias("id_b"))
    ref = (
        a.join(b, ["__band", "__bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    got_pairs = {(r.id_a, r.id_b) for r in out.select("id_a", "id_b").collect()}
    ref_pairs = {(r.id_a, r.id_b) for r in ref.collect()}
    assert got_pairs == ref_pairs
    # re-attached vectors and norms are the row's own
    by_id = {r.vec_id: r.embedding for r in vecs.collect()}
    for r in out.limit(20).collect():
        assert r["va"] == by_id[r["id_a"]]
        assert r["vb"] == by_id[r["id_b"]]
        assert abs(r["__na"] - float(np.linalg.norm(by_id[r["id_a"]]))) < 1e-6


# ---------------------------------------------------------------------------
# engine round-cache hygiene
# ---------------------------------------------------------------------------

def test_round_rdds_released_after_crawl(spark, tmp_path):
    from scrapy_rs_spark.plans.engine import CrawlEngine
    from scrapy_rs_spark.settings import Settings
    from scrapy_rs_spark.sources.mocksite import mock_site_pages

    pages = mock_site_pages(
        spark, page_count=60, links_per_page=5, golden_text=False
    ).localCheckpoint(eager=True)
    eng = CrawlEngine(
        spark, pages, Settings(scheduler_type="breadth_first", max_depth=2),
        store_path=str(tmp_path / "store"),
    )
    before = eng._persisted_rdd_ids()
    stats = eng.run(["http://mocksite.test/0"])
    assert stats.requests > 0
    after = eng._persisted_rdd_ids()
    # every round-local checkpoint was unpersisted; only pre-existing
    # RDDs (the pages checkpoint) remain
    assert after <= before


# ---------------------------------------------------------------------------
# ADVICE correctness fixes (CDX URIs, sitemap seed collapse)
# ---------------------------------------------------------------------------

def _commit_seen(spark, store, rnd, hashes):
    from scrapy_rs_spark.schemas import FRONTIER_DDL

    store.commit_round(
        rnd,
        spark.createDataFrame([], FRONTIER_DDL),
        spark.createDataFrame([(h,) for h in hashes], "url_hash BIGINT"),
        None,
        None,
        {"round": rnd},
    )


def test_fetch_cdx_record_file_uri_forms(tmp_path):
    """file: URIs resolve via urlparse: file:///abs, file://localhost/abs
    and percent-encoded paths all open the same local file; a remote
    netloc is rejected instead of silently misread as a path."""
    import pytest

    from scrapy_rs_spark.sources.warc import (
        build_response_record,
        fetch_cdx_record,
    )

    d = tmp_path / "with space"
    d.mkdir()
    seg = d / "seg.warc"
    rec = build_response_record(
        "http://warc.test/u", 1735689600, b"<p>x</p>"
    )
    seg.write_bytes(rec)
    plain = str(seg)
    quoted = "file://" + str(seg).replace(" ", "%20")
    localhost = "file://localhost" + str(seg).replace(" ", "%20")
    triple = "file://" + "/" + str(seg).replace(" ", "%20").lstrip("/")
    for uri in (plain, quoted, localhost, triple):
        got = fetch_cdx_record(uri, 0, len(rec))
        assert len(got) == 1 and got[0][0] == "http://warc.test/u"
    with pytest.raises(ValueError, match="netloc"):
        fetch_cdx_record("file://otherhost/etc/hosts", 0, 1)


def test_sitemap_seeds_collapse_per_url(spark):
    """A URL listed by two sitemaps with different hints yields ONE
    seed row: highest priority and newest lastmod win."""
    from scrapy_rs_spark.sources.sitemap import sitemap_seeds

    a = (
        b"<urlset><url><loc>http://s.test/x</loc>"
        b"<priority>0.9</priority></url></urlset>"
    )
    b = (
        b"<urlset><url><loc>http://s.test/x</loc>"
        b"<priority>0.2</priority><lastmod>2025-02-01</lastmod>"
        b"</url></urlset>"
    )
    pages = spark.createDataFrame(
        [("http://s.test/a.xml", a), ("http://s.test/b.xml", b)],
        "url string, html binary",
    )
    sm = spark.createDataFrame(
        [("http://s.test/a.xml",), ("http://s.test/b.xml",)],
        "sitemap_url string",
    )
    rows = sitemap_seeds(sm, pages).collect()
    assert len(rows) == 1
    assert (rows[0]["url"], rows[0]["priority"], rows[0]["lastmod"]) == (
        "http://s.test/x", 9, "2025-02-01"
    )


def test_staged_seen_delta_commit_equivalence(spark, tmp_path):
    """The round's three outputs can be staged concurrently ahead of
    commit_round (write_items/write_frontier/write_seen_delta +
    seen_delta=None): membership, columns and lineage match the
    single-call commit, and the staged delta stays invisible until
    MANIFEST lands."""
    from scrapy_rs_spark.sources.store import CrawlStore

    store = CrawlStore(spark, str(tmp_path / "staged"))
    _commit_seen(spark, store, 1, range(30))

    # round 2 staged piecewise, commit sealed with all-None
    store.begin_round(2)
    store.write_seen_delta(
        2, spark.createDataFrame([(h,) for h in range(30, 55)],
                                 "url_hash BIGINT")
    )
    # staged but uncommitted → invisible to readers
    assert {r.url_hash for r in store.load_seen().collect()} == set(
        range(30)
    )
    store.commit_round(2, None, None, None, None, {"round": 2},
                       clean=False)
    assert {r.url_hash for r in store.load_seen().collect()} == set(
        range(55)
    )
    assert store.load_seen().columns == ["url_hash"]
    # lineage recorded the staged delta's files like a direct commit
    rows = [
        r for r in store.load_lineage()
        if r["round"] == 2 and r["dataset"] == "seen_delta"
    ]
    assert sum(r["rows"] for r in rows) == 25
