"""Round-5 fixes & features: empty-pairs convergence in dedup_clusters,
NULL-priority sentinel outside int32, seen membership across an
external compaction, skew-safe lsh_star_edges, Settings.from_module,
bounded close lifecycle.

Reference anchors: python/src/lib.rs:1065-1075 (PySettings.from_module),
engine/src/lib.rs:1285-1420 (close hooks each bounded by 5 s timeouts).
"""

import time
import types

import pyspark.sql.functions as F

from scrapy_rs_spark.plans.engine import CrawlEngine
from scrapy_rs_spark.settings import Settings


# ---- ADVICE r4 (high): dedup_clusters on an empty pair set ----

def test_dedup_clusters_empty_pairs_converges(spark):
    """No near-dups (or all-singleton LSH buckets) → zero edges; the
    label sum over an empty frame is NULL, which must read as converged
    immediately — not run max_iters rounds and raise."""
    from scrapy_rs_spark.operators.textdedup import dedup_clusters

    empty = spark.createDataFrame([], "id_a BIGINT, id_b BIGINT")
    t0 = time.time()
    out = dedup_clusters(empty, max_iters=25)
    assert out.count() == 0
    assert set(out.columns) == {"doc_id", "cluster_id"}
    # convergence on the FIRST iteration, not 25 rounds of jobs
    assert time.time() - t0 < 30


def test_dedup_clusters_star_edges_all_singletons(spark):
    """lsh_star_edges over a corpus with no shared buckets emits zero
    edges — the realistic path into the empty-pairs case."""
    from scrapy_rs_spark.operators.textdedup import (
        dedup_clusters,
        lsh_star_edges,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha bravo charlie delta echo foxtrot golf hotel"),
            (2, "totally unrelated words about catalyst optimizer plans"),
        ],
        "doc_id BIGINT, text STRING",
    )
    sigs = minhash_signatures(docs, bands=4)
    edges = lsh_star_edges(sigs)
    if edges.isEmpty():  # the scenario under test
        assert dedup_clusters(edges).count() == 0


# ---- ADVICE r4 (low): NULL-priority sentinel outside int32 ----

def test_null_priority_strictly_loses_to_int_min(spark):
    """winner_order() sorts priority desc() NULLS LAST: a NULL priority
    strictly loses even to INT_MIN. The struct form must agree — its
    old sentinel -(1<<31) made NULL TIE with INT_MIN and win via later
    tie-breaks."""
    from scrapy_rs_spark.operators.dedup import dedup_in_batch

    rows = spark.createDataFrame(
        [
            # same url_hash; NULL-priority row has the SMALLER depth, so
            # under the collided sentinel it would have won the tie-break
            (1, None, 0, 0, 0, "http://a.test/x"),
            (1, -(1 << 31), 9, 9, 9, "http://a.test/y"),
        ],
        "url_hash BIGINT, priority INT, depth INT, discovery_round INT,"
        " discovery_seq BIGINT, url STRING",
    )
    got = dedup_in_batch(rows).collect()
    assert len(got) == 1
    assert got[0].url == "http://a.test/y"  # INT_MIN beats NULL


# ---- ADVICE r4 (low): compaction outside the engine's cadence ----

def test_external_compact_invalidates_seen_cache(spark, tmp_path):
    """store.compact_seen() called OUTSIDE the engine's own cadence
    rewrites the newest delta dir in place and deletes the others; the
    engine's seen set must read the folded deltas, not deleted parquet
    files or stale membership, and a resumed crawl fetches no page
    twice."""
    from scrapy_rs_spark.sources.mocksite import mock_site_pages

    pages = mock_site_pages(spark, page_count=60, links_per_page=3)
    eng = CrawlEngine(
        spark,
        pages,
        Settings(
            scheduler_type="breadth_first",
            seen_compact_every=1 << 30,  # engine never compacts itself
        ),
        store_path=str(tmp_path / "store"),
    )
    eng.run(["http://mocksite.test/0"], max_rounds=4)
    before = eng.seen().count()
    assert before > 0
    eng.store.compact_seen()  # external compaction between runs
    assert eng.seen().count() == before
    stats = eng.resume()
    items = [r.url for r in eng.items().collect()]
    assert len(items) == len(set(items)) == stats.requests


# ---- skew-safe lsh_star_edges (VERDICT r4 ask #3) ----

def test_lsh_star_edges_skew_safe_equivalent(spark):
    """The groupBy+join-back form must yield byte-identical edges (not
    just identical components) to the window form — both connect every
    non-hub member to the bucket minimum."""
    from scrapy_rs_spark.operators.textdedup import (
        dedup_clusters,
        lsh_candidate_pairs,
        lsh_star_edges,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "the quick brown fox jumps over the lazy cat"),
            (10, "completely different text about spark shuffles here"),
            (11, "completely different text about spark shuffles here"),
            (20, "a singleton document with no duplicate partner at all"),
        ],
        "doc_id BIGINT, text STRING",
    )
    sigs = minhash_signatures(docs, bands=4).localCheckpoint(eager=True)
    window_edges = sorted(
        map(tuple, lsh_star_edges(sigs).distinct().collect())
    )
    skew_edges = sorted(
        map(tuple, lsh_star_edges(sigs, skew_safe=True).distinct().collect())
    )
    assert window_edges == skew_edges
    # and components still match the all-pairs ground truth
    via_pairs = {
        r.doc_id: r.cluster_id
        for r in dedup_clusters(lsh_candidate_pairs(sigs)).collect()
    }
    via_skew = {
        r.doc_id: r.cluster_id
        for r in dedup_clusters(lsh_star_edges(sigs, skew_safe=True)).collect()
    }
    assert via_pairs == via_skew


# ---- Settings.from_module (VERDICT r4 ask #4) ----

def test_settings_from_module_object():
    mod = types.ModuleType("my_settings")
    mod.CONCURRENT_REQUESTS = 7
    mod.USER_AGENT = "modbot/1.0"
    mod.DOWNLOAD_DELAY_MS = 250
    mod.START_URLS = ["http://a.test/"]  # non-Settings key: ignored here
    mod._PRIVATE = "skip"
    mod.helper = lambda: None  # lower-case: skipped
    s = Settings.from_module(mod)
    assert s.concurrent_requests == 7
    assert s.user_agent == "modbot/1.0"
    assert s.download_delay_ms == 250
    raw = Settings.raw_from_module(mod)
    assert raw["START_URLS"] == ["http://a.test/"]
    assert "_PRIVATE" not in raw and "helper" not in raw


def test_settings_from_module_dotted_path(tmp_path, monkeypatch):
    pkg = tmp_path / "modsettings_pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "settings.py").write_text(
        "import os\n"
        "USER_AGENT = 'dotted/' + str(1 + 1)\n"  # computed value works
        "MAX_RETRIES = 9\n"
        "ALLOWED_DOMAINS = ['a.test']\n"
    )
    monkeypatch.syspath_prepend(str(tmp_path))
    s = Settings.from_module("modsettings_pkg.settings")
    assert s.user_agent == "dotted/2"
    assert s.max_retries == 9
    raw = Settings.raw_from_module("modsettings_pkg.settings")
    assert raw["ALLOWED_DOMAINS"] == ["a.test"]


# ---- bounded close lifecycle (VERDICT r4 ask #5) ----

def _tiny_pages(spark):
    return spark.createDataFrame(
        [("http://t.test/a", 200, "<html>x</html>")],
        "url STRING, status INT, html STRING",
    ).withColumn("headers", F.lit(None).cast("map<string,string>"))


def test_hanging_close_hook_does_not_hang_exit(spark, tmp_path):
    """A close hook that sleeps past close_timeout_ms is abandoned: the
    crawl exits promptly, the error is recorded, and the final signal
    order is still engine_stopping → spider_closed → engine_stopped."""
    from scrapy_rs_spark.plans.signals import SignalManager

    order = []
    sig = SignalManager()
    for name in ("engine_stopping", "spider_closed", "engine_stopped"):
        sig.connect(name, lambda s, payload, name=name: order.append(name))

    hook_started = []

    def hanging_close():
        hook_started.append(True)
        time.sleep(60)

    eng = CrawlEngine(
        spark,
        _tiny_pages(spark),
        Settings(
            max_depth=0, respect_robots_txt=False, close_timeout_ms=300
        ),
        store_path=str(tmp_path / "store"),
        signals=sig,
        spider_close_hook=hanging_close,
    )
    t0 = time.time()
    eng.run(["http://t.test/a"])
    wall = time.time() - t0
    assert hook_started  # the hook really ran
    assert wall < 30  # not the 60 s sleep
    assert order == ["engine_stopping", "spider_closed", "engine_stopped"]
    assert eng.close_errors and "close hook 'spider'" in str(
        eng.close_errors[0]["error"]
    )


def test_close_hooks_run_and_raising_hook_recorded(spark, tmp_path):
    """Well-behaved hooks run to completion in chain order; a raising
    hook is recorded as an error without aborting the others."""
    from scrapy_rs_spark.operators.middleware import MiddlewareChain

    calls = []
    pipelines = MiddlewareChain()
    pipelines.add("sink", lambda df: df, close=lambda: calls.append("sink"))
    pipelines.add(
        "boom",
        lambda df: df,
        close=lambda: (_ for _ in ()).throw(ValueError("bad close")),
    )

    eng = CrawlEngine(
        spark,
        _tiny_pages(spark),
        Settings(max_depth=0, respect_robots_txt=False),
        store_path=str(tmp_path / "store"),
        item_pipelines=pipelines,
        spider_close_hook=lambda: calls.append("spider"),
    )
    eng.run(["http://t.test/a"])
    assert calls == ["spider", "sink"]
    assert len(eng.close_errors) == 1
    assert eng.close_errors[0]["hook"] == "boom"
    assert "ValueError" in eng.close_errors[0]["error"]
