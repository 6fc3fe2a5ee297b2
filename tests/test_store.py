"""CrawlStore commit/resume/compaction semantics (S9)."""

import os

import pyspark.sql.functions as F

from scrapy_rs_spark.sources.store import CrawlStore


def _seen_rows(spark, hashes):
    return spark.createDataFrame([(h,) for h in hashes], "url_hash BIGINT")


def _empty_frontier(spark):
    from scrapy_rs_spark.schemas import FRONTIER_DDL

    return spark.createDataFrame([], FRONTIER_DDL)


def test_manifest_last_commit_visibility(spark, tmp_path):
    store = CrawlStore(spark, str(tmp_path / "s"), seen_buckets=4)
    store.commit_round(
        1, _empty_frontier(spark), _seen_rows(spark, [1, 2]), None, None,
        {"round": 1},
    )
    assert store.committed_rounds() == [1]
    # a round dir without MANIFEST is invisible (uncommitted)
    os.makedirs(str(tmp_path / "s/rounds/round=000002"))
    assert store.committed_rounds() == [1]
    assert store.latest_round() == 1


def test_compact_seen_preserves_membership(spark, tmp_path):
    store = CrawlStore(spark, str(tmp_path / "c"), seen_buckets=4)
    all_hashes = set()
    for r in range(1, 5):
        hs = list(range(r * 100, r * 100 + 10))
        all_hashes.update(hs)
        store.commit_round(
            r, _empty_frontier(spark), _seen_rows(spark, hs), None, None,
            {"round": r},
        )
    before = {x.url_hash for x in store.load_seen().collect()}
    assert before == all_hashes
    store.compact_seen()
    after = {x.url_hash for x in store.load_seen().collect()}
    assert after == all_hashes
    # earlier deltas are gone; everything lives in the last round
    for r in range(1, 4):
        assert not os.path.isdir(
            str(tmp_path / f"c/rounds/round={r:06d}/seen_delta")
        )
    # buckets preserved for partition-pruned probes
    assert {x.bucket for x in store.load_seen().collect()} <= {0, 1, 2, 3}


def test_lineage_plain_store_reconciles_with_deltas(spark, tmp_path):
    """Per-partition lineage (north rule): every committed round writes
    lineage.json whose per-file row counts sum to the actual delta/
    frontier row counts, with seen_delta rows attributed to their
    bucket= partitions."""
    store = CrawlStore(spark, str(tmp_path / "lin"), seen_buckets=4)
    store.commit_round(
        1, _empty_frontier(spark), _seen_rows(spark, range(100)), None,
        None, {"round": 1},
    )
    store.commit_round(
        2, _empty_frontier(spark), _seen_rows(spark, range(100, 130)),
        None, None, {"round": 2},
    )
    lin = store.load_lineage()
    assert {r["round"] for r in lin} == {1, 2}
    seen1 = [r for r in lin if r["round"] == 1 and r["dataset"] == "seen_delta"]
    assert sum(r["rows"] for r in seen1) == 100
    # bucket partitions are recorded and complete (pmod over 0..99 hits
    # all 4 buckets)
    assert {r["partition"].split("=")[0] for r in seen1} == {"bucket"}
    assert len({r["partition"] for r in seen1}) == 4
    assert all(r["bytes"] > 0 and r["file"].endswith(".parquet") for r in lin)
    seen2 = [r for r in lin if r["round"] == 2 and r["dataset"] == "seen_delta"]
    assert sum(r["rows"] for r in seen2) == 30
    # the DataFrame view aggregates the same way
    agg = {
        (r["round"], r["dataset"]): r["total"]
        for r in store.lineage_df()
        .groupBy("round", "dataset")
        .agg(F.sum("rows").alias("total"))
        .collect()
    }
    assert agg[(1, "seen_delta")] == 100
    assert agg[(2, "seen_delta")] == 30



def test_seen_membership_independent_of_bucket_count(spark, tmp_path):
    """The bucket count is an on-disk layout, not part of membership:
    rounds committed with seen_buckets=4 and resumed with
    seen_buckets=8 read back the same seen set, survive a compaction
    that folds both layouts, and re-enqueue no already-seen url_hash
    (every page is fetched exactly once)."""
    from dataclasses import replace

    from scrapy_rs_spark.plans.engine import CrawlEngine
    from scrapy_rs_spark.settings import Settings
    from scrapy_rs_spark.sources.mocksite import mock_site_pages

    # 30 pages, 15 links: rounds 1-3 fetch 1, 15, 14 pages
    n_pages = 30
    pages = mock_site_pages(spark, page_count=n_pages, links_per_page=15)
    s4 = Settings(
        scheduler_type="breadth_first",
        seen_buckets=4,
        seen_compact_every=1 << 30,  # compaction only where called below
    )
    root = str(tmp_path / "rebucket")
    eng = CrawlEngine(spark, pages, s4, store_path=root)
    eng.run(["http://mocksite.test/0"], max_rounds=1)
    last = eng.store.latest_round()
    before = sorted(tuple(r) for r in eng.store.load_seen().collect())
    seen_before = {h for h, _ in before}
    assert 1 < len(seen_before) < n_pages  # the crawl is mid-way

    eng = CrawlEngine(
        spark, pages, replace(s4, seen_buckets=8), store_path=root
    )
    assert sorted(tuple(r) for r in eng.store.load_seen().collect()) == before
    eng.store.compact_seen()
    assert {r.url_hash for r in eng.store.load_seen().collect()} == seen_before

    stats = eng.resume()
    assert [m["requests"] for m in stats.per_round[2:]] == [15, 14]
    fresh = [
        r.url_hash
        for rnd in sorted(eng.store.seen_delta_rounds())
        if rnd > last
        for r in eng.store.load_seen_delta(rnd).collect()
    ]
    assert fresh and not set(fresh) & seen_before
    seen = [r.url_hash for r in eng.store.load_seen().collect()]
    assert len(seen) == len(set(seen)) == n_pages
    items = [r.url for r in eng.items().collect()]
    assert len(items) == len(set(items)) == n_pages
