"""CrawlStore commit/resume/compaction semantics (S9)."""

import os
import shutil

import pyspark.sql.functions as F

from scrapy_rs_spark.sources.store import CrawlStore


def _seen_rows(spark, hashes):
    return spark.createDataFrame([(h,) for h in hashes], "url_hash BIGINT")


def _empty_frontier(spark):
    from scrapy_rs_spark.schemas import FRONTIER_DDL

    return spark.createDataFrame([], FRONTIER_DDL)


def test_manifest_last_commit_visibility(spark, tmp_path):
    store = CrawlStore(spark, str(tmp_path / "s"))
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
    store = CrawlStore(spark, str(tmp_path / "c"))
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
    # the folded delta holds url_hash only
    assert store.load_seen().columns == ["url_hash"]


def test_lineage_plain_store_reconciles_with_deltas(spark, tmp_path):
    """Per-partition lineage (north rule): every committed round writes
    lineage.json whose per-file row counts sum to the actual delta/
    frontier row counts; seen_delta files sit in no partition
    directory."""
    store = CrawlStore(spark, str(tmp_path / "lin"))
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
    assert {r["partition"] for r in seen1} == {""}
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


def _rewrite_bucketed(store, rnd, buckets):
    """Rewrite a committed seen delta in the layout earlier releases
    wrote: (url_hash, bucket) rows in bucket= partition directories,
    bucket = pmod(url_hash, buckets), one file per bucket."""
    path = store._seen_delta_dir(rnd)
    hashes = [r.url_hash for r in store.load_seen_delta(rnd).collect()]
    shutil.rmtree(path)
    (
        _seen_rows(store.spark, hashes)
        .withColumn("bucket", F.pmod("url_hash", F.lit(buckets)).cast("int"))
        .repartition(buckets, "bucket")
        .write.partitionBy("bucket")
        .parquet(path)
    )
    assert all(n.startswith("bucket=") for n in _data_entries(path))


def _data_entries(path):
    return [n for n in os.listdir(path) if not n.startswith(("_", "."))]


def test_seen_deltas_of_both_layouts_mix(spark, tmp_path):
    """A store whose older deltas were written in bucket= partition
    directories and whose newer ones are flat url_hash parquet: the
    seen set reads back the same hashes, a resumed round re-enqueues
    no hash of the bucketed deltas, compact_seen folds a bucketed and a
    flat delta into one flat delta, and the crawl fetches every page
    exactly once."""
    from scrapy_rs_spark.plans.engine import CrawlEngine
    from scrapy_rs_spark.settings import Settings
    from scrapy_rs_spark.sources.mocksite import mock_site_pages
    from scrapy_rs_spark.sources.store import _dir_bytes

    # 30 pages, 15 links: rounds 1-3 fetch 1, 15, 14 pages; rounds 0-2
    # discover 1, 15, 14 hashes
    n_pages = 30
    pages = mock_site_pages(spark, page_count=n_pages, links_per_page=15)
    settings = Settings(
        scheduler_type="breadth_first",
        seen_compact_every=1 << 30,  # compaction only where called below
    )
    root = str(tmp_path / "mixed")
    eng = CrawlEngine(spark, pages, settings, store_path=root)
    eng.run(["http://mocksite.test/0"], max_rounds=1)
    assert eng.store.seen_delta_rounds() == {0, 1}
    before = sorted(r.url_hash for r in eng.store.load_seen().collect())
    assert 1 < len(before) < n_pages  # the crawl is mid-way
    seed_hash = eng.store.load_seen_delta(0).collect()[0].url_hash
    _rewrite_bucketed(eng.store, 0, 4)
    _rewrite_bucketed(eng.store, 1, 8)

    eng = CrawlEngine(spark, pages, settings, store_path=root)
    seen = eng.store.load_seen()
    assert seen.columns == ["url_hash"]
    assert sorted(r.url_hash for r in seen.collect()) == before
    # both layouts are read by ONE parquet scan, not a union of scans
    plan = seen._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation ") == 1 and "Union" not in plan

    # round 2 anti-joins against the bucketed deltas, writes a flat one
    eng.resume(max_rounds=2)
    fresh = {r.url_hash for r in eng.store.load_seen_delta(2).collect()}
    assert fresh and not fresh & set(before)
    mixed = sorted(r.url_hash for r in eng.store.load_seen().collect())
    assert mixed == sorted(before + list(fresh))

    # round 1's 8 bucket files outweigh rounds 0 + 2, so the tiered
    # fold takes the bucketed round 0 and the flat round 2
    sizes = {r: _dir_bytes(eng.store._seen_delta_dir(r)) for r in (0, 1, 2)}
    assert sizes[1] > sizes[0] + sizes[2]
    eng.store.compact_seen()
    assert eng.store.seen_delta_rounds() == {1, 2}
    folded = eng.store._seen_delta_dir(2)
    assert _data_entries(folded)
    assert all(n.endswith(".parquet") for n in _data_entries(folded))
    assert {r.url_hash for r in eng.store.load_seen_delta(2).collect()} == (
        fresh | {seed_hash}
    )
    assert sorted(r.url_hash for r in eng.store.load_seen().collect()) == mixed

    stats = eng.resume()
    assert [m["requests"] for m in stats.per_round] == [0, 1, 15, 14]
    seen = [r.url_hash for r in eng.store.load_seen().collect()]
    assert len(seen) == len(set(seen)) == n_pages
    items = [r.url for r in eng.items().collect()]
    assert len(items) == len(set(items)) == n_pages
