"""Hot-host skew handling (salted two-phase rank) — a north-rule scale
mechanism, checked for exactness."""

import pyspark.sql.functions as F

from scrapy_rs_spark.operators.scheduler import (
    frontier_order,
    per_host_topk,
    rank_per_host,
)


def _skewed_frontier(spark):
    """One hot host with many rows, several cold hosts."""
    rows = [
        (f"http://hot.test/{i}", "hot.test", i * 2654435761 % (1 << 40),
         i % 50, i % 5, 0, int(i))
        for i in range(5000)
    ] + [
        (f"http://cold{j}.test/1", f"cold{j}.test", j + 1, 1, 0, 0, j)
        for j in range(20)
    ]
    return spark.createDataFrame(
        rows,
        "url STRING, host STRING, url_hash BIGINT, priority INT,"
        " depth INT, discovery_round INT, discovery_seq BIGINT",
    )


def test_salted_topk_equals_exact(spark):
    """Two-phase (host,salt) pre-thin must give EXACTLY the same rows
    and ranks as the single-window rank."""
    df = _skewed_frontier(spark)
    order = frontier_order("domain_group", "priority")
    exact = {
        (r.host, r.url, r.host_rank)
        for r in per_host_topk(df, 7, order, salts=1).collect()
    }
    salted = {
        (r.host, r.url, r.host_rank)
        for r in per_host_topk(df, 7, order, salts=8).collect()
    }
    assert exact == salted
    assert len({h for h, _, _ in exact}) == 21  # hot + 20 cold


def test_salted_rank_splits_batch_and_leftover_like_exact(spark):
    """rank_per_host keeps every row: with a per-row budget column, the
    in-budget rows (host_rank ≤ budget) are the same with salts=8 and
    salts=1, and the leftover (NULL or over budget) is their exact
    complement. Salted phase 1 must actually rule rows out (NULL)."""
    df = _skewed_frontier(spark).withColumn(
        "budget", F.when(F.col("host") == "hot.test", 7).otherwise(1)
    )
    order = frontier_order("domain_group", "priority")
    every = {r.url for r in df.select("url").collect()}

    def split(salts):
        ranked = rank_per_host(df, F.col("budget"), order, salts=salts)
        rows = ranked.select("url", "host_rank", "budget").collect()
        assert len(rows) == len(every)
        batch = {
            (r.url, r.host_rank)
            for r in rows
            if r.host_rank is not None and r.host_rank <= r.budget
        }
        leftover = {
            r.url
            for r in rows
            if r.host_rank is None or r.host_rank > r.budget
        }
        nulls = sum(r.host_rank is None for r in rows)
        return batch, leftover, nulls

    batch1, left1, nulls1 = split(1)
    batch8, left8, nulls8 = split(8)
    assert batch8 == batch1
    assert len(batch1) == 7 + 20
    assert left8 == left1 == every - {u for u, _ in batch1}
    assert nulls1 == 0
    assert nulls8 > 0


def _item_urls_by_round(eng):
    out: dict[int, set[str]] = {}
    for r in eng.items().select("url", "rnd").collect():
        out.setdefault(r.rnd, set()).add(r.url)
    return out


def test_salted_engine_round_matches_single_window(spark, tmp_path,
                                                    monkeypatch):
    """A skewed multi-host polite crawl (one hot host holding most
    pages) crawled with salting forced on (SALT_MIN_FRONTIER = 0) must
    serve exactly the same URLs in every round as the default
    single-window rank."""
    from scrapy_rs_spark.plans import engine as engine_mod
    from scrapy_rs_spark.settings import Settings
    from scrapy_rs_spark.sources.mocksite import mock_multihost_pages

    def hot(c):
        return F.regexp_replace(c, r"host[1-6]\.test", "hot.test")

    pages = mock_multihost_pages(
        spark, page_count=40, n_hosts=8, links_per_page=5,
        golden_text=False,
    )
    pages = pages.withColumn("url", hot(F.col("url"))).withColumn(
        "html", hot(F.col("html").cast("string")).cast("binary")
    ).localCheckpoint(eager=True)
    settings = Settings(domain_delay_ms=2_500, round_duration_ms=10_000)
    salts_used = []

    def spy(df, k, order, salts=1, host_col="host"):
        salts_used.append(salts)
        return rank_per_host(df, k, order, salts, host_col)

    monkeypatch.setattr(engine_mod, "rank_per_host", spy)

    def crawl(name):
        eng = engine_mod.CrawlEngine(
            spark, pages, settings, store_path=str(tmp_path / name)
        )
        stats = eng.run(["http://host0.test/0"])
        return stats, _item_urls_by_round(eng)

    default_stats, default_rounds = crawl("default")
    assert set(salts_used) == {1}
    salts_used.clear()
    monkeypatch.setattr(engine_mod, "SALT_MIN_FRONTIER", 0)
    salted_stats, salted_rounds = crawl("salted")
    assert set(salts_used) == {engine_mod.HOST_SALTS}
    assert salted_rounds == default_rounds
    assert salted_stats.requests == default_stats.requests == 40
    # the hot host's budget (4/round) binds: it takes many rounds
    assert default_stats.rounds >= 30 // 4
