"""Hot-host skew handling (salted two-phase rank) — a north-rule scale
mechanism, checked for exactness."""

from scrapy_rs_spark.operators.scheduler import frontier_order, per_host_topk


def test_salted_topk_equals_exact(spark):
    """Two-phase (host,salt) pre-thin must give EXACTLY the same rows
    and ranks as the single-window rank — one hot host with many rows,
    several cold hosts."""
    rows = [
        (f"http://hot.test/{i}", "hot.test", i * 2654435761 % (1 << 40),
         i % 50, i % 5, 0, int(i))
        for i in range(5000)
    ] + [
        (f"http://cold{j}.test/1", f"cold{j}.test", j + 1, 1, 0, 0, j)
        for j in range(20)
    ]
    df = spark.createDataFrame(
        rows,
        "url STRING, host STRING, url_hash BIGINT, priority INT,"
        " depth INT, discovery_round INT, discovery_seq BIGINT",
    )
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
