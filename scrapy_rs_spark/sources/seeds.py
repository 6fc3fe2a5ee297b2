"""Seed source: start URLs → first frontier generation.

Mirrors Spider::start_requests (one GET per seed,
/root/reference/core/src/spider.rs:24-26) fed to the scheduler at
/root/reference/engine/src/lib.rs:333-415. Dict seeds carry the full
Request surface (method/body/cookies/priority,
/root/reference/core/src/request.rs:24-91); identity is
(canonical url, method) per request.rs:240-253, so a POST and a GET of
the same URL are distinct frontier rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scrapy_rs_spark.functions.url import with_url_identity
from scrapy_rs_spark.schemas import FRONTIER_COLS


def seeds_frontier(
    spark: SparkSession,
    seeds: list[str] | list[tuple] | list[dict] | DataFrame,
    default_priority: int = 0,
) -> DataFrame:
    """Build frontier generation 0 from a seed list.

    Accepts ["url", ...], [(url, priority, depth), ...],
    [{"url": ..., "method": "POST", "body": b"...", "cookies": {...},
    "priority": ..., "depth": ...}, ...] or a DataFrame with at least a
    ``url`` column (optional method/body/cookies/priority/depth).
    discovery_seq is the seed-list position (deterministic FIFO arrival
    order, never wall clock)."""
    if isinstance(seeds, DataFrame):
        df = seeds
        if "priority" not in df.columns:
            df = df.withColumn("priority", F.lit(default_priority))
        if "depth" not in df.columns:
            df = df.withColumn("depth", F.lit(0))
        if "discovery_seq" not in df.columns:
            w = Window.orderBy("url")
            df = df.withColumn(
                "discovery_seq", F.row_number().over(w).cast("long") - 1
            )
        if "method" not in df.columns:
            df = df.withColumn("method", F.lit("GET"))
        if "body" not in df.columns:
            df = df.withColumn("body", F.lit(None).cast("binary"))
        if "cookies" not in df.columns:
            df = df.withColumn(
                "cookies", F.lit(None).cast("map<string,string>")
            )
        if "timeout_ms" not in df.columns:
            df = df.withColumn("timeout_ms", F.lit(None).cast("bigint"))
        if "encoding" not in df.columns:
            df = df.withColumn("encoding", F.lit(None).cast("string"))
        if "flags" not in df.columns:
            df = df.withColumn("flags", F.lit(None).cast("array<string>"))
        if "proxy" not in df.columns:
            df = df.withColumn("proxy", F.lit(None).cast("string"))
    else:
        rows = []
        for i, s in enumerate(seeds):
            if isinstance(s, str):
                rows.append(
                    (s, default_priority, 0, i, "GET", None, None,
                     None, None, None, None)
                )
            elif isinstance(s, dict):
                rows.append(
                    (
                        s["url"],
                        int(s.get("priority", default_priority)),
                        int(s.get("depth", 0)),
                        i,
                        str(s.get("method", "GET")).upper(),
                        bytes(s["body"]) if s.get("body") is not None else None,
                        s.get("cookies"),
                        # request auxiliaries (request.rs:74-90)
                        s.get("timeout_ms"),
                        s.get("encoding"),
                        list(s["flags"]) if s.get("flags") else None,
                        # with_proxy (request.rs:86,218-222) — metadata
                        # pass-through, not inherited on follow
                        s.get("proxy"),
                    )
                )
            else:
                url, prio, depth = (list(s) + [default_priority, 0])[:3]
                rows.append(
                    (url, int(prio), int(depth), i, "GET", None, None,
                     None, None, None, None)
                )
        df = spark.createDataFrame(
            rows,
            "url STRING, priority INT, depth INT, discovery_seq BIGINT,"
            " method STRING, body BINARY, cookies MAP<STRING,STRING>,"
            " timeout_ms BIGINT, encoding STRING, flags ARRAY<STRING>,"
            " proxy STRING",
        )
    df = with_url_identity(df, "url", method_col="method")
    return (
        df.withColumn("priority", F.col("priority").cast("int"))
        .withColumn("depth", F.col("depth").cast("int"))
        .withColumn("discovery_round", F.lit(0))
        .withColumn("retry_count", F.lit(0))
        .withColumn("dont_filter", F.lit(False))
        .withColumn("retry_not_before_round", F.lit(0))
        .withColumn(
            "meta", F.lit(None).cast("map<string,string>")
        )
        .select(*FRONTIER_COLS)
    )
