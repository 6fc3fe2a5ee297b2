"""One crawl round's fetch → parse → candidates plan.

Shared by the batch engine (plans/engine.py) and the standing streaming
crawl (streaming/frontier_stream.py):

     batch ──fetch_round──► fetched (pacing, fetch join, response mw)
   fetched ──expand_round──► items (text NULL dropped, raw counts observed)
                          └► candidates: parsed links ∪ redirects
                               ──enqueue filters──► ──in-batch dedup──►

The callers own what differs between them: the route counters, the
seen anti-join (the engine's store vs streaming's batch_id partitions),
retries and the commit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from scrapy_rs_spark.functions.text import parse_resolve_udf, resolve_links_udf
from scrapy_rs_spark.functions.url import url_hash_expr
from scrapy_rs_spark.operators.dedup import dedup_in_batch
from scrapy_rs_spark.operators.fetch import (
    fetch_join,
    is_redirect,
    is_success,
    strict_spacing,
)
from scrapy_rs_spark.operators.scheduler import apply_enqueue_filters
from scrapy_rs_spark.schemas import FRONTIER_COLS, FRONTIER_SCHEMA


def fetch_round(
    batch: DataFrame,
    pages: DataFrame,
    settings,
    *,
    broadcast_batch: bool,
    host_delays: DataFrame | None = None,
    response_middlewares=None,
) -> DataFrame:
    """Fetch one round's batch (J2), then the response middleware chain
    (X3). host_delays is a robots policy table whose per-host
    Crawl-delay feeds strict pacing, or None when only the configured
    delay applies.

    Checkpointed, lazily only above the join's exchange: under AQE,
    building the checkpoint runs the broadcast of the batch (or the
    sort-merge join's shuffles) at once; the caller's first action runs
    the join once and every later consumer reads the cached
    partitions."""
    s = settings
    delay = max(s.domain_delay_ms, s.download_delay_ms)
    # strict mode (T1 fidelity, slot.rs:127-137): pace ONLY the frame
    # feeding the fetch join — the checkpoint materializes it exactly
    # once, so the sleeps run once per round and every other consumer
    # of `batch` reads the unpaced rows. Row membership is identical.
    if s.strict_delay and (delay > 0 or host_delays is not None):
        batch = strict_spacing(
            batch, default_delay_ms=delay, host_delays=host_delays
        )
    fetched = fetch_join(
        batch,
        pages,
        default_timeout_ms=s.request_timeout_ms,
        broadcast_batch=broadcast_batch,
    )
    if response_middlewares is not None:
        fetched = response_middlewares(fetched)
    return fetched.localCheckpoint(eager=False)


def _requests(df: DataFrame, rnd: int, **fields: Column) -> DataFrame:
    """New frontier rows discovered in round `rnd`, as ONE Project in
    FRONTIER_COLS order (a withColumn chain adds ~16 nested Projects
    that Catalyst must analyze and collapse every round, and
    localCheckpoint plans the query even when lazy; measured ~1.5
    s/round of pure planning time on the politeness crawl).
    `url` must be canonical; `fields` override a fresh GET request's
    defaults, and columns with no default are NULL."""
    cols = {
        "url": F.col("url"),
        "url_canon": F.col("url"),
        "url_hash": url_hash_expr(F.col("url"), F.lit("GET")),
        "host": F.expr("parse_url(url, 'HOST')"),
        "method": F.lit("GET"),
        "priority": F.lit(0),
        "discovery_round": F.lit(rnd + 1),
        "discovery_seq": F.lit(0).cast("long"),
        "retry_count": F.lit(0),
        "dont_filter": F.lit(False),
        "retry_not_before_round": F.lit(0),
        **fields,
    }
    return df.select(
        *[
            cols.get(c, F.lit(None).cast(FRONTIER_SCHEMA[c].dataType)).alias(c)
            for c in FRONTIER_COLS
        ]
    )


def expand_round(
    fetched: DataFrame,
    rnd: int,
    settings,
    *,
    broadcast_batch: bool,
    follow_redirects: bool,
    parse_text_udf=None,
    parse_links_udf=None,
    parse_fields_udf=None,
) -> tuple[DataFrame, Observation, DataFrame]:
    """Parse the fetched pages (X1) into (items, items_raw, candidates).

    items: one row per successful page whose text decoded; items_raw
    observes `n` (pages parsed) and `n_null` (text NULL, dropped) on
    the items plan's first action. candidates: parsed links ∪ followed
    redirects (when follow_redirects), enqueue-filtered and deduplicated
    within the round, not yet checked against the seen set.

    broadcast_batch is the fetch join's shape. parse_text_udf /
    parse_links_udf / parse_fields_udf (html → text / raw hrefs / field
    map) each replace one column of the default parse."""
    s = settings
    success = fetched.filter(is_success(F.col("status")))
    if not broadcast_batch:
        # AQE coalesces a sort-merge fetch-join's output by SIZE (html
        # bytes), which can serialize the Python parse stage onto 1-2
        # tasks; the parse cost is per-row CPU, so spread it across all
        # cores. The broadcast-batch join keeps the pages scan's
        # partitioning, where a repartition would shuffle every html
        # byte once for nothing.
        success = success.repartition(
            fetched.sparkSession.sparkContext.defaultParallelism
        )
    # items.fields: a custom parse_fields_udf owns the map; otherwise
    # the optional transport metadata (response.rs:35-45) projected by
    # fetch_join, when the pages table carries it, rides there for
    # item pipelines (response middlewares already see the raw columns
    # on the fetched frame)
    transport = [
        c
        for c in ("certificate", "ip_address", "protocol")
        if c in fetched.columns
    ]
    if parse_fields_udf is not None:
        fields = parse_fields_udf(F.col("html"))
    elif transport:
        fields = F.map_filter(
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in transport]),
                F.array(*[F.col(c).cast("string") for c in transport]),
            ),
            lambda _, v: v.isNotNull(),
        )
    else:
        fields = F.lit(None).cast("map<string,string>")
    # ONE parse select, materialized once (html dropped immediately
    # after): the items write runs the parse and the link expansion
    # reads the cached result. With the broadcast-batch join the plan
    # under this checkpoint has no exchange and building it runs
    # nothing; after a sort-merge join, building it runs the
    # repartition's shuffle under AQE. The fused extractor yields text +
    # links RESOLVED in one UDF pass per page; a hook replaces just its own
    # column, and parse_resolve_udf runs only while a default column is
    # still needed. Links are resolved inside the UDF that yields the
    # array on purpose: a urljoin_udf over the exploded links would be
    # extracted by Catalyst twice (once for a `url IS NOT NULL` filter,
    # once for the projection), so every link would cross into Python
    # two more times per round.
    cols = [
        F.col("url"),
        F.col("depth"),
        F.col("cookies"),
        fields.alias("__tf"),
    ]
    if parse_text_udf is None or parse_links_udf is None:
        # per-request decode override (request.rs:74-90): encoding
        # NULL → strict UTF-8, like the reference. A links hook owns
        # the links column: a NULL base skips resolving the defaults.
        base = (
            F.col("url_canon")
            if parse_links_udf is None
            else F.lit(None).cast("string")
        )
        cols.append(
            parse_resolve_udf(F.col("html"), F.col("encoding"), base).alias(
                "p"
            )
        )
    text, links_col = F.col("p.text"), F.col("p.links")
    if parse_text_udf is not None:
        cols.append(parse_text_udf(F.col("html")).alias("__text"))
        text = F.col("__text")
    if parse_links_udf is not None:
        # the hook yields raw hrefs: resolve them as the fused parse does
        cols.append(
            resolve_links_udf(
                F.col("url_canon"), parse_links_udf(F.col("html"))
            ).alias("__links")
        )
        links_col = F.col("__links")
    parsed = success.select(*cols).localCheckpoint(eager=False)
    items = parsed.select(
        F.col("url"),
        F.lit("extracted_text").alias("item_type"),
        text.alias("text"),
        F.col("__tf").alias("fields"),
        F.lit(rnd).alias("rnd"),
    )
    links = parsed.select(
        F.col("depth").alias("parent_depth"),
        F.col("cookies").alias("parent_cookies"),
        F.explode(links_col).alias("url"),
    )
    # invalid-UTF-8 / unparsable pages yield text NULL → routed to
    # the error channel (functions/text.py contract), never written
    # as items. Counts come free from an observation on the items
    # plan (no extra driver jobs).
    items_raw = Observation(f"items_raw_r{rnd}")
    items = items.observe(
        items_raw,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("text").isNull().cast("long")).alias("n_null"),
    ).filter(F.col("text").isNotNull())
    # Response::follow copies the cookie jar onto followed requests
    # (response.rs:186-203)
    candidates = _requests(
        links,
        rnd,
        depth=(F.col("parent_depth") + 1).cast("int"),
        cookies=F.col("parent_cookies"),
    )
    if follow_redirects:
        # redirects re-enter at the same depth AND priority
        # (response.rs:126-142), cookies copied like Response::follow;
        # the hop count rides into the new row's meta, or max_redirects
        # could never bound a multi-hop chain. The reference downloader follows redirects within the SAME
        # Request, so per-request timeout/encoding/flags persist across
        # hops (a shift-jis page behind a 301 keeps its decode
        # override); proxy is NOT inherited (the reference never copies
        # it onto the follow-up Request)
        hops = (
            F.coalesce(
                F.element_at(F.col("meta"), "redirect_hops").cast("int"),
                F.lit(0),
            )
            + 1
        )
        redirs = (
            fetched.filter(is_redirect(F.col("status")))
            .select(
                # an unresolvable or missing Location yields no row
                F.explode(
                    resolve_links_udf(
                        F.col("url_canon"),
                        F.array(F.element_at(F.col("headers"), "location")),
                    )
                ).alias("url"),
                "depth",
                "priority",
                "cookies",
                "timeout_ms",
                "encoding",
                "flags",
                hops.alias("hops"),
            )
            .filter(F.col("hops") <= F.lit(s.max_redirects))
        )
        candidates = candidates.unionByName(
            _requests(
                redirs,
                rnd,
                priority=F.col("priority"),
                depth=F.col("depth"),
                meta=F.map_from_arrays(
                    F.array(F.lit("redirect_hops")),
                    F.array(F.col("hops").cast("string")),
                ),
                cookies=F.col("cookies"),
                timeout_ms=F.col("timeout_ms"),
                encoding=F.col("encoding"),
                flags=F.col("flags"),
            )
        )
    candidates = apply_enqueue_filters(candidates, s)
    return items, items_raw, dedup_in_batch(candidates)
