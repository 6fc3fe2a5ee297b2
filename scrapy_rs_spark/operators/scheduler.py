"""Scheduler semantics: ordering, enqueue filters, per-host ranking.

Reimplements the observable contract of the reference's five schedulers
(/root/reference/scheduler/src/schedulers/) set-at-a-time:

* memory / priority queue  → highest priority first
  (memory_scheduler.rs:58-61; golden order 3,2,1 scheduler/src/tests.rs:39-47)
* fifo                     → arrival order (fifo_scheduler.rs:54-60)
* breadth_first            → FIFO + depth limit (breadth_first_scheduler.rs:41-77)
* depth_first              → LIFO + depth limit (depth_first_scheduler.rs:41-74)
* domain_group             → per-domain queues, highest-priority domain
  then highest-priority request, per-domain caps/delays
  (domain_group_scheduler.rs:228-277)

Total order (north rule; reference in-heap tie order is unspecified):
(effective_priority DESC, depth ASC, discovery_round ASC,
 discovery_seq ASC, url ASC) — deterministic under Spark task retries
because discovery_(round,seq) are assigned from rank, never wall clock.

CRAWL_STRATEGY maps onto effective priority exactly as
domain_group_scheduler.rs:137-163: priority → priority,
breadth_first → -depth, depth_first → +depth.

Scale notes:
* global batch selection is orderBy().limit(k) — Catalyst compiles it
  to TakeOrderedAndProject (per-partition partial top-k + merge), never
  a single-task global sort;
* per-host ranking is a Window partitioned by host (rank_per_host);
  hot hosts (10^8 URLs on one domain) are pre-thinned with a salted
  two-phase rank so no single task materializes a whole domain. One
  rank yields both a round's batch (host_rank ≤ budget) and its
  leftover (NULL or over budget); per_host_topk is its ≤ k filter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from scrapy_rs_spark.functions.url import with_url_identity
from scrapy_rs_spark.operators.dedup import anti_join_seen, dedup_in_batch
from scrapy_rs_spark.settings import Settings


def effective_priority_col(strategy: str) -> Column:
    """domain_group_scheduler.rs:137-163 get_effective_priority."""
    if strategy in ("breadth_first", "bfs"):
        return -F.col("depth")
    if strategy in ("depth_first", "dfs"):
        return F.col("depth")
    return F.col("priority")


def frontier_order(scheduler_type: str, strategy: str = "priority") -> list[Column]:
    """Dequeue order for a scheduler type as Spark sort columns."""
    arrival = [
        F.col("discovery_round").asc(),
        F.col("discovery_seq").asc(),
        F.col("url").asc(),
    ]
    if scheduler_type == "fifo":
        return arrival
    if scheduler_type in ("breadth_first", "bfs"):
        return arrival  # FIFO queue; BFS emerges from depth of discovery
    if scheduler_type in ("depth_first", "dfs"):
        # LIFO stack: latest arrival first
        return [
            F.col("discovery_round").desc(),
            F.col("discovery_seq").desc(),
            F.col("url").asc(),
        ]
    # memory / domain_group: priority order with the north-rule tie-break
    return [
        effective_priority_col(strategy).desc(),
        F.col("depth").asc(),
        F.col("discovery_round").asc(),
        F.col("discovery_seq").asc(),
        F.col("url").asc(),
    ]


def apply_enqueue_filters(df: DataFrame, settings: Settings) -> DataFrame:
    """Filters the reference applies at enqueue time.

    * depth limit (breadth/depth_first_scheduler.rs:49-59,
      domain_group_scheduler.rs:186-197)
    * domain blacklist-then-whitelist (domain_group_scheduler.rs:80-95)
    * URL allow/deny regex (UrlFilterMiddleware,
      /root/reference/middleware/src/lib.rs:213-299)
    All native column predicates → pushed down by Catalyst."""
    out = df
    if settings.max_depth is not None:
        out = out.filter(F.col("depth") <= F.lit(settings.max_depth))
    if settings.domain_blacklist:
        out = out.filter(~F.col("host").isin(settings.domain_blacklist))
    if settings.domain_whitelist:
        out = out.filter(F.col("host").isin(settings.domain_whitelist))
    if settings.url_deny_pattern:
        out = out.filter(~F.col("url").rlike(settings.url_deny_pattern))
    if settings.url_allow_pattern:
        out = out.filter(F.col("url").rlike(settings.url_allow_pattern))
    return out


def robots_filter(df: DataFrame, robots: DataFrame) -> DataFrame:
    """RFC 9309 prefix-match Disallow/Allow enforcement.

    Broadcast-joins the per-host policy table, then keeps rows whose
    canonical path is not blocked. With an `allow_prefixes` column
    present, the RFC's longest-match rule applies: blocked iff the
    longest matching Disallow prefix is strictly longer than the
    longest matching Allow prefix (ties → allow, the less restrictive
    reading). Without it, any matching Disallow blocks. (Documented
    extension: the reference carries only a respect_robots_txt flag,
    /root/reference/engine/src/config/mod.rs:45-46.)"""
    has_allow = "allow_prefixes" in robots.columns
    cols = [
        F.col("host").alias("__r_host"),
        F.col("disallow_prefixes").alias("__r_dis"),
    ]
    if has_allow:
        cols.append(F.col("allow_prefixes").alias("__r_allow"))
    policy = robots.select(*cols)
    path = F.coalesce(
        F.expr("parse_url(url_canon, 'PATH')"), F.lit("/")
    )
    joined = df.join(
        F.broadcast(policy), df["host"] == policy["__r_host"], "left"
    )

    def longest_match(arr: Column) -> Column:
        return F.coalesce(
            F.array_max(
                F.transform(
                    F.filter(
                        F.coalesce(arr, F.array().cast("array<string>")),
                        lambda p: path.startswith(p),
                    ),
                    lambda p: F.length(p),
                )
            ),
            F.lit(0),
        )

    dis_len = longest_match(F.col("__r_dis"))
    if has_allow:
        blocked = dis_len > longest_match(F.col("__r_allow"))
    else:
        blocked = dis_len > F.lit(0)
    out = joined.filter(~blocked).drop("__r_host", "__r_dis")
    return out.drop("__r_allow") if has_allow else out


def rank_per_host(
    df: DataFrame,
    k: int | Column,
    order: list[Column],
    salts: int = 1,
    host_col: str = "host",
) -> DataFrame:
    """Every row of `df` with host_rank = its exact rank within its host
    under `order`, or NULL where that rank is known to exceed k.

    With salts > 1, a two-phase rank avoids hot-host skew: phase 1 ranks
    within (host, salt) — salt = pmod(url_hash, salts) spreads one
    domain over many tasks; a row with k rows ahead of it in its salt
    ranks > k in its host (NULL). Phase 2 ranks the ≤ salts·k survivors
    exactly per host; both branches read phase 1's one shuffle (reused
    exchange). No task holds a whole domain (north rule: a 10^10
    frontier must not concentrate on one executor)."""
    w2 = Window.partitionBy(host_col).orderBy(*order)
    if salts <= 1:
        return df.withColumn("host_rank", F.row_number().over(w2))
    salt = F.pmod(F.coalesce(F.col("url_hash"), F.lit(0)), F.lit(salts))
    w1 = Window.partitionBy(F.col(host_col), salt).orderBy(*order)
    phase1 = df.withColumn("__rn1", F.row_number().over(w1))
    keep = F.col("__rn1") <= k
    survivors = phase1.filter(keep).withColumn(
        "host_rank", F.row_number().over(w2)
    )
    cut = phase1.filter(~keep).withColumn(
        "host_rank", F.lit(None).cast("int")
    )
    return survivors.unionByName(cut).drop("__rn1")


def per_host_topk(
    df: DataFrame,
    k: int | Column,
    order: list[Column],
    salts: int = 1,
    host_col: str = "host",
) -> DataFrame:
    """Top-k rows per host under `order` (see rank_per_host)."""
    ranked = rank_per_host(df, k, order, salts, host_col)
    return ranked.filter(F.col("host_rank") <= k)


def take_batch(
    df: DataFrame, order: list[Column], batch_size: int | None
) -> DataFrame:
    """Global top-batch under `order`.

    orderBy().limit(n) → TakeOrderedAndProject (distributed partial
    top-k). batch_rank (a global no-partition Window = single-task) is
    assigned ONLY on a capped batch, where the window input is already
    ≤ batch_size rows; an uncapped round never materializes a global
    rank — at 10^10 rows that window would serialize the whole crawl."""
    if batch_size is not None:
        df = df.orderBy(*order).limit(batch_size)
        w = Window.orderBy(*order)
        return df.withColumn("batch_rank", F.row_number().over(w))
    return df.withColumn("batch_rank", F.lit(None).cast("int"))


class FrontierScheduler:
    """Record-at-a-time facade over the set-oriented operators.

    API parity with the reference Scheduler trait
    (/root/reference/scheduler/src/lib.rs): enqueue / next / len /
    is_empty / has_seen / clear. Exists for the ported golden tests and
    small interactive use; the engine itself is set-at-a-time
    (plans/engine.py). Each drain runs the REAL DataFrame pipeline
    (identity UDFs, enqueue filters, in-batch dedup, seen anti-join,
    Window rank), so the goldens pin the distributed path."""

    def __init__(
        self,
        spark: SparkSession,
        scheduler_type: str = "memory",
        strategy: str = "priority",
        max_depth: int | None = None,
        max_requests_per_domain: int | None = None,
        settings: Settings | None = None,
    ):
        self.spark = spark
        self.scheduler_type = scheduler_type
        self.settings = settings or Settings(
            scheduler_type=scheduler_type,
            crawl_strategy=strategy,
            max_depth=max_depth,
            max_requests_per_domain=max_requests_per_domain,
        )
        self._pending: list[tuple] = []  # raw enqueues, flushed lazily
        self._queue: DataFrame | None = None
        self._seen: DataFrame | None = None
        self._served_per_host: dict[str, int] = {}
        self._seq = 0

    # -- enqueue --
    def enqueue(
        self,
        url: str,
        priority: int = 0,
        depth: int = 0,
        dont_filter: bool = False,
    ) -> None:
        self._pending.append((url, priority, depth, self._seq, dont_filter))
        self._seq += 1

    def _empty_frontier(self) -> DataFrame:
        from scrapy_rs_spark.schemas import FRONTIER_DDL

        return self.spark.createDataFrame([], FRONTIER_DDL)

    def _flush(self) -> None:
        if not self._pending:
            return
        rows = self._pending
        self._pending = []
        df = self.spark.createDataFrame(
            rows,
            "url STRING, priority INT, depth INT, discovery_seq BIGINT,"
            " dont_filter BOOLEAN",
        )
        df = with_url_identity(df, "url")
        df = (
            df.withColumn("method", F.lit("GET"))
            .withColumn("discovery_round", F.lit(0))
            .withColumn("retry_count", F.lit(0))
            .withColumn("retry_not_before_round", F.lit(0))
            .withColumn("meta", F.lit(None).cast("map<string,string>"))
            .withColumn("body", F.lit(None).cast("binary"))
            .withColumn("cookies", F.lit(None).cast("map<string,string>"))
            .withColumn("timeout_ms", F.lit(None).cast("bigint"))
            .withColumn("encoding", F.lit(None).cast("string"))
            .withColumn("flags", F.lit(None).cast("array<string>"))
            .withColumn("proxy", F.lit(None).cast("string"))
        )
        df = apply_enqueue_filters(df, self.settings)
        df = dedup_in_batch(df)
        if self._queue is not None:
            df = anti_join_seen(df, self._seen)
        cols = self._empty_frontier().columns
        df = df.select(*cols)
        if self._queue is None:
            self._queue = df
        else:
            self._queue = self._queue.unionByName(df)
        new_seen = df.select("url_hash")
        self._seen = (
            new_seen if self._seen is None else self._seen.unionByName(new_seen)
        )
        # materialize to keep lineage flat across many enqueue/next
        # cycles — executor-local checkpoint, nothing round-trips the
        # driver (matches the engine's own idiom)
        self._queue = self._queue.localCheckpoint(eager=True)
        self._seen = self._seen.localCheckpoint(eager=True)

    # -- dequeue --
    def _order(self) -> list:
        return frontier_order(self.scheduler_type, self.settings.crawl_strategy)

    def next(self):
        self._flush()
        if self._queue is None:
            return None
        cap = self.settings.max_requests_per_domain
        df = self._queue
        if cap is not None and self._served_per_host:
            # exclude hosts that exhausted their budget
            # (domain_group_scheduler.rs:98-106, checked at dequeue :234-238)
            exhausted = [
                h for h, n in self._served_per_host.items() if n >= cap
            ]
            if exhausted:
                df = df.filter(~F.col("host").isin(exhausted))
        rows = df.orderBy(*self._order()).limit(1).collect()
        if not rows:
            return None
        row = rows[0]
        self._queue = self._queue.filter(F.col("url_hash") != row.url_hash)
        if cap is not None:
            self._served_per_host[row.host] = (
                self._served_per_host.get(row.host, 0) + 1
            )
        return row

    def drain_urls(self) -> list[str]:
        """Pop everything, returning urls in dequeue order."""
        out = []
        while True:
            row = self.next()
            if row is None:
                return out
            out.append(row.url)

    def len(self) -> int:
        self._flush()
        return 0 if self._queue is None else self._queue.count()

    def is_empty(self) -> bool:
        return self.len() == 0

    def has_seen(self, url: str) -> bool:
        self._flush()
        if self._seen is None:
            return False
        probe = with_url_identity(
            self.spark.createDataFrame([(url,)], "url STRING"), "url"
        ).select("url_hash")
        return probe.join(self._seen, "url_hash", "left_semi").count() > 0

    def clear(self) -> None:
        """Reset queue AND seen set (memory_scheduler.rs clear test,
        scheduler/src/tests.rs:53-57)."""
        self._pending = []
        self._queue = None
        self._seen = None
        self._served_per_host = {}
        self._seq = 0
