"""CrawlEngine: the set-at-a-time restatement of Engine::run().

Reference loop (/root/reference/engine/src/lib.rs:260-1140): seed →
while scheduler non-empty: pop (priority order) → request middleware →
download → response middleware → retry check → parse → enqueue new
requests → pipeline items. One crawl ROUND here is one Spark DAG:

  frontier ──rank (W1/W2, politeness budgets)──► batch
     batch ──equi-join pages (fetch)──► fetched
   fetched ──status routing──► success / redirect / retry / error
   success ──parse pandas UDF──► items + exploded links
     links ──canonicalize──► candidates ──enqueue filters──►
           ──in-batch dedup──► ──anti-join seen──► new frontier rows
  commit(frontier', seen_delta, items, metrics) → next round

The driver loop repeats until the frontier drains (scheduler empty,
lib.rs:519) or page_limit is reached. Every round is an atomic commit
(CrawlStore) → pause/resume at any round boundary (reference
save_state/load_state, lib.rs:1196-1252).

Determinism: all ordering/identity columns derive from (priority,
depth, discovery_round, discovery_seq, url) — no wall clock, no rand —
so Spark task retries and re-runs produce identical crawls.
"""

from __future__ import annotations

import tempfile
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from scrapy_rs_spark.operators.dedup import anti_join_seen, dedup_in_batch
from scrapy_rs_spark.operators.fetch import (
    build_retries,
    is_redirect,
    is_retryable,
    is_success,
)
from scrapy_rs_spark.operators.scheduler import (
    apply_enqueue_filters,
    frontier_order,
    rank_per_host,
    robots_filter,
    take_batch,
)
from scrapy_rs_spark.plans.round import expand_round, fetch_round
from scrapy_rs_spark.schemas import FRONTIER_COLS
from scrapy_rs_spark.settings import Settings
from scrapy_rs_spark.sources.seeds import seeds_frontier
from scrapy_rs_spark.sources.store import CrawlStore


# effectively-unlimited per-host budget when no politeness delay is set
_UNLIMITED = 1 << 31
# hot-host salting of the per-host rank (operators/scheduler.py
# rank_per_host): a round whose committed frontier exceeds
# SALT_MIN_FRONTIER rows ranks within (host, pmod(url_hash, HOST_SALTS))
# first, so no single task holds a whole domain; below it per-host skew
# is bounded by the threshold itself and one window suffices
HOST_SALTS = 4
SALT_MIN_FRONTIER = 1_000_000
# fetch-join strategy gate: when the committed frontier (an upper
# bound on the round's batch) is at most this many rows, the fetch
# restates the batch×pages left join as broadcast(batch)⋈pages + a
# key-only anti-join, so the pages side's html payload is scanned in
# place and never crosses an Exchange (guide §3.1: pick the join
# strategy deliberately; §2.3: shuffle keys, not payloads). Above the
# gate the plain left join (sort-merge) stands. Size to the
# executor/driver broadcast budget on a cluster (rows × ~250 B must fit
# comfortably under the 8 GB broadcast cap); this keeps broadcasts
# ≤ ~125 MB.
FETCH_BROADCAST_MAX_BATCH = 500_000


@dataclass
class CrawlStats:
    """EngineStats analogue (/root/reference/engine/src/stats/mod.rs:8-28)."""

    requests: int = 0
    responses: int = 0
    items: int = 0
    errors: int = 0
    retries: int = 0
    rounds: int = 0
    new_urls: int = 0
    # wall-clock of the run()/resume() call that produced this object
    # (stats/mod.rs:30-39 start/end times). Observational only — it
    # never feeds dataflow identity/order, and it is NOT persisted
    # (committed state stays wall-clock-free for deterministic resume).
    duration_s: float = 0.0
    per_round: list[dict] = field(default_factory=list)

    def record(self, m: dict) -> None:
        self.per_round.append(m)
        self.rounds = max(self.rounds, m["round"])
        self.requests += m["requests"]
        self.responses += m["responses"]
        self.items += m["items"]
        self.errors += m["errors"]
        self.retries += m["retries"]
        self.new_urls += m["new_urls"]

    def duration(self) -> float:
        """stats/mod.rs:41-44 analogue (seconds)."""
        return self.duration_s

    def requests_per_second(self) -> float | None:
        """stats/mod.rs:46-50: request_count / duration; None before a
        run or for a zero-length one, like the reference's Option."""
        if self.duration_s <= 0:
            return None
        return self.requests / self.duration_s


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        settings: Settings | None = None,
        robots: DataFrame | None = None,
        store_path: str | None = None,
        parse_text_udf=None,
        parse_links_udf=None,
        parse_fields_udf=None,
        request_middlewares=None,
        response_middlewares=None,
        item_pipelines=None,
        signals=None,
        spider_close_hook=None,
    ):
        self.spark = spark
        self.pages = pages
        self.settings = settings or Settings()
        # robots: a ROBOTS_SCHEMA DataFrame, or "auto" to parse
        # /robots.txt rows out of the pages table (sources/robots.py) —
        # opt-in because it adds a pages scan at construction; the
        # resulting policy table is broadcast into every round's filter
        if isinstance(robots, str) and robots == "auto":
            from scrapy_rs_spark.sources.robots import robots_from_pages

            robots = robots_from_pages(
                pages, self.settings.user_agent
            ).localCheckpoint(eager=True)
        self.robots = robots
        # X1: user parse hooks (Arrow pandas UDFs); None = pinned
        # extractors (plans/round.py). X2-X4: ordered transform chains
        # (operators/middleware.MiddlewareChain or any DataFrame→DataFrame)
        self.parse_text_udf = parse_text_udf
        self.parse_links_udf = parse_links_udf
        # DynamicItem parity (core/src/item.rs:28-36): arbitrary
        # spider-extracted fields ride in items.fields MAP<STRING,STRING>
        self.parse_fields_udf = parse_fields_udf
        self.request_middlewares = request_middlewares
        self.response_middlewares = response_middlewares
        self.item_pipelines = item_pipelines
        self.signals = signals  # plans.signals.SignalManager (X6)
        # close lifecycle (engine/src/lib.rs:1285-1420): spider close +
        # chain close hooks run at crawl exit, EACH bounded by
        # settings.close_timeout_ms so a hanging hook cannot hang exit
        self.spider_close_hook = spider_close_hook
        self.close_errors: list[dict] = []
        self.store = CrawlStore(
            spark, store_path or tempfile.mkdtemp(prefix="crawlstore_")
        )
        # cooperative pause/stop gates, checked at round boundaries —
        # the set-model restatement of the reference's Notify gates
        # (engine/src/lib.rs:1153-1193): pause() blocks the crawl loop
        # BETWEEN rounds (state is already committed there), unpause()
        # releases it, stop() ends the loop gracefully at the boundary
        import threading

        self._pause_requested = False
        self._stop_requested = False
        self._resume_event = threading.Event()
        # running seen-set size (cumulative seen-delta rows) for the
        # METRICS_SCHEMA seen_size field; re-derived from committed
        # metrics at resume()
        self._seen_total: int = 0
        # T4: driver-side resource controller (engine/src/lib.rs:155-157
        # creates one iff config.enable_resource_monitoring) — sampled
        # and throttle-checked at round boundaries, where the loop can
        # safely block (state is committed there)
        self.resource_controller = None
        if self.settings.enable_resource_monitoring:
            from scrapy_rs_spark.plans.resource_control import (
                ResourceController,
                ResourceLimits,
            )

            self.resource_controller = ResourceController(
                ResourceLimits(
                    max_memory=self.settings.max_memory_bytes,
                    max_cpu=self.settings.max_cpu_pct,
                    max_pending_requests=self.settings.max_pending_requests,
                    throttle_factor=self.settings.throttle_factor,
                    monitor_interval_ms=self.settings.monitor_interval_ms,
                ),
                spark_context=spark.sparkContext,
            )

    # ---- per-host budget for a round (politeness T1 + per-domain cap F6) ----
    @property
    def _has_host_delays(self) -> bool:
        """True when the robots policy table carries per-host
        Crawl-delay values (J6: host→politeness lookup). Cached; costs
        one tiny job on the (small, broadcastable) policy table."""
        if not hasattr(self, "_host_delays_flag"):
            flag = False
            if (
                self.robots is not None
                and self.settings.respect_robots_txt
                and "crawl_delay_ms" in self.robots.columns
            ):
                flag = not self.robots.filter(
                    F.col("crawl_delay_ms").isNotNull()
                    & (F.col("crawl_delay_ms") > 0)
                ).isEmpty()
            self._host_delays_flag = flag
        return self._host_delays_flag

    @property
    def _has_long_delays(self) -> bool:
        """True when ANY effective delay can exceed round_duration_ms —
        only then does the budget need the cross-round phase machinery
        (ceil/pmod/xxhash64 per row). Short-delay crawls take the cheap
        round/delay budget expression. Cached; at most one tiny agg on
        the broadcastable robots policy table."""
        if not hasattr(self, "_long_delays_flag"):
            s = self.settings
            if max(s.domain_delay_ms, s.download_delay_ms) > s.round_duration_ms:
                self._long_delays_flag = True
            elif not self._has_host_delays:
                self._long_delays_flag = False
            else:
                self._long_delays_flag = not self.robots.filter(
                    F.col("crawl_delay_ms") > F.lit(s.round_duration_ms)
                ).isEmpty()
        return self._long_delays_flag

    def _cap_left_col(self):
        """Remaining lifetime per-domain budget (F6). Unlike the delay
        budget this is the ONLY condition that may RETIRE frontier rows
        — a delay-gated host's rows must stay queued for a later round."""
        s = self.settings
        if s.max_requests_per_domain is None:
            return F.lit(_UNLIMITED)
        return F.lit(s.max_requests_per_domain) - F.coalesce(
            F.col("__served"), F.lit(0)
        )

    def _host_budget_col(self, served: DataFrame | None, rnd: int = 0):
        """Per-row round budget under the effective delay = the LARGER
        of the host's robots Crawl-delay (__host_delay, joined by
        _with_budget_inputs) and the global configured delay — the
        conservative reading a polite crawler takes.

        * delay ≤ round_duration: round_duration / delay requests this
          round (the per-round discretization, T1).
        * delay > round_duration (e.g. Crawl-delay: 30 vs a 10 s
          round): ONE request every ceil(delay/round_duration) rounds,
          phase-staggered by host hash so long-delay hosts don't all
          serve in the same round. Flooring at 1/round here would serve
          3× faster than the host requested.
        The per-domain lifetime cap further bounds it."""
        s = self.settings
        eff_delay, round_ms, period, phase = self._delay_schedule_cols("int")
        short_budget = F.when(eff_delay <= 0, F.lit(_UNLIMITED)).otherwise(
            F.greatest(F.lit(1), (round_ms / eff_delay).cast("int"))
        )
        if self._has_long_delays:
            on_phase = F.pmod(F.lit(rnd), period) == phase
            # eff_delay ≤ 0 falls into the ≤ round_ms branch → UNLIMITED
            budget = F.when(eff_delay <= round_ms, short_budget).otherwise(
                F.when(on_phase, F.lit(1)).otherwise(F.lit(0))
            )
        else:
            # no host's effective delay exceeds the round → the phase
            # branch is unreachable; skip the per-row ceil/pmod/xxhash64
            # entirely (the r3→r4 crawl_polite recovery)
            budget = short_budget
        if s.max_requests_per_domain is not None:
            budget = F.least(budget, self._cap_left_col())
        return budget

    def _delay_schedule_cols(self, period_type: str):
        """(eff_delay, round_ms, period, phase) columns of the per-host
        delay schedule, over rows carrying __host_delay and host (see
        _with_budget_inputs). eff_delay is the larger of the host's
        robots Crawl-delay and the global delay; a host whose eff_delay
        exceeds the round serves once every period =
        ceil(eff_delay / round_ms) rounds, on the rounds congruent to
        phase = xxhash64(host) mod period. period is cast to
        period_type: "int" in the round budget, "bigint" in resume's
        fast-forward."""
        s = self.settings
        delay = max(s.domain_delay_ms, s.download_delay_ms)
        eff_delay = F.greatest(
            F.coalesce(F.col("__host_delay"), F.lit(0)).cast("bigint"),
            F.lit(delay).cast("bigint"),
        )
        round_ms = F.lit(s.round_duration_ms).cast("bigint")
        period = F.ceil(eff_delay / round_ms).cast(period_type)
        phase = F.pmod(F.xxhash64(F.col("host")), period)
        return eff_delay, round_ms, period, phase

    def _with_budget_inputs(
        self, df: DataFrame, served: DataFrame | None
    ) -> DataFrame:
        """Attach the columns _host_budget_col reads: __served (lifetime
        per-host counts when a cap is set) and __host_delay (robots
        Crawl-delay per host when present) — both via broadcast joins of
        small tables."""
        if served is None or self.settings.max_requests_per_domain is None:
            df = df.withColumn("__served", F.lit(0))
        else:
            s = served.select(
                F.col("host").alias("__s_host"),
                F.col("served").alias("__served"),
            )
            df = df.join(
                F.broadcast(s), df["host"] == s["__s_host"], "left"
            ).drop("__s_host")
        if self._has_host_delays:
            hd = self.robots.filter(
                F.col("crawl_delay_ms").isNotNull()
            ).select(
                F.col("host").alias("__d_host"),
                F.col("crawl_delay_ms").alias("__host_delay"),
            )
            df = df.join(
                F.broadcast(hd), df["host"] == hd["__d_host"], "left"
            ).drop("__d_host")
        else:
            df = df.withColumn("__host_delay", F.lit(None).cast("bigint"))
        return df

    # ---- round-local cache hygiene ----
    def _persisted_rdd_ids(self) -> set[int]:
        try:
            jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
            return {int(k) for k in jmap.keySet().toArray()}
        except Exception:
            return set()

    def _release_round_rdds(self, before: set[int]) -> None:
        """Drop localCheckpoint blocks created during a round once the
        round is committed. Every round checkpoints its batch/fetched/
        parsed/candidates frames (html + text payloads — hundreds of MB
        per large round); the next round re-reads state from the store,
        so these blocks are dead weight that otherwise accumulates for
        the whole crawl (guide §5: unpersist when done — measured as
        round-over-round slowdown and GC pressure on the 200k crawl,
        and the dominant memory load of the 4M sustained crawl)."""
        try:
            jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
            for k in jmap.keySet().toArray():
                if int(k) not in before:
                    rdd = jmap.get(k)
                    if rdd is not None:
                        rdd.unpersist(False)
        except Exception:
            pass  # cache hygiene only — never fail a committed round

    # ---- one round ----
    def _run_round(
        self,
        rnd: int,
        frontier: DataFrame,
        served: DataFrame | None,
        pages_served_total: int,
        frontier_hint: int = 1 << 62,
    ) -> tuple[dict, bool]:
        """Run and commit round `rnd`; returns its metrics and whether
        the batch still held a row after the request middlewares."""
        _rdds_before = self._persisted_rdd_ids()
        s = self.settings
        order = frontier_order(s.scheduler_type, s.crawl_strategy)

        gated = frontier.filter(F.col("retry_not_before_round") > rnd)
        ready = frontier.filter(F.col("retry_not_before_round") <= rnd)

        if self.robots is not None and s.respect_robots_txt:
            allowed = robots_filter(ready, self.robots)
        else:
            allowed = ready

        # per-host budget rank (politeness + per-domain cap); hosts that
        # exhausted their LIFETIME cap get cap_left<=0 → rows retired
        # (counted; the reference would skip them at dequeue forever,
        # domain_group_scheduler.rs:234-238 — documented deviation:
        # we retire them so the crawl terminates). Hosts whose round
        # budget is 0 only because of delay phase-gating stay queued.
        # page_limit is the only global cap; concurrent_requests is a
        # throughput knob in the reference (not a semantic boundary), so
        # a round fetches every politeness-eligible row.
        batch_cap = None
        if s.page_limit is not None:
            batch_cap = max(0, s.page_limit - pages_served_total)

        delay = max(s.domain_delay_ms, s.download_delay_ms)
        unlimited = (
            delay <= 0
            and s.max_requests_per_domain is None
            and not self._has_host_delays
        )
        # page_limit and request middlewares are the only steps that can
        # drop a politeness-eligible row from the batch
        shrinks = batch_cap is not None or self.request_middlewares is not None
        leftover = None
        if unlimited:
            # no politeness, no cap → no per-host rank at all; every
            # allowed row is eligible, robots-blocked rows are retired
            eligible = allowed
        else:
            allowed = self._with_budget_inputs(allowed, served)
            budget = self._host_budget_col(served, rnd)
            # ONE rank yields batch and leftover. Salting only pays once
            # a hot host can outgrow a task: below the threshold the rank
            # is a single window per host. The checkpoint is lazy only
            # above its exchange: under AQE, building it runs the rank's
            # shuffle-map stage at once; the round's first action (the
            # counter agg reads batch → ranked) runs the Window and
            # caches its rows
            ranked = rank_per_host(
                allowed.withColumn("__budget", budget),
                F.col("__budget"),
                order,
                salts=HOST_SALTS if frontier_hint > SALT_MIN_FRONTIER else 1,
            ).localCheckpoint(eager=False)
            rank = F.col("host_rank")
            eligible = ranked.filter(rank <= F.col("__budget"))
            # over-budget rows (NULL = ruled out by the salted phase 1)
            # stay queued — INCLUDING delay-gated hosts whose round
            # budget is 0 (they serve in a later round); only
            # lifetime-cap-exhausted hosts are retired
            leftover = ranked.filter(
                (rank.isNull() | (rank > F.col("__budget")))
                & (self._cap_left_col() > 0)
            ).select(*FRONTIER_COLS)

        batch = take_batch(eligible, order, batch_cap).select(
            *FRONTIER_COLS, "batch_rank"
        )
        if self.request_middlewares is not None:
            batch = self.request_middlewares(batch)  # X2
        if unlimited or shrinks:
            # a budget-only batch is a filter over the ranked checkpoint;
            # any other batch is checkpointed here. Its plan (a filter and
            # the capped top-k) holds no AQE exchange, so nothing runs
            # until the counter agg below caches it for every later
            # consumer; a middleware that shuffles would run that shuffle
            # when the checkpoint is built
            batch = batch.localCheckpoint(eager=False)
        if shrinks:
            # eligible rows that page_limit or a middleware dropped stay
            # queued; the anti-join is batch-sized, never frontier-sized
            # when a budget binds
            dropped = eligible.join(
                batch.select("url_hash"), "url_hash", "left_anti"
            ).select(*FRONTIER_COLS)
            leftover = (
                dropped if leftover is None else leftover.unionByName(dropped)
            )

        # ---- fetch (J2) + route ----
        # broadcast-batch fetch when the committed frontier size (an
        # upper bound on this batch) fits the broadcast gate: the pages
        # side — whose html payload dominates — is then scanned in
        # place instead of sort-merge-shuffled every round. Strict
        # pacing keeps the join shape that streams the paced rows.
        broadcast = (
            frontier_hint <= FETCH_BROADCAST_MAX_BATCH
            and not s.strict_delay
        )
        fetched = fetch_round(
            batch,
            self.pages,
            s,
            broadcast_batch=broadcast,
            host_delays=self.robots if self._has_host_delays else None,
            response_middlewares=self.response_middlewares,
        )
        # ONE aggregation for all route counters (5 counts = 1 job, not 5
        # — per-round driver actions are the fixed cost of a round); it
        # also materializes the fetched checkpoint
        st = F.col("status")
        crow = fetched.agg(
            F.count("*").alias("n"),
            F.sum(is_success(st).cast("long")).alias("ok"),
            F.sum(is_redirect(st).cast("long")).alias("red"),
            F.sum(is_retryable(st).cast("long")).alias("rty"),
            F.sum(
                (
                    ~is_success(st) & ~is_redirect(st) & ~is_retryable(st)
                ).cast("long")
            ).alias("err"),
        ).collect()[0]
        n_batch = crow["n"] or 0
        n_success = crow["ok"] or 0
        n_redirect = crow["red"] or 0
        n_retry_in = crow["rty"] or 0
        n_error = crow["err"] or 0
        # response middlewares run after the fetch, so an empty `fetched`
        # proves an empty batch only without them
        queued = n_batch > 0 or (
            self.response_middlewares is not None and not batch.isEmpty()
        )

        # ---- parse (X1) → items + candidates ----
        # the redirect chain (UDF + union) is skipped when the round saw
        # no 3xx — or when follow_redirects is off, in which case 3xx
        # rows are terminal responses (counted, never re-enqueued)
        items, obs_raw, candidates = expand_round(
            fetched,
            rnd,
            s,
            broadcast_batch=broadcast,
            follow_redirects=n_redirect > 0 and s.follow_redirects,
            parse_text_udf=self.parse_text_udf,
            parse_links_udf=self.parse_links_udf,
            parse_fields_udf=self.parse_fields_udf,
        )
        obs_out = None
        if self.item_pipelines is not None:
            items = self.item_pipelines(items)  # X4
            obs_out = Observation(f"items_out_r{rnd}")
            items = items.observe(obs_out, F.count(F.lit(1)).alias("n"))

        # ---- seen anti-join (J1) ----
        # one materialization — candidates feed the count, the seen delta,
        # and the frontier commit; without this the parse-UDF chain would
        # recompute 3-4× per round. The seen set is read from the store
        # every round, one scan over all committed deltas. Not lazy under
        # AQE: building the checkpoint runs the stages below its
        # exchanges (the parse and in-batch dedup map side, the seen
        # scan) on the spot; the frontier write below runs the
        # anti-join's last stage and caches the rows
        candidates = (
            anti_join_seen(candidates, self.store.load_seen())
            .select(*FRONTIER_COLS)
            .localCheckpoint(eager=False)
        )

        # ---- retries (J5/X5): skipped entirely on clean rounds ----
        retries = (
            None
            if n_retry_in == 0
            else build_retries(fetched.filter(is_retryable(st)), rnd, s)
        )

        next_frontier = gated.select(*FRONTIER_COLS)
        if leftover is not None:
            next_frontier = next_frontier.unionByName(leftover)
        next_frontier = next_frontier.unionByName(candidates)
        if retries is not None:
            next_frontier = next_frontier.unionByName(retries)

        # ---- commit (S9): seen grows at enqueue time, like the reference ----
        seen_delta = candidates.select("url_hash")
        if s.max_requests_per_domain is not None:
            new_served = batch.groupBy("host").agg(
                F.count("*").cast("long").alias("served")
            )
            if served is not None:
                new_served = (
                    new_served.unionByName(served)
                    .groupBy("host")
                    .agg(F.sum("served").alias("served"))
                )
        else:
            new_served = None  # lifetime per-host accounting only with a cap

        # items are written first (inside the round dir, still invisible
        # until MANIFEST) so the observations attached to the items plan
        # resolve — item/decode-error counts cost no extra jobs.
        # The three staged writes run SERIALLY on the driver thread, by
        # measurement: overlapping them from a thread pool was tried
        # this round and reverted — concurrent consumers of the lazily
        # localCheckpointed candidates RDD race its checkpoint
        # finalization (the first completed job truncates lineage while
        # a sibling job is mid-schedule), which showed up as bursts of
        # DAGScheduler accumulator-update failures, slower sustained
        # crawls, and one outright write failure at the 4M design point.
        self.store.begin_round(rnd)
        self.store.write_items(rnd, items)
        raw = obs_raw.get
        n_parsed = int(raw["n"] or 0)
        n_null_text = int(raw["n_null"] or 0)
        if obs_out is not None:
            n_items = int(obs_out.get["n"] or 0)
        else:
            n_items = n_parsed - n_null_text

        metrics = {
            "round": rnd,
            "requests": n_batch,
            "responses": n_success + n_redirect,
            "items": n_items,
            "errors": n_error,
            "retries": 0,  # filled below
            "new_urls": 0,  # filled below
        }
        # frontier staged next (still invisible until MANIFEST): its
        # write runs the candidates checkpoint's last stage (the stages
        # below its exchanges ran when it was built), and an Observation
        # riding it returns BOTH the committed frontier size and the
        # new-URL count — within this round, candidate rows (parsed
        # links + redirects, post filter/dedup/anti-join) are exactly
        # the discovery_round == rnd+1 rows of the union;
        # leftover/gated/retry rows are all older. This replaces the standalone candidates.count() job AND
        # the crawl loop's per-round frontier.isEmpty() probe — two
        # driver round-trips off the fixed per-round job floor.
        obs_fr = Observation(f"frontier_r{rnd}")
        next_frontier = next_frontier.observe(
            obs_fr,
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("discovery_round") == F.lit(rnd + 1)).cast("long")
            ).alias("n_new"),
        )
        self.store.write_frontier(rnd, next_frontier)
        # seen delta staged last (reads the now-cached candidates
        # partitions); commit_round below seals metrics + MANIFEST
        self.store.write_seen_delta(rnd, seen_delta)
        fr_vals = obs_fr.get
        n_new = int(fr_vals["n_new"] or 0)
        n_retries_requeued = 0 if retries is None else retries.count()
        n_exhausted = n_retry_in - n_retries_requeued
        metrics["retries"] = n_retries_requeued
        # decode failures (text NULL) are errors, not items — the page
        # fetched but produced nothing (text.py error-channel contract)
        metrics["errors"] = n_error + n_exhausted + n_null_text
        metrics["new_urls"] = n_new
        metrics["frontier_size"] = int(fr_vals["n"] or 0)
        # seen grows only at enqueue: cumulative seen-delta rows
        self._seen_total += n_new
        metrics["seen_size"] = self._seen_total

        self.store.commit_round(
            rnd,
            None,  # frontier already staged above
            None,  # seen delta already staged above
            None,  # items already written above
            new_served,
            metrics,
            clean=False,
        )
        self._release_round_rdds(_rdds_before)
        return metrics, queued

    # ---- public API (X7 parity: Engine::run → stats) ----
    def run(
        self,
        seeds: list | DataFrame,
        max_rounds: int = 1_000,
    ) -> CrawlStats:
        import time as _time

        _t_run = _time.monotonic()
        s = self.settings
        # a store with committed rounds must be resumed, not re-seeded:
        # re-running run() would commit fresh seeds as round 0 while
        # resume() continues from the OLD latest frontier, silently
        # ignoring the new seeds and returning stale state
        prior = self.store.latest_round()
        if prior is not None:
            raise RuntimeError(
                f"store at {self.store.root} already has committed rounds"
                f" (latest={prior}); call resume() to continue that crawl,"
                " or point store_path at a fresh directory"
            )
        seeds_df = seeds_frontier(self.spark, seeds)
        # invalid URLs error at Request construction in the reference
        # (request.rs:107-108) — reject at enqueue, never fetch/retry.
        # Both seed counters ride Observations on the frontier WRITE
        # (the same trick the round loop uses): one execution of the
        # seeds plan — canonicalize UDF included — instead of two
        # standalone counts plus a write
        obs_valid = Observation("seed_validity")
        seeds_df = seeds_df.observe(
            obs_valid,
            F.sum(F.col("url_canon").isNull().cast("long")).alias(
                "n_invalid"
            ),
        ).filter(F.col("url_canon").isNotNull())
        frontier0 = apply_enqueue_filters(seeds_df, s)
        frontier0 = dedup_in_batch(frontier0)
        obs_fr0 = Observation("seed_frontier")
        frontier0 = frontier0.observe(
            obs_fr0, F.count(F.lit(1)).alias("n")
        )
        # round 0 = seeding commit: enqueue marks seen immediately
        # (memory_scheduler.rs:40-46). The frontier is staged first so
        # the observations resolve; the seen delta then reads the
        # committed parquet back instead of re-running the seeds plan
        self.store.begin_round(0)
        self.store.write_frontier(0, frontier0)
        invalid = int(obs_valid.get["n_invalid"] or 0)
        n_seeds = int(obs_fr0.get["n"] or 0)
        frontier0_disk = self.store.load_frontier(0)
        self.store.commit_round(
            0,
            None,  # staged above
            frontier0_disk.select("url_hash"),
            None,
            None,
            {
                "round": 0,  # seeds are marked seen at enqueue
                "requests": 0,
                "responses": 0,
                "items": 0,
                "errors": invalid,
                "retries": 0,
                "new_urls": n_seeds,
                "frontier_size": n_seeds,
                "seen_size": n_seeds,
            },
            clean=False,
        )
        stats = self.resume(max_rounds=max_rounds)
        # run()'s duration includes the seeding commit above
        stats.duration_s = _time.monotonic() - _t_run
        return stats

    # ---- cooperative pause/stop (reference Notify gates,
    #      engine/src/lib.rs:1153-1193; signals engine_paused/resumed) ----
    def pause(self) -> None:
        """Request a pause: the crawl loop blocks at the NEXT round
        boundary (after the in-flight round commits) and emits
        engine_paused; unpause() releases it. Thread-safe — call from
        another thread or from a signal handler.

        A pause issued while no crawl loop is running is discarded when
        the next run()/resume() starts (a stale flag would otherwise
        wedge it forever, ADVICE r3); to pause a crawl right after
        launching it from another thread, wait for the engine_started
        signal before calling pause()."""
        self._pause_requested = True

    def unpause(self) -> None:
        """Release a pause() gate; the loop emits engine_resumed and
        continues. (Named unpause — resume() restarts a crawl from its
        committed store, the reference's load_state analogue.)"""
        self._resume_event.set()

    def stop(self) -> None:
        """Request a graceful stop at the next round boundary (emits
        engine_stopping; committed state remains resumable). Also
        releases an active pause so a paused crawl can stop."""
        self._stop_requested = True
        self._resume_event.set()

    def _emit(self, signal: str, payload: dict) -> None:
        if self.signals is not None:
            self.signals.send(signal, payload)

    def _run_close_hooks(self) -> list[dict]:
        """Run spider → response-middleware → request-middleware →
        pipeline close hooks at crawl exit, EACH bounded by
        settings.close_timeout_ms (the reference wraps every close in a
        5 s timeout, engine/src/lib.rs:1285-1420). A hook that exceeds
        the bound is abandoned on a daemon thread and recorded as an
        error — crawl exit and the final spider_closed/engine_stopped
        signals are never blocked by user code. Returns the recorded
        errors (also kept on self.close_errors)."""
        import threading
        import warnings

        hooks: list[tuple[str, object]] = []
        if self.spider_close_hook is not None:
            hooks.append(("spider", self.spider_close_hook))
        for chain in (
            self.response_middlewares,
            self.request_middlewares,
            self.item_pipelines,
        ):
            get = getattr(chain, "close_hooks", None)
            if callable(get):
                hooks.extend(get())
        errors: list[dict] = []
        timeout_s = self.settings.close_timeout_ms / 1000.0
        for name, fn in hooks:
            raised: list[str] = []

            def _target(fn=fn, raised=raised):
                try:
                    fn()
                except Exception as e:  # recorded, never propagated
                    raised.append(f"{type(e).__name__}: {e}")

            t = threading.Thread(
                target=_target, daemon=True, name=f"close:{name}"
            )
            t.start()
            t.join(timeout_s)
            if t.is_alive():
                msg = (
                    f"close hook '{name}' still running after"
                    f" {self.settings.close_timeout_ms} ms — abandoned"
                )
                warnings.warn(msg, RuntimeWarning, stacklevel=2)
                errors.append({"hook": name, "error": msg})
            elif raised:
                warnings.warn(
                    f"close hook '{name}' raised: {raised[0]}",
                    RuntimeWarning,
                    stacklevel=2,
                )
                errors.append({"hook": name, "error": raised[0]})
        self.close_errors = errors
        return errors

    def resume(self, max_rounds: int = 1_000) -> CrawlStats:
        """Continue from the latest committed round (pause/resume T5)."""
        from scrapy_rs_spark.plans.signals import (
            ENGINE_PAUSED,
            ENGINE_RESUMED,
            ENGINE_STARTED,
            SPIDER_OPENED,
        )

        import time as _time

        _t_start = _time.monotonic()
        stats = CrawlStats()
        # a prior stop() leaves the resume event set; a stale set event
        # would make the next pause() fall straight through. Likewise a
        # pause() issued during (or after) the previous run's final
        # round leaves _pause_requested set — without the reset the next
        # run/resume would block forever at its first round boundary
        # waiting for an unpause nobody will send
        self._resume_event.clear()
        self._pause_requested = False
        committed_metrics = self.store.load_metrics()
        for m in committed_metrics:
            stats.record(m)
        self._seen_total = sum(
            int(m.get("new_urls", 0)) for m in committed_metrics
        )
        last = self.store.latest_round()
        if last is None:
            raise RuntimeError("nothing to resume: no committed rounds")
        self._emit(ENGINE_STARTED, {"resume_from": last})
        self._emit(SPIDER_OPENED, {"resume_from": last})
        frontier = self.store.load_frontier(last)
        served = self.store.load_host_served(last) if last > 0 else None
        pages_served = stats.requests
        rnd = last
        # exact committed-frontier size, carried from metrics: each
        # round's frontier write observes its own row count
        # (frontier_size), so the loop never runs an isEmpty/count job
        # against a frontier it just committed. None = unknown (store
        # committed by a pre-frontier_size build) → fall back to probing.
        last_m = committed_metrics[-1] if committed_metrics else None
        fr_size = (
            int(last_m["frontier_size"])
            if last_m is not None and "frontier_size" in last_m
            else None
        )
        # frontier-size hint for the salted-rank choice (HOST_SALTS)
        # AND the fetch-join broadcast gate (exact when metrics carry
        # it; never undercounts either way). Budget paths need a hint
        # to pick the rank shape, so they probe when metrics lack one;
        # unlimited crawls just skip the broadcast gate in that case.
        fhint = fr_size
        delay = max(self.settings.domain_delay_ms,
                    self.settings.download_delay_ms)
        if fhint is None and (
            delay > 0
            or self.settings.max_requests_per_domain is not None
        ):
            fhint = frontier.count()
        while rnd < max_rounds:
            if self._stop_requested:
                break
            if self._pause_requested:
                # round boundary: state for round `rnd` is committed, so
                # a paused crawl is exactly a resumable store + a gate
                self._emit(ENGINE_PAUSED, {"round": rnd})
                self._resume_event.wait()
                self._resume_event.clear()
                self._pause_requested = False
                if self._stop_requested:
                    break
                self._emit(ENGINE_RESUMED, {"round": rnd})
            if (
                self.settings.page_limit is not None
                and pages_served >= self.settings.page_limit
            ):
                break
            if fr_size == 0 or (fr_size is None and frontier.isEmpty()):
                break
            committed = rnd + 1
            m, queued = self._run_round(
                committed, frontier, served, pages_served,
                frontier_hint=fhint if fhint is not None else 1 << 62,
            )
            fr_size = m["frontier_size"]
            fhint = fr_size
            stats.record(m)
            if self.signals is not None:
                self.signals.emit_round(m)
            pages_served += m["requests"]
            if self.resource_controller is not None:
                # pending_requests = the frontier size this round just
                # observed on its own write — zero extra Spark jobs,
                # the scheduler.len() feed of lib.rs:1093-1103
                self.resource_controller.update(
                    pending_requests=fr_size if fr_size is not None else 0
                )
                self.resource_controller.throttle_if_needed()
            frontier = self.store.load_frontier(committed)
            if self.settings.max_requests_per_domain is not None:
                served = self.store.load_host_served(committed)
            if committed % self.settings.seen_compact_every == 0:
                # keep the seen scan a few directories wide (deltas
                # pile up one per round)
                self.store.compact_seen()
            rnd = committed
            if m["requests"] == 0 and m["new_urls"] == 0:
                # the round served nothing: fast-forward to the earliest
                # round a row can serve (a Crawl-delay-30 host against a
                # 10 s round would otherwise cost 2 empty commits per
                # fetch). When the batch was empty after the request
                # middlewares, a row that could serve in rnd was dropped
                # by one and would be again (rounds are deterministic):
                # only rows gated past rnd count, and with none the crawl
                # ends, rows still queued. A batch that a response
                # middleware emptied proves nothing — every row counts.
                if not fr_size:
                    break
                nxt = F.greatest(
                    F.col("retry_not_before_round").cast("bigint"),
                    F.lit(rnd + 1 if queued else rnd).cast("bigint"),
                )
                rows = frontier
                if self._has_long_delays:
                    # phase-aware fast-forward whenever ANY delay (robots
                    # per-host OR global download/domain delay) exceeds
                    # the round — exactly the rounds where the budget
                    # phase-gates; _with_budget_inputs leaves
                    # __host_delay NULL when robots delays are absent so
                    # eff_delay falls back to the global delay
                    rows = self._with_budget_inputs(frontier, None)
                    eff_delay, round_ms, period, phase = (
                        self._delay_schedule_cols("bigint")
                    )
                    # first on-phase round ≥ the row's retry gate
                    nxt = F.when(
                        eff_delay > round_ms,
                        nxt + F.pmod(phase - nxt, period),
                    ).otherwise(nxt)
                target = rows.agg(
                    F.min(F.when(nxt > rnd, nxt))
                ).collect()[0][0]
                if target is None:
                    break
                if target > rnd + 1:
                    rnd = int(target) - 1
        from scrapy_rs_spark.plans.signals import (
            ENGINE_STOPPED,
            ENGINE_STOPPING,
            SPIDER_CLOSED,
        )

        final = {"requests": stats.requests, "items": stats.items,
                 "errors": stats.errors, "rounds": stats.rounds,
                 "stopped_by_request": self._stop_requested}
        self._emit(ENGINE_STOPPING, final)
        # close hooks run between stopping and closed, like the
        # reference; each is timeout-bounded so the final signals below
        # fire even when a hook hangs
        close_errors = self._run_close_hooks()
        if close_errors:
            final["close_errors"] = close_errors
        self._emit(SPIDER_CLOSED, final)
        self._emit(ENGINE_STOPPED, final)
        self._stop_requested = False  # the store stays resumable
        stats.duration_s = _time.monotonic() - _t_start
        return stats

    def get_resource_stats(self):
        """Current ResourceStats snapshot, or None when resource
        monitoring is disabled (engine/src/lib.rs:1265-1272)."""
        if self.resource_controller is None:
            return None
        return self.resource_controller.get_stats()

    # convenience accessors
    def items(self) -> DataFrame:
        return self.store.load_items()

    def seen(self) -> DataFrame:
        return self.store.load_seen()

    def frontier(self) -> DataFrame:
        last = self.store.latest_round()
        return self.store.load_frontier(last)
