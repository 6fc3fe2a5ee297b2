"""Streaming-native crawl: the continuous analogue of the round loop.

The reference engine is continuous-async (requests flow through
channels until the scheduler drains, /root/reference/engine/src/lib.rs:519).
The batch-iterative CrawlEngine is the faithful set-oriented model
(SURVEY.md §7.0); this module is the Structured Streaming restatement
for deployments that want a *standing* crawler:

  frontier dir ──readStream──► foreachBatch(round kernel) ──┐
        ▲                                                   │
        └─────────── new candidates appended ───────────────┘

Each micro-batch is one crawl round run through the engine's own round
kernel (plans/round.py: fetch, parse, redirect following, enqueue
filters, in-batch dedup), so a micro-batch and a CrawlEngine round
build the same plan. Only two things differ from the engine:

* the seen source: batch_id=N-partitioned parquet instead of the
  CrawlStore's committed seen set;
* the feed: discovered candidates are appended back into the watched
  frontier directory, so the stream feeds itself until the frontier
  drains, instead of a committed next-round frontier.

Streaming execution is at-least-once (a crashed micro-batch replays),
so every sink write is idempotent: items/seen overwrite their
batch_id=N partition, the frontier feed materializes under
deterministic per-batch file names (the file source tracks processed
files by path), and the seen anti-join excludes the current batch's
own partition so a replay reproduces — not re-appends — its first
attempt.

Politeness in streaming mode: micro-batch duration is the round
duration, so per-host budgets discretize the same way (T1).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scrapy_rs_spark.operators.dedup import anti_join_seen, dedup_in_batch
from scrapy_rs_spark.operators.scheduler import apply_enqueue_filters
from scrapy_rs_spark.plans.round import expand_round, fetch_round
from scrapy_rs_spark.schemas import FRONTIER_COLS, FRONTIER_DDL
from scrapy_rs_spark.settings import Settings
from scrapy_rs_spark.sources.seeds import seeds_frontier


class StreamingCrawl:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        root: str,
        settings: Settings | None = None,
    ):
        self.spark = spark
        self.pages = pages
        self.settings = settings or Settings()
        self.root = root
        self.frontier_dir = os.path.join(root, "frontier_stream")
        self.seen_dir = os.path.join(root, "seen")
        self.items_dir = os.path.join(root, "items")
        self.checkpoint_dir = os.path.join(root, "checkpoint")
        os.makedirs(self.frontier_dir, exist_ok=True)

    def _load_seen(self, exclude_batch: int | None = None) -> DataFrame:
        """Seen hashes across batch_id=N partition dirs; exclude_batch
        keeps a replayed micro-batch from seeing its own first attempt."""
        if os.path.isdir(self.seen_dir) and any(
            f.endswith(".parquet")
            for _, _, fs in os.walk(self.seen_dir)
            for f in fs
        ):
            df = self.spark.read.parquet(self.seen_dir)
            if exclude_batch is not None and "batch_id" in df.columns:
                df = df.filter(F.col("batch_id") != exclude_batch)
            return df.select("url_hash")
        return self.spark.createDataFrame([], "url_hash BIGINT")

    def _next_seed_gen(self) -> int:
        """Monotonic seed generation: 1 + the largest generation already
        materialized in the frontier dir (files are tracked BY PATH by
        the file source, so a later seed() must never reuse a name)."""
        import re

        pat = re.compile(r"^seed-(\d{4})-\d{4}\.parquet$")
        gens = [
            int(m.group(1))
            for f in os.listdir(self.frontier_dir)
            if (m := pat.match(f))
        ]
        return max(gens) + 1 if gens else 0

    def seed(self, urls: list[str]) -> None:
        """Seed (or re-seed) the standing crawl. Each call is its own
        GENERATION: seed files are keyed seed-<gen>-NNNN.parquet and the
        generation's seen hashes land in their own batch_id=-(gen+1)
        partition — a second seed() call neither clobbers the first
        generation's files (which the file source, tracking paths, would
        silently never re-read) nor overwrites its seen partition."""
        df = seeds_frontier(self.spark, urls)
        df = apply_enqueue_filters(df, self.settings)
        df = dedup_in_batch(df)
        gen = self._next_seed_gen()
        staging = os.path.join(self.root, "staging", f"seed-gen{gen}")
        df.select(*FRONTIER_COLS).repartition(1).write.mode(
            "overwrite"
        ).parquet(staging)
        parts = sorted(
            f for f in os.listdir(staging)
            if f.endswith(".parquet") and not f.startswith(".")
        )
        for i, fname in enumerate(parts):
            os.replace(
                os.path.join(staging, fname),
                os.path.join(
                    self.frontier_dir, f"seed-{gen:04d}-{i:04d}.parquet"
                ),
            )
        # seeds are marked seen at enqueue; negative batch_ids key the
        # seed generations so every real batch's exclude filter (which
        # only ever excludes its own non-negative bid) keeps them all
        df.select("url_hash").write.mode("overwrite").parquet(
            os.path.join(self.seen_dir, f"batch_id=-{gen + 1}")
        )

    # ---- one micro-batch = one crawl round over new frontier files ----
    def _process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Idempotent per-batch writes: Structured Streaming re-executes
        a micro-batch after a crash (at-least-once execution), so every
        sink write is keyed by batch_id — items and seen overwrite a
        batch_id=N partition dir, and the frontier feed lands under
        deterministic file names via os.replace. A replayed batch
        rewrites the same bytes to the same paths instead of appending
        duplicates (exactly-once EFFECT through idempotence)."""
        s = self.settings
        if batch.isEmpty():
            return
        bid = int(batch_id)
        # a micro-batch is one round's staged candidate file(s) —
        # bounded and small next to the pages table, so the broadcast
        # form of the fetch join applies, as in the engine's gated
        # path; strict pacing keeps the join shape that streams the
        # paced rows. The standing crawl has no robots table, so only
        # the configured delay paces it.
        broadcast = not s.strict_delay
        fetched = fetch_round(batch, self.pages, s, broadcast_batch=broadcast)
        items, _, candidates = expand_round(
            fetched,
            bid,
            s,
            broadcast_batch=broadcast,
            follow_redirects=s.follow_redirects,
        )
        items.write.mode("overwrite").parquet(
            os.path.join(self.items_dir, f"batch_id={bid}")
        )
        # membership is judged against OTHER batches' seen partitions —
        # a replay must not see its own first attempt's hashes or the
        # anti-join would wrongly drain the batch to empty
        candidates = anti_join_seen(
            candidates, self._load_seen(exclude_batch=bid)
        ).select(*FRONTIER_COLS)
        candidates = candidates.localCheckpoint(eager=True)
        if not candidates.isEmpty():
            candidates.select("url_hash").write.mode("overwrite").parquet(
                os.path.join(self.seen_dir, f"batch_id={bid}")
            )
            # feed the stream: stage then os.replace under deterministic
            # names — the file source tracks processed files BY PATH, so
            # a replayed batch re-materializes the same paths and the
            # stream never double-reads them
            staging = os.path.join(self.root, "staging", f"batch={bid}")
            candidates.repartition(1).write.mode("overwrite").parquet(staging)
            parts = sorted(
                f for f in os.listdir(staging)
                if f.endswith(".parquet") and not f.startswith(".")
            )
            for i, fname in enumerate(parts):
                os.replace(
                    os.path.join(staging, fname),
                    os.path.join(
                        self.frontier_dir, f"batch{bid:06d}-{i:04d}.parquet"
                    ),
                )

    def run(
        self,
        seeds: list[str],
        timeout_s: float = 300.0,
        idle_stop_s: float = 15.0,
    ) -> DataFrame:
        """Seed, stream until the self-feeding frontier drains, return
        items. availableNow-style semantics with a standing query: stop
        once no batch has made progress for idle_stop_s."""
        self.seed(seeds)
        stream = (
            self.spark.readStream.schema(FRONTIER_DDL)
            .option("maxFilesPerTrigger", 64)
            .parquet(self.frontier_dir)
        )
        q = (
            stream.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(processingTime="1 second")
            .start()
        )
        t0 = time.time()
        last_progress = time.time()
        last_batches = -1
        try:
            while time.time() - t0 < timeout_s:
                time.sleep(1.0)
                p = q.lastProgress
                if p is not None:
                    n = p["numInputRows"]
                    if n and n > 0:
                        last_progress = time.time()
                    if p["batchId"] != last_batches:
                        last_batches = p["batchId"]
                if time.time() - last_progress > idle_stop_s:
                    break
        finally:
            q.stop()
        return self.items()

    def items(self) -> DataFrame:
        return self.spark.read.parquet(self.items_dir).select(
            "url", "item_type", "text", "fields", "rnd"
        )
