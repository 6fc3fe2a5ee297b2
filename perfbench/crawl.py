"""polite_recrawl workload: a crawl through the public CrawlEngine API.

A multi-host mock web is crawled to completion, one crawl per
closed-loop iteration, each on its own prepared store. The seed picks
the restart-list offset and the preloaded seen-hash range; it never
changes how much work a crawl does.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter
from urllib.parse import urlsplit

from pyspark.sql import functions as F

import checks
from spans import FETCH_ROUTE, GAP, Tracer

from scrapy_rs_spark.plans.engine import CrawlEngine
from scrapy_rs_spark.settings import Settings
from scrapy_rs_spark.sources.mocksite import mock_multihost_pages


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def percentile(xs: list[float], q: float) -> float:
    """The sample at quantile q of xs (nearest rank, no interpolation)."""
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


class PoliteRecrawl:
    """A wide restart list over a multi-host mock site whose per-host
    delay budget binds, resumed (``commit_round`` then ``resume()``) on
    a store preloaded with seen hashes of URLs on hosts the crawl never
    reaches, with the seen set compacted every two rounds.

    Every round runs the per-host rank, a fetch join and parse of up
    to hosts × budget pages, the enqueue anti-join against the large
    seen set, the staged writes and the commit; every second round also
    folds the seen deltas. Rounds to drain are fixed by the inputs."""

    name = "polite_recrawl"
    SIZES = {
        "full": {"pages": 6_000, "hosts": 41, "budget": 50,
                 "preload": 500_000},
        "tiny": {"pages": 200, "hosts": 5, "budget": 20, "preload": 5_000},
    }
    links = 10
    restart_step = 20  # the restart list holds every 20th page
    round_ms = 10_000

    def __init__(self, spark, size: str, seed: int, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        p = self.SIZES[size]
        self.pages_n, self.hosts = p["pages"], p["hosts"]
        self.budget, self.preload = p["budget"], p["preload"]
        self.settings = Settings(
            scheduler_type="domain_group",
            domain_delay_ms=self.round_ms // self.budget,
            round_duration_ms=self.round_ms,
            seen_compact_every=2,
        )
        offset = seed % self.restart_step
        self.seed_ids = list(range(offset, self.pages_n, self.restart_step))
        self.prepared: list[str] = []
        self.crawls: list[dict] = []

    def _url(self, i: int) -> str:
        return f"http://host{i % self.hosts}.test/{i}"

    def prepare(self) -> None:
        """Pages, the seeding commit, and round 1: the preloaded seen
        hashes, from a seed-chosen id range."""
        self.pages = mock_multihost_pages(
            self.spark, self.pages_n, self.hosts, self.links, golden_text=False
        ).localCheckpoint(eager=True)
        store = os.path.join(self.work_dir, "stores", str(len(self.prepared)))
        shutil.rmtree(store, ignore_errors=True)
        engine = CrawlEngine(self.spark, self.pages, self.settings,
                             store_path=store)
        engine.run([self._url(i) for i in self.seed_ids], max_rounds=0)
        lo = (self.seed % 1000) * 10**7
        far = self.spark.range(lo, lo + self.preload).select(
            F.xxhash64(F.concat(
                F.lit("http://far"), (F.col("id") % 1000).cast("string"),
                F.lit(".test/"), F.col("id").cast("string"),
            )).alias("url_hash")
        )
        m0 = engine.store.load_metrics()[-1]
        engine.store.commit_round(
            1, engine.store.load_frontier(0), far, None, None,
            dict(m0, round=1, new_urls=self.preload,
                 seen_size=m0["seen_size"] + self.preload),
        )
        self.prepared.append(store)

    def iterate(self, tracer: Tracer) -> dict | None:
        if not self.prepared:
            return None  # every prepared store has been crawled
        engine = CrawlEngine(self.spark, self.pages, self.settings,
                             store_path=self.prepared.pop())
        tracer.wrap_engine(engine)
        rounds_before = len(tracer.rounds)
        t0 = time.perf_counter()
        stats = engine.resume()
        seconds = time.perf_counter() - t0
        # keep only the newest crawled store on disk: the checks read it
        for old in self.crawls:
            shutil.rmtree(old["engine"].store.root, ignore_errors=True)
        crawl = {
            "engine": engine,
            "stats": stats,
            "seconds": seconds,
            "work": stats.requests,
            "steps": [r.seconds for r in tracer.rounds[rounds_before:]],
        }
        self.crawls.append(crawl)
        return crawl

    def check(self) -> list[tuple[str, list[str]]]:
        reach = checks.bfs_reach(self.seed_ids, self.pages_n, self.links)
        out = [
            (f"crawl {i} counts",
             checks.equal("requests", c["stats"].requests, len(reach))
             + checks.equal("items", c["stats"].items, len(reach)))
            for i, c in enumerate(self.crawls)
        ]
        store = self.crawls[-1]["engine"].store
        rows = store.load_items().select("url", "rnd").collect()
        per_host_round = Counter((urlsplit(r.url).hostname, r.rnd) for r in rows)
        self.seen_rows = store.load_seen().count()
        return out + [
            ("crawled set is the BFS reach", checks.exactly_once(
                "items", [r.url for r in rows], {self._url(i) for i in reach})),
            ("per-host budget", checks.within_budget(per_host_round, self.budget)),
            ("seen = preload + discovered", checks.equal(
                "seen rows", self.seen_rows, self.preload + len(reach))),
        ]

    # ---- per-layer metrics (traced run) ----
    def layers(self, tracer: Tracer, cores: int) -> dict[str, float]:
        rounds = tracer.rounds
        n = len(rounds)

        def inside(r):
            return [s for s in tracer.spans
                    if s.group is not None and r.start <= s.start < r.end]

        def total(name: str, attr: str = "seconds") -> float:
            return sum(getattr(c, attr) for r in rounds for c in r.spans(name))

        def busy(name: str) -> float:
            wall = total(name)
            return total(name, "run_ms") / 1000 / (wall * cores) if wall else 0.0

        last = self.crawls[-1]
        per_round = last["stats"].per_round
        crawled = [m for m in per_round if m["requests"] > 0]
        queued_at = {m["round"]: m.get("frontier_size", 0) for m in per_round}
        fetched = sum(m["requests"] for m in crawled)
        queued = sum(queued_at.get(m["round"] - 1, 0) for m in crawled)
        return {
            "engine.self_s": total(GAP) / n,
            "engine.jobs_per_round":
                sum(s.jobs for r in rounds for s in inside(r)) / n,
            "engine.rounds": n / len(self.crawls),
            "round_s_p90": percentile([r.seconds for r in rounds], 0.9),
            "fetch_route.s": total(FETCH_ROUTE) / n,
            "fetch_route.shuffle_bytes": total(FETCH_ROUTE, "shuffle_bytes") / n,
            "fetch_route.core_busy": busy(FETCH_ROUTE),
            "scheduler.batch_fill": fetched / queued,
            "write_items.s": total("write_items") / n,
            "write_items.core_busy": busy("write_items"),
            "write_items.jobs": total("write_items", "jobs") / n,
            "write_frontier.s": total("write_frontier") / n,
            "write_frontier.shuffle_bytes":
                total("write_frontier", "shuffle_bytes") / n,
            "dedup.fresh_ratio":
                sum(m["new_urls"] for m in crawled) / (fetched * self.links),
            "write_seen_delta.s": total("write_seen_delta") / n,
            "commit_round.s": total("commit_round") / n,
            "load_frontier.s": total("load_frontier") / n,
            "load_seen.s": sum(
                s.seconds for r in rounds for s in inside(r)
                if s.name in ("load_seen", "load_seen_delta")) / n,
            "compact_seen.s": total("compact_seen") / n,
            "compact_seen.shuffle_bytes":
                total("compact_seen", "shuffle_bytes") / n,
            "store.bytes": _du(last["engine"].store.root),
            "store.seen_rows": self.seen_rows,
        }

    def additivity(self, tracer: Tracer) -> list[str]:
        """Each round's children (fetch_route, store calls, engine gaps)
        must add up to the round's wall time."""
        out = []
        for i, r in enumerate(tracer.rounds):
            parts = sum(c.seconds for c in r.children)
            if abs(parts - r.seconds) > 1e-6 * max(1.0, r.seconds):
                out.append(f"round {i}: children {parts:.6f}s"
                           f" != wall {r.seconds:.6f}s")
        return out
