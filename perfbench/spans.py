"""Spans recorded from outside the program, around its public calls.

``Tracer`` wraps the public methods of one ``CrawlEngine`` and its
``CrawlStore`` (and, through ``span()``, any other call such as a
query) and keeps every span in memory. A crawl round runs from one
``commit_round`` returning to the next one's. Inside a round the store
calls that stage or commit state are the round's children; the time
between them is either ``fetch_route`` (the stretch that ends at
``begin_round``: rank, batch, the fetch join and the route counters)
or engine self time. ``load_seen`` / ``load_seen_delta`` calls nest
inside whichever span is open.

With ``traced=True`` every span also gets its own Spark job group, so
after the run ``resolve()`` can charge each span the jobs, stages,
shuffle bytes, executor run time and failed tasks Spark recorded for
it (``statusTracker().getJobIdsForGroup`` plus the status store, which
works with the UI off). Without tracing, spans are timed only.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

# store calls that split a round into phases
PHASES = ("begin_round", "write_items", "write_frontier", "write_seen_delta",
          "commit_round", "load_frontier", "compact_seen")
# store calls that nest inside the open span
NESTED = ("load_seen", "load_seen_delta")
GAP = "engine.gap"
FETCH_ROUTE = "fetch_route"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: Span | None = None
    group: str | None = None
    jobs: int = 0
    stages: int = 0
    shuffle_bytes: int = 0
    run_ms: int = 0
    failed_tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Round:
    start: float
    end: float = 0.0
    children: list[Span] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def spans(self, name: str) -> list[Span]:
        return [c for c in self.children if c.name == name]


class Tracer:
    def __init__(self, sc, traced: bool):
        self.sc = sc
        self.traced = traced
        self.spans: list[Span] = []
        self.rounds: list[Round] = []
        self._stack: list[Span] = []
        self._groups = 0
        self._round: Round | None = None
        self._gap: Span | None = None

    # ---- job groups ----
    def _set_group(self, span: Span | None) -> None:
        if not self.traced:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            return
        if span.group is None:
            self._groups += 1
            span.group = f"perfbench-{self._groups}"
        self.sc.setJobGroup(span.group, span.name)

    def _open(self, name: str, now: float) -> Span:
        parent = self._stack[-1] if self._stack else self._gap
        span = Span(name, now, parent=parent)
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        return span

    def _close(self, span: Span, now: float) -> None:
        span.end = now
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else self._gap)

    @contextlib.contextmanager
    def span(self, name: str):
        span = self._open(name, time.perf_counter())
        try:
            yield span
        finally:
            self._close(span, time.perf_counter())

    # ---- round gaps ----
    def _open_gap(self, now: float) -> None:
        self._gap = Span(GAP, now)
        self.spans.append(self._gap)
        self._set_group(self._gap)

    def _close_gap(self, now: float, name: str) -> None:
        gap, self._gap = self._gap, None
        gap.name, gap.end = name, now
        if self._round is not None:
            self._round.children.append(gap)

    # ---- wrappers ----
    def wrap_store(self, store) -> None:
        for name in PHASES:
            setattr(store, name, self._phase(name, getattr(store, name)))
        for name in NESTED:
            setattr(store, name, self._nested(name, getattr(store, name)))

    def wrap_engine(self, engine) -> None:
        self.wrap_store(engine.store)
        for name in ("run", "resume"):
            setattr(engine, name, self._crawl(getattr(engine, name)))

    def _crawl(self, fn):
        def crawl(*args, **kwargs):
            if self._round is not None:  # run() calls resume()
                return fn(*args, **kwargs)
            # the crawl span takes no job group: its jobs are charged to
            # the phases and gaps inside it
            top = Span("crawl", time.perf_counter())
            self.spans.append(top)
            self._round = Round(top.start)
            self._open_gap(top.start)
            try:
                return fn(*args, **kwargs)
            finally:
                top.end = time.perf_counter()
                self._close_gap(top.end, "engine.tail")
                self._round = None
                self._set_group(None)
        return crawl

    def _phase(self, name: str, fn):
        def phase(*args, **kwargs):
            if self._stack or self._round is None:
                with self.span(name):
                    return fn(*args, **kwargs)
            now = time.perf_counter()
            self._close_gap(now, FETCH_ROUTE if name == "begin_round" else GAP)
            span = self._open(name, now)
            try:
                return fn(*args, **kwargs)
            finally:
                end = time.perf_counter()
                self._close(span, end)
                self._round.children.append(span)
                if name == "commit_round":
                    done, self._round = self._round, Round(end)
                    done.end = end
                    # round 0 is the seeding commit, not a crawl round
                    if (args[0] if args else kwargs["rnd"]) > 0:
                        self.rounds.append(done)
                self._open_gap(end)
        return phase

    def _nested(self, name: str, fn):
        def nested(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return nested

    # ---- Spark counters ----
    def resolve(self) -> None:
        """Charge each span the Spark jobs run under its job group."""
        if not self.traced:
            return
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:  # older/newer Spark without the method
            time.sleep(1.0)
        tracker = self.sc.statusTracker()
        status = jsc.statusStore()
        counted: set[int] = set()
        for span in sorted(self.spans, key=lambda s: s.start):
            if span.group is None:
                continue
            jobs = tracker.getJobIdsForGroup(span.group)
            span.jobs = len(jobs)
            for job in sorted(jobs):
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info is not None else ():
                    if sid in counted:  # a reused stage is charged once
                        continue
                    counted.add(sid)
                    stage = status.lastStageAttempt(sid)
                    span.stages += 1
                    span.shuffle_bytes += stage.shuffleWriteBytes()
                    span.run_ms += stage.executorRunTime()
                    span.failed_tasks += stage.numFailedTasks()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]
