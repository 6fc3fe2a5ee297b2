"""crawlspark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload bulk_crawl --seed 1 --seconds 20 --trace 0

Starts a Spark session fitted to the host, sets the workload's inputs up
several times (``setup_s`` is the session start plus the median set-up),
then runs the workload in a closed loop with one client for
``--seconds``: each iteration crawls a fixed input to completion, or runs
the whole query sweep once. Outputs are checked after the window. The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (every end-to-end metric with ``--trace 0``,
every per-layer metric with ``--trace 1``). The line before it is a
report with the metrics under their workload-specific names and the
host's figures. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import host  # noqa: E402

sys.path.insert(1, host.REPO)

SETUP_REPS = 3
WORK_DIR = os.path.join(host.REPO, ".bench_work")

# name -> unit
END_TO_END = {
    "work_per_s": "1/s",
    "step_s_p50": "s",
    "setup_s": "s",
}
# name -> (unit, better)
ENGINE_LAYERS = {
    "engine.self_s": ("s", "lower"),
    "engine.jobs_per_round": ("count", "lower"),
    "engine.rounds": ("count", "lower"),
    "round_s_p90": ("s", "lower"),
    "fetch_route.s": ("s", "lower"),
    "fetch_route.shuffle_bytes": ("B", "lower"),
    "fetch_route.core_busy": ("ratio", "higher"),
    "scheduler.batch_fill": ("ratio", "higher"),
    "write_items.s": ("s", "lower"),
    "write_items.core_busy": ("ratio", "higher"),
    "write_items.jobs": ("count", "lower"),
    "write_frontier.s": ("s", "lower"),
    "write_frontier.shuffle_bytes": ("B", "lower"),
    "dedup.fresh_ratio": ("ratio", "higher"),
    "write_seen_delta.s": ("s", "lower"),
    "commit_round.s": ("s", "lower"),
    "load_frontier.s": ("s", "lower"),
    "load_seen.s": ("s", "lower"),
    "compact_seen.s": ("s", "lower"),
    "compact_seen.shuffle_bytes": ("B", "lower"),
    "store.bytes": ("B", "lower"),
    "store.seen_rows": ("count", "lower"),
}


def per_layer_specs() -> dict[str, tuple[str, str]]:
    from sweep import MODULES, QUERIES

    specs = dict(ENGINE_LAYERS)
    specs.update({f"q.{q}_s": ("s", "lower") for q in QUERIES})
    specs.update({f"{m}.shuffle_bytes": ("B", "lower") for m in MODULES})
    specs["spark.failed_tasks"] = ("count", "lower")
    # VmHWM of the driver JVM plus the Python driver; it does not repeat
    # within any useful bound from run to run, so it is no end-to-end metric
    specs["peak_rss_mb"] = ("MB", "lower")
    specs["traced.work_per_s"] = ("1/s", "higher")
    specs["traced.step_s_p50"] = ("s", "lower")
    return specs


def workloads() -> dict:
    from crawl import PoliteRecrawl
    from sweep import CurationSweep

    return {w.name: w for w in (PoliteRecrawl, CurationSweep)}


class Ops:
    """attempted / failed operation counts, with the failure messages."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def record(self, what: str, failures: list[str]) -> None:
        self.attempted += 1
        if failures:
            self.failures.append(f"{what}: {'; '.join(failures)}")

    def run(self, what: str, fn):
        try:
            return fn()
        except Exception:
            self.record(what, [traceback.format_exc(limit=3)])
            return None


def closed_loop(workload, tracer, seconds: float, ops: Ops) -> list[dict]:
    """Iterate until the next iteration would overrun the window."""
    samples: list[dict] = []
    t0 = time.perf_counter()
    while True:
        sample = ops.run(f"iteration {len(samples)}",
                         lambda: workload.iterate(tracer))
        if sample is None:
            break
        samples.append(sample)
        ops.record(f"iteration {len(samples) - 1}", [])
        typical = statistics.median(s["seconds"] for s in samples)
        if time.perf_counter() - t0 + typical > seconds:
            break
    return samples


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)

    import bench  # the repo's older harness: host calibration and CPU ticks
    from spans import Tracer

    kinds = workloads()
    if args.workload not in kinds:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(kinds)}")
    run_dir = os.path.join(WORK_DIR, args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    steal0, ticks0 = bench._cpu_ticks()
    calibration = bench._host_calibration()
    t0 = time.perf_counter()
    spark = host.start_session(WORK_DIR)
    session_s = time.perf_counter() - t0
    ops = Ops()
    try:
        cores = host.cores()
        workload = kinds[args.workload](spark, args.size, args.seed, run_dir)
        prep = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            workload.prepare()
            prep.append(time.perf_counter() - t)
        tracer = Tracer(spark.sparkContext, traced=bool(args.trace))
        samples = closed_loop(workload, tracer, args.seconds, ops)
        if not samples:
            print("\n".join(ops.failures), file=sys.stderr)
            return 1
        for what, failures in ops.run("checks", workload.check) or []:
            ops.record(what, failures)
        layers = {}
        if args.trace:
            tracer.resolve()
            layers = workload.layers(tracer, cores)
            if hasattr(workload, "additivity"):
                ops.record("round spans add up", workload.additivity(tracer))
            layers["spark.failed_tasks"] = sum(s.failed_tasks for s in tracer.spans)
        rss_mb = host.vm_hwm_mb(host.jvm_pid(spark)) + host.vm_hwm_mb()
    finally:
        host.stop_session(spark)
        shutil.rmtree(os.path.join(run_dir, "stores"), ignore_errors=True)
    steal1, ticks1 = bench._cpu_ticks()

    steps = [x for s in samples for x in s["steps"]]
    work_per_s = statistics.median(s["work"] / s["seconds"] for s in samples)
    e2e = {
        "work_per_s": work_per_s,
        "step_s_p50": statistics.median(steps),
        "setup_s": session_s + statistics.median(prep),
    }
    if args.trace:
        layers["peak_rss_mb"] = rss_mb
        layers["traced.work_per_s"] = e2e["work_per_s"]
        layers["traced.step_s_p50"] = e2e["step_s_p50"]
        specs = per_layer_specs()
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, (u, _) in specs.items()}
        with open(os.path.join(run_dir, f"trace-seed{args.seed}.json"), "w") as f:
            json.dump(trace_dump(tracer), f)
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}

    failed = len(ops.failures)
    report = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "trace": args.trace, "iterations": len(samples),
        "steps_s": steps, "setup_reps_s": prep,
        "session_s": session_s,
        "failed_frac": failed / ops.attempted,
        "failures": ops.failures,
        "host": {
            "cores": host.cores(), "heap_gb": host.heap_gb(),
            "mem_total_mb": host.mem_total_mb(), **calibration,
            "steal_pct": 100.0 * (steal1 - steal0) / max(1, ticks1 - ticks0),
        },
    }
    report.update(workload_named(args.workload, samples, steps, e2e))
    report["peak_rss_mb"] = rss_mb
    print("perfbench-report " + json.dumps(report))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": ops.attempted,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def workload_named(name: str, samples: list[dict], steps: list[float],
                   e2e: dict) -> dict:
    """The end-to-end metrics under the names the workload's users use."""
    out = {"setup_s": e2e["setup_s"]}
    if name == "curation_sweep":
        out["sweep_s"] = statistics.median(s["seconds"] for s in samples)
        out["query_s_p50"] = e2e["step_s_p50"]
    else:
        from crawl import percentile

        out["crawl_urls_per_s"] = e2e["work_per_s"]
        out["round_s_p50"] = e2e["step_s_p50"]
        out["round_s_p90"] = percentile(steps, 0.9)
    return out


def trace_dump(tracer) -> dict:
    ids = {id(s): i for i, s in enumerate(tracer.spans)}
    return {
        "spans": [
            {"id": ids[id(s)], "name": s.name, "start": s.start, "end": s.end,
             "parent": ids.get(id(s.parent)), "jobs": s.jobs,
             "stages": s.stages, "shuffle_bytes": s.shuffle_bytes,
             "run_ms": s.run_ms, "failed_tasks": s.failed_tasks}
            for s in tracer.spans
        ],
        "rounds": [
            {"start": r.start, "end": r.end,
             "children": [ids[id(c)] for c in r.children]}
            for r in tracer.rounds
        ],
    }


if __name__ == "__main__":
    sys.exit(main())
