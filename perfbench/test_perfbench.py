"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The smoke tests run every workload at tiny size through the same
command line the benchmark is driven by, with and without tracing.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import run  # noqa: E402

WORKLOADS = ("polite_recrawl", "curation_sweep")


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_code():
    spec = _benchmark_json()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert sorted(run.workloads()) == sorted(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == (
        run.per_layer_specs()
    )


def test_wrong_expected_values_fail():
    assert checks.equal("rows", 3, 3) == []
    assert checks.equal("rows", 3, 4)
    urls = ["u0", "u1", "u2"]
    assert checks.exactly_once("items", urls, {"u0", "u1", "u2"}) == []
    assert checks.exactly_once("items", urls, {"u0", "u1", "u2", "u3"})
    assert checks.exactly_once("items", urls + ["u0"], {"u0", "u1", "u2"})
    assert checks.within_budget({("h0", 1): 2, ("h1", 1): 1}, 2) == []
    assert checks.within_budget({("h0", 1): 3}, 2)
    assert checks.bfs_reach([0], 10, 2) == set(range(10))
    assert checks.bfs_reach([0], 10, 0) == {0}
    reference = {"q": [5, 123]}
    assert checks.sweep_matches({"q": (5, 123)}, reference) == {}
    assert "q" in checks.sweep_matches({"q": (5, 124)}, reference)
    assert "q" in checks.sweep_matches({"q": (6, 123)}, reference)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(HERE),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    assert lines[-2].startswith("perfbench-report ")
    return json.loads(lines[-2].split(" ", 1)[1]), json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_metric(workload, trace):
    report, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, report["failures"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    want = (run.END_TO_END if trace == 0 else
            {k: u for k, (u, _) in run.per_layer_specs().items()})
    assert {k: m["unit"] for k, m in result["metrics"].items()} == want
    for m in result["metrics"].values():
        assert isinstance(m["value"], float)
    named = ("sweep_s",) if workload == "curation_sweep" else (
        "crawl_urls_per_s", "round_s_p50", "round_s_p90")
    for key in named + ("setup_s", "peak_rss_mb", "failed_frac"):
        assert key in report
    if trace == 0:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    elif workload == "curation_sweep":
        assert all(result["metrics"][f"q.{q}_s"]["value"] > 0
                   for q in __import__("sweep").QUERIES)
    else:
        assert result["metrics"]["engine.rounds"]["value"] >= 1
        assert result["metrics"]["fetch_route.s"]["value"] > 0
