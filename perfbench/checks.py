"""Correctness checks over values collected from a run.

Each check returns a list of failure messages; an empty list passes.
They take plain Python values, so a check can be tested without Spark.
"""

from __future__ import annotations

from collections import Counter


def equal(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got}, expected {want}"]


def exactly_once(what: str, got: list, want: set) -> list[str]:
    """Every expected value appears exactly once, and nothing else."""
    counts = Counter(got)
    dup = sorted(v for v, n in counts.items() if n > 1)
    missing = sorted(want - counts.keys())
    extra = sorted(counts.keys() - want)
    out = []
    for label, vals in (("repeated", dup), ("missing", missing),
                        ("unexpected", extra)):
        if vals:
            out.append(f"{what}: {len(vals)} {label}, e.g. {vals[:3]}")
    return out


def within_budget(per_host_round: dict[tuple[str, int], int],
                  budget: int) -> list[str]:
    """No host is fetched more than its per-round budget in any round."""
    over = sorted(k for k, n in per_host_round.items() if n > budget)
    if not over:
        return []
    return [f"{len(over)} (host, round) pairs over budget {budget},"
            f" e.g. {over[:3]}"]


def bfs_reach(seeds: list[int], page_count: int, links: int) -> set[int]:
    """Pages reachable from the seeds in the mock site's closed-form
    graph, where page i links to (i + k + 1) % page_count, k < links."""
    reach, todo = set(seeds), list(seeds)
    while todo:
        i = todo.pop()
        for k in range(links):
            j = (i + k + 1) % page_count
            if j not in reach:
                reach.add(j)
                todo.append(j)
    return reach


def sweep_matches(got: dict[str, tuple[int, int]],
                  reference: dict[str, list[int]]) -> dict[str, str]:
    """{query: failure} for each query whose (rows, checksum) differs
    from the reference."""
    out = {}
    for name, (rows, checksum) in got.items():
        want = reference.get(name)
        if want is None:
            out[name] = "no reference"
        elif [rows, checksum] != list(want):
            out[name] = f"got rows={rows} checksum={checksum}, expected {want}"
    return out
