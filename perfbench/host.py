"""Fit the Spark session to the host and tear it down completely.

``session.py``'s defaults are left alone; the benchmark passes the
master and the driver heap through ``build_session(extra_conf=...)``:
``local[<usable cores>]`` and 40% of ``MemTotal``. Every file Spark,
the JVM and Python write lands under the work directory.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP_SHARE = 0.4


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_gb() -> int:
    return max(1, int(mem_total_mb() * HEAP_SHARE / 1024))


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    kids = [int(c) for c in f.read().split()]
                out += kids
                todo += kids
        except FileNotFoundError:
            continue
    return out


def start_session(work_dir: str):
    """A SparkSession at local[cores] with a MemTotal-derived heap."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    tmp = os.path.join(work_dir, "tmp")
    # Python workers import the package from the checkout and write
    # their temp files inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # gettempdir() may have cached /tmp already
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    from scrapy_rs_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        master=f"local[{cores()}]",
        extra_conf={
            "spark.driver.memory": f"{heap_gb()}g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            # the traced run reads stage counters from the status store
            # after the window; keep every job and stage of a run there
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def stop_session(spark, timeout_s: float = 30.0) -> None:
    """Stop Spark, end the gateway JVM, and wait for it and its Python
    workers to exit."""
    from pyspark import SparkContext

    pid = jvm_pid(spark)
    kids = _descendants(pid)
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout_s)
    deadline = time.monotonic() + timeout_s
    for p in kids:
        while os.path.exists(f"/proc/{p}") and time.monotonic() < deadline:
            time.sleep(0.05)
