"""SparkSession factory with crawl-tuned defaults.

Scale posture (10^10-row frontier on a 1000-executor cluster):
* AQE on — runtime coalescing, skew-join splitting for hot domains.
* Arrow on — every Python hook is a vectorized pandas UDF.
* Shuffle partitions sized for the sandbox (local[32]); on a real
  cluster this is set to ~2-3x total cores or left to AQE.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def build_session(
    app_name: str = "scrapy_rs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with crawl-engine defaults."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    shuffle = str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # broadcast small dims (robots/policy tables) aggressively
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local-mode driver heap IS the executor heap; the 4M-page
        # sustained crawl needs ~9 GB of page cache plus execution
        # memory for 32 concurrent sort-aggregates, and 8g tipped into
        # SparkOutOfMemoryError at that point. The sandbox has 128 GiB;
        # on a real cluster this knob is irrelevant (executor memory is
        # sized by the resource manager).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        # keep stdout clean: progress bars interleave with (and have
        # truncated) machine-read result lines from bench harnesses
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
