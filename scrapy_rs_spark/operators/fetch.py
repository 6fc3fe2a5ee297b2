"""Fetch stage: frontier batch × pages table, status routing, retries.

The sandbox has no live HTTP; the Common-Crawl-style pages table IS the
web (BASELINE.json input_hint). Fetch = equi join on the canonical URL:
the set-at-a-time restatement of HttpDownloader::download
(/root/reference/downloader/src/lib.rs:176-235) and download_many
(:65-68 — a join does the whole batch's fan-out).

Routing after fetch mirrors the reference's classification:
  * success  = 200..299 (/root/reference/core/src/response.rs:121-123)
  * redirect = 301,302,303,307,308 (:126-142), Location resolved
    against the base URL, bounded by max_redirects
    (/root/reference/core/src/request.rs:97-99, default 10)
  * retryable = 5xx + 429 + 408 (+ missing page ≈ connection error)
    per /root/reference/core/src/error.rs:446-472 and RetryMiddleware
    defaults /root/reference/middleware/src/lib.rs:371-374
  * permanent errors (404 etc.) → error channel, no retry

Retry backoff: base * factor^retry_count, capped — error_handler.rs
(/root/reference/core/src/error_handler.rs:152-157) — discretized to
rounds: retry_not_before_round = round + ceil(backoff_ms / round_ms).
Retried rows bypass the seen filter explicitly (the reference would
silently drop them at re-enqueue since enqueue marks seen first,
memory_scheduler.rs:40-46 — quirk J5 in SURVEY.md; we route retries
around the seen check, membership unchanged).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from scrapy_rs_spark.schemas import FRONTIER_COLS

REDIRECT_STATUSES = [301, 302, 303, 307, 308]
RETRYABLE_STATUSES = [408, 429, 500, 502, 503, 504]


def fetch_join(
    batch: DataFrame,
    pages: DataFrame,
    default_timeout_ms: int | None = None,
    broadcast_batch: bool = False,
) -> DataFrame:
    """Left-join the ranked batch to the pages table on canonical url —
    and on method too when the pages table distinguishes methods, so a
    GET and a POST of the same URL (distinct request identities,
    request.rs:240-253) fetch distinct page rows.

    Left join so missing pages surface as fetch errors (status NULL ≈
    connection error). In production both sides are
    bucket(url)-partitioned Iceberg → storage-partitioned join.

    broadcast_batch=True restates the left join as
        (pages ⋈ broadcast(batch))  ∪  (batch ▷ pages-keys)
    — an inner join that BROADCASTS the batch so the pages side (whose
    html payload dominates the table) is scanned in place and never
    crosses an Exchange, plus a key-only anti-join (the pages side
    projected to its join keys — no payload) that recovers the
    missing-page rows with NULL response columns. Row-for-row
    equivalent to the left join (matched rows keep join multiplicity;
    unmatched rows appear once with NULLs). The caller opts in when the
    batch is small enough to broadcast (the engine gates on the exact
    committed frontier size); a huge batch keeps the plain left join,
    which Catalyst plans as sort-merge."""
    # project ONLY what a round consumes (url/status/html/headers) —
    # pages.text/lang/warc_ts would ride through every shuffle and at
    # 100 TB the text column alone is a large fraction of the table;
    # the pruned ReadSchema reaches the parquet/Iceberg scan
    method_aware = "method" in pages.columns and "method" in batch.columns
    # per-request timeout (request.rs:74-82): when the pages table
    # carries an observed latency_ms, rows slower than the request's
    # effective timeout behave as if the body never arrived — status/
    # html nulled, so is_retryable routes them to retry like the
    # reference's Error::Timeout (error.rs:446-472); fetch_error_class
    # distinguishes 'timeout' from 'connection'. The effective timeout
    # is the per-row timeout_ms, falling back to default_timeout_ms
    # (settings.request_timeout_ms — schemas.py's documented NULL
    # semantics); with neither set, rows never classify as timeouts.
    timeout_aware = "latency_ms" in pages.columns and (
        "timeout_ms" in batch.columns or default_timeout_ms is not None
    )
    proj = [
        F.col("url").alias("__p_url"),
        F.col("status").alias("status"),
        F.col("html").alias("html"),
        F.col("headers").alias("headers"),
    ]
    if method_aware:
        proj.append(F.col("method").alias("__p_method"))
    if timeout_aware:
        proj.append(F.col("latency_ms").alias("__p_latency"))
    # optional transport metadata (response.rs:35-45) rides through to
    # response middlewares / item pipelines when the pages table has it
    for c in ("certificate", "ip_address", "protocol"):
        if c in pages.columns:
            proj.append(F.col(c).alias(c))
    p = pages.select(*proj)
    # response columns own the plain names; request-side columns that
    # collide (e.g. headers set by request middleware) become req_*
    # — the reference Response likewise embeds the originating request
    # (response.rs:11-46). Transport columns get the same treatment so
    # a batch that already carries e.g. 'protocol' never produces an
    # ambiguous reference downstream.
    response_owned = ["status", "html", "headers"] + [
        c
        for c in ("certificate", "ip_address", "protocol")
        if c in pages.columns
    ]
    for c in response_owned:
        if c in batch.columns:
            batch = batch.withColumnRenamed(c, f"req_{c}")
    cond = batch["url_canon"] == p["__p_url"]
    if method_aware:
        cond = cond & (batch["method"] == p["__p_method"])
    if broadcast_batch:
        matched = p.join(F.broadcast(batch), cond, "inner").drop(
            "__p_url", "__p_method"
        )
        # missing-page detection on KEYS ONLY: the pages side projected
        # to its join keys (a few bytes/row) — auto-broadcastable at
        # sandbox scale, a payload-free equi-join at any scale
        key_cols = [F.col("__p_url").alias("__k_url")]
        if method_aware:
            key_cols.append(F.col("__p_method").alias("__k_method"))
        keys = p.select(*key_cols)
        acond = batch["url_canon"] == keys["__k_url"]
        if method_aware:
            acond = acond & (batch["method"] == keys["__k_method"])
        missing = batch.join(keys, acond, "left_anti")
        null_cols = [
            f for f in p.schema.fields
            if f.name not in ("__p_url", "__p_method")
        ]
        missing = missing.select(
            "*",
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in null_cols
            ],
        )
        joined = matched.select(*missing.columns).unionByName(missing)
    else:
        joined = batch.join(p, cond, "left").drop("__p_url", "__p_method")
    if timeout_aware:
        per_row = (
            F.col("timeout_ms")
            if "timeout_ms" in batch.columns
            else F.lit(None).cast("bigint")
        )
        eff_timeout = (
            F.coalesce(per_row, F.lit(default_timeout_ms).cast("bigint"))
            if default_timeout_ms is not None
            else per_row
        )
        timed_out = F.coalesce(
            F.col("__p_latency") > eff_timeout, F.lit(False)
        )
        joined = (
            joined.withColumn("timed_out", timed_out)
            .withColumn(
                "status",
                F.when(timed_out, F.lit(None).cast("int")).otherwise(
                    F.col("status")
                ),
            )
            .withColumn(
                "html",
                F.when(timed_out, F.lit(None).cast(joined.schema["html"].dataType)
                       ).otherwise(F.col("html")),
            )
            .drop("__p_latency")
        )
    else:
        joined = joined.withColumn("timed_out", F.lit(False))
    return joined


def is_success(status: Column) -> Column:
    return status.between(200, 299)


def strict_spacing(
    batch: DataFrame,
    default_delay_ms: int = 0,
    host_delays: DataFrame | None = None,
    emit_send_ts: bool = False,
) -> DataFrame:
    """Strict per-request wall-clock spacing — the opt-in fidelity mode
    of T1 (SURVEY §7.0 deviation row). The reference's download slot
    sleeps until ``last_request + delay`` before every request to a host
    (/root/reference/engine/src/slot.rs:127-137); the engine's default
    contract is the per-round budget (same served rate over any window
    ≥ one round, but intra-round requests to a host may burst). When a
    user needs the reference's intra-round spacing (shared hosts,
    strict politeness audits), this stage restores it:

      1. JVM-side, each row gets a scheduled send offset:
         ``(row_number per host − 1) × effective_delay`` — the exact
         send schedule the reference's slot clock would produce for the
         batch, computed declaratively (one hash-partition by host).
      2. An executor-local ``mapInPandas`` stage sleeps each row until
         its offset (partition-relative monotonic clock — the analogue
         of each slot's independent ``last_request_time``). Rows are
         sorted by offset within the partition, so different hosts
         overlap exactly as the reference's concurrent per-domain slots
         do: partition wall-clock = the slowest host's schedule, not
         the sum.

    effective_delay = greatest(default_delay_ms, robots Crawl-delay for
    the host) — identical inputs to the budget path. Row CONTENT and
    batch membership are untouched: strict mode changes WHEN within the
    round rows reach the downloader, never WHICH rows.

    Deliberately the slow path (a task's throughput for one host is
    capped at 1/delay — the documented anti-pattern at 10^10 scale,
    which is why the per-round budget is the default contract and this
    is opt-in via ``Settings.strict_delay``). The per-row sleep loop is
    by design: the sleeps dominate any Python overhead.

    ``emit_send_ts=True`` keeps ``__send_at_ms`` (the schedule) and adds
    ``__sent_at_ms`` (partition-relative monotonic time the row was
    actually released) so tests can pin per-host spacing.
    """
    from pyspark.sql.window import Window

    out_cols = list(batch.columns)
    d = F.lit(int(default_delay_ms)).cast("bigint")
    if host_delays is not None:
        hd = host_delays.filter(
            F.col("crawl_delay_ms").isNotNull()
        ).select(
            F.col("host").alias("__sp_host"),
            F.col("crawl_delay_ms").alias("__sp_delay"),
        )
        batch = batch.join(
            F.broadcast(hd), batch["host"] == hd["__sp_host"], "left"
        ).drop("__sp_host")
        eff = F.greatest(
            d, F.coalesce(F.col("__sp_delay"), F.lit(0)).cast("bigint")
        )
    else:
        eff = d
    # deterministic slot order: batch_rank when the ranked path set it,
    # url_hash tie-break for the single-window path's NULL ranks
    order = (
        [F.col("batch_rank").asc_nulls_last(), F.col("url_hash").asc()]
        if "batch_rank" in out_cols
        else [F.col("url_hash").asc()]
    )
    w = Window.partitionBy("host").orderBy(*order)
    scheduled = (
        batch.withColumn(
            "__send_at_ms",
            (F.row_number().over(w) - F.lit(1)).cast("bigint") * eff,
        )
        .drop("__sp_delay")
        # the window already hash-partitioned by host; only re-sort so
        # the pacing loop sleeps strictly forward (no second Exchange)
        .sortWithinPartitions("__send_at_ms")
    )
    result_cols = (
        out_cols + ["__send_at_ms", "__sent_at_ms"]
        if emit_send_ts
        else out_cols
    )
    schema = T.StructType(
        [scheduled.schema[c] for c in out_cols]
        + (
            [
                T.StructField("__send_at_ms", T.LongType(), True),
                T.StructField("__sent_at_ms", T.DoubleType(), True),
            ]
            if emit_send_ts
            else []
        )
    )

    def _pace(batches):
        import time

        t0 = time.monotonic()
        for pdf in batches:
            offs = pdf["__send_at_ms"].to_list()
            sent = []
            for off in offs:
                wait = t0 + off / 1000.0 - time.monotonic()
                if wait > 0:
                    time.sleep(wait)
                if emit_send_ts:
                    sent.append((time.monotonic() - t0) * 1000.0)
            if emit_send_ts:
                pdf = pdf.copy()
                pdf["__sent_at_ms"] = sent
                yield pdf[result_cols]
            else:
                yield pdf[out_cols]

    return scheduled.mapInPandas(_pace, schema)


def is_redirect(status: Column) -> Column:
    return status.isin(REDIRECT_STATUSES)


def is_retryable(status: Column) -> Column:
    """Retryable fetch outcomes; NULL status = page absent from the
    pages table ≈ connection error (retryable in the reference,
    error.rs:446-472)."""
    return status.isNull() | status.isin(RETRYABLE_STATUSES)


def fetch_error_class(fetched: DataFrame) -> Column:
    """Error classification mirroring the reference's error taxonomy
    (error.rs:446-472): 'timeout' (request timeout_ms exceeded),
    'connection' (no page row at all), 'http_<status>' for error
    statuses, NULL for successes/redirects."""
    status = F.col("status")
    timed = (
        F.col("timed_out")
        if "timed_out" in fetched.columns
        else F.lit(False)
    )
    return (
        F.when(timed, F.lit("timeout"))
        .when(status.isNull(), F.lit("connection"))
        .when(
            ~is_success(status) & ~is_redirect(status),
            F.concat(F.lit("http_"), status.cast("string")),
        )
        .otherwise(F.lit(None).cast("string"))
    )


def split_fetched(fetched: DataFrame) -> dict[str, DataFrame]:
    """Route one fetched batch into success / redirect / retry / error."""
    status = F.col("status")
    return {
        "success": fetched.filter(is_success(status)),
        "redirect": fetched.filter(is_redirect(status)),
        "retry": fetched.filter(is_retryable(status)),
        "error": fetched.filter(
            ~is_success(status)
            & ~is_redirect(status)
            & ~is_retryable(status)
        ),
    }


def backoff_rounds(retry_count: Column, settings) -> Column:
    """ceil(base * factor^n / round_ms), capped at 6 rounds (the
    reference caps absolute backoff at 60s, error_handler.rs:152-157)."""
    backoff_ms = F.lit(settings.retry_backoff_base_ms) * F.pow(
        F.lit(settings.retry_backoff_factor), retry_count.cast("double")
    )
    rounds = F.ceil(
        F.least(backoff_ms, F.lit(60_000.0)) / F.lit(float(max(settings.round_duration_ms, 1)))
    ).cast("int")
    return F.greatest(rounds, F.lit(1))


def build_retries(
    retry_rows: DataFrame, current_round: int, settings
) -> DataFrame:
    """Failed fetches → next-round frontier rows with retry_count+1 and a
    backoff gate; exhausted retries are dropped (counted as errors by
    the caller). Columns reduced back to the frontier schema."""
    kept = retry_rows.filter(
        F.col("retry_count") < F.lit(settings.max_retries)
    )
    return (
        kept.withColumn(
            "retry_not_before_round",
            F.lit(current_round)
            + backoff_rounds(F.col("retry_count"), settings),
        )
        .withColumn("retry_count", F.col("retry_count") + 1)
        .select(*FRONTIER_COLS)
    )
