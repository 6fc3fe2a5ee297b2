"""Frontier deduplication: the seen-set anti-join + in-batch winner.

Reference semantics (identical across all five schedulers, e.g.
/root/reference/scheduler/src/schedulers/memory_scheduler.rs:37-56):
enqueue checks the seen set first; a duplicate URL is silently dropped;
first enqueue wins and marks the URL seen immediately.

Set-at-a-time restatement:
  * in-batch dedup: deterministic winner per url_hash —
    row_number over (priority DESC, depth ASC, discovery_round,
    discovery_seq, url) == 1 (north-rule total order; the reference's
    in-heap tie order is unspecified)
  * cross-batch dedup: LEFT ANTI hash join against the seen set on
    url_hash (the store's seen deltas hold nothing else). In
    production the seen set is an Iceberg table with a bucket(url_hash)
    transform, where a storage-partitioned join keeps the 10^10-row
    seen side from being re-shuffled; here the planner picks a
    broadcast or a shuffled anti-join
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def winner_order() -> list[Column]:
    """The deterministic in-batch winner / scheduler tie-break order.

    KEEP IN LOCKSTEP with winner_order_struct() below — the sort-column
    form drives scheduler ordering, the struct form drives the min_by
    dedup aggregate; a tie-break change must land in both."""
    return [
        F.col("priority").desc(),
        F.col("depth").asc(),
        F.col("discovery_round").asc(),
        F.col("discovery_seq").asc(),
        F.col("url").asc(),
    ]


def winner_order_struct() -> Column:
    """winner_order() as a single lexicographic min-key struct (for
    min_by). priority DESC is encoded as -cast(long) — the long cast
    dodges ANSI ARITHMETIC_OVERFLOW on INT_MIN, and the coalesce
    sentinel makes a NULL priority sort LAST (lose), matching desc()'s
    NULLS LAST, not first as a bare NULL struct field would. The
    sentinel sits OUTSIDE the negated int32 range (-(1<<32), so its
    negation 1<<32 exceeds any genuine priority's 1<<31 max): a NULL
    strictly loses even to a genuine INT_MIN priority, exactly as in
    winner_order()'s desc() NULLS LAST. (FRONTIER_SCHEMA declares
    priority non-nullable, so this is lockstep insurance, not a live
    path.)"""
    neg_priority = -F.coalesce(
        F.col("priority").cast("long"), F.lit(-(1 << 32)).cast("long")
    )
    return F.struct(
        neg_priority.alias("o1"),
        F.col("depth").alias("o2"),
        F.col("discovery_round").alias("o3"),
        F.col("discovery_seq").alias("o4"),
        F.col("url").alias("o5"),
    )


def dedup_in_batch(candidates: DataFrame, key: str = "url_hash") -> DataFrame:
    """Keep one deterministic winner per identity within a batch.

    min_by over a lexicographic order-key struct, not a window rank:
    the aggregate combines map-side, so a link explosion with heavy
    duplication (10 links/page crawls re-discover most URLs every
    round) shrinks ~10× BEFORE the shuffle. It is not a hash
    aggregate: min_by over a struct with string fields plans as a
    partial and a final SortAggregate, each behind a Sort on the key.
    The order key is winner_order_struct() — the same total order as
    the rank formulation (rows tying on the full key are duplicates in
    all order-relevant fields, either formulation picks one)."""
    cols = candidates.columns
    ordk = winner_order_struct()
    row = F.struct(*[F.col(c) for c in cols])
    return (
        candidates.groupBy(key)
        .agg(F.min_by(row, ordk).alias("__w"))
        .select(*[F.col(f"__w.{c}").alias(c) for c in cols])
    )


def anti_join_seen(
    candidates: DataFrame,
    seen: DataFrame,
    key: str = "url_hash",
) -> DataFrame:
    """Drop candidates whose identity is already in the seen set.

    dont_filter rows bypass the check (reference declares the flag,
    /root/reference/core/src/request.rs:101-103; its schedulers never
    honored it — we do, documented deviation SURVEY.md §7.0)."""
    seen_keys = seen.select(F.col(key).alias(key))
    fresh = candidates.join(seen_keys, on=key, how="left_anti")
    if "dont_filter" in candidates.columns:
        bypass = candidates.filter(F.col("dont_filter"))
        fresh = fresh.filter(~F.col("dont_filter")).unionByName(bypass)
    return fresh
