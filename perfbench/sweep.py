"""curation_sweep workload: the operator-heavy ``__spark_entry__`` queries.

Each query's whole output is consumed by one checksum action (row count
plus the sum of an ``xxhash64`` over every column), so no column or row
is pruned away, and the same pass yields the values the correctness
check compares against ``reference.json``.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

from checks import sweep_matches
from curation_data import write_tables

# the query operator modules this workload measures; every query that
# calls into one of them is in the sweep
MODULES = ("textdedup", "similarity", "curation", "linkrank", "recrawl",
           "warc", "sitemap")
QUERIES = (
    "dedup_exact", "minhash_signatures", "lsh_pairs", "simhash",
    "dedup_clusters", "ngram_jaccard", "repetition_score", "contamination",
    "cosine_topk", "embedding_neardup", "ann_lsh", "ann_ivf",
    "ann_ivf_fullprobe", "ann_lsh_exact", "neardup_lsh",
    "latest_snapshot", "split_by_hash", "pack_sequences", "quota_sample",
    "chunk_dedup", "mixture_plan",
    "backlink_priority", "recrawl_schedule", "host_backoff",
    "warc_roundtrip", "sitemap_extract",
)
REFERENCE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "reference.json")


def query_modules(fn) -> list[str]:
    """Operator modules a query function imports (its co_names)."""
    names = fn.__code__.co_names
    return [m for m in MODULES if any(n.endswith("." + m) for n in names)]


def output_checksum(df: DataFrame) -> tuple[int, int]:
    """(rows, order-insensitive checksum) of a DataFrame's full output."""
    cols = []
    for field in df.schema.fields:
        c = F.col(f"`{field.name}`")
        if isinstance(field.dataType, MapType):
            c = F.array_sort(F.map_entries(c))  # xxhash64 rejects maps
        cols.append(c)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def load_reference(size: str) -> dict[str, list[int]]:
    with open(REFERENCE) as f:
        return json.load(f)[size]


class CurationSweep:
    """The QUERIES over generated sf0.01-shaped tables, one pass per
    closed-loop iteration, always in the same order. It never touches
    the crawl engine.

    The tables do not depend on the seed: the outputs are checked
    against the stored reference for exactly these tables, and a
    seed-chosen query order would only move JVM warm-up from one query
    to another between runs."""

    name = "curation_sweep"

    def __init__(self, spark: SparkSession, size: str, seed: int,
                 work_dir: str):
        import __spark_entry__

        self.spark = spark
        self.size = size
        self.queries = __spark_entry__.queries()
        missing = sorted(set(QUERIES) - self.queries.keys())
        if missing:
            raise KeyError(f"__spark_entry__.queries() lacks {missing}")
        self.data_dir = os.path.join(work_dir, "curation_data")
        self.passes: list[dict] = []

    def prepare(self) -> None:
        write_tables(self.data_dir, self.size)

    def iterate(self, tracer) -> dict:
        results = {}
        t0 = time.perf_counter()
        for name in QUERIES:
            with tracer.span(f"q.{name}"):
                t = time.perf_counter()
                df = self.queries[name](self.spark, self.data_dir)
                rows, checksum = output_checksum(df)
                results[name] = (time.perf_counter() - t, rows, checksum)
        done = {
            "seconds": time.perf_counter() - t0,
            "work": len(QUERIES),
            "steps": [r[0] for r in results.values()],
            "results": results,
        }
        self.passes.append(done)
        return done

    def check(self) -> list[tuple[str, list[str]]]:
        reference = load_reference(self.size)
        out = []
        for p in self.passes:
            got = {q: (rows, ck) for q, (_, rows, ck) in p["results"].items()}
            bad = sweep_matches(got, reference)
            out += [(q, [bad[q]] if q in bad else []) for q in got]
        return out

    def layers(self, tracer, cores: int) -> dict[str, float]:
        n = len(self.passes)
        out = {f"q.{q}_s": statistics.median(
            p["results"][q][0] for p in self.passes) for q in QUERIES}
        for m in MODULES:
            out[f"{m}.shuffle_bytes"] = 0.0
        for q in QUERIES:
            shuffled = sum(s.shuffle_bytes for s in tracer.named(f"q.{q}"))
            for m in query_modules(self.queries[q]):
                out[f"{m}.shuffle_bytes"] += shuffled / n
        return out
