"""Durable crawl state: per-round committed tables + resume.

Production design is Iceberg (ACID commits, bucket(url_hash) partition
transform, storage-partitioned joins so the 10^10-row seen set is never
re-shuffled). This sandbox has no Iceberg runtime jar, so the store is
plain parquet directories:

    root/rounds/round=NNNNNN/frontier/        (parquet)
    root/rounds/round=NNNNNN/seen_delta/      (parquet, url_hash only)
    root/rounds/round=NNNNNN/items/           (parquet)
    root/rounds/round=NNNNNN/host_served/     (parquet)
    root/rounds/round=NNNNNN/metrics.json     (counters)
    root/rounds/round=NNNNNN/lineage.json     (per-partition lineage)
    root/rounds/round=NNNNNN/MANIFEST.json    (commit marker, written last)

A round is committed iff MANIFEST.json exists — the parquet analogue of
an Iceberg snapshot commit; resume reads the max committed round
(reference analogue: EngineState save/load,
/root/reference/engine/src/lib.rs:1196-1252).

Seen-set = every committed round's seen_delta, read by `load_seen` as
one parquet scan over all the delta directories; the engine's anti-join
calls it every round and keeps no copy of its own. A delta holds
url_hash only, written from its input's partitions as they are (no
shuffle); the anti-join keys on url_hash alone, so no on-disk
partitioning would be read. Deltas written with the older ``bucket=``
partition directories still load in the same scan (it looks up files
recursively, with no partition discovery), and a fold that takes them
in writes them flat. A ``seen_generation`` file left at the store root
by an older version is ignored. Deltas keep commits O(new urls),
not O(total seen); `compact_seen` folds deltas when they pile up. The
fold is tiered so its cost also tracks the new URLs: when the deltas
other than the largest hold fewer bytes than the largest, only those
small deltas are folded and the large base delta is left as it is;
otherwise everything is folded. A fold is one dropDuplicates shuffle
whose output file count AQE sets by size.

Reading state back each round also truncates DataFrame lineage — the
iterative-loop plan would otherwise grow unboundedly.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from scrapy_rs_spark.schemas import (
    FRONTIER_DDL,
    ITEMS_DDL,
    METRICS_COLS,
    METRICS_DDL,
    SEEN_DDL,
)

MANIFEST = "MANIFEST.json"


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class CrawlStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(self._rounds_dir(), exist_ok=True)
        self._recover_seen_delta_dirs()

    def _recover_seen_delta_dirs(self) -> None:
        """Crash recovery for compact_seen's swap: the fold is fully
        written to ``seen_delta_compact`` BEFORE the target round's
        ``seen_delta`` is renamed to ``seen_delta_old`` and the fold
        renamed into its place. A crash between the two renames leaves
        the target round with no ``seen_delta`` — its hashes would drop
        out of the seen set and be re-enqueued. Restore the fold (the
        newer state), else the backup; then drop leftover side dirs."""
        for name in os.listdir(self._rounds_dir()):
            d = os.path.join(self._rounds_dir(), name)
            main = os.path.join(d, "seen_delta")
            tmp = os.path.join(d, "seen_delta_compact")
            bak = os.path.join(d, "seen_delta_old")
            if not os.path.isdir(main) and os.path.isdir(bak):
                os.replace(tmp if os.path.isdir(tmp) else bak, main)
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(bak, ignore_errors=True)

    # ---- layout ----
    def _rounds_dir(self) -> str:
        return os.path.join(self.root, "rounds")

    def _round_dir(self, rnd: int) -> str:
        return os.path.join(self._rounds_dir(), f"round={rnd:06d}")

    def _seen_delta_dir(self, rnd: int) -> str:
        return os.path.join(self._round_dir(rnd), "seen_delta")

    def committed_rounds(self) -> list[int]:
        out = []
        if not os.path.isdir(self._rounds_dir()):
            return out
        for name in os.listdir(self._rounds_dir()):
            if name.startswith("round="):
                rnd = int(name.split("=")[1])
                if os.path.exists(os.path.join(self._round_dir(rnd), MANIFEST)):
                    out.append(rnd)
        return sorted(out)

    def latest_round(self) -> int | None:
        rounds = self.committed_rounds()
        return rounds[-1] if rounds else None

    # ---- commit ----
    def begin_round(self, rnd: int) -> None:
        """Clear any uncommitted leftovers for a round so partial writes
        (write_items before commit_round) start from a clean dir. Every
        dataset of a round, seen delta included, lives inside the round
        dir, so removing a crashed attempt's dir removes all it wrote."""
        d = self._round_dir(rnd)
        if os.path.exists(d):
            shutil.rmtree(d)  # re-running an uncommitted round is safe
        os.makedirs(d, exist_ok=True)

    def write_items(self, rnd: int, items: DataFrame | None) -> None:
        """Write a round's items ahead of commit_round (still invisible
        to readers until MANIFEST exists). Lets the engine resolve
        observations attached to the items plan before sealing metrics."""
        if items is not None:
            items.write.mode("overwrite").parquet(
                os.path.join(self._round_dir(rnd), "items")
            )

    def write_frontier(self, rnd: int, frontier: DataFrame) -> None:
        """Stage a round's frontier ahead of commit_round (invisible to
        readers until MANIFEST exists). Lets the engine resolve an
        Observation attached to the frontier plan — committed frontier
        size + new-URL count ride the write action — before sealing
        metrics; pass frontier=None to commit_round afterwards."""
        frontier.write.mode("overwrite").parquet(
            os.path.join(self._round_dir(rnd), "frontier")
        )

    def write_seen_delta(self, rnd: int, seen_delta: DataFrame) -> None:
        """Stage a round's seen delta ahead of commit_round (invisible
        to readers until MANIFEST: it lives inside the round dir). Lets
        the engine overlap the items / frontier / seen writes; pass
        seen_delta=None to commit_round afterwards."""
        self._write_seen(seen_delta, self._seen_delta_dir(rnd))

    @staticmethod
    def _write_seen(df: DataFrame, path: str) -> None:
        """Write url_hash rows as plain parquet, one file per non-empty
        input partition. No reader prunes by layout (the anti-join keys
        on url_hash alone), so a shuffle to lay rows out would be pure
        cost."""
        df.select("url_hash").write.mode("overwrite").parquet(path)

    def commit_round(
        self,
        rnd: int,
        frontier: DataFrame | None,
        seen_delta: DataFrame | None,
        items: DataFrame | None,
        host_served: DataFrame | None,
        metrics: dict,
        clean: bool = True,
    ) -> None:
        """Write all state for a round, MANIFEST last (commit point).

        An interrupted write leaves no MANIFEST → the round is invisible
        to resume, exactly like an uncommitted Iceberg snapshot.
        clean=False preserves state already staged into the round dir
        (begin_round + write_items/write_frontier/write_seen_delta;
        frontier=None / items=None / seen_delta=None mean "already
        staged")."""
        d = self._round_dir(rnd)
        if clean:
            self.begin_round(rnd)
        if frontier is not None:
            frontier.write.mode("overwrite").parquet(
                os.path.join(d, "frontier")
            )
        if seen_delta is not None:
            self.write_seen_delta(rnd, seen_delta)
        if items is not None:
            items.write.mode("overwrite").parquet(os.path.join(d, "items"))
        if host_served is not None:
            host_served.write.mode("overwrite").parquet(
                os.path.join(d, "host_served")
            )
        with open(os.path.join(d, "metrics.json"), "w") as f:
            json.dump(metrics, f)
        with open(os.path.join(d, "lineage.json"), "w") as f:
            json.dump(self._harvest_lineage(rnd), f)
        with open(os.path.join(d, MANIFEST), "w") as f:
            json.dump({"round": rnd, "metrics": metrics}, f)

    # ---- read back ----
    def load_frontier(self, rnd: int) -> DataFrame:
        return self.spark.read.schema(FRONTIER_DDL).parquet(
            os.path.join(self._round_dir(rnd), "frontier")
        )

    def load_seen(self) -> DataFrame:
        """The committed seen set: ONE parquet scan over every
        seen_delta directory, whatever their number or layout. The
        engine's anti-join calls this every round; the scan lists each
        delta directory once per call, which the compaction cadence
        keeps a few directories wide."""
        rounds = sorted(self.seen_delta_rounds())
        if not rounds:
            return self.spark.createDataFrame([], SEEN_DDL)
        return self._read_seen(*map(self._seen_delta_dir, rounds))

    def _read_seen(self, *paths: str) -> DataFrame:
        """url_hash rows of seen-delta directories, as one scan.
        recursiveFileLookup turns partition discovery off, so no bucket
        column is read back and the schema is url_hash alone: a delta
        written with the older bucket= directories has its own partition
        root, and a multi-path read mixing it with flat deltas would
        otherwise fail on conflicting directory structures. Files whose
        names start with _ or . (_SUCCESS, .crc) are skipped."""
        return (
            self.spark.read.schema(SEEN_DDL)
            .option("recursiveFileLookup", "true")
            .parquet(*paths)
        )

    def seen_delta_rounds(self) -> set[int]:
        """Committed rounds whose seen_delta directory still exists
        (compaction prunes earlier ones)."""
        return {
            r
            for r in self.committed_rounds()
            if os.path.isdir(self._seen_delta_dir(r))
        }

    def load_seen_delta(self, rnd: int) -> DataFrame | None:
        """One committed round's seen delta (None if compacted away),
        read like load_seen."""
        p = self._seen_delta_dir(rnd)
        if not os.path.isdir(p):
            return None
        return self._read_seen(p)

    def compact_seen(self) -> None:
        """Fold committed seen deltas (Iceberg analogue:
        rewrite_data_files / snapshot expiry), tiered by size so the
        cost tracks the recent deltas, not the whole seen set.

        Rule: let B be the largest delta (by bytes on disk). If the
        other deltas together hold fewer bytes than B, fold only those,
        into the newest of them, and leave B untouched — a standing
        crawl's big base is then rewritten only when the recent deltas
        have grown past it. Otherwise fold every delta into the newest
        one. Duplicate url_hash rows are dropped within the folded set
        only; a duplicate between B and a small delta (left by a crash
        window, see below) survives until an all-fold, which is
        harmless to anti-join membership.

        Keeps load_seen's scan a few directories wide instead of
        O(rounds). Crash-safe by ordering: the folded set is written to
        a side dir first, swapped into the target round, THEN the other
        folded deltas are removed — a crash between swap and removal
        only leaves duplicate url_hash rows. Every load_seen call lists
        the directories afresh, so the in-place rewrite of the target
        delta needs no signal to readers."""
        sizes = {
            r: _dir_bytes(self._seen_delta_dir(r))
            for r in self.seen_delta_rounds()
        }
        base = max(sizes, key=lambda r: (sizes[r], r), default=None)
        small = sorted(r for r in sizes if r != base)
        if sum(sizes[r] for r in small) < sizes.get(base, 0):
            fold = small
        else:
            fold = sorted(sizes)
        if len(fold) < 2:
            return
        target = fold[-1]
        folded = self._read_seen(*map(self._seen_delta_dir, fold))
        target_dir = self._round_dir(target)
        tmp = os.path.join(target_dir, "seen_delta_compact")
        self._write_seen(folded.dropDuplicates(["url_hash"]), tmp)
        old = self._seen_delta_dir(target)
        bak = os.path.join(target_dir, "seen_delta_old")
        if os.path.isdir(old):
            os.replace(old, bak)
        os.replace(tmp, old)
        shutil.rmtree(bak, ignore_errors=True)
        for r in fold[:-1]:
            shutil.rmtree(self._seen_delta_dir(r), ignore_errors=True)

    def load_host_served(self, rnd: int) -> DataFrame:
        p = os.path.join(self._round_dir(rnd), "host_served")
        if not os.path.isdir(p):
            return self.spark.createDataFrame([], "host STRING, served BIGINT")
        return self.spark.read.schema("host STRING, served BIGINT").parquet(p)

    def load_items(self, rounds: list[int] | None = None) -> DataFrame:
        rounds = rounds if rounds is not None else self.committed_rounds()
        paths = [
            os.path.join(self._round_dir(r), "items")
            for r in rounds
            if os.path.isdir(os.path.join(self._round_dir(r), "items"))
        ]
        if not paths:
            return self.spark.createDataFrame([], ITEMS_DDL)
        return self.spark.read.schema(ITEMS_DDL).parquet(*paths)

    def metrics_df(self) -> DataFrame:
        """crawl_metrics as a DataFrame (A1/A4): per-round counters for
        rate queries — (count - lag(count))/Δround etc."""
        return self.spark.createDataFrame(
            [
                tuple(m.get(c, 0) for c in METRICS_COLS)
                for m in self.load_metrics()
            ],
            METRICS_DDL,
        )

    def load_metrics(self) -> list[dict]:
        out = []
        for r in self.committed_rounds():
            with open(os.path.join(self._round_dir(r), "metrics.json")) as f:
                out.append(json.load(f))
        return out

    # ---- per-partition lineage (north rule: "per-partition lineage +
    # counters for resumable crawls") ----
    def _harvest_lineage(self, rnd: int) -> list[dict]:
        """One lineage row per data FILE the round committed:
        (dataset, partition, file, rows, bytes). Rows come from parquet
        footers, read driver-side — NO Spark jobs. This is the sandbox
        stand-in for the Iceberg manifest metadata the production design
        gets for free on every snapshot commit (Iceberg manifests record
        exactly this: file path, partition tuple, record count, size).
        The walk is O(files-per-round), which the writers bound:
        seen_delta and frontier write one file per non-empty partition
        of their input — tens of footer reads per round, never
        O(data)."""
        import pyarrow.parquet as pq

        d = self._round_dir(rnd)
        out = []
        for dataset in ("frontier", "seen_delta", "items", "host_served"):
            base = os.path.join(d, dataset)
            if not os.path.isdir(base):
                continue
            for dirpath, _dirs, files in os.walk(base):
                part = os.path.relpath(dirpath, base)
                part = "" if part == "." else part
                for fn in sorted(files):
                    if not fn.endswith(".parquet"):
                        continue
                    fp = os.path.join(dirpath, fn)
                    out.append(
                        {
                            "round": rnd,
                            "dataset": dataset,
                            "partition": part,
                            "file": fn,
                            "rows": pq.ParquetFile(fp).metadata.num_rows,
                            "bytes": os.path.getsize(fp),
                        }
                    )
        return out

    def load_lineage(self, rounds: list[int] | None = None) -> list[dict]:
        """Committed per-partition lineage rows (see _harvest_lineage).
        Rounds committed before lineage existed simply have no file."""
        out = []
        for r in (
            rounds if rounds is not None else self.committed_rounds()
        ):
            p = os.path.join(self._round_dir(r), "lineage.json")
            if os.path.exists(p):
                with open(p) as f:
                    out.extend(json.load(f))
        return out

    def lineage_df(self) -> DataFrame:
        """Lineage as a DataFrame — the queryable analogue of Iceberg's
        `.files` / `.manifests` metadata tables, joinable with
        metrics_df() on round for audit queries (rows written per
        partition per round, seen-delta files and rows per round,
        bytes committed per round)."""
        ddl = (
            "round INT, dataset STRING, partition STRING, file STRING,"
            " rows BIGINT, bytes BIGINT"
        )
        rows = self.load_lineage()
        cols = ["round", "dataset", "partition", "file", "rows", "bytes"]
        return self.spark.createDataFrame(
            [tuple(r[c] for c in cols) for r in rows], ddl
        )
