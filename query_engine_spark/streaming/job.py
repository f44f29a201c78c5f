"""The ingest lifecycle as a storage job (SURVEY §3, entry point 3).

The reference's loop: page new rows with a 1000-row overlap → dedup on id →
merge count views → evict beyond the 7-day window → spill old days to archive
blobs (/root/reference/src/main.rs:328-464, 1004-1087, 1101-1175).

Here the post store IS day-partitioned parquet (`dt=YYYY-MM-DD/`): the
"archive" is simply the older partitions and eviction is a partition delete.
Ingest merges idempotently per micro-batch with dynamic partition overwrite —
only the days touched by the batch are rewritten. Drive it from a scheduler
or Structured Streaming's foreachBatch.

Serving reads an in-memory window, as the reference serves from RAM and
refreshes its window once per fetch cycle (main.rs:218-222, 1106-1110).
`serving_view` publishes a snapshot once per commit: the dt-pruned read of
the window, materialized into the block manager with its lineage cut
(`localCheckpoint`), carrying the window's in-plan "now" (max ts) as the
data column `inputs.NOW_COL`. Feed requests then plan no parquet scan and
no max(ts) subtree, and because `now` is data rather than a literal, their
generated code stays cached across commits. The store keeps exactly one
live snapshot and frees the previous one when it publishes the next.

Concurrency: a snapshot depends on no file, so reads of it may overlap an
`ingest` (which rewrites the day partitions it was read from). They must not
overlap a publish: publishing frees the previous snapshot's blocks under
any reader still scanning them.
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from query_engine_spark.cache import local_checkpoint_with_free
from query_engine_spark.operators.inputs import with_now
from query_engine_spark.streaming.ingest import merge_incremental

__all__ = ["PostStore"]


class PostStore:
    """Day-partitioned parquet post store with idempotent ingest + retention."""

    def __init__(self, spark: SparkSession, path: str, *, ts_col: str = "ts", id_col: str = "id"):
        self.spark = spark
        self.path = path
        self.ts_col = ts_col
        self.id_col = id_col
        self._free_snapshot = None  # frees the live serving snapshot

    def _exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            e.startswith("dt=") for e in os.listdir(self.path)
        )

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def ingest(self, batch: DataFrame) -> None:
        """Idempotent merge of an (overlapping) batch: only the day partitions
        present in the batch are re-merged and rewritten (dynamic partition
        overwrite) — ingest cost tracks batch size, not store size."""
        batch = batch.withColumn("dt", F.date_format(F.col(self.ts_col), "yyyy-MM-dd"))
        days = [r["dt"] for r in batch.select("dt").distinct().collect()]
        if self._exists():
            existing = self.read().filter(F.col("dt").isin(days))
            merged = merge_incremental(existing, batch, self.id_col)
        else:
            merged = batch.dropDuplicates([self.id_col])
        # sort within partitions by id: parquet row-group min/max stats then
        # prune id-range scans (the TID range-scan analog, SURVEY §4) — the
        # reference's "time-ordered ids → B-tree range" property, re-created
        # as a storage layout instead of an index
        self._overwrite_days(merged.sortWithinPartitions(self.id_col))

    def _overwrite_days(self, df: DataFrame) -> None:
        """Rewrite exactly the day partitions present in `df`. The overwrite
        mode is a per-write option, so the session's setting is untouched."""
        (
            df.write.option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .partitionBy("dt")
            .parquet(self.path)
        )

    def window(self, now: _dt.datetime, days: int = 7) -> DataFrame:
        """The last `days` days before `now` as a lazy read: the dt predicate
        eliminates whole partitions before any IO."""
        cutoff = (now - _dt.timedelta(days=days)).strftime("%Y-%m-%d")
        return self.read().filter(F.col("dt") >= cutoff)

    def serving_view(self, now: _dt.datetime, days: int = 7) -> DataFrame:
        """Publish the reference's in-RAM window (main.rs:218-222): `window`
        materialized once, with its max(ts) as the `inputs.NOW_COL` column
        that `now=None` pipelines read, and the lineage cut so no later
        `ingest` can invalidate it. Frees the previously published snapshot:
        call it once per commit, never while a read of the previous snapshot
        is running."""
        snapshot, free = local_checkpoint_with_free(with_now(self.window(now, days), self.ts_col))
        if self._free_snapshot is not None:
            self._free_snapshot()
        self._free_snapshot = free
        return snapshot

    def evict(self, now: _dt.datetime, days: int = 8, archive_path: str | None = None) -> list[str]:
        """Eviction / archive spill (main.rs:1020-1083): partitions older than
        the window are moved to the archive directory (or deleted). Returns
        the partition names affected."""
        if not self._exists():
            return []
        cutoff = (now - _dt.timedelta(days=days)).strftime("%Y-%m-%d")
        moved = []
        for entry in sorted(os.listdir(self.path)):
            if not entry.startswith("dt="):
                continue
            if entry[3:] < cutoff:
                src = os.path.join(self.path, entry)
                if archive_path is not None:
                    os.makedirs(archive_path, exist_ok=True)
                    shutil.move(src, os.path.join(archive_path, entry))
                else:
                    shutil.rmtree(src)
                moved.append(entry)
        return moved

    def compact(self, target_bytes: int = 128 * 1024 * 1024, older_than_days: int | None = 1,
                now: _dt.datetime | None = None) -> dict[str, int]:
        """Compact small files: frequent micro-batch ingest leaves each day
        partition with one file per batch; at 100 TB that is millions of
        tiny files — scan planning, not IO, becomes the bottleneck. Rewrite
        each affected partition into ceil(bytes/target) files, preserving
        the id sort (row-group min/max pruning survives).

        Only partitions with more files than their byte-optimal count are
        rewritten (idempotent, skip-if-tight). Compaction is
        read-then-overwrite of the same partition, so it must not race a
        concurrent writer: by DEFAULT only partitions closed for
        `older_than_days=1` are touched; pass `older_than_days=None`
        explicitly to compact everything when ingest is known quiescent.
        Returns {partition: files_before} for the rewritten ones.
        """
        if not self._exists():
            return {}
        cutoff = None
        if older_than_days is not None:
            now = now or _dt.datetime.now(_dt.timezone.utc)
            cutoff = (now - _dt.timedelta(days=older_than_days)).strftime("%Y-%m-%d")
        rewritten: dict[str, int] = {}
        for entry in sorted(os.listdir(self.path)):
            if not entry.startswith("dt="):
                continue
            if cutoff is not None and entry[3:] >= cutoff:
                continue
            pdir = os.path.join(self.path, entry)
            files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
            total = sum(os.path.getsize(os.path.join(pdir, f)) for f in files)
            want = max(1, -(-total // target_bytes))  # ceil
            if len(files) <= want:
                continue
            part = self.spark.read.parquet(pdir).withColumn("dt", F.lit(entry[3:]))
            self._overwrite_days(part.repartition(want).sortWithinPartitions(self.id_col))
            rewritten[entry] = len(files)
        return rewritten

    def archive_view(self, archive_path: str) -> DataFrame:
        """S8 input.archived reads the spilled partitions the same way
        (parquet scan + pushdown) — no separate blob format needed."""
        return self.spark.read.parquet(archive_path)
