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

Size rule: the snapshot is coalesced to max(1, ceil(bytes /
maxPartitionBytes)) partitions, where `bytes` is the window's optimized-plan
size estimate (no job) and maxPartitionBytes is
`spark.sql.files.maxPartitionBytes`; it has fewer when the scan has fewer
splits. It is read, checkpointed and planned in a serving session the store
owns (`spark.newSession()`, made on the first publish). Each publish resets
that session's conf to a copy of the caller's, checkpoints the snapshot
without AQE (so the snapshot keeps the coalesce's output partitioning), and
then sets, on the serving session only, `spark.sql.shuffle.partitions` to
the snapshot's partition count n and `spark.sql.adaptive.enabled` to
(n > 1). A request over a small window thus runs one task per stage and no
AQE re-planning, while a window of several partitions keeps AQE's skew and
coalescing handling. The caller's session conf is never changed.

Concurrency: a snapshot depends on no file, so reads of it may overlap an
`ingest` (which rewrites the day partitions it was read from). They must not
overlap a publish: publishing frees the previous snapshot's blocks under
any reader still scanning them, and it resets the serving session's conf,
so a request collected across a publish may also plan with the next
snapshot's settings.
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
        self._serving: SparkSession | None = None  # made on the first publish

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
        return self._window(self.spark, now, days)

    def _window(self, spark: SparkSession, now: _dt.datetime, days: int) -> DataFrame:
        cutoff = (now - _dt.timedelta(days=days)).strftime("%Y-%m-%d")
        return spark.read.parquet(self.path).filter(F.col("dt") >= cutoff)

    def _serving_session(self) -> SparkSession:
        """The store's serving session, its conf reset to a copy of the
        caller's: a new session starts from the static conf only, and the
        caller may have set or unset runtime settings since the last
        publish. The copy is made in the JVM: a few py4j round trips,
        where reading the conf into Python takes ~140."""
        if self._serving is None:
            self._serving = self.spark.newSession()
        settings = self.spark._jvm.java.util.Properties()
        settings.putAll(self.spark._jsparkSession.conf().getAllAsJava())
        conf = self._serving._jsparkSession.sessionState().conf()
        conf.clear()
        conf.setConf(settings)
        return self._serving

    def serving_view(self, now: _dt.datetime, days: int = 7) -> DataFrame:
        """Publish the reference's in-RAM window (main.rs:218-222): `window`
        materialized once, with its max(ts) as the `inputs.NOW_COL` column
        that `now=None` pipelines read, and the lineage cut so no later
        `ingest` can invalidate it.

        The snapshot is coalesced to max(1, ceil(bytes /
        spark.sql.files.maxPartitionBytes)) partitions, `bytes` being the
        window's optimized-plan size estimate (fewer when the scan has fewer
        splits). It belongs to the store's serving session, whose shuffle
        partitions are set to the snapshot's partition count and whose AQE
        is on only when that count exceeds 1. Requests built on the
        snapshot plan with that conf; the caller's session is left as it
        was.

        Frees the previously published snapshot and resets the serving
        conf: call it once per commit, never while a read of the previous
        snapshot is running or still to be collected."""
        spark = self._serving_session()
        window = self._window(spark, now, days)
        size = int(window._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        n = max(1, -(-size // spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()))
        # planned without AQE, the checkpoint records the coalesce's output
        # partitioning: over one partition, a request's global aggregates
        # and one-partition hash shuffles then need no exchange
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        snapshot, free = local_checkpoint_with_free(with_now(window, self.ts_col).coalesce(n))
        if n > 1:  # the scan may have fewer splits than n
            n = snapshot._jdf.rdd().getNumPartitions()
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        spark.conf.set("spark.sql.adaptive.enabled", str(n > 1).lower())
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
