"""Tracked caching: persist/checkpoint with explicit, driver-wide cleanup.

Spark's CacheManager keeps persisted Datasets and checkpointed RDD blocks
alive until an explicit unpersist — Python-side garbage collection does NOT
free them — so every operator-level persist in this engine goes through this
registry and `clear_tracked_cache()` (aliased as
`llmdata.clear_llmdata_cache`) frees everything after a query's results are
materialized. bench.py and tools/selfcheck.py call it between queries; a
long-lived serving driver should call it per request batch.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

log = logging.getLogger(__name__)

# entries are DataFrames (unpersist) or zero-arg cleanup callables
_PERSISTED: list = []

__all__ = [
    "tracked_persist",
    "tracked",
    "tracked_local_checkpoint",
    "local_checkpoint_with_free",
    "clear_tracked_cache",
]


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() that records the DataFrame so a long-lived driver can free
    the cached blocks after materializing results."""
    df = df.persist()
    _PERSISTED.append(df)
    return df


def tracked(df: DataFrame) -> DataFrame:
    """Record an ALREADY-cached DataFrame (persisted or checkpointed
    elsewhere) for cleanup without re-persisting it."""
    _PERSISTED.append(df)
    return df


def local_checkpoint_with_free(df: DataFrame):
    """Eager localCheckpoint() returning (df, free_fn). DataFrame.unpersist()
    cannot reach a checkpoint's RDD blocks (they belong to the materialized
    RDD, not the Dataset), so the newly-persistent RDD ids are diffed around
    the checkpoint and the free function unpersists exactly those. Callers
    that free eagerly (iterative loops dropping the previous round) use this
    directly; `tracked_local_checkpoint` registers the free for
    clear_tracked_cache() instead."""
    jsc = df.sparkSession.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    out = df.localCheckpoint()  # eager: the RDD is persistent on return
    after = jsc.getPersistentRDDs()
    new_ids = [i for i in after.keySet().toArray() if i not in before]
    rdds = [after.get(i) for i in new_ids]

    def _free(rdds=rdds):
        for r in rdds:
            r.unpersist()

    return out, _free


def tracked_local_checkpoint(df: DataFrame) -> DataFrame:
    """localCheckpoint() whose cached RDD blocks are freed by
    clear_tracked_cache()."""
    out, free = local_checkpoint_with_free(df)
    _PERSISTED.append(free)
    return out


def clear_tracked_cache() -> None:
    """Unpersist every tracked intermediate. Call after collecting results.
    A cleanup that fails is logged as a warning and the rest are still
    freed."""
    while _PERSISTED:
        item = _PERSISTED.pop()
        try:
            item() if callable(item) else item.unpersist()
        except Exception:
            log.warning("could not free tracked cache entry %r", item, exc_info=True)
