"""Top-N helpers shared by the feed translator and the registry (SURVEY §2.4).

The feed translator (plans/blocks.py) owns the sort and limit blocks; it
calls the two helpers here. Reference sorts mutate the working Vec in place
(main.rs:2238-2307) and limits truncate it (main.rs:2349-2384).

Scale note: a global sort is a range-partitioned shuffle. A sort that is
immediately truncated — feeds return ≤500 rows — runs as
``orderBy().limit(n)``, which Catalyst plans as TakeOrderedAndProject: a
per-partition top-N + single merge, no full sort. That is the 100 TB-safe
shape `top_n_with_ord` builds.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from query_engine_spark.operators.ordering import ORD, stamp_ord

__all__ = ["top_n_with_ord", "posts_per_user"]


def top_n_with_ord(df: DataFrame, sort_cols: Sequence[Column], n: int, block_seq: int = 0) -> DataFrame:
    """Fused sort+limit: `orderBy().limit(n)` executes as
    TakeOrderedAndProject (per-partition partial top-N + single merge — the
    100 TB-safe shape), and __ord is stamped by a window over only the n
    survivors instead of the whole input. Use whenever a sort is immediately
    truncated (the translator fuses sort→limit blocks into this)."""
    limited = df.orderBy(*sort_cols).limit(n)
    # ≤ n survivors → a single-task dense window is the cheapest stamp
    return stamp_ord(limited, list(sort_cols), block_seq, bounded=True)


def posts_per_user(df: DataFrame, n: int = 3, *, author: str = "author_key") -> DataFrame:
    """Group-wise top-N: keep the first `n` posts per author in ``__ord``
    order (main.rs:2349-2373). The window is PARTITIONED by author and
    Spark's WindowGroupLimit rewrites the rank filter into a per-partition
    partial top-N — no global sort."""
    w = Window.partitionBy(author).orderBy(F.col(ORD))
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= n).drop("__rn")
