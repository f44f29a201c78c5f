"""Top-N helpers (SURVEY §2.4): SQL text the feed compiler (plans/blocks.py,
which owns the sort and limit blocks) splices into its statement, and the
same text run over a DataFrame for the registry. Reference sorts mutate the
working Vec in place (main.rs:2238-2307) and limits truncate it
(main.rs:2349-2384).

Scale note: a global sort is a range-partitioned shuffle. A sort that is
immediately truncated — feeds return ≤500 rows — runs as
``ORDER BY … LIMIT n``, which Catalyst plans as TakeOrderedAndProject: a
per-partition top-N + single merge, no full sort. That is the 100 TB-safe
shape `top_n_sql` writes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from query_engine_spark.operators.filters import keep_occurrences
from query_engine_spark.operators.ordering import stamp_sql
from query_engine_spark.operators.sql import on_frame

__all__ = ["top_n_sql", "top_n_with_ord", "posts_per_user"]


def top_n_sql(rows: str, order: str, n: int, block_seq: int = 0, drop: Sequence[str] = ()) -> str:
    """The first `n` rows of the query `rows` in `order` (SQL sort items),
    stamped ``__ord``: ``ORDER BY … LIMIT n`` executes as
    TakeOrderedAndProject (per-partition partial top-N + single merge — the
    100 TB-safe shape), and __ord is stamped over only the n survivors, in
    one partition (a bounded stamp)."""
    return stamp_sql(f"({rows} ORDER BY {order} LIMIT {n})", order, block_seq, bounded=True, drop=drop)


def top_n_with_ord(df: DataFrame, order: str, n: int, block_seq: int = 0) -> DataFrame:
    """Fused sort+limit over a DataFrame (`top_n_sql`): use whenever a sort
    is immediately truncated."""
    return on_frame(df, top_n_sql("SELECT * FROM {rel}", order, n, block_seq))


def posts_per_user(df: DataFrame, n: int = 3, *, author: str = "author_key") -> DataFrame:
    """Group-wise top-N: keep the first `n` posts per author in ``__ord``
    order (main.rs:2349-2373). The window is PARTITIONED by author and
    Spark's WindowGroupLimit rewrites the rank filter into a per-partition
    partial top-N — no global sort."""
    return keep_occurrences(df, [author], f"<= {int(n)}")
