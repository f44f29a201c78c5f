"""The ``__ord`` ordering-column convention.

The reference's working set is an ordered ``Vec<&PostV1>``
(/root/reference/src/main.rs:1386): input blocks append in order (bag union,
main.rs:1424-1426), ``input.post`` prepends (main.rs:1782), `duplicates` keeps
the first occurrence (main.rs:1916-1918), and `limit.posts_per_user` keeps the
first N per author *in current order* (main.rs:2349-2373). DataFrames are
unordered, so an order-sensitive consumer reads an explicit ``__ord`` column:

    __ord = block_seq * 2^50 + within_block_rank

``block_seq`` numbers the block that appended the rows; ``within_block_rank``
is a rank of the row inside that block (for scans: id order, matching the
reference's BTreeMap range iteration; for sorts: the sort rank). The feed
compiler (plans/blocks.py) keeps each block's order pending and writes the
stamp (`stamp_sql`) only when a consumer reads cross-block order; registry
queries whose result includes the rank call `stamp_ord`, which runs the
same text over a DataFrame.

Scale design (the round-1 verdict's headline fix): the default stamp does NOT
use a global (unpartitioned) window — that pulls the whole working set into a
single partition. Instead:

- default: ``ORDER BY`` — a range-partitioned,
  fully parallel sort — followed by a map-side
  ``monotonically_increasing_id()`` stamp. The ids are
  ``partition_id * 2^33 + offset``: NOT dense, but strictly monotone with the
  sort order (range partitions are ordered by partition id; rows within a
  partition are sorted). Every consumer of ``__ord`` (orderBy, keep-first
  windows, per-user top-N, limits) needs only the ORDER, not density.
  ``monotonically_increasing_id`` is nondeterministic, which blocks
  Catalyst's EliminateSorts from dropping the sort underneath the stamp.
- ``dense=True``: two-phase distributed rank — range repartition, partition-
  local ``row_number`` (window partitioned by ``spark_partition_id``), plus
  per-partition offsets computed from a tiny per-partition count aggregate
  (joined back via broadcast). Use only when the dense rank VALUE is part of
  the query result.
- ``bounded=True``: the input is STRUCTURALLY bounded (≤ ~1000 rows after a
  top-N fusion, the archive cap, or the final limit) — ``REPARTITION(1)`` +
  a window partitioned by ``spark_partition_id()``. One tiny exchange of the
  bounded set, zero extra jobs (the two-phase rank costs a sampling pass, a
  count aggregate and a broadcast — several scheduler round-trips per query).
  The partition key is non-foldable so Catalyst never rewrites it into the
  unpartitioned WindowExec (a ``partitionBy(lit(0))`` spec is constant-folded
  away, reintroducing the single-partition warning).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from query_engine_spark.operators.sql import on_frame

ORD = "__ord"
# mono ids are pid * 2^33 + offset; pid < 2^17 partitions keeps them < 2^50
_BLOCK_SHIFT = 1 << 50

__all__ = ["ORD", "stamp_sql", "stamp_ord", "dense_rank_over"]


def stamp_sql(
    rel: str, order: str, block_seq: int = 0, *, bounded: bool = False, drop: Sequence[str] = (), out: str = ORD
) -> str:
    """The query that stamps relation `rel` with `out` in `order` (SQL sort
    items), minus the `drop` columns: the bounded or the default variant of
    the module docstring. The feed compiler splices it into its statement;
    `stamp_ord` runs it over a DataFrame."""
    base = block_seq * _BLOCK_SHIFT
    if bounded:
        one = f"SELECT *, spark_partition_id() AS __qe_pid FROM (SELECT /*+ REPARTITION(1) */ * FROM {rel})"
        rank = f"row_number() OVER (PARTITION BY __qe_pid ORDER BY {order})"
        return f"SELECT * EXCEPT ({', '.join(['__qe_pid', *drop])}), CAST({base} + {rank} AS BIGINT) AS {out} FROM ({one})"
    # the mono id fails loudly instead of spilling into the next block's
    # range (>= 2^17 partitions or > 2^33 rows in one partition, plausible
    # at 100 TB)
    mono = "monotonically_increasing_id()"
    error = (
        "'__ord stamp overflow: monotonically_increasing_id >= 2^50 (more than 2^17 partitions "
        "or 2^33 rows/partition); use dense=True or widen _BLOCK_SHIFT'"
    )
    stamp = f"CAST({base} + CASE WHEN {mono} < {_BLOCK_SHIFT} THEN {mono} ELSE raise_error({error}) END AS BIGINT)"
    keep = f" EXCEPT ({', '.join(drop)})" if drop else ""
    return f"SELECT *{keep}, {stamp} AS {out} FROM (SELECT * FROM {rel} ORDER BY {order})"


def stamp_ord(
    df: DataFrame,
    order_by: Sequence[str],
    block_seq: int = 0,
    *,
    dense: bool = False,
    bounded: bool = False,
    out: str = ORD,
) -> DataFrame:
    """Assign `out` (default ``__ord``) from a total order given by
    `order_by`, SQL sort items such as ``"score DESC"``; the dense variant
    takes column names, ascending.

    `order_by` must be a total order (include a unique key as tiebreaker) so
    the stamp is deterministic across runs and engines. See the module
    docstring for the dense/bounded variants.
    """
    if dense:
        return _dense_stamp(df, [F.col(c) for c in order_by], out, block_seq * _BLOCK_SHIFT)
    return on_frame(df, stamp_sql("{rel}", ", ".join(order_by), block_seq, bounded=bounded, out=out))


def _dense_stamp(df: DataFrame, cols: list[Column], out_col: str, base: int) -> DataFrame:
    """Two-phase distributed dense rank: range repartition → partition-local
    row_number + per-partition offset. The offset table is one row per shuffle
    partition (tiny); its prefix sums are computed with a triangular self-join
    instead of an unpartitioned window so no single-partition WindowExec ever
    appears. The repartition exchange is shared between the count branch and
    the stamp branch (ReusedExchange), so partition ids agree."""
    part = df.repartitionByRange(*cols).withColumn("__qe_pid", F.spark_partition_id())
    counts = part.groupBy("__qe_pid").agg(F.count(F.lit(1)).alias("__qe_cnt"))
    a, b = counts.alias("a"), counts.alias("b")
    offsets = (
        a.join(b, F.col("b.__qe_pid") < F.col("a.__qe_pid"), "left")
        .groupBy(F.col("a.__qe_pid").alias("__qe_pid"))
        .agg(F.coalesce(F.sum(F.col("b.__qe_cnt")), F.lit(0)).alias("__qe_off"))
    )
    w = Window.partitionBy("__qe_pid").orderBy(*cols)
    return (
        part.join(F.broadcast(offsets), "__qe_pid")
        .withColumn(
            out_col,
            (F.lit(base) + F.col("__qe_off") + F.row_number().over(w)).cast("long"),
        )
        .drop("__qe_pid", "__qe_off")
    )


def dense_rank_over(df: DataFrame, order_by: Sequence[Column], out_col: str = "rank") -> DataFrame:
    """Attach a dense 1..N rank column in the given total order, without an
    unpartitioned window (two-phase distributed rank). For output-facing
    ranks (the driver-visible `ord`/`rank` columns) of unbounded sets; a
    structurally limited input (e.g. a pipeline's ≤500-row final output)
    takes ``stamp_ord(df, order, bounded=True, out=...)``, a single tiny
    exchange instead of the 4-job two-phase rank."""
    return _dense_stamp(df, list(order_by), out_col, 0)
