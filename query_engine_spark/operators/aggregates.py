"""Aggregations (SURVEY §2.7, A1–A7).

The reference maintains these as incremental index state (tag variation maps,
count views, bitmap cardinalities); declaratively they are all one-line
groupBy aggregates. Map-side partial aggregation + AQE handle the 100 TB
shapes; `max_by` replaces the reference's argmax loops.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame, functions as F

from query_engine_spark.operators.inputs import NOW_COL, with_now

__all__ = [
    "trending_tags",
    "tag_variations",
    "degree_counts",
    "user_like_totals",
    "salted_agg",
    "table_stats",
]


def trending_tags(
    posts: DataFrame,
    now: _dt.datetime | Column | None,
    minutes: int = 600,
    *,
    tags_col: str = "tags",
    ts: str = "ts",
    min_count: int = 2,
    top: int = 100,
) -> DataFrame:
    """A1 — GET getTrendingTags (main.rs:626-688): count posts per lowered tag
    within the trailing window, keep count > 2, pick the most popular spelling
    variation (argmax over variation counts, main.rs:658-667), top-100 by
    count. Output: (tag, name, count).

    One explode + two-level agg; the variation argmax is `max_by` over the
    per-(tag, spelling) counts — no driver-side loops.

    `now=None` pins the window to max(ts) IN-PLAN (`inputs.with_now`: the
    column a published PostStore snapshot carries, else a broadcast one-row
    crossJoin) — no driver round-trip. A datetime `now` (serving: the
    request time) folds to a literal the parquet reader can min/max-skip on.
    """
    if now is None:
        posts = with_now(posts, ts)
        now = F.col(NOW_COL)
    if isinstance(now, Column):
        window = F.col(ts) >= now - F.expr(f"INTERVAL {int(minutes)} MINUTE")
    else:
        window = F.col(ts) >= F.lit(now - _dt.timedelta(minutes=minutes))
    exploded = (
        posts.filter(window)
        .select(F.explode(F.coalesce(F.col(tags_col), F.array())).alias("name"))
        .withColumn("tag", F.lower(F.col("name")))
    )
    per_spelling = exploded.groupBy("tag", "name").agg(F.count("*").alias("n"))
    per_tag = (
        per_spelling.groupBy("tag")
        .agg(
            F.sum("n").alias("count"),
            # deterministic argmax: break count ties by the spelling itself
            F.max_by("name", F.struct(F.col("n"), F.col("name"))).alias("name"),
        )
        .filter(F.col("count") > min_count)
        .orderBy(F.col("count").desc(), F.col("tag"))
        .limit(top)
    )
    return per_tag.select("tag", "name", "count")


def tag_variations(posts: DataFrame, *, tags_col: str = "tags") -> DataFrame:
    """A2 — running (lower(tag), raw spelling) counts (main.rs:3221-3245)."""
    return (
        posts.select(F.explode(F.coalesce(F.col(tags_col), F.array())).alias("name"))
        .groupBy(F.lower(F.col("name")).alias("tag"), "name")
        .agg(F.count("*").alias("n"))
    )


def degree_counts(follows: DataFrame) -> DataFrame:
    """A4 — follower/following counts from the follows edge table
    (main.rs:3386-3390, 3425-3440). Returns (did, following, followers)."""
    out_deg = follows.groupBy(F.col("src_did").alias("did")).agg(F.count("*").alias("following"))
    in_deg = follows.groupBy(F.col("dst_did").alias("did")).agg(F.count("*").alias("followers"))
    return out_deg.join(in_deg, "did", "full_outer").fillna(0, ["following", "followers"])


def user_like_totals(likes: DataFrame, *, user_col: str = "user_key") -> DataFrame:
    """A5 — per-user like totals (main.rs:1479-1483)."""
    return likes.groupBy(user_col).agg(F.count("*").alias("like_total"))


def salted_agg(
    df: DataFrame,
    key: str,
    aggs: dict[str, str],
    *,
    salt: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed keys: partial agg on (key, salt) —
    spreading a hot key over `salt` reducers — then final agg on key.

    Exact for decomposable aggregates; `aggs` maps column → "sum"|"count"|
    "max"|"min". Spark's map-side partial aggregation already handles
    moderate skew; this is the explicit fix when one key dominates entire
    partitions (e.g. a viral post's like edges). AQE's skew-join handling
    covers the join side; this covers the groupBy side.
    """
    supported = {"sum", "count", "max", "min"}
    for c, how in aggs.items():
        if how not in supported:
            raise ValueError(f"unsupported salted agg {how!r} for {c!r}")
    salted = df.withColumn("__salt", (F.rand() * salt).cast("int"))
    partial_exprs = []
    final_exprs = []
    for c, how in aggs.items():
        out = f"{c}_{how}"
        if how == "count":
            partial_exprs.append(F.count(c).alias(out))
            final_exprs.append(F.sum(out).alias(out))
        elif how == "sum":
            partial_exprs.append(F.sum(c).alias(out))
            final_exprs.append(F.sum(out).alias(out))
        elif how == "max":
            partial_exprs.append(F.max(c).alias(out))
            final_exprs.append(F.max(out).alias(out))
        else:
            partial_exprs.append(F.min(c).alias(out))
            final_exprs.append(F.min(out).alias(out))
    partial = salted.groupBy(key, "__salt").agg(*partial_exprs)
    return partial.groupBy(key).agg(*final_exprs)


def table_stats(tables: dict[str, DataFrame]) -> DataFrame:
    """A7 — admin stats endpoint: table cardinalities (main.rs:690-704)."""
    out = None
    for name, df in sorted(tables.items()):
        one = df.groupBy().agg(F.count("*").alias("rows")).select(F.lit(name).alias("table"), "rows")
        out = one if out is None else out.unionByName(one)
    assert out is not None, "no tables given"
    return out
