"""Input/scan blocks (SURVEY §2.1, S1–S11).

Each input block appends rows to the working set (bag union, order-
preserving). Builders here return unordered DataFrames; the caller
(plans/blocks.py) records each block's order as pending sort keys. Every
"history window" in the reference is a TID string range scan
(main.rs:1424); we keep a native timestamp column instead, so the same
predicate is a parquet partition-prune + row-group min/max skip — the
correct 100 TB scan shape.

`now` is passed explicitly everywhere (the reference uses Utc::now()); tests
and oracle queries pin it to a deterministic value (e.g. max(ts)).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import TimestampType

from query_engine_spark.operators.filters import has_any_label, is_reply
from query_engine_spark.operators.scoring import weight_fn
from query_engine_spark.operators.sql import on_frame, sql_column, sql_literal

__all__ = [
    "NOW_COL",
    "with_now",
    "with_now_sql",
    "now_sql",
    "window_pred",
    "tags_overlap",
    "input_tags",
    "input_labels",
    "input_feed",
    "input_did",
    "input_post",
    "input_liked_weighted",
    "input_liked_by_likers",
]


# hidden "now" column of the in-plan now mode (now=None): max(ts) of the
# posts, attached as data by `with_now` and dropped on output
NOW_COL = "__qe_now"


def with_now(posts: DataFrame, ts: str = "ts") -> DataFrame:
    """posts carrying NOW_COL = max(ts) over all of them, so window cutoffs
    and ages stay in-plan with no driver round-trip.

    A frame that already carries the column (a published
    ``PostStore.serving_view`` snapshot) is returned as is. Otherwise the
    column comes from a broadcast one-row crossJoin (the SC5
    broadcast-scalar pattern), which Spark re-plans with every query that
    reads it: one extra shuffle stage (the max) and one broadcast stage."""
    return posts if NOW_COL in posts.columns else on_frame(posts, with_now_sql("{rel}", ts))


def with_now_sql(rel: str, ts: str = "ts") -> str:
    """The query that attaches NOW_COL to relation `rel` (`with_now`)."""
    return f"SELECT /*+ BROADCAST(n) */ * FROM {rel} CROSS JOIN (SELECT max({ts}) AS {NOW_COL} FROM {rel}) n"


def now_sql(now: _dt.datetime | None) -> str:
    """`now` as SQL: None reads the in-plan NOW_COL; a datetime folds to an
    exact microsecond literal, which parquet min/max skipping and
    partition pruning can use directly."""
    return NOW_COL if now is None else f"timestamp_micros({TimestampType().toInternal(now)})"


@sql_column
def window_pred(now: str, seconds: int, ts: str = "ts") -> str:
    """ts >= now - seconds (main.rs:1417-1424 cutoff-TID range); `now` is
    `now_sql` text."""
    return f"{ts} >= {now} - INTERVAL {int(seconds)} SECOND"


@sql_column
def tags_overlap(tags: list[str], tags_col: str = "tags") -> str:
    """S3 — union of per-tag postings (main.rs:1606-1668). The reference
    unions tag bitmaps; `arrays_overlap` on the lowered tag array is the
    same set, one scan."""
    wanted = ", ".join(sql_literal(t.lower()) for t in tags)
    return f"arrays_overlap(transform(coalesce({tags_col}, array()), t -> lower(t)), array({wanted}))"


def input_tags(posts: DataFrame, tags: list[str], now: _dt.datetime | None, seconds: int = 604800) -> DataFrame:
    """S3 within the history window."""
    return posts.filter(tags_overlap(tags)).filter(window_pred(now_sql(now), seconds))


def input_labels(posts: DataFrame, labels: list[str], now: _dt.datetime | None, seconds: int = 604800) -> DataFrame:
    """S4 — main.rs:1669-1703; label keys "self/<val>" / "<did>/<val>"."""
    return posts.filter(has_any_label(labels)).filter(window_pred(now_sql(now), seconds))


def input_feed(posts: DataFrame, feed_ids: DataFrame, *, id_col: str = "id") -> DataFrame:
    """S5 — external feed skeleton ids semi-joined against the store,
    preserving the feed's order (main.rs:1704-1737). `feed_ids` carries
    (id, __feed_ord); rows missing from the store drop out (inner join)."""
    return feed_ids.join(posts, id_col, "inner")


def input_did(
    posts: DataFrame,
    author_key,
    *,
    author: str = "author_key",
    collection: str = "post",
    likes: DataFrame | None = None,
    reposts: DataFrame | None = None,
    parent_col: str = "parent",
    key_col: str = "key",
    user_col: str = "user_key",
    post_col: str = "post_key",
) -> DataFrame:
    """S6 — one user's rows by the `collection` matrix (prefetch
    main.rs:1300-1344, SQL templates main.rs:3755-3757):

        starts_with "post"   → authored top-level posts (parent == "")
        contains    "reply"  → authored replies (parent != "")
        contains    "repost" → posts the user reposted (edge table)
        ends_with   "like"   → posts the user liked (edge table)

    Parts union in that order (the reference appends sequentially). With full
    history in parquet the reference's "fetch remote" special case disappears:
    each part is a pruned scan or a broadcast semi-join on one user's edges.
    `withCounts` is an ingest concern here — counts are refreshed by
    streaming.ingest.merge_counts, not per query."""
    authored = posts.filter(F.col(author) == F.lit(author_key))
    has_parent = parent_col in posts.columns
    parts: list[DataFrame] = []
    if collection.startswith("post"):
        # tables without a parent ref have no reply notion — all rows are posts
        parts.append(authored.filter(~is_reply(parent_col)) if has_parent else authored)
    if "reply" in collection and has_parent:
        parts.append(authored.filter(is_reply(parent_col)))
    if "repost" in collection:
        if reposts is None:
            raise ValueError("collection includes 'repost' but no reposts edge table given")
        keys = reposts.filter(F.col(user_col) == F.lit(author_key)).select(F.col(post_col).alias(key_col))
        parts.append(posts.join(F.broadcast(keys.distinct()), key_col, "left_semi"))
    if collection.endswith("like"):
        if likes is None:
            raise ValueError("collection includes 'like' but no likes edge table given")
        keys = likes.filter(F.col(user_col) == F.lit(author_key)).select(F.col(post_col).alias(key_col))
        parts.append(posts.join(F.broadcast(keys.distinct()), key_col, "left_semi"))
    if not parts:
        return posts.limit(0)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def input_post(posts: DataFrame, post_id, *, id_col: str = "id") -> DataFrame:
    """S7 — single post by id; the caller PREPENDS it (main.rs:1780-1791)."""
    return posts.filter(F.col(id_col) == F.lit(post_id))


def input_liked_weighted(
    likes: DataFrame,
    posts: DataFrame,
    list_df: DataFrame,
    *,
    base_like_count: int = 0,
    user_col: str = "user_key",
    post_col: str = "post_key",
    key_col: str = "key",
) -> DataFrame:
    """S9 — posts liked by list members, scored Σ 1/(baseLikeCount +
    user_total_likes) (main.rs:1453-1514). Returns posts + `__batch_score`
    (the feed translator normalizes it into the score map and sorts by it).

    Shape: likes ⋈ list (broadcast semi) → per-user like totals (agg) →
    per-post weight sum (agg) → join posts. Two shuffles on likes, both
    keyed — the minimum for this computation. Both aggregates consume the
    member-filtered edges; AQE reuses their dedup exchange at runtime, so
    nothing is persisted.
    """
    likes = likes.select(user_col, post_col).distinct()  # bitmap edges are distinct
    members = list_df.select(F.col(list_df.columns[0]).alias(user_col)).distinct()
    member_likes = likes.join(F.broadcast(members), user_col, "left_semi")
    user_totals = member_likes.groupBy(user_col).agg(F.count("*").alias("__user_likes"))
    scored = (
        member_likes.join(user_totals, user_col)
        .withColumn("__w", F.lit(1.0) / (F.lit(float(base_like_count)) + F.col("__user_likes")))
        .groupBy(post_col)
        .agg(F.sum("__w").alias("__batch_score"))
    )
    return posts.join(scored, posts[key_col] == scored[post_col], "inner").drop(post_col)


def input_liked_by_likers(
    likes: DataFrame,
    posts: DataFrame,
    seed_posts: DataFrame,
    *,
    user_score_function: str = "f1",
    score_exponent: float = 1.0,
    user_col: str = "user_key",
    post_col: str = "post_key",
    key_col: str = "key",
) -> DataFrame:
    """S10 — 2-hop collaborative filtering (main.rs:1515-1605).

    Hop 1 (main.rs:1544-1562): for each seed post, each of its likers gains
    curator weight ``f(<liker count of that seed post>)`` — defaults
    userScoreFunction="f1", scoreExponent=1.3 — summed over the seed posts
    they liked; weights ≤ 0 are dropped before accumulating (main.rs:1558).
    Hop 2 (main.rs:1568-1589): every post any curator liked is scored
    Σ curator_weight; the working set is REPLACED by these posts sorted by
    score desc (posts.clear(), main.rs:1592-1599).

    Shape: two passes over the likes edge table (seed⋈likes → curators;
    curators⋈likes → posts), each a keyed agg. The seed set is small
    (a feed working set) → broadcast. The per-seed-post liker totals are
    computed from the seed-filtered edges (identical: seed_likes holds ALL
    likers of each seed post), never a full-table aggregate.
    """
    # the reference's like edges are Roaring bitmaps → (user, post) pairs are
    # implicitly distinct (main.rs:61-62); dedupe the edge table to match
    likes = likes.select(user_col, post_col).distinct()
    seed_keys = seed_posts.select(F.col(key_col).alias(post_col)).distinct()
    seed_likes = likes.join(F.broadcast(seed_keys), post_col, "left_semi")
    post_totals = seed_likes.groupBy(post_col).agg(F.count("*").alias("__post_likers"))
    per_like_w = seed_likes.join(F.broadcast(post_totals), post_col).withColumn(
        "__w", weight_fn(user_score_function, F.col("__post_likers"), score_exponent)
    )
    curators = (
        per_like_w.filter(F.col("__w") > 0.0)
        .groupBy(user_col)
        .agg(F.sum("__w").alias("__curator_w"))
    )
    curated = (
        likes.join(curators, user_col)
        .groupBy(post_col)
        .agg(F.sum("__curator_w").alias("__batch_score"))
    )
    return posts.join(curated, posts[key_col] == curated[post_col], "inner").drop(post_col)
