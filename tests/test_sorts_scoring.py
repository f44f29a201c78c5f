"""Tests for the feed translator's sort/limit/score blocks, the shared
top-N and weight helpers, and graph joins on fixtures."""

from __future__ import annotations

from pyspark.sql import functions as F

from query_engine_spark.operators import joins as J
from query_engine_spark.operators import sorts as So
from query_engine_spark.operators.ordering import ORD, stamp_ord
from query_engine_spark.operators.scoring import weight_fn
from query_engine_spark.plans.blocks import PipelineContext, translate_pipeline
from tests.conftest import NOW

WEEK = {"type": "input", "inputType": "firehose", "firehoseSeconds": 7 * 86400}


def ordered_keys(df):
    return [r["key"] for r in df.orderBy(ORD).select("key").collect()]


def translate(spark, posts, blocks, **kw):
    return translate_pipeline(blocks, PipelineContext(spark=spark, posts=posts, now=NOW, **kw))


def sort(sort_type, direction="desc"):
    return {"type": "sort", "sortType": sort_type, "sortDirection": direction}


def test_sort_created_at(spark, posts):
    got = ordered_keys(translate(spark, posts, [WEEK, sort("created_at")]))
    assert got == [1, 2, 7, 8, 3, 4, 5, 6]


def test_sort_counts_stability(spark, posts):
    # ties break by id, not by the previous order: the created_at sort
    # leaves 6,5,4,3,8,7,2,1, yet the zero-reply rows come out in id order
    blocks = [WEEK, sort("created_at", "asc"), sort("reply_count")]
    # reply_count: key1=2, others 0 → key1 first, rest in id order
    assert ordered_keys(translate(spark, posts, blocks)) == [1, 2, 3, 4, 5, 6, 7, 8]


def test_apply_limit_uses_ord(spark, posts):
    # the sort fuses with the first limit; the second limit reads __ord
    blocks = [WEEK, sort("likes"), {"type": "limit", "count": 5}, {"type": "limit", "count": 3}]
    assert ordered_keys(translate(spark, posts, blocks)) == [6, 3, 1]


def test_posts_per_user(posts):
    base = stamp_ord(posts, ["id"], 0)
    got = ordered_keys(So.posts_per_user(base, 1))
    assert got == [1, 3, 5, 7]


def test_sort_random_seeded(spark, posts):
    a = ordered_keys(translate(spark, posts, [WEEK, sort("random")], random_seed=42))
    b = ordered_keys(translate(spark, posts, [WEEK, sort("random")], random_seed=42))
    assert a == b and sorted(a) == list(range(1, 9))


def test_add_score_normalized(spark, posts):
    score = {"type": "score", "from": "likes", "scoreNormalizationMultiplier": "2.0"}
    got = {r["key"]: r["score"] for r in translate(spark, posts, [WEEK, score]).collect()}
    assert got[6] == 2.0  # max likes=100 → normalized 1 × 2
    assert abs(got[3] - 1.0) < 1e-12  # 50/100 × 2
    # normalization bounds: all scores within [0, multiplier]
    assert all(0.0 <= v <= 2.0 for v in got.values())


def test_weight_fns(spark):
    df = spark.range(1).select(F.lit(16.0).alias("c"))

    def run(name, **kw):
        return df.select(weight_fn(name, F.col("c"), **kw).alias("v")).collect()[0]["v"]

    assert run("f1") == 1 / 16
    assert run("f2") == 100 - 4
    assert abs(run("f3") - (10 - 2.772588722239781)) < 1e-12
    assert run("f4") == 0.25
    assert run("f0", score_exponent=2.0) == 1 / 256
    assert run("unknown") == 1.0


def test_follow_expansions(follows):
    assert sorted(r["did"] for r in J.following(follows, "a").collect()) == ["b", "c"]
    assert sorted(r["did"] for r in J.followers(follows, "a").collect()) == ["b", "e"]
    assert [r["did"] for r in J.mutuals(follows, "a").collect()] == ["b"]
    got = sorted(r["did"] for r in J.following_following(follows, "a").collect())
    assert got == ["a", "d"]  # via b→a and c→d
