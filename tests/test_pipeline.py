"""Golden tests for the block-DSL translator (SURVEY §3 EP1) on fixtures."""

from __future__ import annotations

import pytest

from query_engine_spark.plans.blocks import PipelineContext, PipelineError, translate_pipeline
from tests.conftest import NOW


def run(spark, posts, blocks, **kw):
    ctx = PipelineContext(spark=spark, posts=posts, now=NOW, **kw)
    out = translate_pipeline(blocks, ctx)
    return [r["key"] for r in out.select("key").collect()]


def test_firehose_default_window(spark, posts):
    # default 86400s: keys 1,2,7,8 are <1 day old (3 is exactly 0.5d → in)
    got = run(spark, posts, [{"type": "input", "inputType": "firehose"}])
    assert got == [1, 2, 3, 7, 8]  # id order


def test_firehose_filter_sort_limit(spark, posts):
    blocks = [
        {"type": "input", "inputType": "firehose", "firehoseSeconds": 7 * 86400},
        # item filters ignore polarity and REMOVE the matching kind
        # (main.rs:1801-1816): value "reply" removes replies, keeping posts
        {"type": "keep", "subject": "item", "value": "reply"},
        {"type": "sort", "sortType": "likes", "sortDirection": "desc"},
        {"type": "limit", "count": 3},
    ]
    assert run(spark, posts, blocks) == [6, 3, 1]


def test_item_filter_removes_matching_both_polarities(spark, posts):
    # `keep item value=post` REMOVES posts (retains replies) — the reference
    # ignores keep/remove for this subject (main.rs:1801-1816)
    week = {"firehoseSeconds": 7 * 86400}
    base = [{"type": "input", "inputType": "firehose", **week}]
    keep_post = run(spark, posts, base + [{"type": "keep", "subject": "item", "value": "post"}])
    remove_post = run(spark, posts, base + [{"type": "remove", "subject": "item", "value": "post"}])
    assert keep_post == remove_post == [4, 8]  # the replies
    # default value is "reply" (main.rs:1801-1805) → removes replies
    default = run(spark, posts, base + [{"type": "keep", "subject": "item"}])
    assert default == [1, 2, 3, 5, 6, 7]


def test_input_post_prepends(spark, posts):
    blocks = [
        {"type": "input", "inputType": "firehose"},
        {"type": "input", "inputType": "post", "postId": "p0006"},
    ]
    # input.post prepends (main.rs:1780-1791)
    assert run(spark, posts, blocks) == [6, 1, 2, 3, 7, 8]


def test_where_script_and_score_sort(spark, posts):
    blocks = [
        {"type": "input", "inputType": "firehose", "firehoseSeconds": 7 * 86400},
        {"type": "keep", "subject": "where", "value": "likeCount > 3 && imageCount == 0"},
        {"type": "score", "scoreType": "add", "from": "likes", "normalize": True},
        {"type": "sort", "sortType": "score", "sortDirection": "desc"},
    ]
    # survivors: 2(l5),3(l50),5(l7),6(l100); score = likes/100
    assert run(spark, posts, blocks) == [6, 3, 5, 2]


def test_stash_pop_subtract(spark, posts):
    blocks = [
        {"type": "input", "inputType": "firehose"},  # 1,2,3,7,8
        {"type": "stash", "action": "stash", "key": "x"},
        {"type": "input", "inputType": "did", "did": 3},  # author 3 → 5,6
        {"type": "stash", "action": "pop", "key": "x"},  # 5,6 then 1,2,3,7,8
        {"type": "remove", "subject": "item", "value": "reply"},  # drop 8 (4 not in set)
    ]
    assert run(spark, posts, blocks) == [5, 6, 1, 2, 3, 7]


def test_stash_subtract(spark, posts):
    blocks = [
        {"type": "input", "inputType": "firehose"},  # 1,2,3,7,8
        {"type": "stash", "action": "stash", "key": "s"},
        {"type": "input", "inputType": "firehose", "firehoseSeconds": 7 * 86400},  # 1..8
        {"type": "stash", "action": "subtract", "key": "s"},  # minus {1,2,3,7,8}
    ]
    assert run(spark, posts, blocks) == [4, 5, 6]


def test_replace_parent_keep_missing(spark, posts):
    blocks = [
        {"type": "input", "inputType": "firehose", "firehoseSeconds": 7 * 86400},
        {"type": "replace", "with": "parent"},
    ]
    # key4 parent p0001 → replaced by 1; key8 parent p9999 missing → DROPPED;
    # all others have empty parent → kept as-is (keepItemsWithMissingTarget)
    assert sorted(run(spark, posts, blocks)) == [1, 1, 2, 3, 5, 6, 7]


def test_replace_direct_replies(spark, posts):
    blocks = [
        {"type": "input", "inputType": "post", "postId": "p0001"},
        {"type": "replace", "with": "direct_replies"},
    ]
    assert run(spark, posts, blocks) == [4]


def test_replace_quote_posts(spark, posts):
    blocks = [
        {"type": "input", "inputType": "post", "postId": "p0002"},
        {"type": "replace", "with": "quote_posts"},
    ]
    assert run(spark, posts, blocks) == [5]


def test_posts_per_user_limit(spark, posts):
    blocks = [
        {"type": "input", "inputType": "firehose", "firehoseSeconds": 7 * 86400},
        {"type": "limit", "limitType": "posts_per_user", "count": 1},
    ]
    # first post per author in id order: 1(a1), 3(a2), 5(a3), 7(a4)
    assert run(spark, posts, blocks) == [1, 3, 5, 7]


def test_input_list_via_follows(spark, posts, follows):
    blocks = [
        {"type": "input", "inputType": "firehose", "firehoseSeconds": 7 * 86400},
        {"type": "keep", "subject": "list", "listUri": "at://list/1"},
    ]
    lst = spark.createDataFrame([(2,), (3,)], "author_key long")
    got = run(spark, posts, blocks, lists={"at://list/1": lst})
    assert got == [3, 4, 5, 6]


def test_custom_likedweighted(spark, posts, likes):
    lst = spark.createDataFrame([(10,), (12,)], "user_key long")
    blocks = [{"type": "input", "inputType": "custom_likedweighted",
               "listUri": "l", "baseLikeCount": 0}]
    ctx_kw = dict(likes=likes, lists={"l": lst})
    got = run(spark, posts, blocks, **ctx_kw)
    # u10 likes {1,2,3} (3 total → w=1/3); u12 likes {3,5,6} (w=1/3)
    # scores: 1:1/3, 2:1/3, 3:2/3, 5:1/3, 6:1/3 → sorted desc, key desc ties
    assert got[0] == 3
    assert set(got) == {1, 2, 3, 5, 6}


def test_admission_control(spark, posts):
    with pytest.raises(PipelineError):
        run(spark, posts, [{"type": "input", "inputType": "firehose"}] * 33)
    with pytest.raises(PipelineError):
        run(spark, posts, [{"type": "input", "inputType": "firehose"}]
            + [{"type": "regex", "value": "x"}] * 11)


def test_input_after_sort_appends_in_order(spark, posts):
    # a stamped (sorted) segment followed by a pending input segment must
    # keep append order: sorted firehose first, then author-3 posts by id
    blocks = [
        {"type": "input", "inputType": "firehose", "firehoseSeconds": 7 * 86400},
        {"type": "keep", "subject": "item", "value": "reply"},  # drop replies
        {"type": "sort", "sortType": "likes", "sortDirection": "desc"},
        {"type": "input", "inputType": "did", "did": 3},  # author 3 → 5,6
    ]
    # sorted non-replies by likes desc: 6(100),3(50),1(10),2(5),5(7)... recompute:
    # non-replies in week: 1(10),2(5),3(50),5(7),6(100),7(0) → desc: 6,3,1,5,2,7
    assert run(spark, posts, blocks) == [6, 3, 1, 5, 2, 7, 5, 6]


def test_stash_of_sorted_segment_pops_in_sorted_order(spark, posts):
    blocks = [
        {"type": "input", "inputType": "firehose", "firehoseSeconds": 7 * 86400},
        {"type": "keep", "subject": "item", "value": "reply"},
        {"type": "sort", "sortType": "likes", "sortDirection": "desc"},
        {"type": "stash", "action": "stash", "key": "s"},
        {"type": "input", "inputType": "did", "did": 3},
        {"type": "stash", "action": "pop", "key": "s"},
    ]
    assert run(spark, posts, blocks) == [5, 6, 6, 3, 1, 5, 2, 7]


def test_posts_per_user_after_sort_uses_sorted_order(spark, posts):
    blocks = [
        {"type": "input", "inputType": "firehose", "firehoseSeconds": 7 * 86400},
        {"type": "sort", "sortType": "likes", "sortDirection": "desc"},
        {"type": "limit", "limitType": "posts_per_user", "count": 1},
    ]
    # per author, keep the HIGHEST-liked post (first in sorted order):
    # a1: 1(10) over 2(5); a2: 3(50) over 4(2); a3: 6(100) over 5(7); a4: 8(3) over 7(0)
    got = run(spark, posts, blocks)
    assert sorted(got) == [1, 3, 6, 8]
    assert got == [6, 3, 1, 8]  # and in sorted (like-desc) order


def test_duplicates_block_keeps_first_across_segments(spark, posts):
    blocks = [
        {"type": "input", "inputType": "firehose"},  # 1,2,3,7,8
        {"type": "input", "inputType": "firehose", "firehoseSeconds": 7 * 86400},  # 1..8
        {"type": "keep", "subject": "duplicates"},
    ]
    # first occurrence survives in position: 1,2,3,7,8 from block 1, then 4,5,6
    assert run(spark, posts, blocks) == [1, 2, 3, 7, 8, 4, 5, 6]
    blocks[2] = {"type": "keep", "subject": "non_duplicates"}
    # only 2nd+ occurrences survive: the week-window copies of 1,2,3,7,8
    assert run(spark, posts, blocks) == [1, 2, 3, 7, 8]


def test_three_score_blocks_fold_into_one_exchange(spark, posts, tmp_path):
    """The score map (post_score_global) must resolve in ONE key-partitioned
    Exchange regardless of the number of score blocks — hash(key) clusters
    (key, batch) too, so both the per-(key,batch) max and the per-key sum
    are partition-local (round 2 chained a full_outer join per block).
    The fixture is read back from parquet, so the scan has size statistics
    as a store window does and the final score join can broadcast."""
    import re

    posts.write.parquet(str(tmp_path / "posts"))
    posts = spark.read.parquet(str(tmp_path / "posts"))
    blocks = [{"type": "input", "inputType": "firehose", "firehoseSeconds": 7 * 86400}] + [
        {"type": "score", "scoreType": "add", "value": f"likeCount * {i + 1.0}", "normalize": False}
        for i in range(3)
    ]
    out = translate_pipeline(blocks, PipelineContext(spark=spark, posts=posts, now=NOW))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "full_outer" not in plan.lower()
    # semantics: batches sum per key (per-batch per-key overwrite first)
    row = out.filter("key = 6").collect()[0]
    assert row["score"] == 100.0 * (1 + 2 + 3)


def test_score_blocks_still_sum_through_pipeline(spark, posts):
    blocks = [
        {"type": "input", "inputType": "firehose", "firehoseSeconds": 7 * 86400},
        {"type": "score", "scoreType": "add", "from": "likes", "normalize": False},
        {"type": "score", "scoreType": "add", "from": "reply_count", "normalize": False},
        {"type": "score", "scoreType": "add", "value": "1.5", "normalize": False},
        {"type": "sort", "sortType": "score", "sortDirection": "desc"},
        {"type": "limit", "count": 3},
    ]
    ctx = PipelineContext(spark=spark, posts=posts, now=NOW)
    out = translate_pipeline(blocks, ctx)
    rows = out.select("key", "score").collect()
    got = {r["key"]: r["score"] for r in rows}
    # key6: 100 likes + 0 replies + 1.5
    assert got[6] == 101.5


def test_final_limit_500(spark):
    import datetime as dt
    from query_engine_spark.datamodel import POST_SCHEMA, normalize_posts
    from tests.conftest import _post

    many = [_post(i, days_ago=0.01 + i * 1e-5, likes=i) for i in range(1, 601)]
    df = normalize_posts(spark.createDataFrame(many, schema=POST_SCHEMA))
    ctx = PipelineContext(spark=spark, posts=df, now=NOW)
    out = translate_pipeline([{"type": "input", "inputType": "firehose"}], ctx)
    assert out.count() == 500
