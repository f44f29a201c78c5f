"""Golden tests for the remaining block-translator paths."""

from __future__ import annotations

import pytest

from query_engine_spark.plans.blocks import PipelineContext, PipelineError, translate_pipeline
from tests.conftest import NOW


def run(spark, posts, blocks, **kw):
    ctx = PipelineContext(spark=spark, posts=posts, now=NOW, **kw)
    out = translate_pipeline(blocks, ctx)
    return [r["key"] for r in out.select("key").collect()]


WEEK = {"firehoseSeconds": 7 * 86400}


def test_input_tags_block(spark, posts):
    # tags are lowered before matching (main.rs:1626): "SPARK" tag on key 6
    blocks = [{"type": "input", "inputType": "tags", "tags": ["spark"], "historySeconds": 7 * 86400}]
    assert run(spark, posts, blocks) == [1, 2, 6]


def test_input_labels_block(spark, posts):
    blocks = [{"type": "input", "inputType": "labels", "labels": ["self/nsfw"], "historySeconds": 7 * 86400}]
    assert run(spark, posts, blocks) == [3]


def test_input_feed_block(spark, posts):
    feed = spark.createDataFrame([(1, "p0005"), (2, "p0001"), (3, "p9999")], "__feed_ord int, id string")
    blocks = [{"type": "input", "inputType": "feed", "feedUri": "at://f"}]
    # feed order preserved; missing id dropped (main.rs:1732-1737)
    assert run(spark, posts, blocks, feeds={"at://f": feed}) == [5, 1]


def test_input_archived_block(spark, posts):
    blocks = [{"type": "input", "inputType": "archived", "limit": 3}]
    # newest-first cap (main.rs:1369-1371)
    assert run(spark, posts, blocks) == [1, 2, 7]


def test_input_archived_children_pushdown(spark, posts):
    blocks = [{
        "type": "input", "inputType": "archived", "limit": 10,
        "children": [
            {"type": "regex", "value": "spark|deutscher|quoting", "regexType": "text"},
            {"type": "keep", "subject": "like_count", "min": 8},
        ],
    }]
    # text matches: 1 (spark, 10 likes), 3 (deutscher, 50), 5 (quoting, 7);
    # min 8 drops 5 → newest-first: 1, 3
    assert run(spark, posts, blocks) == [1, 3]
    blocks[0]["children"].append({"type": "keep", "subject": "videos"})
    assert run(spark, posts, blocks) == []


def test_regex_block_via_translator(spark, posts):
    blocks = [
        {"type": "input", "inputType": "firehose", **WEEK},
        {"type": "regex", "value": "spark", "target": "text|alt_text"},
    ]
    assert run(spark, posts, blocks) == [1]
    blocks[1]["invert"] = True
    assert run(spark, posts, blocks) == [2, 3, 4, 5, 6, 7, 8]


def test_language_and_embed_blocks(spark, posts):
    # the reference reads only filter["language"]; a `value` key is IGNORED
    # (main.rs:1885-1902) — so this behaves as the default "en"
    blocks = [
        {"type": "input", "inputType": "firehose", **WEEK},
        {"type": "keep", "subject": "language", "value": "de"},
    ]
    assert run(spark, posts, blocks) == [1, 2, 4, 5, 6, 7, 8]
    blocks = [
        {"type": "input", "inputType": "firehose", **WEEK},
        {"type": "keep", "subject": "embed", "value": "post"},  # embed always REMOVES matches
    ]
    assert run(spark, posts, blocks) == [1, 2, 3, 4, 6, 7, 8]


def test_image_count_and_videos_blocks(spark, posts):
    blocks = [
        {"type": "input", "inputType": "firehose", **WEEK},
        # image_count filters REMOVE the matching bucket in both polarities
        # (main.rs:1817-1830): "2+" drops posts with >= 2 images
        {"type": "keep", "subject": "image_count", "value": "2+"},
    ]
    assert run(spark, posts, blocks) == [1, 2, 3, 4, 5, 6, 8]
    blocks = [
        {"type": "input", "inputType": "firehose", **WEEK},
        {"type": "remove", "subject": "videos"},
    ]
    assert run(spark, posts, blocks) == [1, 2, 3, 4, 6, 7, 8]


def test_score_value_script_block(spark, posts):
    blocks = [
        {"type": "input", "inputType": "firehose", **WEEK},
        {"type": "score", "scoreType": "add", "value": "likeCount * 2", "normalize": False},
        {"type": "sort", "sortType": "score", "sortDirection": "desc"},
        {"type": "limit", "count": 2},
    ]
    assert run(spark, posts, blocks) == [6, 3]


def test_sort_hn_fused_with_limit(spark, posts):
    blocks = [
        {"type": "input", "inputType": "firehose", **WEEK},
        {"type": "sort", "sortType": "hn", "gravity": "1.8"},
        {"type": "limit", "count": 3},
    ]
    got = run(spark, posts, blocks)
    assert len(got) == 3
    # newest high-like posts win the decay: key1 (10 likes, 0.1d) beats key6
    # (100 likes, 6.5d): 10/(2.4+2)^1.8 ≈ 0.69 vs 100/(158)^1.8 ≈ 0.011
    assert got[0] == 1


def test_score_normalization_multiplier(spark, posts):
    blocks = [
        {"type": "input", "inputType": "firehose", **WEEK},
        {"type": "score", "scoreType": "add", "from": "likes",
         "scoreNormalizationMultiplier": "10.0"},
        {"type": "sort", "sortType": "score", "sortDirection": "asc"},
        {"type": "limit", "count": 1},
    ]
    got = run(spark, posts, blocks)
    assert got == [7]  # key 7 has 0 likes → lowest normalized score


def test_input_did_collection_matrix(spark, posts, likes):
    # author 2: key3 (post), key4 (reply). "post" → only key3
    blocks = [{"type": "input", "inputType": "did", "did": 2, "collection": "post"}]
    assert run(spark, posts, blocks) == [3]
    # "post_reply" hits both branches of the matrix (main.rs:1319-1336)
    blocks = [{"type": "input", "inputType": "did", "did": 2, "collection": "post_reply"}]
    assert run(spark, posts, blocks) == [3, 4]
    # trailing "like": posts user 10 liked (edge table) — keys 1,2,3
    blocks = [{"type": "input", "inputType": "did", "did": 10, "collection": "like"}]
    assert run(spark, posts, blocks, likes=likes) == [1, 2, 3]


def test_unknown_block_rejected(spark, posts):
    with pytest.raises(PipelineError):
        run(spark, posts, [{"type": "frobnicate"}])
    with pytest.raises(PipelineError):
        run(spark, posts, [{"type": "input", "inputType": "mystery"}])


def test_count_filter_default_operator_and_remove_matching(spark, posts):
    # default operator is "<" and matching rows are REMOVED regardless of
    # polarity (main.rs:1831-1884): value=8 retains like_count >= 8
    blocks = [
        {"type": "input", "inputType": "firehose", **WEEK},
        {"type": "keep", "subject": "like_count", "value": 8},
    ]
    assert run(spark, posts, blocks) == [1, 3, 6]
    blocks[1] = {"type": "remove", "subject": "like_count", "value": 8}
    assert run(spark, posts, blocks) == [1, 3, 6]
    # ">" removes like_count > 8 → retains <= 8
    blocks[1] = {"type": "keep", "subject": "like_count", "operator": ">", "value": 8}
    assert run(spark, posts, blocks) == [2, 4, 5, 7, 8]


def test_language_block_reads_language_key(spark, posts):
    # the reference reads filter["language"] (default "en") with default
    # operator "!=" (remove posts NOT in the language) — main.rs:1885-1902
    blocks = [
        {"type": "input", "inputType": "firehose", **WEEK},
        {"type": "keep", "subject": "language", "language": "de"},
    ]
    assert run(spark, posts, blocks) == [2, 3]
    # "==" removes posts IN the language, same in both polarities
    blocks[1] = {"type": "remove", "subject": "language", "language": "de", "operator": "=="}
    assert run(spark, posts, blocks) == [1, 4, 5, 6, 7, 8]
    # default language is "en"
    blocks[1] = {"type": "keep", "subject": "language"}
    assert run(spark, posts, blocks) == [1, 2, 4, 5, 6, 7, 8]


def test_skygraph_community_and_top_moots_resolution(spark, posts):
    from query_engine_spark.plans.blocks import PipelineContext

    comm = spark.createDataFrame(
        [("dogs", 2), ("dogs", 3), ("cats", 4)], "community string, user_key long"
    )
    moots = spark.createDataFrame(
        [("u1", "u9", 5.0), ("u1", "u7", 9.0), ("u2", "u5", 1.0)],
        "src_key string, dst_key string, weight double",
    )
    ctx = PipelineContext(spark=spark, posts=posts, communities=comm, moots=moots)
    got = ctx.resolve_list({"listUri": "skygraph://community/dogs"})
    assert sorted(r["did"] for r in got.collect()) == [2, 3]
    # topMoots: the user's precomputed moots, weight-desc (main.rs:3072-3089)
    got = ctx.resolve_list({"listUri": "skygraph://u1/topMoots"})
    assert [r["did"] for r in got.collect()] == ["u7", "u9"]
    with pytest.raises(PipelineError):
        ctx.resolve_list({"listUri": "skygraph://u1/unknownKind"})
    # the tables are optional — absent tables error cleanly
    bare = PipelineContext(spark=spark, posts=posts)
    with pytest.raises(PipelineError):
        bare.resolve_list({"listUri": "skygraph://community/dogs"})


def test_top_moots_derived_from_edges(spark):
    from query_engine_spark.operators import joins as J

    follows = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (3, 1), (1, 4)], "src_did long, dst_did long"
    )
    posts = spark.createDataFrame(
        [(100, 2), (101, 3), (102, 1), (103, 1)], "key long, author_key long"
    )
    likes = spark.createDataFrame(
        [(1, 100), (1, 101), (3, 102), (3, 103)], "user_key long, post_key long"
    )
    out = J.top_moots(follows, likes, posts, 1, 10).collect()
    # mutuals(1) = {2, 3}; weight(3) = 1 outbound + 2 inbound = 3; weight(2) = 1
    assert [(r["did"], r["weight"]) for r in out] == [(3, 3), (2, 1)]


def test_stash_pop_clones_and_missing_key_errors(spark, posts):
    from query_engine_spark.plans.blocks import PipelineError

    # pop does NOT consume the slot — the reference clones on pop
    # (main.rs:2325-2326), so the same key pops twice
    blocks = [
        {"type": "input", "inputType": "firehose"},  # 1,2,3,7,8
        {"type": "stash", "action": "stash", "key": "x"},
        {"type": "stash", "action": "pop", "key": "x"},
        {"type": "stash", "action": "pop", "key": "x"},
    ]
    assert run(spark, posts, blocks) == [1, 2, 3, 7, 8, 1, 2, 3, 7, 8]
    # pop/subtract of an unknown key hard-error (main.rs:2320-2333)
    for action in ("pop", "subtract"):
        with pytest.raises(PipelineError):
            run(spark, posts, [
                {"type": "input", "inputType": "firehose"},
                {"type": "stash", "action": action, "key": "nope"},
            ])


def test_request_strings_reach_spark_as_values(spark, posts):
    """A regex value and a where-script string literal holding a quote, a
    backslash and SQL comment markers match as values: no parse error, and
    the same feed as the hand-built rlike / filter over the fixture."""
    from pyspark.sql import functions as F

    from query_engine_spark.datamodel import POST_SCHEMA, normalize_posts
    from tests.conftest import POSTS_FIXTURE, _post

    odd = "it's \\ -- */ {x}"
    rows = POSTS_FIXTURE + [_post(9, text=f"say {odd} now", langs=[odd]), _post(10, text="it's -- */")]
    odd_posts = normalize_posts(spark.createDataFrame(rows, schema=POST_SCHEMA))
    week = {"type": "input", "inputType": "firehose", **WEEK}

    pattern = "it's \\\\ -- \\*/"
    want = sorted(r["key"] for r in odd_posts.filter(F.col("text").rlike("(?i)" + pattern)).collect())
    assert run(spark, odd_posts, [week, {"type": "regex", "value": pattern}]) == want == [9]

    script = 'lang == "' + odd.replace("\\", "\\\\") + '"'
    want = sorted(r["key"] for r in odd_posts.filter(F.col("langs")[0] == odd).collect())
    assert run(spark, odd_posts, [week, {"type": "keep", "subject": "where", "value": script}]) == want == [9]
