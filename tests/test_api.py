"""Serving-layer tests: the three entry points + the HTTP wrapper."""

from __future__ import annotations

import json
import urllib.request

import pytest

from pyspark.sql import functions as F

from query_engine_spark.api import (
    FeedServer,
    generate_feed_skeleton,
    generate_list_skeleton,
    get_trending_tags,
)
from query_engine_spark.plans.blocks import PipelineContext
from query_engine_spark.plans.profiles import ProfileContext
from query_engine_spark.datamodel import PROFILE_SCHEMA
from tests.conftest import NOW

BLOCKS = [
    {"type": "input", "inputType": "firehose", "firehoseSeconds": 7 * 86400, "id": "in"},
    {"type": "keep", "subject": "item", "value": "reply", "id": "keep"},
    {"type": "sort", "sortType": "likes", "sortDirection": "desc"},
    {"type": "limit", "count": 3},
]


def test_feed_skeleton_response_shape(spark, posts):
    ctx = PipelineContext(spark=spark, posts=posts, now=NOW)
    resp = generate_feed_skeleton(ctx, BLOCKS, debug_counts=True)
    assert [f["post"] for f in resp["feed"]] == ["p0006", "p0003", "p0001"]
    assert resp["debug"]["counts"]["in"] == 8
    assert resp["debug"]["counts"]["keep"] == 6
    assert "time" in resp["debug"]


def test_feed_skeleton_script_tier_visibility(spark, posts):
    """r16 (verdict r15 ask #5): the debug payload names which tier each
    where/score script block ran on. Since the r15 closures route
    statically ill-typed shapes to the interpreter tier instead of
    hard-failing, a buggy config can silently land on the 10-100× slow
    path — the serving layer must expose that, with the routing reason."""
    ctx = PipelineContext(spark=spark, posts=posts, now=NOW, allow_udf_scripts=True)
    blocks = [
        {"type": "input", "inputType": "firehose", "id": "in"},
        {"type": "keep", "subject": "where", "value": "likeCount >= 0", "id": "w_sql"},
        {"type": "score", "scoreType": "add", "value": "likeCount * 2", "id": "s_sql"},
        # imperative script: only the interpreter tier can run it
        {"type": "keep", "subject": "where",
         "value": "let n = likeCount; let ok = false; while n > 0 { ok = true; n = n - 100; } ok || likeCount == 0",
         "id": "w_udf"},
    ]
    resp = generate_feed_skeleton(ctx, blocks)
    tiers = resp["debug"]["script_tiers"]
    assert tiers["w_sql"] == {"kind": "where", "tier": "sql"}
    assert tiers["s_sql"] == {"kind": "score", "tier": "sql"}
    assert tiers["w_udf"]["tier"] == "udf" and tiers["w_udf"]["kind"] == "where"
    assert "while" in tiers["w_udf"]["reason"]
    # a reused ctx starts each translation with a FRESH log
    resp2 = generate_feed_skeleton(
        ctx, [{"type": "input", "inputType": "firehose"},
              {"type": "keep", "subject": "where", "value": "true", "id": "only"}])
    assert set(resp2["debug"]["script_tiers"]) == {"only"}
    # blocks without ids get positional keys
    resp3 = generate_feed_skeleton(
        ctx, [{"type": "input", "inputType": "firehose"},
              {"type": "keep", "subject": "where", "value": "likeCount > 1"}])
    assert set(resp3["debug"]["script_tiers"]) == {"where#0"}


def test_feed_skeleton_script_tiers_per_request(spark, posts, monkeypatch):
    """FeedServer hands one PipelineContext to every handler thread. A
    request held in its collect while another request translates must
    still report its own script tiers, not the other request's."""
    import threading

    from query_engine_spark import api

    ctx = PipelineContext(spark=spark, posts=posts, now=NOW)
    firehose = {"type": "input", "inputType": "firehose"}
    a_blocks = [firehose, {"type": "keep", "subject": "where", "value": "likeCount >= 0", "id": "a_where"}]
    b_blocks = [firehose, {"type": "score", "scoreType": "add", "value": "likeCount * 2", "id": "b_score"}]
    a_collecting, b_done = threading.Event(), threading.Event()
    collect = api._collect_with_timeout

    def held(spark_, df, timeout_s):
        if threading.current_thread().name == "request-a":
            a_collecting.set()
            b_done.wait(120)
        return collect(spark_, df, timeout_s)

    monkeypatch.setattr(api, "_collect_with_timeout", held)
    out = {}

    def request_a():
        try:
            out["a"] = generate_feed_skeleton(ctx, a_blocks)
        except Exception as e:  # surfaced by the asserts below
            out["a_error"] = e

    t = threading.Thread(target=request_a, name="request-a")
    t.start()
    assert a_collecting.wait(120)
    try:
        resp_b = generate_feed_skeleton(ctx, b_blocks)
    finally:
        b_done.set()
        t.join(120)
    assert "a_error" not in out, out.get("a_error")
    assert out["a"]["debug"]["script_tiers"] == {"a_where": {"kind": "where", "tier": "sql"}}
    assert resp_b["debug"]["script_tiers"] == {"b_score": {"kind": "score", "tier": "sql"}}


def test_feed_skeleton_uri_conversion(spark, posts):
    # ids shaped like the reference's "post:<rkey>_<didkey>" convert to at://
    shaped = posts.withColumn("id", F.concat(F.lit("post:3k"), F.col("key").cast("string"), F.lit("_plc_u1")))
    ctx = PipelineContext(spark=spark, posts=shaped, now=NOW)
    resp = generate_feed_skeleton(ctx, [{"type": "input", "inputType": "firehose"}], convert_uris=True)
    assert all(f["post"].startswith("at://did:plc:u1/app.bsky.feed.post/3k") for f in resp["feed"])


def test_trending_tags_endpoint(spark, posts):
    ctx = PipelineContext(spark=spark, posts=posts, now=NOW)
    resp = get_trending_tags(ctx, minutes=10 * 24 * 60)
    # "spark" appears as Spark/spark/SPARK across 3 posts → count 3 (> 2)
    assert resp["tags"][0]["tag"] == "spark"
    assert resp["tags"][0]["count"] == 3
    assert resp["tags"][0]["name"] in ("Spark", "spark", "SPARK")


PROFILES = [
    ("plc_a", "Alice", "alice.bsky", "likes spark", True, True, 10, 5),
    ("plc_b", "Bob", "bob.test", "", False, True, 3, 2),
    ("plc_c", "Carol", "carol.bsky", "data eng", True, False, 7, 1),
]


@pytest.fixture(scope="module")
def profiles(spark):
    return spark.createDataFrame(
        [dict(zip([f.name for f in PROFILE_SCHEMA.fields], p)) for p in PROFILES], PROFILE_SCHEMA
    )


def test_list_skeleton(spark, profiles):
    ctx = ProfileContext(spark=spark, profiles=profiles)
    blocks = [
        {"type": "input", "inputType": "network"},
        {"type": "remove", "subject": "profile", "value": "has_no_avatar"},  # remove w/o avatar
        {"type": "regex", "target": "handle", "value": "bsky$"},
        {"type": "limit", "count": 10},
    ]
    resp = generate_list_skeleton(ctx, blocks)
    assert [i["subject"]["did"] for i in resp["items"]] == ["plc:a", "plc:c"]
    assert resp["items"][0]["subject"]["name"] == "Alice"


def test_list_mode_rejects_dead_blocks(spark, profiles):
    from query_engine_spark.plans.blocks import PipelineError

    ctx = ProfileContext(spark=spark, profiles=profiles)
    with pytest.raises(PipelineError):
        generate_list_skeleton(ctx, [{"type": "sort", "sortType": "likes"}])


def test_record_feed_links(spark, posts, tmp_path):
    from query_engine_spark.api import record_feed_links

    ctx = PipelineContext(spark=spark, posts=posts, now=NOW)
    resp = generate_feed_skeleton(ctx, BLOCKS)
    store = str(tmp_path / "links")
    record_feed_links(ctx, "at://feed/1", resp, store)
    record_feed_links(ctx, "at://feed/2", resp, store)
    links = spark.read.parquet(store)
    assert links.count() == 6
    got = {(r["feed_uri"], r["post"]) for r in links.collect()}
    assert ("at://feed/1", "p0006") in got and ("at://feed/2", "p0001") in got
    # serving mode (now=None, the PostStore.serving_view shape) stamps the
    # driver's wall clock instead of writing a void column
    serving = PipelineContext(spark=spark, posts=posts, now=None)
    record_feed_links(serving, "at://feed/3", resp, str(tmp_path / "served"))
    served = spark.read.parquet(str(tmp_path / "served"))
    assert dict(served.dtypes)["served_at"] == "timestamp"
    assert served.filter("served_at IS NULL").count() == 0


def test_http_list_route(spark, posts, profiles):
    ctx = PipelineContext(spark=spark, posts=posts, now=NOW)
    pctx = ProfileContext(spark=spark, profiles=profiles)
    server = FeedServer(ctx, profile_ctx=pctx).start()
    try:
        body = json.dumps({"blocks": [
            {"type": "input", "inputType": "network"},
            {"type": "regex", "target": "handle", "value": "bsky$"},
        ]}).encode()
        req = urllib.request.Request(
            server.address + "/xrpc/me.skyfeed.builder.generateListSkeleton", data=body
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            resp = json.loads(r.read())
        assert [i["subject"]["did"] for i in resp["items"]] == ["plc:a", "plc:c"]
    finally:
        server.stop()


def test_http_server_roundtrip(spark, posts):
    ctx = PipelineContext(spark=spark, posts=posts, now=NOW)
    server = FeedServer(ctx).start()
    try:
        body = json.dumps({"blocks": BLOCKS}).encode()
        req = urllib.request.Request(
            server.address + "/xrpc/me.skyfeed.builder.generateFeedSkeleton",
            data=body,
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            feed = json.loads(r.read())
        assert [f["post"] for f in feed["feed"]] == ["p0006", "p0003", "p0001"]

        with urllib.request.urlopen(
            server.address + "/xrpc/app.skyfeed.feed.getTrendingTags?minutes=14400", timeout=60
        ) as r:
            tags = json.loads(r.read())
        assert tags["tags"][0]["tag"] == "spark"

        # admission-control errors surface through the error channel
        bad = json.dumps({"blocks": [{"type": "input", "inputType": "firehose"}] * 33}).encode()
        req = urllib.request.Request(
            server.address + "/xrpc/me.skyfeed.builder.generateFeedSkeleton", data=bad
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            err = json.loads(r.read())
        assert "error" in err and "Too many blocks" in err["error"]
    finally:
        server.stop()


@pytest.mark.parametrize("length", ["abc", "-1"])
def test_http_bad_content_length_gets_400(length):
    """A non-integer or negative Content-Length is refused with a JSON 400
    instead of dropping the connection or blocking the handler thread in
    rfile.read(-1). The handler never reaches the context, so no Spark."""
    import socket

    server = FeedServer(None).start()
    try:
        host, port = server.address.removeprefix("http://").split(":")
        with socket.create_connection((host, int(port)), timeout=5) as sock:
            sock.sendall(
                b"POST /xrpc/me.skyfeed.builder.generateFeedSkeleton HTTP/1.1\r\n"
                b"Host: localhost\r\nContent-Length: " + length.encode() + b"\r\n\r\n"
            )
            reply = b""
            while chunk := sock.recv(4096):
                reply += chunk
        head, _, body = reply.partition(b"\r\n\r\n")
        assert head.split(b"\r\n")[0].split()[1] == b"400"
        assert "Content-Length" in json.loads(body)["error"]
    finally:
        server.stop()


def test_http_short_body_gets_400_after_read_timeout(monkeypatch):
    """A client that declares 100 body bytes and sends 10 gets a JSON 400
    once the handler's socket timeout fires, instead of holding the handler
    thread in rfile.read until it hangs up. No Spark."""
    import socket

    from query_engine_spark import api

    monkeypatch.setattr(api, "READ_TIMEOUT_SECONDS", 0.5)
    server = FeedServer(None).start()
    try:
        host, port = server.address.removeprefix("http://").split(":")
        with socket.create_connection((host, int(port)), timeout=2) as sock:
            sock.sendall(
                b"POST /xrpc/me.skyfeed.builder.generateFeedSkeleton HTTP/1.1\r\n"
                b"Host: localhost\r\nContent-Length: 100\r\n\r\n" + b"0123456789"
            )
            reply = b""
            while chunk := sock.recv(4096):
                reply += chunk
        head, _, body = reply.partition(b"\r\n\r\n")
        assert head.split(b"\r\n")[0].split()[1] == b"400"
        assert "Content-Length" in json.loads(body)["error"]
    finally:
        server.stop()


def test_http_handler_threads_are_bounded(monkeypatch):
    """Idle connections beyond MAX_HANDLER_THREADS wait in the listen
    backlog instead of each getting a thread, and the server still answers
    once they time out. No Spark."""
    import socket
    import threading
    import time

    from query_engine_spark import api

    monkeypatch.setattr(api, "READ_TIMEOUT_SECONDS", 0.5)
    server = FeedServer(None).start()

    def handlers():
        return sum("process_request_thread" in t.name for t in threading.enumerate())

    try:
        host, port = server.address.removeprefix("http://").split(":")
        idle = [socket.create_connection((host, int(port)), timeout=5) for _ in range(api.MAX_HANDLER_THREADS + 3)]
        peak = 0
        for _ in range(20):
            peak = max(peak, handlers())
            time.sleep(0.05)
        assert 0 < peak <= api.MAX_HANDLER_THREADS
        with urllib.request.urlopen(server.address + "/health", timeout=10) as r:
            assert r.status == 200
        for sock in idle:
            sock.close()
    finally:
        server.stop()


def test_http_trickling_client_is_cut_at_the_read_deadline(monkeypatch):
    """A client that sends its body one byte every 0.1 s never lets a
    single recv wait out the timeout; the request's deadline still ends it
    about READ_TIMEOUT_SECONDS after it connected (a 400, or a reset for
    the bytes left unread), not after the 100 declared bytes. No Spark."""
    import socket
    import time

    from query_engine_spark import api

    monkeypatch.setattr(api, "READ_TIMEOUT_SECONDS", 0.5)
    server = FeedServer(None).start()
    try:
        host, port = server.address.removeprefix("http://").split(":")
        with socket.create_connection((host, int(port)), timeout=0.1) as sock:
            start = time.monotonic()
            sock.sendall(
                b"POST /xrpc/me.skyfeed.builder.generateFeedSkeleton HTTP/1.1\r\n"
                b"Host: localhost\r\nContent-Length: 100\r\n\r\n"
            )
            ended = None
            while ended is None and time.monotonic() - start < 3:
                try:
                    sock.sendall(b"x")
                    ended = sock.recv(4096)
                except TimeoutError:
                    pass
                except OSError:
                    ended = b""
            took = time.monotonic() - start
        assert ended is not None and took < 2, took
        assert ended == b"" or ended.split()[1] == b"400"
    finally:
        server.stop()


def test_http_shutdown_does_not_wait_for_a_handler_slot(monkeypatch):
    """With every handler slot held by an idle client and one more
    connection waiting for a slot, shutting the server down returns at
    once instead of after a slot frees. No Spark."""
    import socket
    import time

    from query_engine_spark import api

    monkeypatch.setattr(api, "READ_TIMEOUT_SECONDS", 5)
    server = FeedServer(None).start()
    host, port = server.address.removeprefix("http://").split(":")
    idle = [socket.create_connection((host, int(port)), timeout=5) for _ in range(api.MAX_HANDLER_THREADS + 1)]
    try:
        time.sleep(0.3)  # the accept loop now waits for a slot
        start = time.monotonic()
        server._httpd.shutdown()
        took = time.monotonic() - start
    finally:
        for sock in idle:
            sock.close()
        server.stop()
    assert took < 1, took


def test_fetched_feed_skeleton_roundtrip(spark, posts):
    """S5 end-to-end through the HTTP fetch adapter: recorded feed-skeleton
    fixture → fetch_feed_skeleton → PipelineContext.feeds → input.feed block
    (main.rs:1704-1737)."""
    from query_engine_spark.sources.connectors import fetch_feed_skeleton

    # posts ids are "p0001".. — shape them like the reference's
    # "post:<rkey>_<didkey>" so at:// conversion round-trips
    shaped = posts.withColumn(
        "id", F.concat(F.lit("3kp"), F.col("key").cast("string"), F.lit("_plc_u1"))
    )
    recorded = {
        "feed": [
            {"post": "at://did:plc:u1/app.bsky.feed.post/3kp5"},
            {"post": "at://did:plc:u1/app.bsky.feed.post/3kp1"},
            {"post": "at://did:plc:u9/other.collection/xxx"},  # unparseable → dropped
            {"post": "at://did:plc:u1/app.bsky.feed.post/3kp9999"},  # not in store
        ]
    }
    calls = []

    def fetcher(url):
        calls.append(url)
        return recorded

    feed = fetch_feed_skeleton(spark, "at://did:plc:f/app.bsky.feed.generator/g", fetcher=fetcher)
    assert len(calls) == 1 and "app.bsky.feed.generator" in urllib.request.unquote(calls[0])
    ctx = PipelineContext(spark=spark, posts=shaped, now=NOW, feeds={"at://f": feed})
    resp = generate_feed_skeleton(ctx, [{"type": "input", "inputType": "feed", "feedUri": "at://f"}])
    # feed order preserved; missing id and bad URI dropped
    assert [f["post"] for f in resp["feed"]] == ["3kp5_plc_u1", "3kp1_plc_u1"]


def test_fetch_list_members_adapter(spark):
    from query_engine_spark.sources.connectors import fetch_list_members

    recorded = [{"result": ["user:plc_a", "user:plc_b", "plc_c"]}]
    got = fetch_list_members(spark, "at://did:plc:x/app.bsky.graph.list/3kabc", fetcher=lambda u: recorded)
    assert sorted(r["did_key"] for r in got.collect()) == ["plc_a", "plc_b", "plc_c"]
    key_map = spark.createDataFrame([("plc_a", 1), ("plc_c", 3)], "did_key string, author_key long")
    got = fetch_list_members(
        spark, "at://did:plc:x/app.bsky.graph.list/3kabc", fetcher=lambda u: recorded, key_map=key_map
    )
    assert sorted(r["author_key"] for r in got.collect()) == [1, 3]
    with pytest.raises(ValueError):
        fetch_list_members(spark, "list://did:plc:x/following", fetcher=lambda u: recorded)


def test_explain_feed_pipeline_no_execution(spark, posts):
    from query_engine_spark.api import explain_feed_pipeline

    ctx = PipelineContext(spark=spark, posts=posts, now=NOW)
    out = explain_feed_pipeline(ctx, BLOCKS)
    assert "Physical Plan" in out["plan"]
    s = out["summary"]
    assert s["cartesian"] is False
    assert isinstance(s["exchanges"], int)
    # sort+limit must have fused: TakeOrderedAndProject in the plan text
    assert "TakeOrderedAndProject" in out["plan"]
    # the compiled statement runs as it is shown, over the same posts
    assert "{posts}" in out["sql"]
    ran = spark.sql(out["sql"], posts=posts)
    assert [r["id"] for r in ran.collect()] == ["p0006", "p0003", "p0001"]


def test_explain_curation_pipeline_no_execution(spark):
    from query_engine_spark.api import explain_curation_pipeline

    docs = spark.createDataFrame(
        [(1, "a", "hello world the and of")], "doc_id long, source string, text string"
    )
    out = explain_curation_pipeline(
        docs,
        [{"op": "strip_boilerplate"}, {"op": "dedup_exact"}, {"op": "chunk"}, {"op": "pack"}],
    )
    assert "Physical Plan" in out["plan"]
    assert out["summary"]["cartesian"] is False


def test_server_explain_endpoint(spark, posts):
    import json as _json
    import urllib.request

    from query_engine_spark.api import FeedServer

    ctx = PipelineContext(spark=spark, posts=posts, now=NOW)
    server = FeedServer(ctx).start()
    try:
        req = urllib.request.Request(
            server.address + "/xrpc/me.skyfeed.builder.explainFeedSkeleton",
            data=_json.dumps({"blocks": BLOCKS}).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req) as resp:
            out = _json.loads(resp.read())
    finally:
        server.stop()
    assert out["summary"]["cartesian"] is False
    assert "TakeOrderedAndProject" in out["plan"]


def test_http_health_and_admin_stats(spark, posts):
    """Reference ops-surface parity (main.rs:549 /health → empty 200 body;
    main.rs:563, 690-704 /api/admin/stats → index cardinalities)."""
    ctx = PipelineContext(spark=spark, posts=posts, now=NOW)
    server = FeedServer(ctx).start()
    try:
        with urllib.request.urlopen(server.address + "/health", timeout=60) as r:
            assert r.status == 200
            assert r.read() == b""
        with urllib.request.urlopen(server.address + "/api/admin/stats", timeout=60) as r:
            stats = json.loads(r.read())
    finally:
        server.stop()
    rows = posts.select("id", "author", "tags").collect()
    want_tags = {t for r in rows for t in (r["tags"] or [])}
    assert stats["all_posts_length"] == len({r["id"] for r in rows})
    assert stats["all_posts_by_author_length"] == len({r["author"] for r in rows})
    assert stats["all_posts_by_tag_length"] == len(want_tags)
    assert stats["last_post_id"] == max(r["id"] for r in rows)
    assert stats["count_queries_anchor"] == "DEPRECATED"
    assert stats["pointer_is_a"] is True
