"""Serving layer: the reference's three entry points as Python APIs plus a
thin stdlib HTTP wrapper (SURVEY §3).

- ``generate_feed_skeleton`` ←→ POST /xrpc/me.skyfeed.builder.generateFeedSkeleton
  (/root/reference/src/main.rs:1177-2594): block JSON → ranked feed of
  at:// URIs with per-block debug timing/counts and a hard timeout.
- ``get_trending_tags`` ←→ GET /xrpc/app.skyfeed.feed.getTrendingTags
  (main.rs:626-688).
- ``generate_list_skeleton`` ←→ list mode (main.rs:2676-2985).

The engine call is one compiled SQL statement + one collect; the 30 s budget
(main.rs:1182-1186) is enforced with Spark's job-group cancellation rather
than the reference's tokio timeout. Per-block counts (debug mode,
main.rs:2493-2506) re-evaluate each block prefix — a debugging tool, not the
serving path.
"""

from __future__ import annotations

import dataclasses
import datetime as _dt
import http.server
import io
import json
import threading
import time
from typing import Any

from pyspark.sql import functions as F

from query_engine_spark.functions.ids import key_to_did_col, post_id_to_uri_col
from query_engine_spark.operators.ordering import ORD
from query_engine_spark.plans.blocks import PipelineContext, compile_pipeline, translate_pipeline
from query_engine_spark.plans.profiles import ProfileContext, translate_profile_pipeline
from query_engine_spark.operators.aggregates import trending_tags

__all__ = [
    "generate_feed_skeleton",
    "get_trending_tags",
    "generate_list_skeleton",
    "admin_stats",
    "FeedServer",
    "QUERY_TIMEOUT_SECONDS",
]

QUERY_TIMEOUT_SECONDS = 30  # main.rs:1182
# time a FeedServer connection has to send its whole request: a client that
# declares more Content-Length than it sends, or trickles its request a byte
# at a time, gets a 400 (or is dropped) after this long instead of holding a
# handler thread in the read
READ_TIMEOUT_SECONDS = 5
# most FeedServer handler threads at once (one per open connection); later
# connections wait in the listen backlog until a handler finishes
MAX_HANDLER_THREADS = 8


def _collect_with_timeout(spark, df, timeout_s: float):
    """Enforce the reference's hard query timeout by cancelling the job group."""
    group = f"feed-{time.monotonic_ns()}"
    result: dict[str, Any] = {}

    def run():
        sc = spark.sparkContext
        sc.setJobGroup(group, "feed skeleton", interruptOnCancel=True)
        try:
            result["rows"] = df.collect()
        except Exception as e:  # cancellation surfaces as an exception
            result["error"] = e
        finally:
            sc.setJobGroup(None, None)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout_s)
    if t.is_alive():
        spark.sparkContext.cancelJobGroup(group)
        t.join(5)
        raise TimeoutError(f"query exceeded {timeout_s}s")
    if "error" in result:
        raise result["error"]
    return result["rows"]


def generate_feed_skeleton(
    ctx: PipelineContext,
    blocks: list[dict[str, Any]],
    *,
    convert_uris: bool = False,
    debug_counts: bool = False,
    debug_include_scores: bool = False,
    timeout_s: float = QUERY_TIMEOUT_SECONDS,
) -> dict[str, Any]:
    """FeedBuilderResponse (main.rs:2999-3016): {debug{time,timing,counts,
    scores}, feed: [{post: <uri-or-id>}]}."""
    t0 = time.monotonic()
    # translate against a per-request copy: FeedServer hands one ctx to every
    # handler thread, and each translation refills the script-tier log that
    # this request reads back after its collect
    ctx = dataclasses.replace(ctx, script_tiers={})
    out = translate_pipeline(blocks, ctx)
    id_col = post_id_to_uri_col(F.col("id")) if convert_uris else F.col("id").cast("string")
    sel = [id_col.alias("post")]
    if debug_include_scores:
        sel.append(F.col("score"))
    rows = _collect_with_timeout(ctx.spark, out.select(ORD, *sel), timeout_s)
    rows = sorted(rows, key=lambda r: r[ORD])

    debug: dict[str, Any] = {"time": int((time.monotonic() - t0) * 1000), "timing": {}, "counts": {}, "scores": {}}
    if ctx.script_tiers:
        # which tier each where/score script landed on (r16): a config
        # that silently routed to the 10-100× interpreter tier shows up
        # here with its routing reason instead of only as latency
        debug["script_tiers"] = {k: dict(v) for k, v in ctx.script_tiers.items()}
    if debug_counts:
        # per-block working-set counts (main.rs:2493-2506); one evaluation per prefix
        for i, block in enumerate(blocks):
            if "id" not in block:
                continue
            tb = time.monotonic()
            prefix_out = translate_pipeline(blocks[: i + 1], ctx)
            debug["counts"][block["id"]] = prefix_out.count()
            debug["timing"][block["id"]] = int((time.monotonic() - tb) * 1000)
    if debug_include_scores:
        debug["scores"] = {str(r["post"]): r["score"] for r in rows}

    return {"debug": debug, "feed": [{"post": r["post"]} for r in rows]}


def get_trending_tags(ctx: PipelineContext, minutes: int = 600) -> dict[str, Any]:
    """TrendingTagsResponse (main.rs:2988-2997): {tags: [{tag, name, count}]}."""
    df = trending_tags(ctx.posts, ctx.now, minutes=minutes)
    return {"tags": [{"tag": r["tag"], "name": r["name"], "count": r["count"]} for r in df.collect()]}


def admin_stats(ctx: PipelineContext) -> dict[str, Any]:
    """AdminStatsResponse (main.rs:690-704, struct main.rs:1089-1099): the
    reference reports its in-memory index cardinalities — posts, authors
    with ≥1 post, distinct tags — plus the newest post id. Here those are
    one single-pass aggregate over the posts table (explode_outer keeps
    tagless posts in the id/author distincts; map-side partial aggregation
    keeps the shuffle key-sized), and `last_post_id` is max(id) — TIDs are
    lexicographically time-ordered, so the max IS the newest.
    `count_queries_anchor`/`pointer_is_a` are echoed for response-shape
    parity (the reference hardcodes them: "DEPRECATED" / true)."""
    row = (
        ctx.posts.select("id", "author", F.explode_outer("tags").alias("tag"))
        .agg(
            F.countDistinct("id").alias("np"),
            F.countDistinct("author").alias("na"),
            F.countDistinct("tag").alias("nt"),
            F.max("id").alias("last"),
        )
        .collect()[0]
    )
    return {
        "all_posts_length": row["np"],
        "all_posts_by_author_length": row["na"],
        "all_posts_by_tag_length": row["nt"],
        "last_post_id": row["last"] or "",
        "count_queries_anchor": "DEPRECATED",
        "pointer_is_a": True,
    }


def generate_list_skeleton(ctx: ProfileContext, blocks: list[dict[str, Any]]) -> dict[str, Any]:
    """ListBuilderResponse (main.rs:2971-2985): {debug, items: [{subject:
    {did, name, handle}}]}."""
    t0 = time.monotonic()
    out = translate_profile_pipeline(blocks, ctx)
    rows = out.select(ORD, key_to_did_col(F.col("id")).alias("did"), "name", "handle").collect()
    rows = sorted(rows, key=lambda r: r[ORD])
    return {
        "debug": {"time": int((time.monotonic() - t0) * 1000), "timing": {}, "counts": {}, "scores": {}},
        "items": [{"subject": {"did": r["did"], "name": r["name"], "handle": r["handle"]}} for r in rows],
    }


def record_feed_links(
    ctx: PipelineContext,
    feed_uri: str,
    response: dict[str, Any],
    store_path: str,
) -> None:
    """Post↔feed lineage recording (main.rs:2546-2580, LinkedPostsState):
    append (feed_uri, post, ts) rows for the served feed to a parquet dir —
    the reference's periodic link dump becomes a partition append. Rows
    are stamped with `ctx.now`, or the driver's UTC wall clock in serving
    mode (`now=None`), as the reference stamps `Utc::now()`."""
    rows = [(feed_uri, f["post"]) for f in response.get("feed", [])]
    if not rows:
        return
    served_at = ctx.now if ctx.now is not None else _dt.datetime.now(_dt.timezone.utc)
    df = (
        ctx.spark.createDataFrame(rows, "feed_uri string, post string")
        .withColumn("served_at", F.lit(served_at))
    )
    df.write.mode("append").parquet(store_path)


class _DeadlineReader(io.RawIOBase):
    """A connection's reads under one deadline for the whole request, each
    recv waiting only for the time left."""

    def __init__(self, sock, seconds: float):
        self._sock = sock
        self._seconds = seconds
        self._deadline = time.monotonic() + seconds

    def readable(self):
        return True

    def readinto(self, buf):
        left = self._deadline - time.monotonic()
        if left <= 0:
            raise TimeoutError("request not read in time")
        self._sock.settimeout(left)
        try:
            return self._sock.recv_into(buf)
        finally:
            self._sock.settimeout(self._seconds)  # for the response writes


class _BoundedHTTPServer(http.server.ThreadingHTTPServer):
    """ThreadingHTTPServer with at most MAX_HANDLER_THREADS handler threads:
    the accept loop waits for a free slot before it starts the next one,
    and stops waiting when the server shuts down."""

    def server_activate(self):
        self._slots = threading.BoundedSemaphore(MAX_HANDLER_THREADS)
        self._closing = threading.Event()
        super().server_activate()

    def shutdown(self):
        self._closing.set()
        super().shutdown()

    def process_request(self, request, client_address):
        while not self._slots.acquire(timeout=0.1):
            if self._closing.is_set():
                return self.shutdown_request(request)
        try:
            super().process_request(request, client_address)
        except BaseException:
            self._slots.release()
            raise

    def process_request_thread(self, request, client_address):
        try:
            super().process_request_thread(request, client_address)
        finally:
            self._slots.release()


class FeedServer:
    """Thin stdlib HTTP wrapper exposing the reference's routes
    (main.rs:548-565, 567-570): POST generateFeedSkeleton + GET
    getTrendingTags (feed mode) and POST generateListSkeleton (list mode,
    when a ProfileContext is given). Demonstration surface for parity —
    production serving would sit behind a real ASGI server."""

    def __init__(
        self,
        ctx: PipelineContext,
        host: str = "127.0.0.1",
        port: int = 0,
        *,
        profile_ctx: ProfileContext | None = None,
    ):
        api_ctx = ctx
        api_profile_ctx = profile_ctx

        class Handler(http.server.BaseHTTPRequestHandler):
            timeout = READ_TIMEOUT_SECONDS

            def setup(self):
                super().setup()
                self.rfile.close()
                self.rfile = io.BufferedReader(_DeadlineReader(self.connection, self.timeout))

            def log_message(self, *args):  # quiet
                pass

            def _send(self, code: int, payload: dict):
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):
                path = self.path.split("?")[0]
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                except ValueError:
                    n = -1
                if n < 0:
                    return self._send(400, {"error": "invalid Content-Length"})
                try:
                    body = self.rfile.read(n)
                except TimeoutError:
                    body = b""
                if len(body) < n:
                    return self._send(400, {"error": f"body shorter than its Content-Length {n}"})
                try:
                    payload = json.loads(body or b"{}")
                    blocks = payload.get("blocks", payload if isinstance(payload, list) else [])
                    if path == "/xrpc/me.skyfeed.builder.generateFeedSkeleton":
                        return self._send(200, generate_feed_skeleton(api_ctx, blocks))
                    if path == "/xrpc/me.skyfeed.builder.generateListSkeleton":
                        if api_profile_ctx is None:
                            return self._send(200, {"items": [], "error": "list mode not configured"})
                        return self._send(200, generate_list_skeleton(api_profile_ctx, blocks))
                    if path == "/xrpc/me.skyfeed.builder.explainFeedSkeleton":
                        # plan-only: translate + summarize, never execute —
                        # feed authors debug cost before running (no
                        # reference analogue; the Spark-side win is free)
                        return self._send(200, explain_feed_pipeline(api_ctx, blocks))
                    return self._send(404, {"error": "not found"})
                except Exception as e:
                    # error-channel parity: errors become a feed payload
                    # (main.rs:1203-1223 wraps errors as an error post)
                    self._send(200, {"debug": {"time": 0, "timing": {}, "counts": {}, "scores": {}},
                                     "feed": [], "error": str(e)})

            def do_GET(self):
                path, _, query = self.path.partition("?")
                if path == "/health":
                    # reference parity (main.rs:549, 613): 200 with an
                    # empty body — the liveness probe must not touch Spark
                    self.send_response(200)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return
                if path == "/api/admin/stats":
                    return self._send(200, admin_stats(api_ctx))
                if path != "/xrpc/app.skyfeed.feed.getTrendingTags":
                    return self._send(404, {"error": "not found"})
                minutes = 600
                for part in query.split("&"):
                    if part.startswith("minutes="):
                        try:
                            minutes = int(part.split("=", 1)[1])
                        except ValueError:
                            pass
                self._send(200, get_trending_tags(api_ctx, minutes))

        self._httpd = _BoundedHTTPServer((host, port), Handler)
        self.address = f"http://{self._httpd.server_address[0]}:{self._httpd.server_address[1]}"
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._httpd.shutdown()
        self._httpd.server_close()


def _plan_summary(df) -> dict[str, Any]:
    import contextlib
    import io
    import re

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    return {
        "plan": plan,
        "summary": {
            "exchanges": len(re.findall(r"\(\d+\) Exchange", plan)),
            "sort_merge_joins": len(re.findall(r"\(\d+\) SortMergeJoin", plan)),
            "broadcast_joins": len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)),
            "windows": len(re.findall(r"\(\d+\) Window", plan)),
            "cartesian": bool(re.search(r"\(\d+\) CartesianProduct", plan)),
            "pushed_filters": "PushedFilters: [" in plan and "PushedFilters: []" not in plan,
        },
    }


def explain_feed_pipeline(ctx: "PipelineContext", blocks: list[dict[str, Any]]) -> dict[str, Any]:
    """EXPLAIN for the feed DSL: translate the block pipeline WITHOUT
    executing it and return the Catalyst physical plan plus a
    plan-feature summary (exchange / join / window counts, cartesian
    check) — the debuggability surface a feed author needs to see WHY a
    pipeline would be slow before it runs against the full corpus — and
    the compiled statement as ``sql`` (``{posts}`` names the posts frame).
    Pure plan analysis: no action is triggered."""
    stmt, final = compile_pipeline(blocks, ctx)
    return {**_plan_summary(stmt.run(final)), "sql": stmt.text(final)}


def explain_curation_pipeline(docs, spec: list[dict[str, Any]]) -> dict[str, Any]:
    """EXPLAIN for the curation DSL (same contract as
    explain_feed_pipeline): validates the spec at translate time, folds
    it over `docs` lazily, and returns plan + summary without running."""
    from query_engine_spark.llmdata.pipeline import translate_curation_pipeline

    return _plan_summary(translate_curation_pipeline(spec)(docs))
