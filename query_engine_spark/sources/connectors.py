"""Source/sink connectors beyond parquet.

The reference ingests from SurrealDB over HTTP SQL (main.rs:3143-3285) and
serves JSON over HTTP. The Spark-native equivalents: an explicit-schema JSON
reader (never inferSchema in production — a schema drift becomes a silent
full-scan surprise) and lakehouse formats gated behind import-tries
(Delta/Iceberg jars aren't in this image).
"""

from __future__ import annotations

import json as _json
import urllib.parse
import urllib.request
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

__all__ = [
    "read_json",
    "write_partitioned",
    "delta_available",
    "read_delta",
    "http_json_fetcher",
    "fetch_feed_skeleton",
    "fetch_list_members",
    "DEFAULT_FEED_PROXY",
]


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """NDJSON with an explicit schema (loose fields → null, matching the
    reference's null-tolerant coercion; pair with datamodel.normalize_posts)."""
    return spark.read.schema(schema).json(path)


def write_partitioned(df: DataFrame, path: str, *, partition_by: str = "dt", mode: str = "overwrite") -> None:
    df.write.mode(mode).partitionBy(partition_by).parquet(path)


# ---------------------------------------------------------------------------
# External HTTP fetch adapters (S5 feed skeletons + Bluesky list membership).
#
# The reference fetches these at query time: feed skeletons from a feed proxy
# (main.rs:1704-1737) and list membership via a SurrealDB HTTP query
# (main.rs:3046-3140, LISTITEM_QUERY at main.rs:1226-1227). Here I/O stays on
# the driver at the pipeline boundary: a fetcher callable (injectable — tests
# pass a recorded fixture) returns JSON, and the adapter shapes it into the
# small DataFrame the existing operators consume (input_feed / in_list /
# PipelineContext.feeds/lists). The fetched side is tiny (≤ a few thousand
# ids) — it becomes the broadcast side of the semi-join, never a scan.

DEFAULT_FEED_PROXY = "https://feed-proxy.skyfeed.me/xrpc/app.bsky.feed.getFeedSkeleton?feed={feed}"


def http_json_fetcher(timeout: float = 5.0) -> Callable[[str], Any]:
    """GET url → parsed JSON with the reference's 5 s timeout
    (main.rs:1713-1721)."""

    def fetch(url: str) -> Any:
        req = urllib.request.Request(url, headers={"accept": "application/json"})
        with urllib.request.urlopen(req, timeout=timeout) as r:
            return _json.loads(r.read())

    return fetch


def fetch_feed_skeleton(
    spark: SparkSession,
    feed_uri: str,
    *,
    fetcher: Callable[[str], Any] | None = None,
    endpoint: str = DEFAULT_FEED_PROXY,
) -> DataFrame:
    """S5 input.feed fetch: feed skeleton → (id, __feed_ord) DataFrame for
    ``input_feed`` / ``PipelineContext.feeds``.

    Mirrors main.rs:1704-1737: GET the skeleton, map each at:// post URI to a
    post id (at_uri_to_post_id, with the leading "post:" stripped like the
    reference's ``[5..]``), preserve feed order; URIs that don't parse drop
    out (the reference errors per-URI; we keep the feed serving).
    """
    from query_engine_spark.functions.ids import at_uri_to_post_id_col

    fetcher = fetcher or http_json_fetcher()
    res = fetcher(endpoint.format(feed=urllib.parse.quote(feed_uri, safe="")))
    uris = [p["post"] for p in res.get("feed", [])]
    if not uris:
        return spark.createDataFrame([], "__feed_ord int, id string")
    rows = [(i + 1, u) for i, u in enumerate(uris)]
    df = spark.createDataFrame(rows, "__feed_ord int, uri string")
    pid = at_uri_to_post_id_col(F.col("uri"))
    return (
        df.select("__feed_ord", F.substring(pid, 6, 1_000_000).alias("id"))
        .filter(F.col("id").isNotNull())
    )


def fetch_list_members(
    spark: SparkSession,
    list_uri: str,
    *,
    fetcher: Callable[[str], Any],
    endpoint: str = "{list}",
    key_map: DataFrame | None = None,
) -> DataFrame:
    """Bluesky list membership fetch → member-key DataFrame for ``in_list`` /
    ``PipelineContext.lists``.

    The reference resolves at:// list URIs through a SurrealDB HTTP query
    returning "user:<did_key>" rows (main.rs:3110-3139); graph expansions
    (following/followers/mutuals/2-hop) are computed from the `follows` edge
    DataFrame instead (operators/joins.py) — use
    ``PipelineContext.resolve_list`` for those.

    Returns (did_key) — e.g. "plc_x" — or (author_key) when `key_map`
    provides the did_key → author_key dimension (the parquet-world stand-in
    for the reference's string interner, main.rs:3631-3635).
    """
    if list_uri.startswith(("list://", "skygraph://")):
        raise ValueError(
            f"{list_uri!r} is a graph expansion — resolve it from the follows edges "
            "(PipelineContext.resolve_list), not over HTTP"
        )
    res = fetcher(endpoint.format(list=urllib.parse.quote(list_uri, safe="")))
    # accept both the raw SurrealDB response shape ([... {"result": [...]}])
    # and a plain {"members": [...]} fixture
    if isinstance(res, list):
        members = res[-1]["result"]
    else:
        members = res.get("members", [])
    # strip the record-table prefix (the reference slices the prefix off at
    # main.rs:3136; we strip the full "user:" prefix)
    keys = [m[5:] if isinstance(m, str) and m.startswith("user:") else m for m in members]
    out = spark.createDataFrame([(k,) for k in keys], "did_key string").distinct()
    if key_map is not None:
        out = out.join(F.broadcast(key_map), "did_key", "inner").select("author_key")
    return out


def delta_available(spark: SparkSession) -> bool:
    """Delta Lake needs its jars on the classpath — not in this image."""
    try:
        # py4j attribute access is lazy (returns a JavaPackage even for
        # missing classes) — force real class resolution
        spark._jvm.java.lang.Class.forName("io.delta.tables.DeltaTable")  # type: ignore[attr-defined]
        return True
    except Exception:
        return False


def read_delta(spark: SparkSession, path: str) -> DataFrame:
    if not delta_available(spark):
        raise NotImplementedError(
            "Delta Lake jars not on the classpath in this environment; "
            "the PostStore (streaming/job.py) provides snapshot semantics on plain parquet"
        )
    return spark.read.format("delta").load(path)
