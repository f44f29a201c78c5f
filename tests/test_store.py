"""E2E lifecycle test for the day-partitioned post store."""

from __future__ import annotations

import datetime as dt
import re

import pytest

from pyspark.sql import functions as F

from perfbench import inputs
from query_engine_spark.operators.ordering import ORD
from query_engine_spark.plans.blocks import PipelineContext, translate_pipeline
from query_engine_spark.sources.testdata import posts_view
from query_engine_spark.streaming.job import PostStore

NOW = dt.datetime(2024, 3, 10, 12, 0, 0)


def _batch(spark, rows):
    return spark.createDataFrame(
        [(i, NOW - dt.timedelta(days=d), v) for i, d, v in rows],
        "id long, ts timestamp, v string",
    )


def test_streaming_ingest_into_store(spark, tmp_path):
    """EP3 as Structured Streaming: readStream → foreachBatch(store.ingest)."""
    src = _batch(spark, [(1, 0.1, "a"), (2, 1.2, "b"), (2, 1.2, "b2"), (3, 2.5, "c")])
    src_path = str(tmp_path / "stream_src")
    src.write.parquet(src_path)
    store = PostStore(spark, str(tmp_path / "stream_store"))

    stream = spark.readStream.schema(src.schema).parquet(src_path)
    q = (
        stream.writeStream.foreachBatch(lambda batch, epoch: store.ingest(batch))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {r["id"] for r in store.read().collect()}
    assert got == {1, 2, 3}  # in-batch duplicate id=2 deduped


def test_salted_agg_exact(spark):
    from query_engine_spark.operators.aggregates import salted_agg
    from pyspark.sql import functions as F

    # one hot key (90% of rows) + tail
    df = spark.range(10000).select(
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("v"),
    )
    counts = {r["k"]: r["v_count"] for r in salted_agg(df, "k", {"v": "count"}).collect()}
    sums = {r["k"]: r["v_sum"] for r in salted_agg(df, "k", {"v": "sum"}).collect()}
    exact_c = {r["k"]: r["c"] for r in df.groupBy("k").agg(F.count("v").alias("c")).collect()}
    exact_s = {r["k"]: r["s"] for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    assert counts == exact_c and sums == exact_s


def test_store_lifecycle(spark, tmp_path):
    store = PostStore(spark, str(tmp_path / "store"))

    # initial load: 3 days
    store.ingest(_batch(spark, [(1, 0.1, "a"), (2, 1.2, "b"), (3, 9.5, "old")]))
    assert store.read().count() == 3

    # overlapping re-ingest: id=2 updated, id=4 new (same day as 1)
    store.ingest(_batch(spark, [(2, 1.2, "b2"), (4, 0.2, "c")]))
    got = {r["id"]: r["v"] for r in store.read().collect()}
    assert got == {1: "a", 2: "b2", 3: "old", 4: "c"}  # idempotent, latest wins

    # re-ingesting the same batch changes nothing
    store.ingest(_batch(spark, [(2, 1.2, "b2"), (4, 0.2, "c")]))
    assert store.read().count() == 4

    # serving view: 7-day window excludes the old row
    view = store.serving_view(NOW, days=7)
    assert sorted(r["id"] for r in view.collect()) == [1, 2, 4]

    # partition pruning: the dt filter reaches the scan
    plan = view._jdf.queryExecution().executedPlan().toString()
    assert "dt" in plan

    # eviction spills the old day to the archive
    archive = str(tmp_path / "archive")
    moved = store.evict(NOW, days=8, archive_path=archive)
    assert len(moved) == 1 and moved[0].startswith("dt=2024-02-29" [:3])
    assert store.read().count() == 3
    assert store.archive_view(archive).count() == 1
    assert store.archive_view(archive).collect()[0]["id"] == 3


def test_store_compaction(spark, tmp_path):
    """Micro-batch ingest leaves one file per batch per day; compact() must
    merge them down to the byte-optimal count, preserve every row, keep the
    id sort, and be a no-op when partitions are already tight."""
    import os

    store = PostStore(spark, str(tmp_path / "cstore"))
    # PostStore.ingest rewrites whole day partitions, so it never accumulates
    # files — the small-file buildup comes from APPEND-mode writers into the
    # same layout (a streaming parquet sink emits one file per micro-batch
    # per partition). Simulate 6 micro-batches:
    for i in range(6):
        (
            _batch(spark, [(100 + i, 0.1, f"v{i}")])
            .withColumn("dt", F.date_format(F.col("ts"), "yyyy-MM-dd"))
            .coalesce(1)
            .write.mode("append")
            .partitionBy("dt")
            .parquet(store.path)
        )
    day_dir = next(
        os.path.join(store.path, e) for e in os.listdir(store.path) if e.startswith("dt=")
    )
    files_before = [f for f in os.listdir(day_dir) if f.endswith(".parquet")]
    assert len(files_before) > 1
    before = {(r["id"], r["v"]) for r in store.read().collect()}

    rewritten = store.compact(target_bytes=64 * 1024 * 1024)
    assert rewritten, "small-file partition was not compacted"
    files_after = [f for f in os.listdir(day_dir) if f.endswith(".parquet")]
    assert len(files_after) == 1  # tiny data -> one byte-optimal file
    assert {(r["id"], r["v"]) for r in store.read().collect()} == before

    # idempotent: nothing left to compact
    assert store.compact(target_bytes=64 * 1024 * 1024) == {}

    # older_than_days guard: today's partition is live -> untouched
    for i in range(3):
        (
            _batch(spark, [(200 + i, 0.1, f"w{i}")])
            .withColumn("dt", F.date_format(F.col("ts"), "yyyy-MM-dd"))
            .coalesce(1)
            .write.mode("append")
            .partitionBy("dt")
            .parquet(store.path)
        )
    assert store.compact(target_bytes=64 * 1024 * 1024, older_than_days=1, now=NOW) == {}


def test_store_writes_leave_the_session_overwrite_mode_alone(spark, tmp_path):
    """ingest and compact rewrite only their own day partitions, per write:
    the session stays in static overwrite mode, so a later partitioned
    overwrite in the same session still replaces the whole table."""
    from query_engine_spark.sources.connectors import write_partitioned

    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        store = PostStore(spark, str(tmp_path / "store"))
        store.ingest(_batch(spark, [(1, 0.1, "a"), (2, 1.2, "b")]))
        # a second file in one day, so compact() rewrites that day only
        (
            _batch(spark, [(3, 0.1, "c")])
            .withColumn("dt", F.date_format(F.col("ts"), "yyyy-MM-dd"))
            .write.mode("append")
            .partitionBy("dt")
            .parquet(store.path)
        )
        assert len(store.compact(older_than_days=None)) == 1
        assert {r["id"]: r["v"] for r in store.read().collect()} == {1: "a", 2: "b", 3: "c"}
        assert spark.conf.get(key) == "static"

        table = str(tmp_path / "table")
        write_partitioned(spark.createDataFrame([(1, "a"), (2, "b")], "v long, dt string"), table)
        write_partitioned(spark.createDataFrame([(3, "a")], "v long, dt string"), table)
        assert [r["v"] for r in spark.read.parquet(table).collect()] == [3]
    finally:
        spark.conf.set(key, prior)


# --- serving snapshots ------------------------------------------------------


@pytest.fixture(scope="module")
def feed_store(spark, tmp_path_factory):
    """A store holding the benchmark's posts shape (3000 events over 30 days)
    and the ts of its newest post."""
    root = tmp_path_factory.mktemp("feed")
    inputs.write_tables(str(root), events=3000)
    posts = posts_view(spark, str(root))
    store = PostStore(spark, str(root / "store"))
    store.ingest(posts)
    newest = posts.agg(F.max("ts")).collect()[0][0]
    return store, newest


def _feed(spark, posts, blocks):
    out = translate_pipeline(blocks, PipelineContext(spark=spark, posts=posts, now=None))
    out = out.select(ORD, "id", "score").orderBy(ORD)
    return out, [(r["id"], r["score"]) for r in out.collect()]


def _shape_requests():
    return [inputs.request(shape, i) for shape, (params, _) in inputs.SHAPES.items() for i in range(len(params))]


@pytest.mark.parametrize(
    "days_ahead, max_partition_bytes",
    [(0, None), (30, None), (0, "16k")],  # 30: the window is empty
    ids=["0", "30", "multi-partition"],
)
def test_snapshot_serves_the_same_feeds_as_the_lazy_window(spark, feed_store, days_ahead, max_partition_bytes):
    """Both sides of the size rule: the window fits one partition (one task
    per stage, AQE off) or, under a caller-set tiny maxPartitionBytes that
    must reach the serving session, several (AQE on)."""
    store, newest = feed_store
    now = newest + dt.timedelta(days=days_ahead)
    key = "spark.sql.files.maxPartitionBytes"
    if max_partition_bytes:
        spark.conf.set(key, max_partition_bytes)
    try:
        lazy = store.window(now)
        snapshot = store.serving_view(now)
    finally:
        spark.conf.unset(key)
    n = snapshot.rdd.getNumPartitions()
    assert (n > 1) == bool(max_partition_bytes)
    serving = snapshot.sparkSession.conf
    assert serving.get("spark.sql.shuffle.partitions") == str(n)
    assert serving.get("spark.sql.adaptive.enabled") == str(n > 1).lower()
    assert snapshot.count() == lazy.count()
    for r in _shape_requests():
        want = _feed(spark, lazy, r["blocks"])[1]
        assert _feed(spark, snapshot, r["blocks"])[1] == want, r["key"]
        assert want or days_ahead, f"{r['key']}: empty feed over a full window"


def test_publish_leaves_the_caller_session_conf_alone(spark, feed_store):
    """A publish changes only the serving session's conf, and the caller's
    runtime settings reach it, whether set or unset since the last publish."""
    store, newest = feed_store
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    before = {k: spark.conf.get(k) for k in keys}
    key = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(key, "256m")
    try:
        serving = store.serving_view(newest).sparkSession.conf
        assert serving.get(key) == "256m"
    finally:
        spark.conf.unset(key)
    serving = store.serving_view(newest).sparkSession.conf
    assert serving.get(key) == spark.conf.get(key)
    assert serving.get("spark.sql.adaptive.enabled") == "false"
    assert {k: spark.conf.get(k) for k in keys} == before


def test_snapshot_outlives_ingest_of_its_partitions(spark, tmp_path):
    store = PostStore(spark, str(tmp_path / "store"))
    store.ingest(_batch(spark, [(1, 0.1, "a"), (2, 1.2, "b")]))
    snapshot = store.serving_view(NOW)
    # rewrites both day partitions the snapshot was read from
    store.ingest(_batch(spark, [(1, 0.1, "A"), (2, 1.2, "B"), (3, 0.1, "c")]))
    assert {r["id"]: r["v"] for r in store.read().collect()} == {1: "A", 2: "B", 3: "c"}
    assert {r["id"]: r["v"] for r in snapshot.collect()} == {1: "a", 2: "b"}


def test_store_keeps_one_snapshot(spark, tmp_path):
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    store = PostStore(spark, str(tmp_path / "store"))
    store.ingest(_batch(spark, [(1, 0.1, "a"), (2, 1.2, "b")]))
    for _ in range(5):
        snapshot = store.serving_view(NOW)
    live = set(jsc.getPersistentRDDs().keySet().toArray()) - before
    assert len(live) == 1
    assert snapshot.count() == 2


def test_snapshot_scan_prunes_partitions(spark, tmp_path, monkeypatch):
    """The dt predicate reaches the scan that materializes the snapshot."""
    from query_engine_spark.streaming import job

    store = PostStore(spark, str(tmp_path / "store"))
    store.ingest(_batch(spark, [(1, 0.1, "a"), (2, 9.5, "old")]))
    materialized = []
    checkpoint = job.local_checkpoint_with_free
    monkeypatch.setattr(job, "local_checkpoint_with_free", lambda df: checkpoint(materialized.append(df) or df))
    assert [r["id"] for r in store.serving_view(NOW, days=7).collect()] == [1]
    plan = materialized[0]._jdf.queryExecution().executedPlan().toString()
    pruned = re.findall(r"PartitionFilters: \[isnotnull\(dt#\d+\), \(dt#\d+ >= 2024-03-03\)\]", plan)
    assert pruned and len(pruned) == plan.count("FileScan parquet")


def test_served_request_plans_no_scan_and_no_now_join(spark, feed_store):
    store, newest = feed_store
    blocks = inputs.request("flagship", 0)["blocks"]
    for posts, served in ((store.window(newest), False), (store.serving_view(newest), True)):
        out, _ = _feed(spark, posts, blocks)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # a one-partition snapshot plans without AQE
        assert ("AdaptiveSparkPlan" in plan) != served
        assert served or "isFinalPlan=true" in plan
        assert ("FileScan parquet" in plan) != served
        # the in-plan now: max(ts) broadcast into a nested-loop cross join
        assert bool(re.search(r"functions=\[max\(ts#", plan)) != served
        assert bool(re.search(r"BroadcastNestedLoopJoin[^\n]*__qe_now", plan)) != served


def test_snapshot_request_joins_side_inputs_of_the_caller_session(spark, feed_store):
    """The statement runs on the snapshot's serving session; a list built on
    the caller's session still joins it."""
    store, newest = feed_store
    snapshot = store.serving_view(newest)
    authors = sorted(r["author_key"] for r in snapshot.select("author_key").distinct().limit(3).collect())
    members = spark.createDataFrame([(a,) for a in authors], "author_key long")
    blocks = [inputs.FIREHOSE, {"type": "keep", "subject": "list", "listUri": "at://list"}]
    ctx = PipelineContext(spark=spark, posts=snapshot, now=None, lists={"at://list": members})
    got = {r["author_key"] for r in translate_pipeline(blocks, ctx).collect()}
    base = translate_pipeline([inputs.FIREHOSE], PipelineContext(spark=spark, posts=snapshot, now=None))
    assert got == {r["author_key"] for r in base.collect()} & set(authors) != set()


def test_feed_requests_translate_in_few_py4j_calls(spark, feed_store, monkeypatch):
    """Each request compiles to one statement: translating flagship over a
    published snapshot costs at most 20 py4j round trips and every shape
    at most 40, and translation starts no Spark job."""
    from py4j.clientserver import ClientServerConnection

    store, newest = feed_store
    snapshot = store.serving_view(newest)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first_job = dag.nextJobId()
    calls = []
    send = ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        # a proxy garbage-collected meanwhile sends a memory command: not ours
        calls.append(not command.startswith("m\n"))
        return send(self, command, *args, **kwargs)

    counts = {}
    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    for r in _shape_requests():
        calls.clear()
        translate_pipeline(r["blocks"], PipelineContext(spark=spark, posts=snapshot, now=None))
        counts[r["key"]] = sum(calls)
    monkeypatch.undo()
    assert counts["flagship#0"] <= 20, counts
    assert max(counts.values()) <= 40, counts
    assert dag.nextJobId() == first_job
