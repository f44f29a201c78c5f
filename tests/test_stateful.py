"""Tests for stateful operators: sessionization and CUSUM drift (batch ≡
streaming)."""

from __future__ import annotations

import datetime as dt

from query_engine_spark.streaming.stateful import sessionize_batch, sessionize_stream


def _events(spark):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    # user 1: two sessions (3 events, then a 2h gap, then 2 events)
    for m in (0, 5, 10):
        rows.append((1, base + dt.timedelta(minutes=m)))
    for m in (130, 135):
        rows.append((1, base + dt.timedelta(minutes=m)))
    # user 2: one session
    for m in (0, 20):
        rows.append((2, base + dt.timedelta(minutes=m)))
    return spark.createDataFrame(rows, "user_id long, ts timestamp")


def test_sessionize_batch(spark):
    out = sessionize_batch(_events(spark), gap_seconds=1800)
    got = {(r["user_id"], r["session_id"]): r["n_events"] for r in out.collect()}
    assert got == {(1, 1): 3, (1, 2): 2, (2, 1): 2}


def test_sessionize_stream_matches_batch(spark, tmp_path):
    src = _events(spark)
    path = str(tmp_path / "sess_events")
    src.write.parquet(path)
    stream = spark.readStream.schema(src.schema).parquet(path)
    q = (
        sessionize_stream(stream, gap_seconds=1800)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    emitted = spark.table("sessions_out").collect()
    # append mode emits only CLOSED sessions: user1's first session closed by
    # the 2h-later event; open sessions stay in state
    got = {(r["user_id"], r["n_events"]) for r in emitted}
    assert (1, 3) in got
    # every emitted session must agree with the batch computation
    batch = {
        (r["user_id"], r["start_us"], r["end_us"], r["n_events"])
        for r in sessionize_batch(src, gap_seconds=1800).collect()
    }
    for r in emitted:
        assert (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"]) in batch


def test_cusum_stream_equals_batch(spark, tmp_path):
    """CUSUM drift: the no-reset closed form (two cumulative windows) and
    the O(1)-state streaming recursion must emit bit-identical alarms for
    the same pretrained means table."""
    from datetime import datetime, timedelta
    from query_engine_spark.streaming.stateful import cusum_batch, cusum_stream

    t0 = datetime(2024, 1, 1)
    rows = []
    for i in range(60):
        # baseline 10 with a sustained +50 shift from i=30 ("drift"), plus
        # a second key that never drifts
        rows.append(("a", t0 + timedelta(seconds=i), i, 10.0 + (50.0 if i >= 30 else 0.0)))
        rows.append(("b", t0 + timedelta(seconds=i), 1000 + i, 10.0))
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp, event_id long, value double")
    means = spark.createDataFrame([("a", 10000), ("b", 10000)], "event_type string, mean_q long")

    batch = {
        (r.event_type, r.event_id, r.value_q, r.s_q)
        for r in cusum_batch(ev, means, slack_q=500, threshold_q=100_000).collect()
    }
    # drift key alarms once the cumulative excess tops the threshold; the
    # stable key never does
    assert batch and all(k == "a" for k, *_ in batch)

    path = str(tmp_path / "cusum_stream")
    ev.write.parquet(path)
    stream = spark.readStream.schema(ev.schema).parquet(path)
    q = (
        cusum_stream(stream, means, slack_q=500, threshold_q=100_000)
        .writeStream.format("memory")
        .queryName("t_cusum")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.event_type, r.event_id, r.value_q, r.s_q)
            for r in spark.table("t_cusum").collect()
        }
    finally:
        q.stop()
    assert got == batch


def test_cusum_no_reset_identity_matches_recursion(spark):
    """The closed form U - min(0, cummin U) equals the direct no-reset
    recursion computed in plain Python."""
    from datetime import datetime, timedelta
    from query_engine_spark.streaming.stateful import cusum_batch

    t0 = datetime(2024, 1, 1)
    vals = [10.0, 30.0, 5.0, 50.0, 2.0, 40.0, 45.0, 1.0]
    ev = spark.createDataFrame(
        [("k", t0 + timedelta(seconds=i), i, v) for i, v in enumerate(vals)],
        "event_type string, ts timestamp, event_id long, value double",
    )
    means = spark.createDataFrame([("k", 10000)], "event_type string, mean_q long")
    got = {r.event_id: r.s_q for r in cusum_batch(ev, means, slack_q=0, threshold_q=-1).collect()}
    u, umin, want = 0, 0, {}
    for i, v in enumerate(vals):
        u += int(v * 1000) - 10000
        umin = min(umin, u)
        want[i] = u - min(0, umin)
    assert got == {i: s for i, s in want.items() if s > -1}
