"""Custom stateful streaming operators.

`sessionize_batch` / `sessionize_stream` — gap-based sessionization of an
event stream per user. The batch form is pure window functions (lag + cumsum
over gap markers — fully SQL-expressible, oracle-checkable); the streaming
form is the same semantics as an `applyInPandasWithState` operator with
per-user state (open-session accumulator) and event-time timeout — the
pattern for any custom stateful operator the DSL might need.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

__all__ = ["sessionize_batch", "sessionize_stream", "cusum_batch", "cusum_stream"]


def sessionize_batch(
    events: DataFrame,
    gap_seconds: int = 1800,
    *,
    user: str = "user_id",
    ts: str = "ts",
) -> DataFrame:
    """(user_id, session_id, n_events, start_us, end_us) via lag + cumsum.

    A new session starts when the gap to the previous event of the same user
    exceeds `gap_seconds`. Windows are PARTITIONED by user — no global sort.
    """
    w = Window.partitionBy(user).orderBy(F.col(ts))
    gap = F.unix_micros(F.col(ts)) - F.unix_micros(F.lag(ts).over(w))
    marked = events.withColumn(
        "__new", F.when(gap.isNull() | (gap > gap_seconds * 1_000_000), F.lit(1)).otherwise(F.lit(0))
    )
    sess = marked.withColumn("session_id", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        sess.groupBy(user, "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min(F.unix_micros(F.col(ts))).alias("start_us"),
            F.max(F.unix_micros(F.col(ts))).alias("end_us"),
        )
    )


_SESSION_OUT_SCHEMA = "user_id long, session_start_us long, session_end_us long, n_events long"
_SESSION_STATE_SCHEMA = "start_us long, end_us long, n long"


def sessionize_stream(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Streaming sessionization with applyInPandasWithState: per-user state
    holds the open session; an event beyond the gap (or state timeout) closes
    and emits it. Input must be a streaming DataFrame with watermarked `ts`."""
    gap_us = gap_seconds * 1_000_000

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            if state.exists:
                start_us, end_us, n = state.get
                state.remove()
                yield pd.DataFrame(
                    [{"user_id": user_id, "session_start_us": start_us, "session_end_us": end_us, "n_events": n}]
                )
            return
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts")
        closed = []
        if state.exists:
            start_us, end_us, n = state.get
        else:
            start_us = end_us = None
            n = 0
        for t in rows["ts"]:
            t_us = int(t.value // 1000)  # pandas ns → µs
            if start_us is None:
                start_us, end_us, n = t_us, t_us, 1
            elif t_us - end_us > gap_us:
                closed.append({"user_id": user_id, "session_start_us": start_us,
                               "session_end_us": end_us, "n_events": n})
                start_us, end_us, n = t_us, t_us, 1
            else:
                end_us, n = t_us, n + 1
        state.update((start_us, end_us, n))
        state.setTimeoutTimestamp(end_us // 1000 + gap_seconds * 1000)  # millis
        if closed:
            yield pd.DataFrame(closed)

    return (
        events.withWatermark("ts", f"{2 * gap_seconds} seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, _SESSION_OUT_SCHEMA, _SESSION_STATE_SCHEMA, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def cusum_batch(
    events: DataFrame,
    means: DataFrame,
    *,
    key: str = "event_type",
    ts: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    slack_q: int = 500,
    threshold_q: int = 20_000,
    vquant: int = 1000,
) -> DataFrame:
    """One-sided CUSUM drift detection per key (Page 1954), engine-exact.

    The classic recursion S_t = max(0, S_{t-1} + x_t − μ − k) is not a
    window function, but the reflection identity gives it EXACTLY as
    S_t = U_t − min(0, min_{j≤t} U_j) with U the running sum of
    (x_q − mean_q − slack_q) — property-tested against the direct
    recursion over arbitrary integer step sequences — i.e. two cumulative
    windows over ONE key-partitioned sort (Catalyst plans a single
    exchange), all integer. An alarm row is emitted while
    S_t > threshold_q; the only departure from textbook monitoring
    practice is that S is NOT restarted to 0 after an alarm (a
    post-alarm restart is sequence-dependent in a way no window
    expresses), so alarms persist until the cumulative deficit rebuilds
    — deliberate: this is the form with an exact distributed closed form
    AND O(1) streaming state, so batch and stream agree bit-for-bit.

    `means` is the per-key baseline (key, mean_q) — train offline with
    `operators.temporal.anomaly_baseline` (its mean_q column), the same
    train-offline/score-online split as the static anomaly scorer.

    Returns alarm rows: (key, ts, id, value_q, s_q).
    """
    vq = F.round(F.col(value_col) * vquant).cast("long")
    j = events.select(
        F.col(key), F.col(ts), F.col(id_col), vq.alias("value_q")
    ).join(F.broadcast(means.select(key, "mean_q")), key)
    w = (
        Window.partitionBy(key)
        .orderBy(ts, id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    step = F.col("value_q") - F.col("mean_q") - F.lit(slack_q)
    u = F.sum(step).over(w)
    scored = j.withColumn("__u", u).withColumn(
        "s_q", F.col("__u") - F.least(F.lit(0), F.min("__u").over(w))
    )
    return scored.filter(F.col("s_q") > threshold_q).select(
        key, ts, id_col, "value_q", "s_q"
    )


_CUSUM_OUT_SCHEMA = "event_type string, ts timestamp, event_id long, value_q long, s_q long"
_CUSUM_STATE_SCHEMA = "u long, umin long"


def cusum_stream(
    events: DataFrame,
    means: DataFrame,
    *,
    slack_q: int = 500,
    threshold_q: int = 20_000,
    vquant: int = 1000,
) -> DataFrame:
    """Streaming CUSUM with applyInPandasWithState: per-key state is just
    (running U, running min U) — O(1) per key at any stream length — and
    the emitted alarms are bit-identical to `cusum_batch` on the same
    data with the same pretrained `means` table (asserted in
    test_stateful). The mean join is a broadcast stream-static join
    BEFORE the stateful stage, so state never holds the model.

    Ordering contract: rows sort by (ts, event_id) WITHIN each
    micro-batch, but a cumulative sum is inherently sequence-dependent,
    so the bit-identical guarantee holds when each key's events arrive in
    event-time order ACROSS micro-batches too (a partition-ordered log —
    the usual CDC/firehose shape). Late arrivals within the watermark
    are processed at arrival position: U (and therefore every future
    alarm's s_q) converges to the same total, but umin — and alarms in
    the affected window — can transiently differ from the batch answer.
    Buffering to full event-time order would need an EventTimeTimeout
    reorder buffer (state O(late-window), not O(1)); this operator
    deliberately takes the O(1) form."""
    vq = F.round(F.col("value") * vquant).cast("long")
    j = events.select("event_type", "ts", "event_id", vq.alias("value_q")).join(
        F.broadcast(means.select("event_type", "mean_q")), "event_type"
    )

    def fn(key_tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (etype,) = key_tuple
        if state.hasTimedOut:  # pragma: no cover - no timeout configured
            return
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(["ts", "event_id"])
        if state.exists:
            u, umin = state.get
        else:
            u, umin = 0, 0
        out = []
        for t, eid, xq, mq in zip(
            rows["ts"], rows["event_id"], rows["value_q"], rows["mean_q"]
        ):
            u += int(xq) - int(mq) - fn.slack_q
            umin = min(umin, u)
            s = u - min(0, umin)
            if s > fn.threshold_q:
                out.append(
                    {"event_type": etype, "ts": t, "event_id": int(eid),
                     "value_q": int(xq), "s_q": int(s)}
                )
        state.update((u, umin))
        if out:
            yield pd.DataFrame(out, columns=["event_type", "ts", "event_id", "value_q", "s_q"])

    fn.slack_q = slack_q
    fn.threshold_q = threshold_q
    return (
        j.withWatermark("ts", "1 hour")
        .groupBy("event_type")
        .applyInPandasWithState(
            fn, _CUSUM_OUT_SCHEMA, _CUSUM_STATE_SCHEMA, "append", GroupStateTimeout.NoTimeout
        )
    )
