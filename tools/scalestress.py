"""Scale-stress harness: run headline operator shapes on synthetically
generated in-memory data 10-100× larger than sf0.1, and report rows/sec.

The driver's parquet stays untouched — data comes from spark.range()
expressions, so this measures operator throughput and plan shape at scale,
not IO. Usage:

    python tools/scalestress.py [n_rows]

Prints one JSON line with per-op wall time and rows/sec.
"""

from __future__ import annotations

import json
import sys
import time


def main() -> int:
    import os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000

    from pyspark.sql import Window, functions as F

    from query_engine_spark.session import get_spark
    from query_engine_spark.operators import sorts as So
    from query_engine_spark.streaming.stateful import sessionize_batch

    spark = get_spark("scalestress")
    spark.range(1).count()

    # synthetic posts-shaped table: n rows, 10k authors, zipf-ish likes
    posts = (
        spark.range(n)
        .withColumn("author_key", (F.col("id") * 2654435761 % 10_000))
        .withColumn("ts", F.timestamp_micros(F.lit(1_700_000_000_000_000) + F.col("id") * 1000))
        .withColumn("like_count", (F.pow(F.col("id") % 1000 + 1, 0.5) * 3).cast("int"))
        .withColumn("user_id", F.col("author_key"))
    )

    results = {}

    def run(name, fn):
        t0 = time.time()
        out = fn()
        dt = time.time() - t0
        results[name] = {"sec": round(dt, 2), "rows_per_sec": int(n / dt), "out_rows": out}

    # trailing-window scan + filter + fused top-N (S1+O1 shape)
    run(
        "window_topn",
        lambda: So.top_n_with_ord(
            posts.filter(F.col("ts") >= F.timestamp_micros(F.lit(1_700_000_000_000_000 + (n // 2) * 1000))),
            "like_count DESC, id DESC",
            500,
        ).count(),
    )

    # group-wise top-N per author, partitioned window only (O7 shape)
    def per_user():
        w = Window.partitionBy("author_key").orderBy(F.col("ts").desc(), F.col("id").desc())
        return posts.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3).count()

    run("posts_per_user", per_user)

    # keyed aggregation (A3/A5 shape)
    run("count_view", lambda: posts.groupBy("author_key").agg(F.count("*"), F.sum("like_count")).count())

    # broadcast semi-join against a 1k-member list (F7/S2 shape)
    members = spark.range(1000).select((F.col("id") * 7 % 10_000).alias("author_key")).distinct()
    run("list_semi_join", lambda: posts.join(F.broadcast(members), "author_key", "left_semi").count())

    # sessionization (stateful shape) — windows partitioned per user
    run("sessionize", lambda: sessionize_batch(posts, gap_seconds=60).count())

    # connected components on a planted DEEP graph: chains of length 16 →
    # diameter 15 → ~15 label-propagation rounds. The localCheckpoint every 4
    # rounds (llmdata/dedup.py) must keep per-iteration wall time flat —
    # without it, lineage deepens by a join every round and later iterations
    # slow down / blow the planner up.
    def cc_chain():
        from query_engine_spark.llmdata.dedup import dedup_clusters

        chain_n = max(n // 100, 16_000)
        nodes = spark.range(chain_n)
        edges = (
            nodes.filter((F.col("id") + 1) % 16 != 0)  # break into chains of 16
            .select(
                F.concat(F.lit("d"), F.col("id").cast("string")).alias("id_a"),
                F.concat(F.lit("d"), (F.col("id") + 1).cast("string")).alias("id_b"),
            )
        )
        iter_times: list[float] = []
        last = [time.time()]

        def tick(_):
            now = time.time()
            iter_times.append(round(now - last[0], 2))
            last[0] = now

        out = dedup_clusters(edges, max_iters=25, on_iteration=tick).count()
        results["cc_chain_iter_sec"] = iter_times
        return out

    run("cc_chain_diameter15", cc_chain)

    print(json.dumps({"n_rows": n, "ops": results}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
