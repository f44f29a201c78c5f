"""Behavioral / product-analytics operators: ordered funnels, retention
cohorts, and per-node triangle counts.

These are the event-pipeline workhorses (Amplitude-style funnels, cohort
retention grids, social-graph clustering metrics) expressed as pure
DataFrame compositions — no UDFs, fully inside whole-stage codegen.

Scale notes (100 TB):

- `funnel` is ONE shuffle regardless of stage count: every stage's
  running "earliest valid completion" is a window over the same
  (user, ts) sort, and the final per-user aggregate groups on the window's
  own partition key, so Catalyst plans a single Exchange for the whole
  chain. A 5-stage funnel over 10¹² events costs the same shuffle as a
  plain per-user groupBy. Per-user event skew is the only hazard —
  mitigate upstream by capping events per user per day.
- `retention_cohorts` reduces events to distinct (user, bucket) pairs
  FIRST (the map-side-combinable shuffle), so the cohort join and grid
  aggregation run on |users|·|buckets|, not |events|.
- `triangle_count` orients each undirected edge from its lower-degree
  endpoint toward the higher (ties by id), the standard wedge-bounding
  trick: enumeration work is O(Σ d(v)·d_out(v)) with d_out bounded by
  O(√|E|) on any graph, instead of the unbounded hub-explosion of naive
  a<b<c enumeration. All joins are equi-joins on edge keys.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["funnel", "retention_cohorts", "triangle_count", "pagerank", "transition_matrix"]


def funnel(
    events: DataFrame,
    stages: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts_us",
    type_col: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """Ordered funnel: for each user, the earliest time each stage was
    completed IN ORDER — stage i counts only at or after that user's
    earliest valid stage i-1 completion.

    Event order is (ts, order_col) lexicographic — a stage-2 event tied on
    ts with the stage-1 event it follows counts only if its order_col is
    higher (document the tiebreaker; engines must agree on it to agree on
    results).

    Returns one row per user that completed stage 0:
    ``(user_col, t0, t1, ..., t{k-1})`` — ``t{i}`` is the epoch-micros
    completion time of stage i, NULL once a stage was never reached
    (all later stages are then NULL too, by construction).

    Implementation: one window sort per user on (ts, order). ``r0`` is the
    running min ts of stage-0 events; a stage-1 event at a row where ``r0``
    is non-NULL is automatically ≥ r0 (r0 only looks backward), so its ts
    is a valid completion candidate; min over the partition of those
    candidates is t1, and so on. All k windows share one
    partition+sort, and the final groupBy is on the partition key —
    Catalyst plans exactly ONE Exchange for the whole funnel.
    """
    if len(stages) < 2:
        raise ValueError("funnel needs at least 2 stages")
    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    df = events
    prev_run = None
    cand_cols: list[str] = []
    for i, stage in enumerate(stages):
        cand = f"__c{i}"
        if i == 0:
            df = df.withColumn(
                cand, F.when(F.col(type_col) == stage, F.col(ts_col))
            )
        else:
            df = df.withColumn(
                cand,
                F.when(
                    (F.col(type_col) == stage) & prev_run.isNotNull(),
                    F.col(ts_col),
                ),
            )
        # running earliest valid completion of stage i, visible to stage i+1
        prev_run = F.min(cand).over(w)
        cand_cols.append(cand)
    out = df.groupBy(user_col).agg(
        *[F.min(c).alias(f"t{i}") for i, c in enumerate(cand_cols)]
    )
    return out.filter(F.col("t0").isNotNull())


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts_us",
    bucket_us: int = 86_400_000_000,
) -> DataFrame:
    """Cohort retention grid: users are cohorted by the bucket of their
    first event; for each (cohort_bucket, offset) the count of cohort
    members active ``offset`` buckets after their first.

    Returns ``(cohort_bucket, offset, n_users)`` — cohort_bucket is the
    bucket start in epoch micros, offset ≥ 0 in buckets; offset 0 is the
    cohort size itself.

    Implementation: distinct (user, bucket) FIRST — the only pass over raw
    events, map-side combinable — then per-user min bucket, join back on
    user (both sides already hash-partitioned on user), and count the
    grid. No distinct-count in the final agg: (user, bucket) pairs are
    already unique.
    """
    # floor-div (not double-div + truncating cast): matches SQL `//` on
    # negative timestamps too, and never rides on double rounding
    b = F.floor(F.col(ts_col) / F.lit(bucket_us)).cast("bigint")
    ub = events.select(F.col(user_col), b.alias("__b")).distinct()
    first = ub.groupBy(user_col).agg(F.min("__b").alias("__b0"))
    grid = ub.join(first, user_col)
    return (
        grid.groupBy(
            (F.col("__b0") * F.lit(bucket_us)).alias("cohort_bucket"),
            (F.col("__b") - F.col("__b0")).alias("offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
    scale: int = 10**12,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank (d = 0.85, dangling mass redistributed
    uniformly) on an INTEGER fixed-point grid: every rank is a bigint in
    units of 1/`scale`, and every step uses integer division, so the
    result is bit-identical in any engine with 64-bit `div` — the same
    determinism device as `kmeans_lloyd`'s quantized grid (floating-point
    PageRank sums in engine-dependent order and drifts in the last ulp).

    Returns ``(node, rank_q)`` — rank_q ≈ rank · scale. Ranks sum to
    slightly under `scale` (each floor division sheds < 1 unit of mass
    per node per iteration — quantized PageRank is still a contraction,
    the stationary ranking is unaffected for scale ≫ |V|).

    Per iteration: contributions are an equi-join of ranks onto edges
    grouped by destination (the one big shuffle, keyed like every other
    per-node agg), the dangling total is a one-row broadcast scalar, and
    |V| rides in-plan the same way. No driver-side loops over data — only
    the Python-side plan unroll.

    `checkpoint_every=k` localCheckpoints the rank table after every k-th
    iteration (never after the last), cutting the unrolled lineage for
    many-iteration runs. Off by default: at the declared queries' iters=3
    AQE's runtime exchange reuse already dedups the re-embedded edge
    subtrees and a checkpoint is overhead (r16 cadence table, sf0.1,
    OPTIMIZATION_r16.md graph_pagerank: iters=3 uncut 1.35 s vs 1.54/1.62 s at
    k=2/4; r8 measured a persist regressing 2.56 -> 4.35 s the same way).
    Past a handful of iterations the uncut lineage's plan-compile/AQE
    re-planning cost explodes and then kills the driver: iters=8 uncut
    141 s vs 3.65 s at k=2; iters=12 uncut OOMs an 8g driver heap during
    planning while k=2 runs in 4.0 s. Use k=2 for anything beyond ~5
    iterations. Ranks are bit-identical either way (integer grid;
    checkpointing only materializes them — parity collect-verified at
    iters=8 for k=2 and k=4).
    """
    from query_engine_spark.cache import _PERSISTED, local_checkpoint_with_free

    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
    )
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    outdeg = e.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("outdeg"))
    r = nodes.crossJoin(F.broadcast(nn)).select(
        "node", F.expr(f"{scale} div n").alias("r")
    )
    _prev_free = None
    for it in range(iters):
        j = r.join(outdeg, "node", "left")
        contrib = j.filter(F.col("outdeg").isNotNull()).select(
            F.col("node").alias("u"), F.expr("r div outdeg").alias("c")
        )
        inm = (
            e.join(contrib, "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("c").alias("inm"))
        )
        dang = j.filter(F.col("outdeg").isNull()).agg(
            F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dang")
        )
        r = (
            nodes.join(inm, "node", "left")
            .crossJoin(F.broadcast(nn))
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                F.expr(
                    f"(15 * {scale}) div (100 * n)"
                    f" + (85 * (coalesce(inm, 0) + dang div n)) div 100"
                ).alias("r"),
            )
        )
        if (
            checkpoint_every
            and (it + 1) % checkpoint_every == 0
            and (it + 1) < iters
        ):
            # tracked checkpoint, dedup_clusters pattern (ADVICE r16): a raw
            # localCheckpoint leaves non-evictable RDD blocks no
            # Dataset.unpersist can reach, so a long-lived driver leaks one
            # rank table per cadence point. localCheckpoint is EAGER, so
            # once the new checkpoint exists the previous round's blocks are
            # dead — free them immediately; the LAST checkpoint's blocks are
            # registered for clear_tracked_cache() (the caller still needs
            # them to materialize the returned ranks).
            r, free = local_checkpoint_with_free(r)
            if _prev_free is not None:
                _PERSISTED.remove(_prev_free)
                _prev_free()
            _PERSISTED.append(free)
            _prev_free = free
    return r.select("node", F.col("r").alias("rank_q"))


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle participation counts over an undirected graph.

    `edges` may contain duplicates, self-loops, and both directions; they
    are canonicalized first. Returns ``(node, n_triangles)`` — the number
    of distinct triangles each node belongs to (nodes in no triangle are
    absent).

    Implementation — degree-ordered wedge enumeration (the MapReduce
    triangle-counting scheme of Suri & Vassilvitskii, WWW'11):

    1. canonicalize to undirected distinct edges (lo, hi), drop loops;
    2. orient each edge from its lower-degree endpoint to the higher
       (ties by node id) — every node's OUT-degree is then O(√|E|) on any
       graph, so no hub ever fans a quadratic wedge set;
    3. wedges = oriented ⋈ oriented on the common source, one wedge per
       unordered pair of out-neighbors;
    4. close each wedge against the oriented edge set (equi-join), then
       unpivot the 3 corners and count per node.
    """
    lo, hi = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    und = (
        edges.filter(F.col(src) != F.col(dst))
        .select(lo.alias("a"), hi.alias("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    # orient a→b iff (deg(a), a) < (deg(b), b); a<b already, so flip when
    # deg(a) > deg(b)
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(F.col("da") <= F.col("db"), F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(F.col("da") <= F.col("db"), F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    e1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    e2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    wedges = e1.join(e2, "u").filter(F.col("x") < F.col("y"))
    # the closing edge (x, y) is oriented one way or the other; wedges use
    # x < y so check the canonical undirected set instead of `oriented`
    tri = wedges.join(
        und.select(F.col("a").alias("x"), F.col("b").alias("y")), ["x", "y"]
    )
    corners = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("x").alias("node")))
        .unionAll(tri.select(F.col("y").alias("node")))
    )
    return corners.groupBy("node").agg(F.count("*").alias("n_triangles"))


def transition_matrix(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    quant: int = 10**6,
) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    ``(src, dst, cnt, src_cnt, prob_ppm)`` with prob_ppm the integer-ppm
    conditional P(dst | src) — the behavioral-model table under
    next-action prediction, anomaly scoring, and funnel design.

    Shape: ONE user-partitioned lag window (the sequences shuffle by user
    exactly once, same exchange the funnel uses), a (src, dst) hash-agg —
    |types|² output rows regardless of event volume — and a src-total
    join over that tiny table. Integer ppm keeps rows engine-exact.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    t = events.withColumn("__prev", F.lag(type_col).over(w)).filter(
        F.col("__prev").isNotNull()
    )
    pc = t.groupBy(
        F.col("__prev").alias("src"), F.col(type_col).alias("dst")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    tot = pc.groupBy("src").agg(F.sum("cnt").alias("src_cnt"))
    return pc.join(tot, "src").select(
        "src",
        "dst",
        "cnt",
        "src_cnt",
        F.expr(f"(cnt * {quant}) div src_cnt").alias("prob_ppm"),
    )
