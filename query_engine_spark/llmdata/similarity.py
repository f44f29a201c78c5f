"""Similarity search over an embedding column (array<float>).

- `cosine_topk`: exact brute-force top-k — the correctness baseline. The
  query side is broadcast (queries are few), so the big side streams through
  a map-only stage computing dot products in codegen'd array expressions
  (F.zip_with/F.aggregate → no Python), then a per-query top-k
  (window row_number ≤ k: partial top-k per partition, no global sort).
- `ivf_topk`: the scale path — assign every vector to its nearest centroid
  (map-only vs broadcast centroids), then search only the query's `nprobe`
  nearest cells. At 100 TB the assignment is written once, partitioned by
  cell id, and each query prunes to nprobe partitions.

All arithmetic is cast to double before accumulating so results are portable
across engines (float32 inputs, float64 math — what the DuckDB oracle does).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

__all__ = [
    "dot",
    "l2_norm",
    "cosine",
    "cosine_topk",
    "cosine_pairs",
    "srp_planes",
    "srp_signature_table",
    "srp_near_dup_pairs",
    "assign_cells",
    "ivf_topk",
    "write_ivf_index",
    "ivf_topk_indexed",
    "semdedup",
    "rrf_fuse",
    "label_centroids",
    "dim_stats",
    "label_cohesion",
    "pq_train",
    "pq_encode",
    "pq_adc_topk",
    "pq_pack_codes",
    "pq_unpack_codes",
    "write_pq_index",
    "pq_index_append",
    "pq_adc_topk_indexed",
    "ivfpq_topk",
]


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    include_self: bool = False,
) -> DataFrame:
    """Exact top-k by cosine: (query_id, vec_id, sim, rank).

    `sim` is rounded to 6 decimals BEFORE ranking so rank order is stable
    under float summation-order differences; ties break by vec_id.
    """
    # norms once per side below the join (float-identical; see assign_cells)
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("qv"),
            l2_norm(F.col(query_vec_col)).alias("__qn"),
        )
    )
    pairs = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        l2_norm(F.col(vec_col)).alias("__vn"),
    ).crossJoin(q)
    if not include_self:
        pairs = pairs.filter(F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "vec_id",
        F.round(
            dot(F.col("v"), F.col("qv")) / (F.col("__vn") * F.col("__qn")), 6
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    # long rank: DuckDB's row_number() is BIGINT — keep oracle schemas aligned
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(F.col("rank") <= k)


def cosine_pairs(
    embeddings: DataFrame,
    threshold: float,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact near-duplicate pairs (a < b, cosine ≥ threshold) by brute-force
    self-join — the correctness baseline; O(n²) dot products, use
    `srp_near_dup_pairs` at scale."""
    # norms once per vector below the join (float-identical to inlined
    # cosine; see semdedup) — per-pair work is the dot alone
    a = embeddings.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        l2_norm(F.col(vec_col)).alias("na"),
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        l2_norm(F.col(vec_col)).alias("nb"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    out = pairs.select(
        "id_a", "id_b",
        F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6).alias("sim"),
    )
    return out.filter(F.col("sim") >= threshold)


def srp_planes(bits: int, dims: int) -> list[list[int]]:
    """Deterministic ±1 hyperplanes for sign-random-projection: coefficient
    (b, i) = parity of the first hex digit of md5(f"{b}|{i}"). Pure Python +
    hashlib, so Spark and any SQL oracle can share the SAME literal planes."""
    import hashlib

    return [
        [1 if int(hashlib.md5(f"{b}|{i}".encode()).hexdigest()[0], 16) % 2 == 0 else -1 for i in range(dims)]
        for b in range(bits)
    ]


def srp_signature_table(
    embeddings: DataFrame,
    bits: int = 16,
    dims: int = 64,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, code) sign-random-projection signatures: bit b = [Σ_i c_bi·e_i > 0].

    Shape: posexplode the vector → broadcast-join the per-dimension
    coefficient row (c0..c{bits-1} columns) → one codegen'd aggregate with
    `bits` conditional sums. (The per-row higher-order-fold form is
    interpreted and ~10× slower — same lesson as MinHash/SimHash.)
    Cosine-similar vectors agree on most bits (P[bit match] = 1 - θ/π)."""
    planes = srp_planes(bits, dims)  # planes[b][i]
    spark = embeddings.sparkSession
    coef_rows = [
        {"i": i, **{f"c{b}": float(planes[b][i]) for b in range(bits)}} for i in range(dims)
    ]
    coefs = F.broadcast(spark.createDataFrame(coef_rows))
    spread = embeddings.repartition(spark.sparkContext.defaultParallelism, F.col(id_col))
    exploded = spread.select(
        F.col(id_col).alias("id"), F.posexplode(F.col(vec_col)).alias("i", "v")
    ).withColumn("v", F.col("v").cast("double"))
    joined = exploded.join(coefs, "i")
    dots = joined.groupBy("id").agg(
        *[F.sum(F.col("v") * F.col(f"c{b}")).alias(f"d{b}") for b in range(bits)]
    )
    code = None
    for b in range(bits):
        bit = F.when(F.col(f"d{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        code = bit if code is None else code + bit
    return dots.select("id", code.alias("code"))


def srp_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float,
    *,
    bits: int = 16,
    dims: int = 64,
    chunks: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale path for embedding near-dup: SRP code → banded self-join on
    code chunks (candidates = vectors agreeing on ≥1 chunk) → exact cosine
    verify. Recall is tunable via bits/chunks; candidates ≪ n²."""
    from query_engine_spark.llmdata import tracked_persist

    embeddings = tracked_persist(
        embeddings.repartition(embeddings.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
    )
    sig = tracked_persist(srp_signature_table(embeddings, bits, dims, id_col=id_col, vec_col=vec_col))
    width = bits // chunks
    banded = sig.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk"),
                    F.shiftright(F.col("code"), c * width).bitwiseAND(F.lit((1 << width) - 1)).alias("cv"),
                )
                for c in range(chunks)
            ])
        ).alias("e"),
    ).select("id", "e.chunk", "e.cv")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk")) & (F.col("a.cv") == F.col("b.cv")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # per-side norms hoisted BELOW the verify join (r17; the r6 cosine
    # lesson): cosine() inlined per pair re-runs both 64-element
    # interpreted norm folds per CANDIDATE — 3x the per-pair fold ops.
    # dot/(na*nb) is the same IEEE ops in the same order as
    # dot/(l2(a)*l2(b)), so round(...,6) cannot drift (parity-verified;
    # neutral at sf0.1's 581 output pairs — 0.972 vs 0.967 s interleaved —
    # and structural where candidates ≫ vectors; OPTIMIZATION_r17.md
    # changes table — the same A/B re-checked both persists under the AQE-reuse lens:
    # UNLIKE simhash, dropping the signature persist here regresses
    # 0.97 -> 1.87 s, so both persists stay).
    va = embeddings.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        l2_norm(F.col(vec_col)).alias("__na"),
    )
    vb = embeddings.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        l2_norm(F.col(vec_col)).alias("__nb"),
    )
    out = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b",
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb")), 6
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )
    return out


def assign_cells(
    embeddings: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "cent_id",
    cent_vec_col: str = "cent_vec",
) -> DataFrame:
    """IVF assignment: nearest centroid per vector (by cosine; ties → lowest
    centroid id). Map-only against broadcast centroids. Norms are computed
    once per vector and once per centroid below the join (float-identical
    to the inlined cosine — sqrt·sqrt in the same order — so the rounded
    comparison can't drift), leaving only the dot per (vector, centroid)
    pair; interpreted HOF folds are the cost center here.

    NOTE (r16 measurement): two window-free variants were built and
    measured AGAINST this shape on the full consumers (kmeans_lloyd /
    semdedup), interleaved in one warm session: (a) a broadcast one-row
    centroid-array + per-row HOF argmax fold (fully map-only) — faster on
    an isolated assignment (0.66 s vs 1.11 s noop) but SLOWER end-to-end
    (semdedup min 3.47 s vs 2.96 s): the fold is re-evaluated in every
    downstream branch that references the assignment, while the window is
    a hard once-per-row boundary; (b) an explode + broadcast join +
    codegen hash-agg dot — 0.86 s isolated, extra stage barriers lose
    end-to-end. The crossJoin+window form stays; at very large scale the
    window shuffle is one keyed exchange of (vec_id, cent_id, csim)
    proxies, not payloads.

    r17 re-check: with semdedup's assignment output now persisted (the
    re-evaluation that sank variant (a) in r16 is gone), the fold was
    re-measured on all four real consumers' full queries
    (interleaved min-of-3, parity-verified; OPTIMIZATION_r17.md REVERTED table) and
    still LOST everywhere: semdedup 2.53 window vs 3.00 fold, kmeans 1.75
    vs 2.50, ivf_topk 0.88 vs 1.64, ivfpq_topk 4.88 vs 6.28 — the
    per-element struct-building aggregate fold is simply slower than the
    codegen crossJoin + one keyed window. Window form re-confirmed.
    """
    c = F.broadcast(
        centroids.select(
            F.col(cent_id_col).alias("cent_id"),
            F.col(cent_vec_col).alias("cv"),
            l2_norm(F.col(cent_vec_col)).alias("__cn"),
        )
    )
    scored = (
        embeddings.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("v"),
            l2_norm(F.col(vec_col)).alias("__vn"),
        )
        .crossJoin(c)
        .select(
            "vec_id", "v", "cent_id",
            F.round(
                dot(F.col("v"), F.col("cv")) / (F.col("__vn") * F.col("__cn")), 6
            ).alias("csim"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("cent_id"))
    return scored.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn", "csim")


def _query_probes(
    centroids: DataFrame,
    queries: DataFrame,
    nprobe: int,
    *,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """(query_id, qv, qcent_id): each query's `nprobe` nearest cells.
    Norms hoisted below the join as in `assign_cells`."""
    c = F.broadcast(
        centroids.select(
            F.col("cent_id").alias("qcent_id"),
            F.col("cent_vec").alias("cv"),
            l2_norm(F.col("cent_vec")).alias("__cn"),
        )
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("qv"),
        l2_norm(F.col(query_vec_col)).alias("__qn"),
    )
    q_cells = (
        q.crossJoin(c)
        .select(
            "query_id", "qv", "qcent_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("__qn") * F.col("__cn")), 6
            ).alias("csim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("qcent_id"))
    return q_cells.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= nprobe).drop("__rn", "csim")


def _probe_topk(probes: DataFrame, assigned: DataFrame, k: int) -> DataFrame:
    # norms once per probe row / per assigned row BELOW the fan-out join
    # (float-identical; see assign_cells)
    p = probes.withColumn("__qn", l2_norm(F.col("qv")))
    a = assigned.withColumn("__vn", l2_norm(F.col("v")))
    cand = p.join(a, p["qcent_id"] == a["cent_id"]).filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        F.round(
            dot(F.col("v"), F.col("qv")) / (F.col("__vn") * F.col("__qn")), 6
        ).alias("sim"),
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w2).cast("long")).filter(F.col("rank") <= k)


def ivf_topk(
    embeddings: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: search only the `nprobe` cells nearest each query.

    Recall < 1 by construction; the bench compares it against `cosine_topk`.
    This form assigns cells on the fly; at scale, materialize the assignment
    once with `write_ivf_index` and search with `ivf_topk_indexed` so each
    query scans only nprobe PARTITIONS of the index.
    """
    assigned = assign_cells(embeddings, centroids, id_col=id_col, vec_col=vec_col)
    probes = _query_probes(centroids, queries, nprobe, query_id_col=query_id_col, query_vec_col=query_vec_col)
    return _probe_topk(probes, assigned, k)


def write_ivf_index(
    embeddings: DataFrame,
    centroids: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF layout: the cell assignment written as parquet
    PARTITIONED BY cent_id — the cell-partitioned layout that makes a query
    scan only its nprobe cells (directory-level pruning, no full pass)."""
    assigned = assign_cells(embeddings, centroids, id_col=id_col, vec_col=vec_col)
    assigned.write.partitionBy("cent_id").mode("overwrite").parquet(path)


def ivf_index_append(
    new_embeddings: DataFrame,
    centroids: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """INCREMENTAL IVF maintenance — the embedding-store mirror of the
    LSH/dHash index probes: a new crawl batch is assigned to cells against
    the SAME broadcast centroids the index was built with (O(batch) work,
    the existing index is neither read nor rewritten) and appended into
    the cell-partitioned parquet layout. Queries via `ivf_topk_indexed`
    see base + appended vectors identically to a full rebuild, and
    dynamic partition pruning keeps scanning only the probed cells —
    append adds files inside cell directories, it never changes the
    partitioning scheme. (Centroids must be the index's own: assignment
    against different centroids would scatter vectors into cells the
    probe geometry doesn't match.)"""
    assigned = assign_cells(new_embeddings, centroids, id_col=id_col, vec_col=vec_col)
    assigned.write.partitionBy("cent_id").mode("append").parquet(path)


def ivf_topk_indexed(
    index: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    *,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Top-k over a materialized IVF index (`spark.read.parquet` of a
    `write_ivf_index` layout, where `cent_id` is a PARTITION column).

    The probe⋈index join is on the partition column with a broadcast-small
    build side, so Spark inserts a dynamic-partition-pruning subquery: the
    scan's PartitionFilters carries `dynamicpruningexpression(cent_id IN
    subquery)` and only the probed cell directories are read — the 100 TB
    shape the on-the-fly `ivf_topk` can't give you."""
    probes = _query_probes(centroids, queries, nprobe, query_id_col=query_id_col, query_vec_col=query_vec_col)
    return _probe_topk(probes, index, k)


def quantize_vec(col: Column, quant: int = 1000) -> Column:
    """float array → integer-grid array: floor(x·quant) per element.

    The point is cross-engine DETERMINISM for iterative algorithms: dot
    products and norms of ≤60-bit-integer-valued vectors are exact in IEEE
    doubles regardless of summation order, so cosine comparisons (and hence
    cluster assignments) can't drift between Spark's fold and another
    engine's list_dot_product."""
    return F.transform(col, lambda x: F.floor(x.cast("double") * quant).cast("long"))


def _pq_subvectors(
    df: DataFrame, m: int, dsub: int, *, id_col: str = "vec_id", vec_col: str = "qv"
) -> DataFrame:
    """(id, sub, sv): each quantized vector split into m contiguous
    dsub-dim subvectors — one array literal + explode, map-only."""
    subs = F.array(
        *[
            F.struct(
                F.lit(s).cast("int").alias("sub"),
                F.slice(vec_col, s * dsub + 1, dsub).alias("sv"),
            )
            for s in range(m)
        ]
    )
    return df.select(F.col(id_col), F.explode(subs).alias("e")).select(
        id_col, F.col("e.sub").alias("sub"), F.col("e.sv").alias("sv")
    )


def _l2_sq(a: Column, b: Column) -> Column:
    """Exact squared L2 distance between two integer-grid arrays (bigint
    accumulation — order-independent, engine-portable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _pq_assign(subv: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Nearest-codeword assignment per (vector, subspace): broadcast the
    m·ksub-row codebook, argmin exact squared-L2 (ties → lowest code)."""
    scored = subv.join(F.broadcast(codebooks), "sub").select(
        "vec_id", "sub", "sv", "code", _l2_sq(F.col("sv"), F.col("cv")).alias("d")
    )
    w = Window.partitionBy("vec_id", "sub").orderBy(F.col("d"), F.col("code"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "d")
    )


def pq_train(
    embeddings: DataFrame,
    m: int = 4,
    ksub: int = 4,
    iters: int = 2,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    quant: int = 1000,
) -> DataFrame:
    """Product-quantization codebooks (Jégou, Douze & Schmid, TPAMI 2011):
    split the `dims`-dim integer-quantized vectors into `m` contiguous
    subspaces and run quantized Lloyd's k-means (ksub codewords) in EVERY
    subspace at once — the subspace id is just another grouping key, so m
    k-means trainings cost the same shuffles as one.

    Init = subvectors of the ksub lowest-id vectors (deterministic,
    SQL-reproducible; the tiny unpartitioned row_number window runs over
    ksub rows post-limit, never the corpus). Same quantized-mean update and
    empty-cell handling as `kmeans_lloyd`.

    Returns (sub, code, cv) — m·ksub rows, kilobytes at any corpus size,
    always broadcastable. That is PQ's scale story: a 100 TB embedding
    column compresses to m one-byte codes per vector (here kept as a long
    format table; pack to a byte array at the storage boundary), and
    search never touches the raw vectors again.
    """
    if dims % m:
        raise ValueError(f"dims={dims} must divide evenly into m={m} subspaces")
    q = embeddings.select(
        F.col(id_col).alias("vec_id"), quantize_vec(F.col(vec_col), quant).alias("qv")
    )
    return _pq_train_q(q, m, ksub, iters, dims // m)


def _pq_train_q(q: DataFrame, m: int, ksub: int, iters: int, dsub: int) -> DataFrame:
    """Codebook training over pre-quantized q = (vec_id, qv) — split out so
    IVF-PQ can train on RESIDUALS (already integer) without requantizing."""
    seeds = q.orderBy("vec_id").limit(ksub)
    seeds = seeds.withColumn(
        "code", (F.row_number().over(Window.orderBy("vec_id")) - 1).cast("int")
    )
    cbooks = _pq_subvectors(seeds, m, dsub, id_col="code", vec_col="qv").select(
        "sub", F.col("code"), F.col("sv").alias("cv")
    )
    subv = _pq_subvectors(q, m, dsub)
    for _ in range(iters):
        assigned = _pq_assign(subv, cbooks)
        sums = (
            assigned.select("sub", "code", F.posexplode("sv").alias("pos", "x"))
            .groupBy("sub", "code", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("c"))
        )
        means = (
            sums.withColumn("mn", F.floor(F.col("s") / F.col("c")).cast("long"))
            .groupBy("sub", "code")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mn"))).alias("pm"))
            .select("sub", "code", F.transform("pm", lambda e: e["mn"]).alias("cv_new"))
        )
        # both sides are m·ksub rows (model-sized, data-independent) —
        # broadcast so the update never plans a sort-merge exchange
        cbooks = cbooks.join(F.broadcast(means), ["sub", "code"], "left").select(
            "sub", "code", F.coalesce("cv_new", "cv").alias("cv")
        )
    return cbooks


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    quant: int = 1000,
) -> DataFrame:
    """PQ codes (vec_id, sub, code): nearest codeword per subspace — the
    compressed index. Map-only against the broadcast codebook; at 100 TB
    this is one scan of the embedding column, and the output is the only
    thing ADC search ever reads (pack the m codes to a byte array at the
    storage boundary to hit PQ's ~dims·4/m-fold compression)."""
    if dims % m:
        raise ValueError(f"dims={dims} must divide evenly into m={m} subspaces")
    q = embeddings.select(
        F.col(id_col).alias("vec_id"), quantize_vec(F.col(vec_col), quant).alias("qv")
    )
    return _pq_assign(_pq_subvectors(q, m, dims // m), codebooks).drop("sv")


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    ksub: int = 4,
    iters: int = 2,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    dims: int = 64,
    quant: int = 1000,
) -> DataFrame:
    """Approximate top-k by Asymmetric Distance Computation over PQ codes
    (Jégou'11 §IV): per query, a lookup table of exact squared-L2 partial
    distances to every (sub, code) codeword; a vector's approximate
    distance is the SUM of its m table entries.

    Shape at 100 TB: the LUT is queries·m·ksub rows — broadcast; the scan
    side is the CODES table (m small ints per vector, ~100-500× smaller
    than the raw embedding column), map-only joined on (sub, code), then
    one (query_id, vec_id) agg and a per-query top-k window. The raw
    vectors are never read at search time — that's the entire point of PQ:
    the index fits in memory where the vectors don't.

    Trains codebooks in-plan here (self-contained for the oracle); at
    scale, `pq_train` once, persist codes via `pq_encode`, and search
    those. Returns (query_id, vec_id, adc_dist, rank) — distances exact
    integers on the quantized grid, ties → lowest vec_id.
    """
    dsub = dims // m
    cbooks = pq_train(
        embeddings, m, ksub, iters, id_col=id_col, vec_col=vec_col, dims=dims, quant=quant
    )
    codes = pq_encode(
        embeddings, cbooks, m, id_col=id_col, vec_col=vec_col, dims=dims, quant=quant
    )
    qs = queries.select(
        F.col(query_id_col).alias("query_id"),
        quantize_vec(F.col(query_vec_col), quant).alias("qv"),
    )
    qsub = _pq_subvectors(qs, m, dsub, id_col="query_id")
    lut = qsub.join(F.broadcast(cbooks), "sub").select(
        "query_id", "sub", "code", _l2_sq(F.col("sv"), F.col("cv")).alias("pd")
    )
    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pd").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist"), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def pq_pack_codes(codes: DataFrame, m: int) -> DataFrame:
    """Pack the long-format (vec_id, sub, code) table into ONE BINARY of
    m bytes per vector — the storage boundary the PQ docstrings promise:
    a dims·4-byte float vector compresses to m bytes (here 256 → 4), and
    the packed column is what a 100 TB deployment persists and scans.
    Byte s of the binary is subspace s's code (codes must be < 256 —
    enforced). Pure engine-reproducible expressions: per-sub hex pairs
    concatenated and unhexed, no UDF."""
    parts = F.array_sort(F.collect_list(F.struct("sub", "code")))
    return (
        codes.groupBy("vec_id")
        .agg(parts.alias("__sc"))
        .select(
            "vec_id",
            F.unhex(
                F.concat_ws(
                    "",
                    F.transform(
                        "__sc",
                        lambda e: F.lpad(
                            F.hex(
                                F.when(
                                    (e["code"] >= 0) & (e["code"] < 256), e["code"]
                                ).otherwise(
                                    F.raise_error(
                                        F.concat(
                                            F.lit("pq code out of byte range: "),
                                            e["code"].cast("string"),
                                        )
                                    )
                                )
                            ),
                            2,
                            "0",
                        ),
                    ),
                )
            ).alias("codes"),
        )
    )


def pq_unpack_codes(packed: DataFrame, m: int) -> DataFrame:
    """Inverse of `pq_pack_codes`: (vec_id, codes binary) → the long
    (vec_id, sub, code) relation ADC search scans. substring-on-binary +
    hex parse per subspace — map-only, codegen-friendly, exact."""
    entries = F.array(*[
        F.struct(
            F.lit(s).alias("sub"),
            F.conv(F.hex(F.substring(F.col("codes"), s + 1, 1)), 16, 10)
            .cast("int")
            .alias("code"),
        )
        for s in range(m)
    ])
    return packed.select("vec_id", F.explode(entries).alias("e")).select(
        "vec_id", "e.sub", "e.code"
    )


def write_pq_index(
    embeddings: DataFrame,
    path: str,
    *,
    m: int = 4,
    ksub: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    quant: int = 1000,
) -> None:
    """Materialize the PACKED PQ index: `{path}/codebooks` (m·ksub rows)
    and `{path}/codes` with one m-byte binary per vector (`pq_pack_codes`)
    plus `{path}/meta` pinning (m, ksub, dims, quant) so a reader cannot
    probe with mismatched geometry. This is the persist-once-search-many
    form of `pq_adc_topk`'s in-plan training: at 100 TB the codes table
    is the only thing search ever scans (~dims·4/m-fold smaller than the
    embedding column) and the codebooks broadcast."""
    cbooks = pq_train(
        embeddings, m, ksub, iters, id_col=id_col, vec_col=vec_col, dims=dims, quant=quant
    )
    cbooks.write.mode("overwrite").parquet(f"{path}/codebooks")
    spark = embeddings.sparkSession
    cbooks_r = spark.read.parquet(f"{path}/codebooks")
    codes = pq_encode(
        embeddings, cbooks_r, m, id_col=id_col, vec_col=vec_col, dims=dims, quant=quant
    )
    pq_pack_codes(codes, m).write.mode("overwrite").parquet(f"{path}/codes")
    spark.createDataFrame(
        [(m, ksub, dims, quant)], "m int, ksub int, dims int, quant int"
    ).write.mode("overwrite").parquet(f"{path}/meta")


def pq_index_append(
    new_embeddings: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """INCREMENTAL PQ maintenance — the packed-index mirror of
    `ivf_index_append`: a new crawl batch is encoded against the index's
    OWN persisted codebooks and geometry (O(batch) work; the existing
    codes are neither read nor rewritten) and appended to the codes
    table. Searches via `pq_adc_topk_indexed` see base + appended vectors
    identically to a full rebuild over the union — the codebooks are
    frozen, so append changes no existing code. (Retraining codebooks on
    drifted data is a REBUILD, not an append: new codebooks would
    invalidate every already-packed byte.)"""
    spark = new_embeddings.sparkSession
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    m, ksub, dims, quant = meta["m"], meta["ksub"], meta["dims"], meta["quant"]
    cbooks = spark.read.parquet(f"{path}/codebooks")
    codes = pq_encode(
        new_embeddings, cbooks, m, id_col=id_col, vec_col=vec_col, dims=dims, quant=quant
    )
    pq_pack_codes(codes, m).write.mode("append").parquet(f"{path}/codes")


def pq_adc_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    *,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """ADC top-k over a `write_pq_index` layout: unpack the m-byte codes
    (map-only), build the per-query LUT against the broadcast codebooks,
    join on (sub, code), one agg, one per-query top-k window — identical
    arithmetic to `pq_adc_topk` (packing is transport, so the results are
    row-identical to the in-plan form; the registry oracle is shared
    verbatim). Geometry comes from the index's own meta row."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    m, ksub, dims, quant = meta["m"], meta["ksub"], meta["dims"], meta["quant"]
    cbooks = spark.read.parquet(f"{path}/codebooks")
    codes = pq_unpack_codes(spark.read.parquet(f"{path}/codes"), m)
    qs = queries.select(
        F.col(query_id_col).alias("query_id"),
        quantize_vec(F.col(query_vec_col), quant).alias("qv"),
    )
    qsub = _pq_subvectors(qs, m, dims // m, id_col="query_id")
    lut = qsub.join(F.broadcast(cbooks), "sub").select(
        "query_id", "sub", "code", _l2_sq(F.col("sv"), F.col("cv")).alias("pd")
    )
    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("pd").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist"), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    coarse_k: int = 4,
    coarse_iters: int = 2,
    m: int = 4,
    ksub: int = 4,
    pq_iters: int = 2,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    dims: int = 64,
    quant: int = 1000,
) -> DataFrame:
    """IVF-PQ (Jégou'11 §V — the FAISS `IVFx,PQy` layout) as pure DataFrame
    composition: coarse k-means cells prune WHICH vectors are scored,
    product-quantized RESIDUALS (vector − its cell centroid) compress HOW
    they are scored.

    Pipeline, all integer-exact on the quantized grid:
      1. coarse: `_kmeans_centroids` (cosine assignment, same operator IVF
         uses), every vector's residual = qv − centroid;
      2. PQ codebooks trained ON RESIDUALS (`_pq_train_q` — one shared
         codebook across cells, FAISS's default), vectors encoded to m
         codes;
      3. search: each query probes its `nprobe` nearest cells; PER
         (query, cell) the query residual builds an ADC lookup table; the
         codes of that cell's vectors join the broadcast LUT on
         (cell, sub, code) and one agg sums the m partial distances.

    Scale story — the two halves multiply: IVF's partition pruning means a
    query touches nprobe/coarse_k of the CODES table (cell-partition the
    codes like `write_ivf_index` to make that directory-level pruning),
    and PQ means what it touches is m bytes per vector, not the raw
    embedding column. Residual encoding is why IVF-PQ beats flat PQ at
    equal bits: residuals are centered near zero, so the same ksub
    codewords quantize them with far less error.

    Returns (query_id, vec_id, adc_dist, rank) — approximate squared-L2 of
    residual differences, ties → lowest vec_id.
    """
    if dims % m:
        raise ValueError(f"dims={dims} must divide evenly into m={m} subspaces")
    dsub = dims // m
    from query_engine_spark.cache import tracked_local_checkpoint

    q = embeddings.select(
        F.col(id_col).alias("vec_id"), quantize_vec(F.col(vec_col), quant).alias("qv")
    )
    # MODEL-SIZED checkpoints between the training stages (r7 verdict ask):
    # cents is coarse_k rows and cbooks m·ksub rows, but each carries
    # 2·iters unrolled shuffle rounds of lineage that every downstream
    # reference (residuals, codebook training, encoding, probes, LUTs)
    # would otherwise re-embed — ~300 exchanges in one lazy plan at the
    # registry's settings. Eagerly materializing kilobytes here bounds the
    # plan depth a real cluster's optimizer must chew without touching any
    # result (the checkpoint replays the exact computed rows).
    cents = tracked_local_checkpoint(_kmeans_centroids(q, coarse_k, coarse_iters))
    assigned = assign_cells(q, cents, vec_col="qv", cent_vec_col="cv")
    res = assigned.join(F.broadcast(cents), "cent_id").select(
        "vec_id",
        "cent_id",
        F.zip_with("v", "cv", lambda x, y: x - y).alias("qv"),
    )
    cbooks = tracked_local_checkpoint(
        _pq_train_q(res.select("vec_id", "qv"), m, ksub, pq_iters, dsub)
    )
    # carry cent_id THROUGH the assignment as part of the (struct) id so the
    # codes table needs no corpus-sized self-join to recover its cell
    packed = res.select(F.struct("vec_id", "cent_id").alias("vec_id"), "qv")
    codes = _pq_assign(_pq_subvectors(packed, m, dsub), cbooks).select(
        F.col("vec_id.vec_id").alias("vec_id"),
        F.col("vec_id.cent_id").alias("cent_id"),
        "sub",
        "code",
    )

    qs = queries.select(
        F.col(query_id_col).alias("query_id"),
        quantize_vec(F.col(query_vec_col), quant).alias("qv"),
    )
    probes = _query_probes(
        cents.select("cent_id", F.col("cv").alias("cent_vec")),
        qs,
        nprobe,
        query_vec_col="qv",
    )
    qres = probes.join(
        F.broadcast(cents.withColumnRenamed("cent_id", "qcent_id")), "qcent_id"
    ).select(
        F.struct("query_id", "qcent_id").alias("qid_cell"),
        F.zip_with("qv", "cv", lambda x, y: x - y).alias("rqv"),
    )
    qsub = _pq_subvectors(qres, m, dsub, id_col="qid_cell", vec_col="rqv")
    lut = qsub.join(F.broadcast(cbooks), "sub").select(
        F.col("qid_cell.query_id").alias("query_id"),
        F.col("qid_cell.qcent_id").alias("cent_id"),
        "sub",
        "code",
        _l2_sq(F.col("sv"), F.col("cv")).alias("pd"),
    )
    cand = codes.join(F.broadcast(lut), ["cent_id", "sub", "code"]).filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.groupBy("query_id", "vec_id").agg(F.sum("pd").alias("adc_dist"))
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist"), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 1000,
) -> DataFrame:
    """Distributed Lloyd's k-means on the integer-quantized grid → final
    (vec_id, cent_id) assignment. Trains the centroids IVF needs instead of
    taking a deterministic sample (`assign_cells` docstring).

    Per iteration (all DataFrame ops, no UDFs, no driver-side vectors):
      1. assign: broadcast-centroid cosine argmax (`assign_cells` — ties →
         lowest cent_id), map-only;
      2. update: per-dimension mean via posexplode + one (cent_id, pos)
         shuffle, re-quantized with floor(mean) to stay on the integer grid
         (quantized Lloyd's — each step is still a contraction); empty
         cells keep their previous centroid.

    Init = the k lowest-id vectors (deterministic, SQL-reproducible).
    Fixed `iters` keeps the lazy plan shallow (2·iters shuffles); for big
    iteration counts insert a localCheckpoint every few rounds like
    dedup_clusters does. Convergence-based stopping would need a
    driver-side delta check per round — deliberate non-goal here.
    """
    from query_engine_spark.cache import tracked_local_checkpoint

    q = embeddings.select(
        F.col(id_col).alias("vec_id"), quantize_vec(F.col(vec_col), quant).alias("qv")
    )
    # model-sized (k rows) but with 2·iters unrolled shuffle rounds of
    # corpus lineage: consumers reference the assignment several times
    # (SemDeDup's pair join references it on BOTH sides, and the training
    # subtrees are too far apart for ReuseExchange — measured 56 exchanges
    # / 0 reused at sf0.1). One eager kilobyte checkpoint runs training
    # once and leaves every downstream reference a broadcast-sized scan.
    cents = tracked_local_checkpoint(_kmeans_centroids(q, k, iters))
    final = assign_cells(q, cents, vec_col="qv", cent_vec_col="cv")
    return final.select("vec_id", "cent_id")


def _kmeans_centroids(q: DataFrame, k: int, iters: int) -> DataFrame:
    """(cent_id, cv) after `iters` quantized-Lloyd's rounds over
    q = (vec_id, qv) — the centroid-table half of `kmeans_lloyd`, split out
    so IVF-PQ can compute residuals against the SAME centroids the
    assignment used."""
    cents = (
        q.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cent_id"), F.col("qv").alias("cv"))
    )
    for _ in range(iters):
        assigned = assign_cells(q, cents, vec_col="qv", cent_vec_col="cv")
        sums = (
            assigned.select("cent_id", F.posexplode("v").alias("pos", "x"))
            .groupBy("cent_id", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("c"))
        )
        means = (
            sums.withColumn("m", F.floor(F.col("s") / F.col("c")).cast("long"))
            .groupBy("cent_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cent_id", F.transform("pm", lambda e: e["m"]).alias("cv_new"))
        )
        cents = cents.join(F.broadcast(means), "cent_id", "left").select(
            "cent_id", F.coalesce("cv_new", "cv").alias("cv")
        )
    return cents


def label_centroids(
    embeddings: DataFrame,
    *,
    label_col: str = "label",
    vec_col: str = "embedding",
    quant: int = 1000,
) -> DataFrame:
    """Per-label mean embedding ("class centroid") on the integer-quantized
    grid, in long format ``(label, pos, mean_q, n)`` — the building block
    for class-prototype analytics (nearest-centroid classification, per-class
    cohesion/outlier audits, SemDeDup-style cluster seeding from labels).

    Long format deliberately: scalar rows hash portably across engines where
    array columns don't, and downstream dot products join on (label, pos)
    without re-exploding. Shape: one positional explode + one
    (label, pos) hash-agg — map-side combinable, dims·labels output rows,
    no window. floor(Σx/n) matches `kmeans_lloyd`'s quantized-mean update.
    """
    q = embeddings.select(
        F.col(label_col).alias("label"), quantize_vec(F.col(vec_col), quant).alias("qv")
    )
    return (
        q.select("label", F.posexplode("qv").alias("pos", "x"))
        .select("label", F.col("pos").cast("long").alias("pos"), "x")
        .groupBy("label", "pos")
        .agg(
            F.floor(F.sum("x") / F.count(F.lit(1))).cast("long").alias("mean_q"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def dim_stats(
    embeddings: DataFrame,
    *,
    vec_col: str = "embedding",
    quant: int = 1000,
) -> DataFrame:
    """Per-dimension corpus statistics on the integer-quantized grid —
    ``(pos, n, min_q, max_q, mean_q)`` — the profile a vector pipeline
    needs before whitening / clipping / dead-dimension pruning. One
    positional explode + one pos-keyed hash-agg (map-side combinable,
    `dims` output rows); floor mean matches `kmeans_lloyd`'s update."""
    q = embeddings.select(quantize_vec(F.col(vec_col), quant).alias("qv"))
    return (
        q.select(F.posexplode("qv").alias("pos", "x"))
        .select(F.col("pos").cast("long").alias("pos"), "x")
        .groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("x").alias("min_q"),
            F.max("x").alias("max_q"),
            F.floor(F.sum("x") / F.count(F.lit(1))).cast("long").alias("mean_q"),
        )
    )


def label_cohesion(
    embeddings: DataFrame,
    *,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 1000,
    cquant: int = 10**6,
) -> DataFrame:
    """Per-label cluster cohesion: each member's cosine to its label
    centroid, aggregated to ``(label, n_members, cohesion_q, min_cos_q)``
    with cosines floored to `cquant` — the class-quality / outlier audit
    for labeled embedding corpora (a low min_cos_q member is a label error
    or an outlier; a low cohesion_q label is incoherent).

    All dot products run in LONG format — (label, pos)-keyed join of the
    member explode against `label_centroids` — so every sum is an exact
    integer and the only float ops are the final sqrt/divide (IEEE
    correctly-rounded, hence engine-identical; the floor quantization is
    the same device as `quantize_vec`). No arrays cross a shuffle
    boundary, no UDFs. Scale: the join shuffles dims·n rows by
    (label, pos) — wide but perfectly uniform keys; the centroid side is
    dims·labels (broadcastable).
    """
    cents = label_centroids(
        embeddings, label_col=label_col, vec_col=vec_col, quant=quant
    ).select("label", "pos", "mean_q")
    e = (
        embeddings.select(
            F.col(label_col).alias("label"),
            F.col(id_col).alias("vec_id"),
            quantize_vec(F.col(vec_col), quant).alias("qv"),
        )
        .select("label", "vec_id", F.posexplode("qv").alias("pos", "x"))
        .select("label", "vec_id", F.col("pos").cast("long").alias("pos"), "x")
    )
    d = (
        e.join(cents, ["label", "pos"])
        .groupBy("label", "vec_id")
        .agg(
            F.sum(F.col("x") * F.col("mean_q")).alias("dot"),
            F.sum(F.col("x") * F.col("x")).alias("na"),
            F.sum(F.col("mean_q") * F.col("mean_q")).alias("nb"),
        )
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
    )
    v = d.select(
        "label",
        "vec_id",
        F.floor(
            F.lit(cquant) * F.col("dot") / (F.sqrt("na") * F.sqrt("nb"))
        ).cast("long").alias("cos_q"),
    )
    return v.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.expr("sum(cos_q) div count(*)").alias("cohesion_q"),
        F.min("cos_q").alias("min_cos_q"),
    )


def rrf_fuse(
    a: DataFrame,
    b: DataFrame,
    *,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    quant: int = 10**9,
    top: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of two ranked
    retrieval lists — the standard hybrid-search combiner (BM25 ∪ ANN):

        score(d) = Σ_lists 1/(k + rank_list(d)),   k = 60

    quantized to ``score_q = Σ floor(quant/(k + rank))`` so the fusion is
    integer-exact across engines (no float reciprocal sums). Documents
    missing from a list contribute 0 from it. Returns
    ``(id, score_q, rank)`` for the fused top-`top`.

    Shape: both inputs are already top-N bounded (retrieval outputs), so the
    full-outer join and fused top-k are tiny regardless of corpus size —
    the heavy lifting happened inside the retrieval operators.
    """
    from query_engine_spark.operators.ordering import stamp_ord

    ra = a.select(F.col(id_col).alias("id"), F.col(rank_col).cast("long").alias("ra"))
    rb = b.select(F.col(id_col).alias("id"), F.col(rank_col).cast("long").alias("rb"))
    j = ra.join(rb, "id", "full_outer")
    score = F.coalesce(F.expr(f"{quant} div ({k} + ra)"), F.lit(0)) + F.coalesce(
        F.expr(f"{quant} div ({k} + rb)"), F.lit(0)
    )
    scored = j.select("id", score.alias("score_q"))
    limited = scored.orderBy(F.col("score_q").desc(), "id").limit(top)
    ranked = stamp_ord(limited, ["score_q DESC", "id"], bounded=True, out="rank")
    return ranked.select(F.col("id").alias(id_col), "score_q", "rank")


def semdedup(
    embeddings: DataFrame,
    *,
    k: int | None = None,
    target_cluster_size: int = 200,
    iters: int = 2,
    tau: float = 0.35,
    quant: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    k-means clustering + WITHIN-cluster cosine pruning. Returns
    ``(vec_id, cent_id, is_dup)`` — `is_dup` marks vectors whose cosine to a
    LOWER-id vector in the same cluster is ≥ `tau` (keep-lowest-id, the
    deterministic analogue of the paper's keep-one-per-near-dup-group).

    Scale shape — this is the whole point of the algorithm: the pair space
    is Σ|cluster|² instead of n², bounded by choosing k ~ n/target_cluster
    (the paper uses k ≈ 11k clusters for 5B embeddings). The self-join
    shuffles both sides by cent_id only; no global all-pairs ever exists.
    A pathological giant cluster re-creates n² locally — at 100 TB, cap it
    by raising k or pre-splitting hot cells (same salt-cap device as
    dedup.py's LSH `max_bucket`).

    k defaults to the paper's growth law, not a constant: `k=None` →
    ``k = max(8, n // target_cluster_size)`` from one cheap count
    aggregate (kmeans init takes the k lowest-id vectors via `.limit(k)`,
    so k must be a driver-side int — a count agg, never a data collect).
    The count is an EAGER action over the id column only (column-pruned
    scan), and the upstream lineage then runs again for kmeans — if
    `embeddings` is an expensive uncached plan, persist/cache it before
    calling with k=None, or pass an explicit k.
    Expected pair work is then Σ|cluster|² ≈ n·target_cluster_size:
    LINEAR in n at any scale. A fixed k that was right at 1× re-creates
    quadratic clusters at 100× — pass explicit k only for pinned
    fixtures/tests.

    Determinism: cluster assignment comes from `kmeans_lloyd` on the
    integer-quantized grid; the tau comparison uses round(cosine, 6) of
    exact-integer dot products, so membership can't drift across engines.
    """
    if k is None:
        n = embeddings.select(id_col).count()
        k = max(8, n // target_cluster_size)
    from query_engine_spark.llmdata import tracked_persist

    # Persist the ASSIGNMENT OUTPUT (narrow (vec_id, cent_id) rows): it is
    # consumed twice — the pair-scoring side join and the final is_dup
    # left join — and each consumer otherwise replays the full assignment
    # chain (embedding scan → quantize → broadcast-centroid cross join →
    # per-vector argmax window; AQE reuse only dedups the exchange BELOW
    # the window, re-running the sort/rank/dot products per branch).
    # Measured NEUTRAL at sf0.1 (full-query min-of-4 incl. construction:
    # 2.81 s persisted vs 2.92 s not, overlapping bands —
    # OPTIMIZATION_r17.md changes table; the 2000-row table persists for free);
    # kept for scale, where the replayed branch is a second full pass over
    # the embedding corpus vs caching two integer columns per vector
    # (r16 verdict item 7).
    assigned = tracked_persist(kmeans_lloyd(
        embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col, quant=quant
    ))
    # per-vector norm ONCE below the join boundary: cosine(a,b) inside the
    # pair join would recompute both norms per PAIR — 3x the per-pair flops
    # on Σ|cluster|² pairs (and HOF array folds are interpreted, not
    # codegen'd, so the waste is expensive). sqrt(ssa)·sqrt(ssb) here is
    # float-identical to the inlined form, so round(...,6) cannot drift.
    q = embeddings.select(
        F.col(id_col).alias("vec_id"), quantize_vec(F.col(vec_col), quant).alias("qv")
    ).withColumn("__nq", l2_norm(F.col("qv")))
    side = assigned.join(q, "vec_id")
    # Within-cluster pairwise scoring as ONE numpy int64 matmul per
    # cluster (round 8): the previous equi-self-join materialized
    # Σ|cluster|² JVM rows and evaluated an INTERPRETED array-fold dot per
    # pair — measured as the dominant cost of the whole query at sf0.1.
    # applyInPandas ships each cluster's n rows once (never the pair
    # space), the integer Gram matrix is exact in int64, and the doubles
    # are bit-identical to the JVM expression they replace: __nq is
    # COMPUTED IN SPARK and shipped through Arrow (float64 round-trips
    # exactly), and x/y and a*b are single correctly-rounded IEEE ops in
    # both engines. Only near-threshold pairs are emitted — the slack
    # 2e-6 is strictly wider than the 5e-7 half-step any value needs to
    # round UP to tau — and the EXACT decision, F.round(sim, 6) >= tau,
    # stays a Spark expression on those survivors, so the rounding
    # semantics (HALF_UP via BigDecimal) remain Spark's own.
    import numpy as np
    import pandas as pd

    slack = tau - 2e-6

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"vec_id": pd.Series(dtype="int64"),
                                 "sim": pd.Series(dtype="float64")})
        order = pdf["vec_id"].to_numpy().argsort(kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        M = np.stack(pdf["qv"].to_numpy()[order]).astype(np.int64)
        nq = pdf["__nq"].to_numpy()[order]
        out_ids: list = []
        out_sims: list = []
        # chunked rows bound memory on a pathological giant cluster (the
        # docstring's salt-cap caveat still applies to the pair COUNT)
        for lo in range(1, n, 1024):
            hi = min(lo + 1024, n)
            sims = (M[lo:hi] @ M.T) / (nq[lo:hi, None] * nq[None, :])
            for r in range(lo, hi):
                js = np.nonzero(sims[r - lo, :r] >= slack)[0]
                if js.size:
                    out_ids.extend([ids[r]] * js.size)
                    out_sims.extend(sims[r - lo, js].tolist())
        return pd.DataFrame({"vec_id": np.asarray(out_ids, dtype=np.int64),
                             "sim": np.asarray(out_sims, dtype=np.float64)})

    near = side.select("vec_id", "cent_id", "qv", "__nq").groupBy("cent_id").applyInPandas(
        _score, "vec_id long, sim double"
    )
    dropped = (
        near.filter(F.round(F.col("sim"), 6) >= tau).select("vec_id").distinct()
    )
    return (
        assigned.join(dropped.withColumn("__dup", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id", "cent_id", F.coalesce("__dup", F.lit(False)).alias("is_dup")
        )
    )
