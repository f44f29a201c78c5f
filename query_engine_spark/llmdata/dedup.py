"""Deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design notes (the point of these implementations):

- exact: hash-groupBy on a fingerprint of the normalized text — one shuffle
  keyed by a 128-bit hash; no skew (hashes are uniform).
- MinHash+LSH: signatures are computed scan-side with NO shuffle (array
  expressions per row, whole-stage codegen); the only shuffle is the
  band-bucket self-join, which touches candidate pairs only — the classic
  shingle→minhash→band→bucket-join pipeline. At 100 TB you'd salt giant
  buckets (boilerplate text) — `lsh_candidate_pairs(max_bucket)` caps them.
- SimHash: one codegen'd expression chain per row → 32-bit signature; banded
  self-join on signature chunks gives Hamming-≤k candidates without O(n²).
- n-gram Jaccard: exact verification for candidate pairs (or small corpora):
  explode shingles, self-join on shingle, count intersections — the join is
  keyed by shingle so frequent shingles dominate; cap them with a document-
  frequency filter (`max_df`).

All hashing is md5-based (portable; see package docstring). MinHash uses the
*string* min over md5(seed || shingle) — min-wise hashing only needs a random
total order per seed, and md5 hex strings give exactly that, with no integer
conversion anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F, types as T

from query_engine_spark.llmdata import tracked_persist

__all__ = [
    "normalize_text",
    "fingerprint",
    "exact_dedup",
    "word_shingles",
    "minhash_signature_table",
    "lsh_candidate_pairs",
    "minhash_dedup_pairs",
    "simhash32_table",
    "simhash_candidate_pairs",
    "ngram_jaccard_pairs",
    "containment_pairs",
    "write_lsh_index",
    "lsh_dedup_vs_index",
]


def normalize_text(col: Column) -> Column:
    """lower, strip non-alphanumerics to spaces, collapse whitespace."""
    c = F.lower(col)
    c = F.regexp_replace(c, "[^a-z0-9]+", " ")
    return F.trim(c)


def fingerprint(col: Column) -> Column:
    """128-bit content fingerprint of the normalized text."""
    return F.md5(normalize_text(col))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per identical normalized text."""
    w = Window.partitionBy(fingerprint(F.col(text_col))).orderBy(F.col(id_col))
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def bind_once(expr: Column, body) -> Column:
    """Evaluate `expr` exactly once per row and pass it to `body` as a
    lambda VARIABLE (an O(1) reference), returning body's result.

    Spark re-evaluates any non-attribute expression captured inside a
    higher-order-function lambda PER ARRAY ELEMENT — codegen subexpression
    elimination does not reach inside lambdas, so e.g. slicing a computed
    `words` array per shingle re-runs the tokenizing regex O(n) times per
    row (measured 240x on doc-segment dedup, 20x on trigram langid).
    Wrapping the expression as the one-element input of an outer transform
    binds it to a lambda variable that inner lambdas reference for free.
    """
    return F.element_at(F.transform(F.array(expr), body), 1)


def shingles_of_words(words: Column, k: int) -> Column:
    """Array of word k-shingles from an ALREADY-tokenized words array
    (empty if < k words). `words` should be a lambda variable or attribute
    (see bind_once) so the slice per shingle is O(1) to reference."""
    n = F.size(words)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(0)))
    return F.when(
        n >= k,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, k))),
    ).otherwise(F.array().cast("array<string>"))


def word_shingles(col: Column, k: int = 3) -> Column:
    """Array of word k-shingles of the normalized text (empty if < k words).

    Built as ONE codegen'd ``regexp_extract_all`` with a lookahead capture
    at word starts — ``\\b(?=((?:[a-z0-9]+ ){k-1}[a-z0-9]+))`` captures the
    k consecutive words beginning at every word that has k-1 successors,
    in order, exactly the slice-and-join list the previous interpreted
    `transform` HOF built (collect-verified for k=2/3/10 on sf0.1 + edge
    strings, r17). Normalized text is strictly ``[a-z0-9]`` tokens joined
    by single spaces, so ``\\b`` marks exactly the word starts, token and
    separator character classes are disjoint (no backtracking — linear),
    and the pattern is a fixed template with no user input. coalesce keeps
    the old null-text contract (empty array, not null). k=1 keeps the HOF
    path: split("") is [""] so the old form returns [""] for empty text
    where the regexp form has no match to capture."""
    if k == 1:
        return bind_once(
            F.split(normalize_text(col), " "), lambda words: shingles_of_words(words, 1)
        )
    pat = "\\b(?=((?:[a-z0-9]+ ){%d}[a-z0-9]+))" % (k - 1)
    return F.coalesce(
        F.regexp_extract_all(normalize_text(col), F.lit(pat), 1),
        F.array().cast("array<string>"),
    )


MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)


def minhash_params(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the affine hash family, derived from
    md5 in plain Python so any SQL oracle can embed the same literals."""
    import hashlib

    out = []
    for i in range(n_hashes):
        a = int(hashlib.md5(f"a{i}".encode()).hexdigest()[:8], 16) % (MINHASH_P - 1) + 1
        b = int(hashlib.md5(f"b{i}".encode()).hexdigest()[:8], 16) % MINHASH_P
        out.append((a, b))
    return out


def minhash_signature_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", *, n_hashes: int = 16, k: int = 3
) -> DataFrame:
    """(id, m0..m{n-1}) signature table via explode + hash-aggregate.

    One md5 per shingle → 31-bit base hash → n affine hashes
    ``(a_i·h + b_i) mod p`` (products < 2^62: no overflow in any engine) →
    per-doc min. The affine family keeps the generated code small — a naive
    md5-per-(shingle, seed) inflates whole-stage codegen compile time by
    seconds per plan. One doc-keyed shuffle; docs with < k words drop out.
    """
    # Small inputs arrive as one parquet partition; the shingle-hash work is
    # CPU-bound, so spread it across the executors first. (At real scale the
    # input already has many partitions and AQE coalesces the no-op.)
    spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
    tok = spread.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(word_shingles(F.col(text_col), k))).alias("s"),
    )
    h31 = F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long").bitwiseAND(F.lit(MINHASH_P))
    tok = tok.withColumn("__h", h31)
    aggs = [
        F.min((F.col("__h") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)).alias(f"m{i}")
        for i, (a, b) in enumerate(minhash_params(n_hashes))
    ]
    return tok.groupBy("id").agg(*aggs)


def _banded(sigs: DataFrame, bands: int, r: int) -> DataFrame:
    """(id, band, bh): each signature's per-band bucket hashes — the ONE
    definition of the banding contract (a full-corpus self-join and an
    incremental index probe must bucket identically)."""
    return sigs.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws("|", *[F.col(f"m{b * r + j}").cast("string") for j in range(r)])
                    ).alias("bh"),
                )
                for b in range(bands)
            ])
        ).alias("e"),
    ).select("id", "e.band", "e.bh")


def write_lsh_index(
    docs: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> None:
    """Materialize the SEEN-corpus dedup state: LSH band buckets
    (band, bh, id; parquet partitioned by band) plus the exact distinct
    shingle sets used for Jaccard verification.

    This is the production incremental-dedup layout: the historical corpus
    is shingled, minhashed, and banded ONCE; every new crawl batch then
    hashes only ITSELF and probes this index (`lsh_dedup_vs_index`) — at
    100 TB the alternative (re-running the full self-join per batch)
    rescans the entire history every time. Index growth is append-only:
    union the new batch's bands/shingles in after accepting it."""
    if n_hashes % bands:
        raise ValueError("bands must divide n_hashes")
    sigs = minhash_signature_table(docs, text_col, id_col, n_hashes=n_hashes, k=k)
    banded = _banded(sigs, bands, n_hashes // bands)
    banded.write.partitionBy("band").mode("overwrite").parquet(f"{path}/bands")
    sh = docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_shingles(F.col(text_col), k)).alias("sh"),
    )
    sh.write.mode("overwrite").parquet(f"{path}/shingles")


def lsh_dedup_vs_index(
    new_docs: DataFrame,
    spark,
    path: str,
    *,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """Near-dups of a NEW batch against a `write_lsh_index` corpus:
    (seen_id, new_id, jaccard ≥ threshold).

    The new batch is signed and banded with the SAME `_banded` contract,
    candidates come from the (band, bh) equi-join against the stored
    buckets, and only candidates pay the exact shingle-set Jaccard (the
    seen side's shingles are read back, never recomputed). Matches the
    full-corpus `minhash_dedup_pairs` restricted to cross pairs — which is
    exactly what the registry oracle checks. Within-batch duplicates are a
    separate (much smaller) `minhash_dedup_pairs` run on the batch alone."""
    if n_hashes % bands:
        raise ValueError("bands must divide n_hashes")
    seen_bands = spark.read.parquet(f"{path}/bands")
    seen_sh = spark.read.parquet(f"{path}/shingles")
    sigs = minhash_signature_table(new_docs, text_col, id_col, n_hashes=n_hashes, k=k)
    nb = _banded(sigs, bands, n_hashes // bands)
    cand = (
        nb.withColumnRenamed("id", "new_id")
        .join(seen_bands.withColumnRenamed("id", "seen_id"), ["band", "bh"])
        .select("seen_id", "new_id")
        .distinct()
    )
    new_sh = new_docs.select(
        F.col(id_col).alias("new_id"),
        F.array_distinct(word_shingles(F.col(text_col), k)).alias("sh_n"),
    )
    return (
        cand.join(seen_sh.select(F.col("id").alias("seen_id"), F.col("sh").alias("sh_s")), "seen_id")
        .join(new_sh, "new_id")
        .withColumn("__i", F.size(F.array_intersect("sh_s", "sh_n")))
        .withColumn("__u", F.size(F.array_union("sh_s", "sh_n")))
        .withColumn("jaccard", F.round(F.col("__i") / F.col("__u"), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("seen_id", "new_id", "jaccard")
    )


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (a < b) that collide in ≥1 LSH band.

    rows_per_band = n_hashes / bands; collision prob ≈ 1-(1-j^r)^b for
    Jaccard j. The self-join is keyed on (band, band_hash) — only colliding
    docs meet. `max_bucket` drops pathological buckets (boilerplate)."""
    if n_hashes % bands:
        raise ValueError("bands must divide n_hashes")
    r = n_hashes // bands
    sigs = minhash_signature_table(df, text_col, id_col, n_hashes=n_hashes, k=k)
    banded = _banded(sigs, bands, r)
    # materialize before the self-join so the signature agg runs once;
    # tracked so clear_llmdata_cache() can free it after the collect
    banded = tracked_persist(banded)
    if max_bucket is not None:
        w = Window.partitionBy("band", "bh")
        banded = banded.withColumn("__n", F.count("*").over(w)).filter(F.col("__n") <= max_bucket).drop("__n")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return pairs


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """LSH candidates verified by exact shingle-set Jaccard ≥ threshold.
    Returns (id_a, id_b, jaccard) — `jaccard` rounded to 6 for portability.

    The repartitioned input is NOT persisted (r17 re-check under the r16
    AQE-reuse lens, verdict item 3): the repartition IS an exchange, and
    all three consumers (the signature agg inside the persisted banded
    table, and the two verify-join shingle sides) sit directly above it —
    ReuseExchange dedups the scan at runtime and the persist was pure
    block-store overhead. Interleaved min-of-4 on dedup_minhash_lsh at
    sf0.1 (OPTIMIZATION_r17.md changes table): banded-persist-only 0.993 s vs
    banded+df 1.105 s vs neither 1.044 s vs df-only 1.222 s — the banded
    persist stays (its self-join sides share no exchange above it)."""
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
    cand = lsh_candidate_pairs(df, text_col, id_col, n_hashes=n_hashes, bands=bands, k=k)
    sh = df.select(F.col(id_col).alias("id"), F.array_distinct(word_shingles(F.col(text_col), k)).alias("sh"))
    j = (
        cand.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("__i", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("__u", F.size(F.array_union("sh_a", "sh_b")))
        .withColumn("jaccard", F.round(F.col("__i") / F.col("__u"), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return j


def simhash32_table(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, sh) 32-bit SimHash table: bit b of `sh` = sign of Σ_tokens (±1 by
    bit b of md5(token)). Token hash = first 8 md5 hex chars as a 32-bit int
    — reproducible in any engine with md5 + hex parse.

    Explode + one codegen'd aggregate with 32 conditional sums (the
    higher-order-function fold form is interpreted and ~10× slower).
    """
    spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(id_col))
    tok = spread.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("t"),
    ).withColumn("hv", F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long"))
    votes = [
        F.sum(F.shiftright(F.col("hv"), b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"v{b}") for b in range(32)
    ]
    per_doc = tok.groupBy("id").agg(*votes)
    sh = None
    for b in range(32):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        sh = bit if sh is None else sh + bit
    return per_doc.select("id", sh.alias("sh"))


def simhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 32-bit signature into `chunks`
    8-bit chunks (pigeonhole: hamming ≤ chunks-1 ⟹ some chunk equal), join on
    chunk equality, verify with bit_count(xor) ≤ max_hamming.

    The signature table is NOT persisted (r16 measurement): it ends in the
    32-vote groupBy exchange, which AQE reuses between the two join sides
    at runtime — interleaved A/B showed the persist consistently slower
    (min 1.83-2.14 s persisted vs 1.47-1.60 s without at sf0.1), the same
    exchange-reuse mechanism as the r8 pagerank lesson."""
    sig = simhash32_table(df, text_col, id_col)
    width = 32 // chunks
    banded = sig.select(
        "id",
        "sh",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk"),
                    F.shiftright(F.col("sh"), c * width).bitwiseAND(F.lit((1 << width) - 1)).alias("cv"),
                )
                for c in range(chunks)
            ])
        ).alias("e"),
    ).select("id", "sh", "e.chunk", "e.cv")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk")) & (F.col("a.cv") == F.col("b.cv")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).cast("long").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def dedup_clusters(
    pairs: DataFrame,
    *,
    max_iters: int = 20,
    on_iteration=None,
    local_threshold: int = 65536,
) -> DataFrame:
    """Connected components over near-dup pairs → (id, cluster) with
    cluster = min id reachable. Alternating large-star/small-star edge
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14):

      large-star: each node u emits (v, m) for every neighbor v > u, where
        m = min(N(u) ∪ {u}) — strictly-larger neighbors rewire to the local
        minimum;
      small-star: on the resulting big→small pointers, each node u with
        out-neighbors S emits (u, m) and (v, m) for v ∈ S∖{m}, m = min(S).

    The pair of phases contracts component height geometrically, so rounds
    needed = O(log diameter) instead of min-label propagation's O(diameter)
    — and the driver-side convergence probe (the barrier the 100× scale
    run showed dominating the near-dup pipeline wall: rounds serialize
    through the driver) runs once per phase PAIR, not once per hop. At the
    fixpoint every component is a star whose center is its minimum id
    (paper Thm 1), so the label of a non-center node is simply its one
    out-neighbor. Each phase is one aggregate + one join on the (small)
    edge set; lineage is truncated by an eager localCheckpoint per round
    with the previous round's blocks freed immediately.

    This is the canonicalization step of a dedup pipeline: keep the doc
    whose id == cluster, drop the rest. (Reference semantics: near-dup
    cluster canonicalization; verified against the recursive-CTE oracle of
    `dedup_clusters` in the registry.)

    Size-gated fast path (round 8): when the DISTINCT pair set fits the
    driver (`local_threshold` rows — the gate is enforced with a
    limit-probe collect, never an unbounded one), the components are
    solved by an exact local union-find and returned as one small
    DataFrame. A verified near-dup edge set is tiny relative to its
    corpus, so at bench scales the star-contraction loop's driver
    barriers (several Spark jobs per round pair) dominated the wall for
    a few hundred edges; at real scale the edge set blows past the gate
    and the distributed contraction engages unchanged. Identical output
    contract either way: cluster = min reachable id.
    """
    from query_engine_spark.cache import local_checkpoint_with_free as _ckpt
    from query_engine_spark.llmdata import tracked, tracked_local_checkpoint, tracked_persist

    # ONE materialization of the upstream plan: `pairs` usually carries a
    # deep MinHash/banding tree, and both the node inventory and the edge
    # list must derive from the same cached copy. Tracked so
    # clear_llmdata_cache() frees the blocks (round-2 advice). Kept alive
    # through the loop: `nodes` below re-reads it when labels materialize.
    base = tracked_local_checkpoint(
        pairs.select(
            F.greatest(F.col("id_a"), F.col("id_b")).alias("u"),
            F.least(F.col("id_a"), F.col("id_b")).alias("v"),
        ).distinct()
    )
    if local_threshold > 0:
        probe = base.limit(local_threshold + 1).collect()
        if len(probe) <= local_threshold:
            # exact local union-find; second pass maps each component to
            # its minimum member id (the distributed contract)
            parent: dict = {}

            def find(x):
                r = x
                while parent.get(r, r) != r:
                    r = parent[r]
                while parent.get(x, x) != x:
                    parent[x], x = r, parent[x]
                return r

            node_set = set()
            for row in probe:
                u, v = row[0], row[1]
                node_set.add(u)
                node_set.add(v)
                if u != v:
                    parent[find(u)] = find(v)
            comp_min: dict = {}
            for x in node_set:
                r = find(x)
                if r not in comp_min or x < comp_min[r]:
                    comp_min[r] = x
            id_type = base.schema["u"].dataType
            schema = T.StructType(
                [T.StructField("id", id_type), T.StructField("cluster", id_type)]
            )
            return pairs.sparkSession.createDataFrame(
                [(x, comp_min[find(x)]) for x in sorted(node_set)], schema
            )

    nodes = (
        base.select(F.col("u").alias("id"))
        .unionByName(base.select(F.col("v").alias("id")))
        .distinct()
    )
    # big→small pointers; self-pairs contribute a node but no edge
    edges = base.filter(F.col("u") != F.col("v"))
    cnt = edges.count()
    prev_free = None
    converged = False
    for it in range(max_iters):
        und = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        lmin = und.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            und.join(lmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        smin = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(smin, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(smin.select("u", F.col("m").alias("v")))
            .distinct()
        )
        new_edges, free_new = _ckpt(small)
        # convergence probe — the ONE driver action per round pair: equal
        # cardinality plus one-sided emptiness ⟺ equal sets (both distinct)
        new_cnt = new_edges.count()
        changed = new_cnt != cnt or new_edges.exceptAll(edges).limit(1).count() > 0
        if prev_free is not None:
            prev_free()
        edges, cnt, prev_free = new_edges, new_cnt, free_new
        if on_iteration is not None:
            on_iteration(it)
        if not changed:
            converged = True
            break
    if not converged:
        raise ValueError(
            f"dedup_clusters: star contraction did not converge in "
            f"{max_iters} rounds — raise max_iters (components of diameter "
            f"~2^{max_iters} should not occur in a near-dup graph)"
        )
    # final blocks stay cached (callers iterate the result) — registered so
    # clear_llmdata_cache() frees them once the caller has materialized
    if prev_free is not None:
        tracked(prev_free)
    # at the fixpoint each non-center node has exactly ONE out-pointer, to
    # its component minimum; centers and singleton (self-pair) nodes label
    # themselves
    labels = nodes.join(
        edges.select(F.col("u").alias("id"), F.col("v").alias("__c")), "id", "left"
    ).select("id", F.coalesce(F.col("__c"), F.col("id")).alias("cluster"))
    return tracked_persist(labels)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over all pairs sharing ≥1 shingle.

    Explode + self-join keyed on the shingle; `max_df` drops shingles that
    occur in more than max_df docs (stopword-grams) — the standard guard
    against quadratic blowup on common shingles.

    The exploded shingle table feeds THREE consumers (both self-join sides
    and the per-doc sizes agg; four with the `max_df` doc-frequency pass), so
    it is persisted once via the tracked cache — without it each consumer
    re-runs the scan + tokenize/shingle Generate, which profiled as ~80% of
    the whole query's wall at sf0.1 (4 identical Generate nodes in the
    plan). At 100 TB the same trade holds: one materialization of the
    narrow (id, shingle) table vs three re-reads of the text corpus."""
    from query_engine_spark.llmdata import tracked_persist

    sh = tracked_persist(df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(word_shingles(F.col(text_col), k))).alias("s"),
    ))
    if max_df is not None:
        # ONE persist (r16 ADVICE: the old shape cached the pre-filter AND
        # the post-filter shingle tables simultaneously — ~2× the largest
        # intermediate in the query). Cache the pre-filter explode only;
        # the post-filter view is a lazy broadcast semi-join probe of the
        # cache, and its dfreq build subtree is identical across the three
        # downstream consumers, so ReuseExchange computes it once.
        dfreq = sh.groupBy("s").agg(F.count("*").alias("df")).filter(F.col("df") <= max_df)
        sh = sh.join(dfreq.select("s"), "s", "left_semi")
    # sizes AFTER the max_df filter so the Jaccard numerator and denominator
    # use the same shingle universe (round-1 advice: computing sizes first
    # biased similarity low when max_df dropped stop-grams)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    # join keyed on xxhash64(s) with the exact string equality kept as a
    # residual condition: the hash only NARROWS the probe (identical result
    # set), and a fixed-width long key hashes/compares far cheaper than a
    # variable-length shingle string in both the broadcast build and an
    # at-scale SMJ sort (guide §2.3 "narrower types" applied to the key).
    a = sh.select("id", "s", F.xxhash64("s").alias("__h")).alias("a")
    b = sh.select("id", "s", F.xxhash64("s").alias("__h")).alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.__h") == F.col("b.__h"))
            & (F.col("a.s") == F.col("b.s"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("__i"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "nb"), "id_b")
        .withColumn("jaccard", F.round(F.col("__i") / (F.col("na") + F.col("nb") - F.col("__i")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """One-sided shingle CONTAINMENT (Broder 1997's second resemblance
    measure): C(A→B) = |S(A) ∩ S(B)| / |S(A)| — how much of doc A lives
    inside doc B. The asymmetric complement to `ngram_jaccard_pairs`:
    a short doc quoted wholesale inside a long one scores containment ≈ 1
    while its Jaccard stays low (the union is dominated by the long doc),
    so quote/subset duplication is invisible to resemblance but obvious
    here — the signal corpus curation needs for boilerplate-envelope and
    quoted-reply dedup.

    Output (id_a, id_b, containment): ORDERED pairs (a contained in b,
    a ≠ b, both directions surface separately). Same shuffle shape as the
    Jaccard: distinct-shingle explode, shingle-keyed self-join with the
    `max_df` stop-gram guard, sizes measured AFTER the guard so numerator
    and denominator share one shingle universe. The shingle table is
    persisted once for its three consumers (see `ngram_jaccard_pairs`).
    """
    from query_engine_spark.llmdata import tracked_persist

    sh = tracked_persist(df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(word_shingles(F.col(text_col), k))).alias("s"),
    ))
    if max_df is not None:
        # one persist for the pre-filter table only — see ngram_jaccard_pairs
        dfreq = sh.groupBy("s").agg(F.count("*").alias("df")).filter(F.col("df") <= max_df)
        sh = sh.join(dfreq.select("s"), "s", "left_semi")
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    # hash-prejoin key with exact-string residual — see ngram_jaccard_pairs
    a = sh.select("id", "s", F.xxhash64("s").alias("__h")).alias("a")
    b = sh.select("id", "s", F.xxhash64("s").alias("__h")).alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.__h") == F.col("b.__h"))
            & (F.col("a.s") == F.col("b.s"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("__i"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "na"), "id_a")
        .withColumn("containment", F.round(F.col("__i") / F.col("na"), 6))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
