"""End-to-end training-corpus preparation: the composition a 100 TB data
pipeline actually runs, as one lazy DataFrame chain.

    gate (language + quality)  →  exact dedup  →  near-dup canonicalization

Each stage reuses the scale-shaped primitives (langid_ngram_table's broadcast
profile join, quality_features' pure column exprs, exact_dedup's one
fingerprint-keyed shuffle, MinHash-LSH's banded candidate join, and the
checkpointed label-propagation clustering). The near-dup stage runs on the
already-gated/exact-deduped survivors, so its candidate join sees the
smallest possible corpus — the stage order IS the optimization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from query_engine_spark.llmdata import dedup as D
from query_engine_spark.llmdata import textstats as Tx

__all__ = ["prepare_corpus", "chunk_documents", "pack_chunks", "curation_flags"]


def curation_flags(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.4,
    max_top2_ppm: int = 100_000,
    min_score_q: int = 33_000,
) -> DataFrame:
    """Dolma-tagger-style curation audit: one row per document with every
    drop signal as a named boolean plus the fused ``keep`` decision —
    the *explainable* form of corpus filtering (keep `prepare_corpus` for
    the filter-and-forget form). Flags:

    - ``is_dup``       exact-dup (same normalized-text fingerprint as a
      lower-id doc);
    - ``bad_lang``     language-ID abstained (no stopword profile hit);
    - ``low_quality``  composite quality gate < `min_quality`;
    - ``repetitive``   top-bigram occupancy > `max_top2_ppm` (Gopher-style
      boilerplate signal);
    - ``unlikely``     mean bigram-LM probability < `min_score_q` (the
      perplexity filter, self-trained on this corpus);
    - ``keep``         none of the above.

    Documents too short to produce bigrams carry `repetitive`/`unlikely` =
    false (no evidence ≠ bad). Each signal is an independent corpus-shaped
    aggregation (see its operator's docstring for the 100 TB shape); the
    final assembly is doc-keyed equi-joins that AQE co-partitions. Signal
    columns are all integers/booleans, so the output hashes identically
    across engines.
    """
    from query_engine_spark.llmdata import tracked_persist

    did = F.col(id_col)
    # One pass for the three per-row signals (r16): quality and langid are
    # pure column expressions computed in the same select as the dup
    # fingerprint — one corpus scan for all three instead of three scans
    # and two doc-keyed joins (the r15 plan carried 11 scans / 17
    # exchanges; guide §2.4). PERSISTED (r17): the keeper aggregation and
    # the probe below both consume it and share no exchange — unpersisted,
    # the r17 join shape re-ran the scan + fingerprint/quality/langid
    # expressions per consumer and measured 3.22 s vs the window's 2.02 s;
    # cached, both read the narrow (id, fp, quality, lang) rows once and
    # the join form is bench-neutral vs the window (interleaved min-of-4:
    # 2.381 vs 2.352 s, every run pair within noise —
    # OPTIMIZATION_r17.md changes table, llm_curation_flags).
    base = tracked_persist(df.select(
        did.alias("doc_id"),
        D.fingerprint(F.col(text_col)).alias("__fp"),
        Tx.quality_col(F.col(text_col)).alias("quality"),
        Tx.langid(F.col(text_col)).alias("lang_pred"),
    ))
    # Exact-dup keeper via groupBy + join, NOT `min(doc_id) over
    # (partition by __fp)` (r16 verdict "What's wrong" #3): the window has
    # no map-side partial aggregation, so one hot fingerprint (millions of
    # empty/boilerplate docs sharing an fp) lands in a single window task
    # at 100 TB. The groupBy partial-aggregates each map task's hot-fp rows
    # to one, and the join back is AQE-skew-splittable (guide §2.5) — at
    # bench scale the keeper side broadcasts. Null-SAFE equality keeps the
    # window's (and the oracle's) null semantics: all null-fingerprint
    # docs form ONE dup group, exactly like `PARTITION BY fp` groups
    # nulls; a plain equi-join would silently drop them.
    keeper = (
        base.groupBy("__fp")
        .agg(F.min("doc_id").alias("__keep_id"))
        .withColumnRenamed("__fp", "__kfp")
    )
    per_row = (
        base.join(keeper, F.col("__fp").eqNullSafe(F.col("__kfp")), "inner")
        .select(
            "doc_id",
            (F.col("doc_id") != F.col("__keep_id")).alias("is_dup"),
            "quality",
            "lang_pred",
        )
    )
    # `repetitive` needs only top2_ppm, so compute it from the BIGRAM
    # per-(doc, gram) counts alone instead of repetition_features' three-way
    # n ∈ {1,2,3} union (r17): that shape exploded every token and every
    # trigram just to discard their features, and shuffled the 3x-tagged
    # gram stream. Built via the same `_doc_gram_counts` helper as
    # lm_score_docs' pre-agg below, the two bigram subtrees are
    # plan-identical and AQE's ReuseExchange dedups the explode + partial
    # aggregation — one bigram pass feeds both signals, exactly the oracle's
    # shared `c2` table. Semantics: (max(cnt)·1e6) div sum(cnt) is
    # repetition_features' top_ppm arithmetic verbatim; docs with < 2 words
    # had top2_ppm = 0 through the old pivot and are ABSENT here — both
    # coalesce to `repetitive = false` in the left join below.
    dg2 = Tx._doc_gram_counts(df, 2, id_col=id_col, text_col=text_col)
    rep = dg2.groupBy("doc_id").agg(
        F.expr("(max(cnt) * 1000000) div sum(cnt)").alias("top2_ppm")
    )
    lmsc = Tx.lm_score_docs(df, id_col=id_col, text_col=text_col).select(
        "doc_id", "score_q"
    )
    out = (
        per_row
        .join(rep, "doc_id", "left")
        .join(lmsc, "doc_id", "left")
        .select(
            "doc_id",
            "is_dup",
            (F.col("lang_pred") == "und").alias("bad_lang"),
            (F.col("quality") < min_quality).alias("low_quality"),
            F.coalesce(F.col("top2_ppm") > max_top2_ppm, F.lit(False)).alias(
                "repetitive"
            ),
            F.coalesce(F.col("score_q") < min_score_q, F.lit(False)).alias(
                "unlikely"
            ),
        )
    )
    return out.withColumn(
        "keep",
        ~(
            F.col("is_dup")
            | F.col("bad_lang")
            | F.col("low_quality")
            | F.col("repetitive")
            | F.col("unlikely")
        ),
    )


def prepare_corpus(
    df: DataFrame,
    *,
    langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.7,
    n_hashes: int = 16,
    bands: int = 4,
    jaccard: float = 0.1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Returns the kept documents as (id_col, lang_pred, quality).

    Keep rules, in order:
    1. predicted language ∈ `langs` (char-trigram profile join);
    2. composite quality ≥ `min_quality` (length/punct/stopword gates);
    3. exact dedup — lowest id per normalized-text fingerprint survives;
    4. near-dup dedup — MinHash-LSH pairs at `jaccard` threshold, connected
       components, only each cluster's minimum id survives.
    """
    lang = Tx.langid_ngram_table(df, text_col, id_col).filter(F.col("lang_pred").isin(*langs))
    qual = Tx.quality_features(df, text_col, id_col).filter(F.col("quality") >= min_quality)
    gated = (
        df.join(lang, id_col, "inner")
        .join(qual.select(id_col, "quality"), id_col, "inner")
    )
    from query_engine_spark.llmdata import tracked_persist

    # `exact` feeds both the near-dup stage and the final anti-join — persist
    # so the gate+dedup chain runs once
    exact = tracked_persist(D.exact_dedup(gated, text_col, id_col))
    pairs = D.minhash_dedup_pairs(exact, text_col, id_col, n_hashes=n_hashes, bands=bands, threshold=jaccard)
    clusters = D.dedup_clusters(pairs)
    # non-canonical members (id != cluster min) drop out; docs in no cluster stay
    losers = clusters.filter(F.col("id") != F.col("cluster")).select(F.col("id").alias(id_col))
    kept = exact.join(losers, id_col, "left_anti")
    return kept.select(id_col, "lang_pred", "quality")


def chunk_documents(
    df: DataFrame,
    *,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into token windows of `chunk_tokens` words with
    `overlap` words of context carried between consecutive chunks — the
    pre-tokenizer chunking step of LM training-data prep (long documents
    must become model-context-sized pieces; the overlap preserves
    cross-boundary n-grams for the loss).

    Chunk i covers tokens [i·step, i·step + chunk_tokens) with
    step = chunk_tokens − overlap; the last chunk may be short; documents
    with no tokens yield no chunks. Pure per-row array expressions
    (split → sequence → transform/slice → posexplode): map-only, no
    shuffle, whole-stage codegen — a 100 TB corpus chunks at scan speed.

    Output: (id_col, chunk_id, n_tokens, chunk_text).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap
    toks = F.split(Tx.normalize_text(F.col(text_col)), " ")
    toks = F.filter(toks, lambda t: t != "")
    n = F.size(toks)
    # ceil((n - overlap) / step) chunks, min 1 for any non-empty doc
    n_chunks = F.greatest(
        F.lit(1), F.floor((n - F.lit(overlap) + F.lit(step - 1)) / F.lit(step)).cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - F.lit(1)),
        lambda i: F.slice(toks, i * F.lit(step) + F.lit(1), F.lit(chunk_tokens)),
    )
    out = (
        df.withColumn("__toks", toks)
        .filter(F.size("__toks") > 0)
        .select(
            F.col(id_col),
            F.posexplode(chunks).alias("chunk_id", "__chunk"),
        )
        .select(
            id_col,
            "chunk_id",
            F.size("__chunk").alias("n_tokens"),
            F.concat_ws(" ", "__chunk").alias("chunk_text"),
        )
    )
    return out


def pack_chunks(
    chunks: DataFrame,
    *,
    capacity: int = 512,
    shards: int = 32,
    id_col: str = "doc_id",
    chunk_col: str = "chunk_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Concat-then-split sequence packing: lay the chunk stream end to end
    and cut every `capacity` tokens — the standard LM batch-packing rule
    (a chunk straddling a cut belongs to the bin where it STARTS).

    A global concatenation order would need one unpartitioned running sum
    — the classic scale-killer — so the stream is first split into
    `shards` deterministic md5 shards (the same device as hash_sample):
    packing is exact WITHIN a shard and shards pack in parallel; at 100 TB
    each shard is one executor-sized stream, and bins from different
    shards are independent training sequences by construction.

    Output: (shard, bin, n_chunks, tokens) — `tokens` may exceed
    `capacity` only by the straddling chunk's tail (< max chunk size).
    """
    from pyspark.sql import Window
    from query_engine_spark.llmdata.textstats import hash_bucket

    shard = hash_bucket(F.col(id_col), shards)
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col, chunk_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(tokens_col).over(w)
    start = (cum - F.col(tokens_col)).cast("bigint")
    return (
        chunks.withColumn("shard", shard)
        .withColumn("bin", F.floor(start / F.lit(capacity)).cast("bigint"))
        .groupBy("shard", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(tokens_col).alias("tokens"),
        )
    )
