"""Declarative curation pipeline → ONE lazy DataFrame plan.

The llmdata analogue of `plans/blocks.py`: the reference translates a JSON
feed-block pipeline (input → filter → score → sort → limit) into a single
Catalyst plan; this module does the same for the training-data domain — a
JSON spec of curation stages folds the llmdata operator library into one
plan, so Catalyst sees the whole pipeline (filters merge, projections
prune, nothing materializes between stages).

Stage vocabulary (document-shaped until `chunk`, chunk-shaped until
`pack`, `pack` is terminal):

  {"op": "strip_boilerplate", "k": 2, "min_pct": 5, "min_count": 2}
  {"op": "pii_redact"}
  {"op": "dedup_exact"}
  {"op": "dedup_minhash", "threshold": 0.1, "keep": "best"}
  {"op": "langid_filter", "allow": ["en"]}
  {"op": "token_filter", "min_tokens": 5, "max_tokens": 100000}
  {"op": "quality_filter", "min_quality": 0.5}
  {"op": "classifier_filter", "label_min_quality": 0.5, "min_score_q": 0}
  {"op": "sample", "rate": 0.1, "strat_col": "source", "rates": {...}}
  {"op": "balance", "strat_col": "source"}
  {"op": "decontaminate", "k": 10, "seed": "split"}
  {"op": "chunk", "chunk_tokens": 32, "overlap": 4}
  {"op": "pack", "capacity": 128, "shards": 8}

Document stages preserve (doc_id, source, text); `strip_boilerplate`
replaces text with the prefix-stripped form. Unknown ops and out-of-order
stages (a document stage after `chunk`, anything after `pack`) raise at
TRANSLATE time — a mis-specified 100 TB pipeline must fail before it
launches, not after the first shuffle.

`dedup_minhash` is the NEAR-dup funnel (LSH band candidates → exact
Jaccard verify → connected components → keep one doc per cluster:
"best" = highest quality_score_col, tie lowest id; "first" = lowest id).
Unlike every other stage it is not a single lazy expression — connected
components is inherently iterative (min-label propagation with
localCheckpoint), so this stage materializes the tiny pair/cluster
tables while the documents themselves stay lazy. `classifier_filter`
self-trains the hashed Naive-Bayes classifier on the stage input
(positives = quality_score_col >= label_min_quality), broadcasts the
4096-row model, and keeps docs with score_q > min_score_q — the
train-offline/score-at-scan-speed quality gate, smoother than the raw
heuristic because token evidence is pooled across the corpus.
`decontaminate` NARROWS the corpus to the deterministic train split
(split_assign's salted md5 buckets) and anti-joins out any train doc
sharing a word k-gram with the held-out splits — the leakage filter run
last before chunk/pack; the eval-side gram set broadcasts at scale.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from query_engine_spark.llmdata import dedup as D
from query_engine_spark.llmdata import textstats as Tx
from query_engine_spark.llmdata.corpus import chunk_documents, pack_chunks

__all__ = ["translate_curation_pipeline", "quality_score_col", "CURATION_OPS"]

_DOC_OPS = (
    "strip_boilerplate",
    "pii_redact",
    "dedup_exact",
    "dedup_minhash",
    "langid_filter",
    "token_filter",
    "quality_filter",
    "classifier_filter",
    "sample",
    "balance",
    "decontaminate",
)
CURATION_OPS = _DOC_OPS + ("chunk", "pack")


def quality_score_col(t: Column) -> Column:
    """`textstats.quality_features`' composite score as a single Column
    (same gates, same 6-digit ratio rounding) — lets a pipeline apply the
    quality gate as a pure row filter without materializing the feature
    table or joining back. Delegates to `textstats.quality_col` (one
    definition of the composite; r16)."""
    return Tx.quality_col(t)


def translate_curation_pipeline(
    spec: Sequence[dict],
) -> Callable[[DataFrame], DataFrame]:
    """Validate `spec` and return a function folding a documents DataFrame
    (doc_id, source, text, ...) through every stage as one lazy plan."""
    shape = "docs"
    for i, stage in enumerate(spec):
        op = stage.get("op")
        if op not in CURATION_OPS:
            raise ValueError(f"stage {i}: unknown op {op!r} (known: {CURATION_OPS})")
        if shape == "packed":
            raise ValueError(f"stage {i}: {op!r} after terminal 'pack'")
        if op in _DOC_OPS and shape != "docs":
            raise ValueError(f"stage {i}: document stage {op!r} after 'chunk'")
        if op == "chunk" and shape != "docs":
            raise ValueError(f"stage {i}: 'chunk' requires document shape (got a second 'chunk'?)")
        if op == "pack" and shape != "chunks":
            raise ValueError(f"stage {i}: 'pack' requires a preceding 'chunk'")
        if op == "dedup_minhash" and stage.get("keep", "best") not in ("best", "first"):
            raise ValueError(
                f"stage {i}: dedup_minhash keep must be 'best' or 'first' "
                f"(got {stage.get('keep')!r})"
            )
        if op == "sample":
            rate = stage.get("rate", 0.1)
            if not (0.0 < rate <= 1.0):
                raise ValueError(f"stage {i}: sample rate must be in (0, 1] (got {rate!r})")
            for v in (stage.get("rates") or {}).values():
                if not (0.0 <= v <= 1.0):
                    raise ValueError(f"stage {i}: sample stratum rate {v!r} outside [0, 1]")
        if op == "token_filter":
            lo = stage.get("min_tokens", 1)
            hi = stage.get("max_tokens")
            if lo < 0 or (hi is not None and hi < lo):
                raise ValueError(
                    f"stage {i}: token_filter bounds min={lo!r} max={hi!r} are inverted"
                )
        shape = {"chunk": "chunks", "pack": "packed"}.get(op, shape)

    def run(df: DataFrame) -> DataFrame:
        for stage in spec:
            op = stage["op"]
            if op == "strip_boilerplate":
                out = Tx.strip_boilerplate(
                    df,
                    k=stage.get("k", 2),
                    min_pct=stage.get("min_pct", 5),
                    min_count=stage.get("min_count", 2),
                )
                df = out.select("doc_id", "source", F.col("clean_text").alias("text"))
            elif op == "dedup_exact":
                df = D.exact_dedup(df, text_col="text", id_col="doc_id")
            elif op == "dedup_minhash":
                from pyspark.sql import Window

                pairs = D.minhash_dedup_pairs(
                    df,
                    n_hashes=stage.get("n_hashes", 16),
                    bands=stage.get("bands", 4),
                    threshold=stage.get("threshold", 0.1),
                )
                cc = D.dedup_clusters(pairs).withColumnRenamed("id", "doc_id")
                # docs in no cluster are their own singleton; a real cluster's
                # label is its min member id and that member is in cc, so
                # coalescing outsiders to their own id can't collide
                lab = df.join(cc, "doc_id", "left").withColumn(
                    "__cluster", F.coalesce("cluster", F.col("doc_id"))
                ).drop("cluster")
                # keep=best materializes the quality score as a real column
                # (`__q`) and CARRIES it to later stages: quality_score_col
                # is dozens of string ops per doc, and a downstream
                # classifier_filter needs the same value for its training
                # label and prior — reusing the column evaluates it once
                # per doc instead of three times (r17; a pure per-row
                # expression, so the value is identical wherever computed).
                # `run` drops __q before returning.
                keep_best = stage.get("keep", "best") == "best"
                if keep_best:
                    lab = lab.withColumn("__q", quality_score_col(F.col("text")))
                order = (
                    [F.col("__q").desc(), F.col("doc_id")]
                    if keep_best
                    else [F.col("doc_id")]
                )
                w = Window.partitionBy("__cluster").orderBy(*order)
                df = (
                    lab.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1)
                    .drop("__rn", "__cluster")
                )
            elif op == "classifier_filter":
                from query_engine_spark.llmdata import tracked_persist

                # the stage input is consumed THREE times (train, score,
                # final semi-join); when it carries upstream join/window
                # lineage (post-dedup), replaying it per pass triples the
                # cost — persist the narrow doc projection once. At real
                # scale the funnel writes the deduped corpus out between
                # stages anyway; this is the in-session equivalent.
                # reuse an upstream keep=best stage's materialized quality
                # column when present (same pure per-row expression — see
                # the dedup_minhash note); the persist then caches the
                # already-computed score instead of re-deriving it for the
                # training label AND the prior aggregate
                if "__q" not in df.columns:
                    df = df.withColumn("__q", quality_score_col(F.col("text")))
                df = tracked_persist(df)
                label = F.col("__q") >= stage.get("label_min_quality", 0.5)
                n_buckets = stage.get("n_buckets", 4096)
                # deliberately NOT fused into one tokenization pass. Two
                # shapes measured and rejected: (r16) a shared
                # per-(doc, bucket) pre-agg exchange barely collapses (docs
                # spread over 4096 buckets) and shuffles ~one row per token
                # — unfused 1.99 s vs fused 2.41 s
                # (OPTIMIZATION_r16.md REVERTED table); (r17, verdict item 3) a
                # PERSISTED un-aggregated (doc_id, __pos, bkt) per-token
                # table feeding both groupBys — the block-store
                # materialization of one row per token costs more than the
                # duplicate explode+md5 it saves: full neardup pipeline
                # interleaved min-of-4, 2.94 s unfused vs 3.38 s shared
                # (OPTIMIZATION_r17.md REVERTED table). The two groupBys'
                # map-side partial aggregation (≤n_buckets / per-doc rows
                # shuffled) keeps winning; guide §2.3.
                model = Tx.train_hashed_classifier(df, label, n_buckets=n_buckets)
                scored = Tx.hashed_classifier_score(
                    df, model, label, n_buckets=n_buckets
                )
                kept = scored.filter(
                    F.col("score_q") > stage.get("min_score_q", 0)
                ).select("doc_id")
                df = df.join(kept, "doc_id", "left_semi")
            elif op == "decontaminate":
                from query_engine_spark.llmdata import tracked_persist
                from query_engine_spark.llmdata.dedup import word_shingles

                k = stage.get("k", 10)
                # the split table feeds the eval-gram set, the train-side
                # gram explode AND the final anti-join — with upstream
                # dedup/window lineage that subtree would replay 3-4x
                # (PLAN_REPORT showed the dedup window node appearing 9x in
                # the chained spec); persist the stage input once, same
                # policy as classifier_filter
                df = tracked_persist(df)
                s = Tx.split_assign(
                    df,
                    seed=stage.get("seed", "split"),
                    val_ppm=stage.get("val_ppm", 100_000),
                    test_ppm=stage.get("test_ppm", 100_000),
                )
                eval_grams = (
                    s.filter(F.col("split") != "train")
                    .select(F.explode(word_shingles(F.col("text"), k)).alias("g"))
                    .distinct()
                )
                train = s.filter(F.col("split") == "train").drop("split")
                leaked = (
                    train.select(
                        "doc_id", F.explode(word_shingles(F.col("text"), k)).alias("g")
                    )
                    .join(F.broadcast(eval_grams), "g")
                    .select("doc_id")
                    .distinct()
                )
                df = train.join(leaked, "doc_id", "left_anti")
            elif op == "pii_redact":
                # in-place text rewrite: emails → <EMAIL>, phones → <PHONE>,
                # IPs → <IP> (the pre-tokenization scrub pass; pure column
                # expressions, stays in whole-stage codegen)
                df = df.withColumn("text", Tx.redact_pii(F.col("text")))
            elif op == "token_filter":
                n = F.size(Tx._tokens(F.col("text")))
                cond = n >= stage.get("min_tokens", 1)
                if stage.get("max_tokens") is not None:
                    cond = cond & (n <= stage["max_tokens"])
                df = df.filter(cond)
            elif op == "sample":
                # deterministic md5-bucket sampling (never rand(): not
                # reproducible across retries/partitionings); map-only,
                # pushes to the scan
                df = Tx.hash_sample(
                    df,
                    stage.get("rate", 0.1),
                    id_col=stage.get("id_col", "doc_id"),
                    strat_col=stage.get("strat_col"),
                    rates=stage.get("rates"),
                    buckets=stage.get("buckets", 10_000),
                )
            elif op == "balance":
                # cap over-represented strata at ~the smallest stratum's
                # size: stratum counts are a tiny broadcast aggregate over
                # the STAGE INPUT, the keep-test pure int64 bucket math
                df = Tx.balanced_sample(
                    df,
                    stage.get("strat_col", "source"),
                    id_col=stage.get("id_col", "doc_id"),
                    buckets=stage.get("buckets", 10_000),
                )
            elif op == "langid_filter":
                allow = list(stage.get("allow", ["en"]))
                df = df.filter(Tx.langid(F.col("text")).isin(allow))
            elif op == "quality_filter":
                df = df.filter(
                    quality_score_col(F.col("text")) >= stage.get("min_quality", 0.5)
                )
            elif op == "chunk":
                df = chunk_documents(
                    df,
                    chunk_tokens=stage.get("chunk_tokens", 128),
                    overlap=stage.get("overlap", 16),
                )
            elif op == "pack":
                df = pack_chunks(
                    df,
                    capacity=stage.get("capacity", 512),
                    shards=stage.get("shards", 32),
                )
        # `__q` is a stage-to-stage internal (the shared quality column) —
        # it must never change a pipeline's output schema
        return df.drop("__q") if "__q" in df.columns else df

    return run
