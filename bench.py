"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].
$SPARK_GRAFT_CPUS defaults to the CPUs this process may run on.

Prints the full JSON record:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
followed by ONE summary JSON line as the FINAL stdout line
(metric/value/queries/first_pass/calibration_sec/best_ever_total/sf) —
the driver keeps only the output tail, which truncated inside the full
record's THREE per-query dicts and left the r5-r9 bench records with
"parsed": null; the final line carries only the this-run per-query
minima (~1.5 KB) so it parses whole within the tail capture while
giving the driver's PERF comparison its per-query map back (r16
verdict item 2).

`value` is the total of per-query MINIMUM wall-clock over N passes
(default 3, $SPARK_GRAFT_BENCH_N) — single-run numbers on a busy host swing
~18% run-to-run, too noisy to trust regressions. Each query is fully
materialized via a noop-format write (`action: "noop_write"` in the JSON);
the first pass still pays plan/codegen cost, so the min reflects
steady-state execution (`first_pass` in the JSON keeps the cold-path total
for reference against BASELINE.md's cold scans).

Round 6 switched the action from count() to the noop write: count() lets
Catalyst PRUNE computed output columns, so map-only projection queries
measured a bare row count instead of their work (text_doc_segment_dedup
"ran" in 0.31 s while its real evaluation cost 74 s — the r5 bench outlier
was the honest number leaking through). The noop sink evaluates every
output column and discards rows, which is the measurement we want. Because
the two actions are incomparable, best-ever folding only consumes history
records with the SAME `action` marker; pre-round-6 records (no marker)
feed a legacy `queries_best_ever_count` field for continuity, not the gate.

Cross-SESSION attributability (the r3/r4 history showed uniform ~1.3x
session-to-session drift with no per-query signature — host noise, not plan
changes): every run also reports
  - `calibration_sec`: min wall of a fixed data-independent Spark workload
    (hash+shuffle over spark.range) — a pure session-speed anchor. Divide any
    query time by it to compare across sessions; a plan regression moves a
    query's RATIO, host noise moves everything uniformly.
  - `queries_best_ever` / `best_ever_total`: per-query min across this run AND
    all prior BENCH_HISTORY.jsonl sessions — the number to hold a round to,
    rather than the previous (possibly slow) session.
  - `band_ratio`: this run's per-query min vs the per-query min over the last
    $SPARK_GRAFT_BENCH_BAND_N (default 6) same-action sessions, reported as
    {median, min, max, worst_query, n_sessions}. The r9–r11 rounds showed the
    box moves between multi-day speed BANDS (~58–66 s vs ~70–80 s totals on
    byte-identical plans); a band shift moves every ratio uniformly, a plan
    regression moves one query far above the median — judge per-query
    regressions by ratio-to-median, not against best_ever alone (r11 verdict
    ask #3: best_ever_total 54.32 was set in the r10 fast band and the box
    may not reproduce it; it remains the absolute fold, not the round gate).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "s1_firehose",
    "s9_liked_weighted",
    "s10_liked_by_likers",
    "f14_regex",
    "o1_sort_created_top",
    "a1_trending_tags",
    "sc_hn_normalized",
    "pipeline_flagship",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "embed_cosine_topk",
    "embed_srp_near_dup",
    "text_quality",
    "sessionize_events",
    "o7_posts_per_user",
    "stream_windowed_counts",
    "asof_join_events",
    "range_join_events",
    "rollup_gapfill_events",
    "kmv_distinct_users",
    "funnel_events",
    "retention_cohorts",
    "graph_triangles",
    "graph_pagerank",
    "text_tfidf_pairs",
    "kmv_set_ops_events",
    "llm_weighted_sample",
    "embed_semdedup",
    "text_repetition_features",
    "llm_doc_lm_score",
    "hybrid_rrf_search",
    "llm_curation_flags",
    "q17_small_quantity",
    "q7_nation_volume",
    "text_dup_spans",
    "llm_stupid_backoff",
    "events_transition_matrix",
    # round-5 session-3 plan families
    "q9_product_profit",
    "q21_waiting_suppliers",
    "text_strip_boilerplate",
    "text_doc_segment_dedup",
    "events_anomaly_zscore",
    "llm_bpe_train",
    "media_perceptual_dedup",
    # round-6 plan families: video containment dedup, index-probe dedup,
    # near-dup+classifier pipeline, lossy-codec decode, and the two
    # shingle families the bind_once rewrite changed most
    "media_video_dedup",
    "media_incremental_dedup",
    "llm_curation_pipeline_neardup",
    "multimodal_jpeg",
    "text_langid_ngram",
    "dedup_ngram_jaccard",
    "multimodal_audio_mulaw",
    "multimodal_audio_adpcm",
]


def _calibration(spark, n: int = 3) -> float:
    """Fixed, data-independent session-speed anchor: 48M-row hash + 1000-key
    shuffle + sum, min of `n`. Same partition count every run (explicit 32) so
    the workload is identical regardless of env knobs."""
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(n):
        t0 = time.time()
        (
            spark.range(0, 48_000_000, 1, 32)
            .select((F.hash("id") % 1000).alias("k"), F.col("id"))
            .groupBy("k")
            .agg(F.sum("id").alias("s"))
            .select(F.sum("s"))
            .collect()
        )
        best = min(best, time.time() - t0)
    return round(best, 3)


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from query_engine_spark.session import get_spark
    from query_engine_spark import registry

    spark = get_spark("bench")
    # Session warmup: first action pays JVM/codegen/parquet-footer costs that
    # belong to the runtime, not any query. One trivial scan per table.
    from query_engine_spark.sources.testdata import TABLES, load_table

    spark.range(1).count()
    for t in TABLES:
        load_table(spark, sf_dir, t).limit(1).count()

    from query_engine_spark.llmdata import clear_llmdata_cache

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_N", "3"))
    runs: list[dict[str, float]] = []
    for _ in range(n_runs):
        timings: dict[str, float] = {}
        for name in HEADLINE:
            spec = registry.REGISTRY[name]
            t0 = time.time()
            # noop write: evaluates every output column (count() would let
            # Catalyst prune the computed columns on map-only queries and
            # time a bare row count — see module docstring)
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            timings[name] = time.time() - t0
            # free tracked llmdata persists so queries don't inherit each
            # other's cached blocks (and a long-lived driver doesn't leak)
            clear_llmdata_cache()
        runs.append(timings)
    best = {name: round(min(r[name] for r in runs), 3) for name in HEADLINE}

    calibration = _calibration(spark)

    # fold in prior sessions: per-query min across history + this run.
    # Only same-action records fold into the regression gate — count()-era
    # minima measured column-pruned plans and would hold noop-write numbers
    # to a standard no real evaluation can meet. The legacy minima are kept
    # in a separate field for continuity.
    ACTION = "noop_write"
    hist_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_HISTORY.jsonl")
    best_ever = dict(best)
    legacy_best: dict[str, float] = {}
    # best-ever reset without hand-editing history (r10 verdict ask):
    # when the BOX changes (new hardware, new JVM — minima measured on the
    # old box are no longer achievable, not regressions), set
    # SPARK_GRAFT_BENCH_SINCE_TS to a unix timestamp; history records
    # appended before it are excluded from the same-action fold. The
    # append-only BENCH_HISTORY.jsonl record itself is never touched.
    since_ts = int(os.environ.get("SPARK_GRAFT_BENCH_SINCE_TS", "0") or 0)
    recent: list[tuple[int, dict[str, float]]] = []  # same-action sessions
    try:
        with open(hist_path) as f:
            for line in f:
                if not line.strip():
                    continue
                try:
                    rec = json.loads(line)
                except ValueError:
                    continue  # a crash mid-append can truncate the last line
                if rec.get("sf") != sf:
                    continue
                same_action = rec.get("action") == ACTION
                # a record lacking 'ts' (hand-added) is always included
                # rather than silently excluded (ADVICE r11): default to
                # since_ts, not 0
                if same_action and rec.get("ts", since_ts) < since_ts:
                    # the cutoff resets only the REGRESSION GATE; the
                    # legacy count-era fold is a continuity record and
                    # keeps every epoch (review r11)
                    continue
                fold = best_ever if same_action else legacy_best
                for q, t in rec.get("queries", {}).items():
                    if q in best_ever:
                        fold[q] = min(fold.get(q, t), t)
                if same_action:
                    recent.append((rec.get("ts", since_ts), rec.get("queries", {})))
    except OSError:
        pass

    # Band ratios (r11 verdict ask: stop hand-deriving the host-band
    # uniformity analysis): this run's per-query min vs the per-query min
    # over the LAST `band_n` same-action sessions. A host-state band moves
    # every ratio uniformly (median ≈ max ≈ min); a plan regression moves
    # ONE query's ratio far above the median. best_ever stays the absolute
    # gate; the band stats are how to tell "the box is slow today" from
    # "this query regressed".
    band_n = int(os.environ.get("SPARK_GRAFT_BENCH_BAND_N", "6"))
    band_sessions = [qs for _, qs in sorted(recent, key=lambda p: p[0])[-band_n:]]
    ratios: dict[str, float] = {}
    for q, t in best.items():
        prior = [qs[q] for qs in band_sessions if q in qs]
        if prior and min(prior) > 0:
            ratios[q] = t / min(prior)
    band_stats: dict[str, float | int] = {"n_sessions": len(band_sessions)}
    if ratios:
        vals = sorted(ratios.values())
        band_stats.update(
            median=round(vals[len(vals) // 2], 3),
            min=round(vals[0], 3),
            max=round(vals[-1], 3),
            worst_query=max(ratios, key=ratios.get),
        )

    result = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(best.values()), 3),
        "unit": "sec",
        "queries": best,
        "n_runs": n_runs,
        "action": ACTION,
        "note": (
            "action changed count->noop_write in round 6: totals are NOT "
            "comparable to pre-r6 records (count() let Catalyst prune "
            "computed columns; see module docstring). Compare per-query "
            "against queries_best_ever (same-action fold) only."
        ),
        "first_pass": round(sum(runs[0].values()), 3),
        "calibration_sec": calibration,
        # legacy count()-action minima: CONTINUITY ONLY, never the gate —
        # renamed from queries_best_ever_count and ordered BEFORE the live
        # fold (r11 verdict finding #3: the truncated tail surfaced the
        # legacy fold more prominently than the live one and misread as
        # current numbers)
        "legacy_count_action_minima": {q: round(t, 3) for q, t in sorted(legacy_best.items())},
        "queries_best_ever": {q: round(t, 3) for q, t in best_ever.items()},
        "best_ever_total": round(sum(best_ever.values()), 3),
        "band_ratio": band_stats,
        "sf": sf,
    }
    print(json.dumps(result))
    # per-query history for round-over-round regression tracking (append-only;
    # see tools/bench_history.py for the diff report)
    try:
        hist_rec = {k: v for k, v in result.items()
                    if k not in ("queries_best_ever", "best_ever_total",
                                 "legacy_count_action_minima", "band_ratio",
                                 "note")}
        with open(hist_path, "a") as f:
            f.write(json.dumps({"ts": int(time.time()), **hist_rec}) + "\n")
    except OSError:
        pass
    # FINAL stdout line: a summary the driver's tail capture can always
    # parse whole — the full record above truncates inside the per-query
    # dicts when only the output tail is kept, which left the official
    # BENCH artifact with "parsed": null for five straight rounds (r9
    # verdict). r16 VERDICT item 2: the short line carried NO per-query
    # map, so PERF per-query regression and scaling analysis came back
    # empty (per_query: {}, now_bench_ok: false). The this-run minima
    # (56 entries at ms precision, ~1.5 KB) fit the tail capture, so
    # include them here; the verbose fields (best_ever fold, legacy
    # minima, note) stay in the full record above / BENCH_HISTORY.jsonl.
    print(json.dumps({
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "queries": best,
        "first_pass": result["first_pass"],
        "calibration_sec": result["calibration_sec"],
        "best_ever_total": result["best_ever_total"],
        "band_ratio": band_stats,
        "n_queries": len(best),
        "sf": sf,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
