"""Physical-plan shape assertions (SURVEY §4): the properties that make the
queries survive a 100× scale-up — filter pushdown to the parquet scan, column
pruning, broadcast joins for dim/list sides, TakeOrderedAndProject for
sort+limit, and no accidental global-window sorts in the fused paths."""

from __future__ import annotations

import io
import contextlib

import pytest

from query_engine_spark import registry

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = registry.REGISTRY[name].fn(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_pushdown_and_pruning(spark):
    p = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # column pruning: the scan must not read unused columns
    assert "l_orderkey" not in p.split("ReadSchema")[1].splitlines()[0]
    assert "HashAggregate" in p


def test_q3_broadcasts_dims(spark):
    p = plan_of(spark, "q3_shipping_priority")
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "EqualTo(c_mktsegment,BUILDING)" in p


def test_s8_take_ordered_no_full_sort(spark):
    p = plan_of(spark, "s8_archived_scan")
    assert "TakeOrderedAndProject" in p
    assert "GreaterThanOrEqual(l_shipdate" in p


def test_o1_fused_top_n(spark):
    p = plan_of(spark, "o1_sort_created_top")
    assert "TakeOrderedAndProject" in p
    # the __ord window runs over the 100 survivors, after the take


def test_f7_semi_anti_broadcast(spark):
    p = plan_of(spark, "f7_list_semi_anti")
    assert "BroadcastHashJoin LeftSemi" in p
    assert "BroadcastHashJoin LeftAnti" in p


def test_o7_partitioned_window_only(spark):
    p = plan_of(spark, "o7_posts_per_user")
    # partitioned by user — never a single global window
    assert "WindowGroupLimit" in p or "Window" in p
    assert "partitionBy" not in p  # sanity: formatted plan doesn't show empty global windows
    assert "BroadcastNestedLoopJoin" not in p


def test_pipeline_flagship_fuses_score_sort_limit(spark):
    p = plan_of(spark, "pipeline_flagship")
    # the sort->limit peephole produces TakeOrderedAndProject inside the DSL plan
    assert "TakeOrderedAndProject" in p


def test_multimodal_chain_is_map_only(spark):
    # pack -> resize -> decode: three chained Arrow stages, ZERO shuffles —
    # media pipelines must never exchange multi-MB payloads between stages
    p = plan_of(spark, "multimodal_resize")
    assert "Exchange" not in p
    assert "CartesianProduct" not in p


@pytest.mark.parametrize(
    "name",
    ["dedup_minhash_lsh", "dedup_simhash", "embed_srp_near_dup", "embed_semdedup"],
)
def test_near_dup_paths_never_cartesian(spark, name):
    # the scale guarantee of every near-dup operator: candidate generation is
    # a banded/bucketed EQUI-join (LSH bands, simhash chunks, SRP chunks,
    # k-means cells) — a CartesianProduct anywhere means the all-pairs
    # explosion snuck back in
    p = plan_of(spark, name)
    assert "CartesianProduct" not in p


def test_s10_two_hop_broadcasts_seed_side(spark):
    # 2-hop collaborative filtering: the seed-user like set is tiny and must
    # broadcast; shuffling the full edge table against it would be the 100 TB
    # bottleneck
    p = plan_of(spark, "s10_liked_by_likers")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q6_pure_pushdown_no_join(spark):
    # Q6 is the canonical scan-bound query: every predicate reaches the
    # parquet scan and the only exchanges are the 1-row agg combine
    p = plan_of(spark, "q6_forecast_revenue")
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters")[1][:300]
    assert "Join" not in p


def test_q15_argmax_without_sort(spark):
    # the max-revenue threshold must fold to a broadcast scalar — a global
    # sort (or second pass ranking) would be the 100 TB mistake
    p = plan_of(spark, "q15_top_supplier")
    assert "Sort" not in p
    assert "BroadcastHashJoin" in p


def test_bm25_indexed_static_bucket_pruning(spark):
    # the query terms' buckets are computed driver-side from the same md5
    # prefix the index writer used → the postings scan must carry a static
    # partition filter (bucket IN ...) and read only those directories
    import re

    p = plan_of(spark, "text_bm25_indexed")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m and "bucket" in m.group(1) and " IN " in m.group(1)


def test_pq_adc_all_joins_broadcast(spark):
    """PQ: every join (codebook assignment, update, LUT) must broadcast its
    model-sized side — zero sort-merge exchanges on join keys, and the
    query×codes work is a key join, never a cartesian."""
    p = plan_of(spark, "embed_pq_topk")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_classifier_model_join_broadcast(spark):
    """The hashing-trick point: the model join must be broadcast — the
    token stream never shuffles by vocabulary/bucket."""
    p = plan_of(spark, "llm_quality_classifier")
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_dsir_ratio_tables_broadcast(spark):
    p = plan_of(spark, "llm_dsir_weights")
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_winnowing_two_exchanges_only(spark):
    """One doc-keyed exchange for the running-min window, one for the final
    distinct — no join, no global sort."""
    import re

    p = plan_of(spark, "text_winnowing")
    assert len(re.findall(r"\bExchange\b", p)) <= 2
    assert "Join" not in p


def test_gif_decode_map_only(spark):
    import re

    p = plan_of(spark, "multimodal_gif")
    assert len(re.findall(r"\bExchange\b", p)) == 0


def test_ivfpq_broadcast_only(spark):
    """IVF-PQ train+encode+search: no corpus-sized join anywhere — cell id
    rides the struct key through PQ assignment, every model join broadcasts."""
    p = plan_of(spark, "embed_ivfpq_topk")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_incremental_dedup_no_cartesian(spark):
    """The index probe is a (band, bh) equi-join and the verify joins key on
    ids — never a cartesian; the new batch side is the only signature
    computation in the plan."""
    p = plan_of(spark, "dedup_incremental")
    assert "CartesianProduct" not in p


def test_q2_region_broadcasts_and_min_equality_join(spark):
    """Q2 shape: the decorrelated per-part min joins back on equality (a
    shuffle join keyed on partkey is fine — both sides are part-sized), the
    region/nation/supplier/part dims all broadcast, and the top-100 fuses
    to TakeOrderedAndProject."""
    p = plan_of(spark, "q2_min_cost_supplier")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p
    assert "EqualTo(r_name,EUROPE)" in p


def test_q9_only_big_big_join_is_orders(spark):
    """Q9 star join: part/supplier/nation broadcast; lineitem-orders is the
    only shuffle join; the p_name LIKE pushes to the part scan."""
    p = plan_of(spark, "q9_product_profit")
    assert "StringContains(p_name,widget)" in p
    assert p.count("SortMergeJoin") <= 1


def test_q11_scalar_total_broadcasts(spark):
    """Q11 HAVING-vs-global-total: the one-row total joins as a broadcast
    nested loop (one-row build side), not a shuffle."""
    p = plan_of(spark, "q11_important_value")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p


def test_q12_ship_year_pushes_to_scan(spark):
    p = plan_of(spark, "q12_priority_lines")
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThan(l_shipdate" in p


def test_q20_nested_semi_joins(spark):
    """Q20 nested INs: both levels decorrelate to left-semi joins; the part
    prefix filter pushes to the scan (StringStartsWith)."""
    p = plan_of(spark, "q20_promotion_suppliers")
    assert "StringStartsWith(p_name,large)" in p
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p


def test_q21_semi_then_anti_on_orderkey(spark):
    """Q21 EXISTS/NOT-EXISTS pair: a semi and an anti join, each keyed on
    orderkey with the suppkey<> residual as the join condition — never a
    cartesian."""
    p = plan_of(spark, "q21_waiting_suppliers")
    assert "LeftSemi" in p
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_strip_boilerplate_corpus_never_shuffle_joins(spark):
    """The boilerplate table (bounded by 100/min_pct rows per source)
    broadcasts back onto the corpus — the strip join must be a broadcast,
    never a corpus-sized SortMergeJoin."""
    p = plan_of(spark, "text_strip_boilerplate")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_doc_segment_dedup_map_only(spark):
    """Intra-doc segment dedup is pure per-row array expressions: zero
    exchanges, no explode-induced shuffle."""
    import re

    p = plan_of(spark, "text_doc_segment_dedup")
    assert len(re.findall(r"\bExchange\b", p)) == 0
    assert "Generate" not in p  # no explode path


def test_anomaly_zscore_single_key_shuffle(spark):
    """Rolling anomaly: three window aggregates share ONE key-partitioned
    frame — a single exchange on event_type, no extra sort or join."""
    import re

    p = plan_of(spark, "events_anomaly_zscore")
    # formatted plans print each node twice (tree line + detail header);
    # count the numbered detail headers
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert len(re.findall(r"\(\d+\) Window", p)) == 1
    assert "Join" not in p


def test_cusum_single_exchange(spark):
    """Both cumulative windows share one key-partitioned sort; the means
    table broadcasts — one exchange total (plus AQE reads), no
    SortMergeJoin."""
    import re

    p = plan_of(spark, "events_cusum_drift")
    assert "SortMergeJoin" not in p
    # one exchange for the window key; the means agg side has its own
    assert len(re.findall(r"\(\d+\) Window", p)) <= 2
    assert "BroadcastHashJoin" in p


def test_curation_pipeline_is_one_plan_no_cartesian(spark):
    """The whole six-stage spec folds into one lazy plan: the only joins
    are the boilerplate broadcast and the dedup/langid/quality gates'
    internal shapes — never a cartesian, and the chunk/pack stages add no
    join at all."""
    p = plan_of(spark, "llm_curation_pipeline")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_anomaly_static_broadcasts_baseline(spark):
    p = plan_of(spark, "events_anomaly_static")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_audio_dedup_map_only_plus_fingerprint_window(spark):
    """decode+hash is one Arrow stage; the only exchange is the
    fingerprint-keyed canonicalization window."""
    import re

    p = plan_of(spark, "media_audio_dedup")
    assert "Join" not in p
    assert len(re.findall(r"\(\d+\) Window", p)) == 1


def test_incremental_media_probe_never_rehashes_history(spark):
    """The probe's plan must pay decode+dHash (MapInPandas) ONLY for the
    new batch: the history side is parquet scans of the materialized band
    index — that is the O(batch)-per-crawl property the operator claims."""
    import re

    p = plan_of(spark, "media_incremental_dedup")
    # the probe pipeline is pack->hash (2 MapInPandas nodes), instantiated
    # on the candidate side and again on the verify side = 4 distinct
    # nodes; hashing history too would add its own pack->hash pair
    nodes = set(re.findall(r"\((\d+)\) MapInPandas", p))
    assert len(nodes) <= 4, p
    assert "Scan parquet" in p  # index comes from the materialized files
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_video_dedup_containment_is_equi_join(spark):
    """Frame-hash containment joins on the full 64-bit hash — an
    equi-join, never all-pairs."""
    p = plan_of(spark, "media_video_dedup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_round6_codec_stages_map_only(spark):
    """JPEG / RLE8-video / mu-law decode chains are pure Arrow map stages:
    no exchange anywhere — the property that makes 100 TB media decode a
    single scan."""
    for q in ("multimodal_jpeg", "multimodal_video_rle", "multimodal_audio_mulaw"):
        p = plan_of(spark, q)
        assert "Exchange" not in p, q
        assert "Join" not in p, q


def test_adpcm_stage_map_only(spark):
    p = plan_of(spark, "multimodal_audio_adpcm")
    assert "Exchange" not in p
    assert "Join" not in p


def test_jpeg_perceptual_dedup_no_cartesian(spark):
    p = plan_of(spark, "media_jpeg_perceptual_dedup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_jpeg_color_stage_map_only(spark):
    p = plan_of(spark, "multimodal_jpeg_color")
    assert "Exchange" not in p
    assert "Join" not in p


# codec, container/interchange and crawl-suite queries whose plan shapes
# are pinned by category below
DECODE_CHAIN_QUERIES = (
    "multimodal_tiff_rgb", "multimodal_bmp_rle8", "multimodal_png_packed",
    "multimodal_audio_multichannel", "multimodal_audio_flac24",
    "multimodal_audio_wav_extensible", "multimodal_bmp_topdown",
    "multimodal_png_trns", "multimodal_exif_metadata",
    "multimodal_jpeg_oriented", "multimodal_jpeg_cmyk", "llm_zip_ingest",
    "llm_zip64_ingest", "llm_tar_ingest", "multimodal_id3_metadata",
    "multimodal_mp3_frames", "text_nfc_normalize", "llm_tar_mixed_ingest",
    "llm_jsonl_roundtrip", "multimodal_pdf_text", "multimodal_pdf_xrefstream",
    "multimodal_ico", "llm_sitemap_frontier", "llm_epub_ingest",
    "llm_robots_rules", "llm_mbox_ingest", "llm_export_manifest",
    "llm_csv_roundtrip", "llm_cdx_select", "llm_html_metadata",
    "llm_html_outlinks", "multimodal_webp", "multimodal_webp_palette",
    "crawl_frontier_bloom", "crawl_schedule", "multimodal_webp_animated",
    "crawl_politeness_schedule", "crawl_host_rank", "llm_robots_wildcards",
    "llm_html_jsonld", "llm_tar_longnames", "media_type_sniff",
    "llm_html_image_pairs", "multimodal_image_text_pairs",
)

# QOI, FITS, subtitles, PNM, SVG, AU, WOFF and the sniff -> decoder
# dispatch stage: pure pack -> decode chains
MAP_ONLY_CODEC_QUERIES = (
    "multimodal_qoi", "multimodal_fits", "multimodal_subtitles",
    "multimodal_pnm", "multimodal_svg", "multimodal_audio_au",
    "multimodal_woff", "media_decode_dispatch",
)


def test_r9_candidate_decode_chains_map_only(spark):
    """Every decode-chain query holds its 100 TB plan shape:
    decode/metadata chains are pack -> feature fold in chained Arrow
    stages with ZERO exchanges; the archive-ingest roundtrips carry
    exactly ONE exchange (the groupBy(archive_id) pack shuffle) and stay
    map-only below it. None ever joins or goes cartesian."""
    # pack_archives groups documents into bounded archives: one shuffle
    # by design, the extraction below it map-only
    ONE_SHUFFLE = {
        "llm_zip_ingest", "llm_tar_ingest", "llm_tar_mixed_ingest",
        "llm_tar_longnames",
        # groupBy(shard) over 16 keys — the manifest aggregation
        "llm_export_manifest",
        # groupBy(digest) — the CDX keep-earliest dedup
        "llm_cdx_select",
        # groupBy(src_host, dst_host) — the outlink edge-count shuffle
        "llm_html_outlinks",
        # groupBy(archive_id) — same pack shuffle as the classic zip path
        "llm_zip64_ingest",
    }
    # broadcast-probe shapes: ONE data shuffle (the Bloom filter-build
    # aggregation, or the politeness window partitioning), broadcast-only
    # joins, the big side never repartitions. The shuffle subtree may
    # print up to 3x in the plan string (once per probe join; reused at
    # runtime)
    BLOOM_PROBE = {
        "crawl_frontier_bloom", "crawl_schedule", "crawl_politeness_schedule",
    }
    # unrolled iterative training/rank loops: plan depth is the known
    # heavy tail (same family as graph_pagerank in the registry); the
    # invariant that matters here is cartesian-freedom
    ITERATIVE = {"crawl_host_rank"}
    # pure broadcast-join gates/assemblies: ZERO data shuffles, BHJ only
    BROADCAST_ONLY = {"llm_robots_wildcards", "multimodal_image_text_pairs"}

    for name in DECODE_CHAIN_QUERIES:
        df = registry.REGISTRY[name].fn(spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        p = buf.getvalue()
        if name in ITERATIVE:
            assert "CartesianProduct" not in p, name
            continue
        if name in BROADCAST_ONLY:
            one = df._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning" not in one, name
            assert "BroadcastHashJoin" in one, name
            assert "SortMergeJoin" not in one, name
            assert "CartesianProduct" not in p, name
            continue
        if name in BLOOM_PROBE:
            one = df._jdf.queryExecution().executedPlan().toString()
            # the ONE filter-build aggregation prints once under each of
            # the k broadcast probes (plan-STRING double-count caveat;
            # ReuseExchange dedupes the actual execution) — it is the
            # same subtree, never a frontier repartition
            n_shuffles = one.count("Exchange hashpartitioning")
            assert 1 <= n_shuffles <= 3, (name, n_shuffles)
            assert "SortMergeJoin" not in one, name
            assert "BroadcastHashJoin" in one, name
        elif name in ONE_SHUFFLE:
            # formatted explain prints each node twice (tree + details):
            # count on the single-print executedPlan string instead
            one = df._jdf.queryExecution().executedPlan().toString()
            assert one.count("Exchange") == 1, name
            assert "Join" not in p, name
        else:
            assert "Exchange" not in p, name
            assert "Join" not in p, name
        assert "CartesianProduct" not in p, name


def test_r10_candidate_plans_map_only(spark):
    for name in MAP_ONLY_CODEC_QUERIES:
        p = plan_of(spark, name)
        assert "Exchange" not in p, name
        assert "Join" not in p, name
        assert "CartesianProduct" not in p, name


def test_webp_lossy_meta_plan_map_only(spark):
    """The WebP metadata census (round-9 registry addition) must stay a
    pack -> sniff/parse chain of Arrow stages with zero exchanges — at
    100 TB the triage pass is scan-bound or it is useless."""
    import contextlib
    import io
    import os

    from query_engine_spark.registry import REGISTRY

    sf = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")
    df = REGISTRY["multimodal_webp_lossy_meta"].fn(spark, sf)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "Exchange" not in p
    assert "Join" not in p
    assert "CartesianProduct" not in p
