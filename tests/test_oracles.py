"""Every registry query against its DuckDB oracle, at two scales.

One test per (query, scale), so a failure names its query. The compare is
tools/selfcheck.py's (sorted columns/rows, dtype checks, exact values
after the registry's rounding rules), and the tracked cache is cleared
before each case as selfcheck does. Different scales put different
values on float-rounding boundaries and push different row counts over
caps, so both run. Rows-only queries (no SQL oracle) must return rows.

The media-codec, decode-chain and map-only-codec queries, and the WebP
metadata census, keep the test ids of the modules that first pinned them
(test_r8_oracles, test_r9_candidates, test_r10_candidates), which run
them through check_against_oracle; every other query runs here, so each
(query, scale) is checked exactly once.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from query_engine_spark.llmdata import clear_llmdata_cache
from query_engine_spark.registry import REGISTRY, _register
from query_engine_spark.sources.testdata import DEFAULT_SF_DIR
from test_plans import DECODE_CHAIN_QUERIES, MAP_ONLY_CODEC_QUERIES
from tools.selfcheck import compare, load_duck

# the two scales live beside the default dataset
_DATA = os.path.dirname(DEFAULT_SF_DIR)
SF_DIRS = [
    os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", os.path.join(_DATA, "sf0.001")),
    os.environ.get("SPARK_GRAFT_SF_DIR_MID", os.path.join(_DATA, "sf0.01")),
]

# designed without a SQL oracle: a seeded shuffle and the sandboxed-UDF tier
ROWS_ONLY = ("f12_where_udf_tier", "o4_sort_random")

# empty on BOTH engines at sf0.001: the data is too small to meet their
# predicates; they return rows from sf0.01 up
EMPTY_AT_SF0_001 = frozenset({
    "q11_important_value", "q21_waiting_suppliers",
    "events_cusum_drift", "events_zorder_box",
})

# audio/image/video codec and curation-pipeline queries
MEDIA_CODEC_QUERIES = (
    "llm_curation_pipeline_balance", "llm_curation_pipeline_scrub",
    "llm_warc_ingest", "media_mp4_video_dedup", "multimodal_audio_aiff",
    "multimodal_audio_alaw", "multimodal_audio_flac",
    "multimodal_audio_flac_stereo", "multimodal_audio_sphere",
    "multimodal_audio_wav_stereo", "multimodal_bmp8",
    "multimodal_gif_animated", "multimodal_gif_interlaced",
    "multimodal_jpeg_422", "multimodal_jpeg_progressive",
    "multimodal_jpeg_restart", "multimodal_png_adam7", "multimodal_png_gray",
    "multimodal_png_palette", "multimodal_png_rgba", "multimodal_tiff",
    "multimodal_tiff_multipage", "multimodal_video_avi_mjpeg",
    "multimodal_video_mp4",
)

WEBP_LOSSY_META = "multimodal_webp_lossy_meta"

PINNED_ELSEWHERE = frozenset(
    MEDIA_CODEC_QUERIES + DECODE_CHAIN_QUERIES + MAP_ONLY_CODEC_QUERIES + (WEBP_LOSSY_META,)
)


def check_against_oracle(spark, name, sf_dir):
    spec = REGISTRY[name]
    clear_llmdata_cache()
    spark_pdf = spec.fn(spark, sf_dir).toPandas()
    if spec.oracle is not None:
        con = load_duck(sf_dir)
        try:
            duck_pdf = con.execute(spec.oracle).fetchdf()
        finally:
            con.close()
        problems = compare(spark_pdf, duck_pdf)
        assert not problems, (name, problems)
    if not (name in EMPTY_AT_SF0_001 and os.path.basename(sf_dir) == "sf0.001"):
        assert len(spark_pdf) > 0, name


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=[os.path.basename(d) for d in SF_DIRS])
@pytest.mark.parametrize("name", [n for n in REGISTRY if n not in PINNED_ELSEWHERE])
def test_query_matches_oracle(spark, name, sf_dir):
    check_against_oracle(spark, name, sf_dir)


def test_pinned_queries_are_registered_once():
    """The names checked by the other modules must exist, or their query
    would drop out of the gate without a failure."""
    pinned = MEDIA_CODEC_QUERIES + DECODE_CHAIN_QUERIES + MAP_ONLY_CODEC_QUERIES + (WEBP_LOSSY_META,)
    assert len(pinned) == len(PINNED_ELSEWHERE), "a query is pinned twice"
    missing = sorted(PINNED_ELSEWHERE - set(REGISTRY))
    assert not missing, f"pinned queries not in REGISTRY: {missing}"


def test_rows_only_allowance_matches_the_tool_and_oracle_reality():
    """Only the two queries designed without a SQL oracle may lack one: a
    query that silently lost its oracle would otherwise pass on rows alone."""
    missing = [n for n, spec in REGISTRY.items() if spec.oracle is None and n not in ROWS_ONLY]
    assert not missing, f"registry queries with no oracle: {missing}"
    for n in ROWS_ONLY:
        assert REGISTRY[n].oracle is None, f"{n} has an oracle now: remove it from ROWS_ONLY"


def test_register_rejects_duplicate_name():
    before = dict(REGISTRY)
    name = next(iter(REGISTRY))
    with pytest.raises(ValueError, match=f"duplicate registration: {name}"):
        _register(name, None)(lambda spark, sf_dir: None)
    assert list(REGISTRY) == list(before)
    assert all(REGISTRY[n] is spec for n, spec in before.items())
