"""The QOI, FITS, subtitle, PNM, SVG, AU and WOFF decoders and the
sniff -> decoder dispatch against their DuckDB oracles at two scales,
through test_oracles.check_against_oracle."""

from __future__ import annotations

import os

import pytest

from query_engine_spark.registry import REGISTRY
from test_oracles import SF_DIRS, check_against_oracle
from test_plans import DECODE_CHAIN_QUERIES, MAP_ONLY_CODEC_QUERIES


def test_r10_candidates_registered():
    missing = [n for n in MAP_ONLY_CODEC_QUERIES if n not in REGISTRY]
    assert not missing, f"queries not in REGISTRY: {missing}"
    overlap = [n for n in MAP_ONLY_CODEC_QUERIES if n in DECODE_CHAIN_QUERIES]
    assert not overlap, f"listed in both pools: {overlap}"


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=[os.path.basename(d) for d in SF_DIRS])
@pytest.mark.parametrize("name", sorted(MAP_ONLY_CODEC_QUERIES))
def test_r10_candidate_matches_oracle(spark, name, sf_dir):
    check_against_oracle(spark, name, sf_dir)
