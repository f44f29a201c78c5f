"""The decode-chain, archive-ingest and crawl queries, and the WebP
metadata census, against their DuckDB oracles at two scales, through
test_oracles.check_against_oracle."""

from __future__ import annotations

import os

import pytest

from query_engine_spark.registry import REGISTRY
from test_oracles import SF_DIRS, WEBP_LOSSY_META, check_against_oracle
from test_plans import DECODE_CHAIN_QUERIES


def test_candidates_registered():
    missing = [n for n in DECODE_CHAIN_QUERIES if n not in REGISTRY]
    assert not missing, f"queries not in REGISTRY: {missing}"


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=[os.path.basename(d) for d in SF_DIRS])
@pytest.mark.parametrize("name", sorted(DECODE_CHAIN_QUERIES))
def test_r9_candidate_matches_oracle(spark, name, sf_dir):
    check_against_oracle(spark, name, sf_dir)


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=[os.path.basename(d) for d in SF_DIRS])
def test_webp_lossy_meta_matches_oracle(spark, sf_dir):
    check_against_oracle(spark, WEBP_LOSSY_META, sf_dir)
