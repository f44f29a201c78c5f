"""The media-codec and curation-pipeline queries against their DuckDB
oracles at two scales, through test_oracles.check_against_oracle."""

from __future__ import annotations

import os

import pytest

from query_engine_spark.registry import REGISTRY
from test_oracles import MEDIA_CODEC_QUERIES, SF_DIRS, check_against_oracle


def test_candidates_registered():
    missing = [n for n in MEDIA_CODEC_QUERIES if n not in REGISTRY]
    assert not missing, f"queries not in REGISTRY: {missing}"


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=[os.path.basename(d) for d in SF_DIRS])
@pytest.mark.parametrize("name", sorted(MEDIA_CODEC_QUERIES))
def test_r8_candidate_matches_oracle(spark, name, sf_dir):
    check_against_oracle(spark, name, sf_dir)
