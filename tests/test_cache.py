"""Tracked-cache cleanup."""

from __future__ import annotations

import logging

from query_engine_spark import cache


def test_clear_logs_a_failing_cleanup_and_frees_the_rest(caplog):
    freed = []

    def fail():
        raise RuntimeError("block manager gone")

    cache._PERSISTED.extend([lambda: freed.append(1), fail, lambda: freed.append(2)])
    with caplog.at_level(logging.WARNING, logger="query_engine_spark.cache"):
        cache.clear_tracked_cache()
    assert sorted(freed) == [1, 2] and cache._PERSISTED == []
    [record] = caplog.records
    assert "could not free" in record.getMessage() and "block manager gone" in record.exc_text
