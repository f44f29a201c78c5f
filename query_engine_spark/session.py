"""SparkSession factory.

Local test profile runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs
this process may run on, ``os.sched_getaffinity``) but every config below is
chosen for the real target: a multi-executor cluster scanning ~100 TB of
date-partitioned parquet. AQE handles runtime partition coalescing
and skew joins; shuffle partitions default to a value sized for local runs and
should be raised (or left to AQE) on a cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark"]


def _cpus() -> int:
    """$SPARK_GRAFT_CPUS, else the CPUs this process may run on: more task
    threads than CPUs only adds scheduling overhead."""
    try:
        return max(1, int(os.environ["SPARK_GRAFT_CPUS"]))
    except (KeyError, ValueError):
        return len(os.sched_getaffinity(0))


def get_spark(app_name: str = "query_engine_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the session.

    Notes on the choices:
    - ``spark.sql.session.timeZone=UTC``: the reference stores RFC3339 UTC
      strings (main.rs:4250); parquet + DuckDB oracle comparisons need a pinned
      zone.
    - ``spark.sql.legacy.parquet.nanosAsLong=true``: the driver's
      ``events.parquet`` carries TIMESTAMP(NANOS) which Spark 4 otherwise
      rejects; we read nanos as long and convert (sources/testdata.py).
    - AQE on: runtime coalescing + skew-join handling replace hand-tuned
      partition counts at 100 TB.
    - Arrow on: every Pandas-UDF path (llmdata/, streaming custom state) is
      Arrow-batched.
    """
    cpus = _cpus()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
