"""Loaders for the driver's synthetic test tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events documents
embeddings — one parquet each under ``/root/testdata/sf{0.001,0.01,0.1}/``.

``events.parquet`` has stored TIMESTAMP(NANOS) in some generations (which
Spark 4's parquet reader rejects unless
``spark.sql.legacy.parquet.nanosAsLong=true``; the loader sets that conf at
runtime) and plain TIMESTAMP(MICROS) in others. The loader is type-driven: a
long ``ts`` is nanos → converted by integer `div` to a native microsecond
timestamp — exactly what DuckDB's ``CAST(ts AS TIMESTAMP)`` yields — and a
native timestamp passes through, keeping the oracle comparison honest either
way.

At 100 TB these would be date-partitioned parquet/Delta tables; the loaders
keep the read declarative (`spark.read.parquet`) so partition pruning, filter
pushdown, and column pruning all apply unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = ["TABLES", "load_table", "load_tables", "posts_view", "DEFAULT_SF_DIR"]

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ensure_confs(spark: SparkSession) -> None:
    """Set runtime confs the loaders rely on, tolerating locked-down sessions.

    The driver passes us its own SparkSession; these are runtime SQL confs so
    setting them here (not only at build time) keeps `entry(spark)` working.
    """
    for key, val in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(key, val)
        except Exception:
            pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # ms-precision parquet timestamps surface as TIMESTAMP_NTZ; normalize to
    # session-TZ TIMESTAMP (session is pinned UTC) so time functions
    # (unix_micros etc.) apply uniformly and match DuckDB's naive reading
    for field in df.schema.fields:
        if field.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # long nanos (see module docstring) → native micros timestamp.
        # Integer `div`, NOT float division: a double can't represent ns
        # epochs exactly (53-bit mantissa vs ~1.7e18) and rounds the last µs.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def posts_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt `events` into the PostV1-shaped working table for the block DSL.

    FIXTURES.md maps the driver's `events` table onto the reference's posts
    fact table (events.ts → post time, user_id → author, value → count-ish).
    The mapping is deterministic column arithmetic so DuckDB oracles can
    reproduce it exactly:

        id          = event_id                 (time-ordered in the reference;
                                                events are generated in ts order)
        key         = event_id
        author_key  = user_id
        ts          = ts
        text        = props                    (JSON string; regex target)
        like_count  = int(value)               (main count stand-in)
        reply_count = event_id % 7
        repost_count= event_id % 13
        image_count = event_id % 4
        parent      = '' when event_type='post'-ish else a ref  (is-reply test)
        langs       = [event_type]             (membership filter stand-in)
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("id"),
        F.col("event_id").alias("key"),
        F.col("user_id").alias("author_key"),
        F.col("ts"),
        F.col("props").alias("text"),
        F.col("value"),
        # floor() then cast: Spark's double→int cast truncates but DuckDB's
        # rounds — floor first makes both engines agree
        F.floor(F.col("value")).cast("int").alias("like_count"),
        (F.col("event_id") % 7).cast("int").alias("reply_count"),
        (F.col("event_id") % 13).cast("int").alias("repost_count"),
        (F.col("event_id") % 4).cast("int").alias("image_count"),
        F.when(F.col("event_type") == "purchase", F.col("user_id").cast("string")).otherwise(F.lit("")).alias("parent"),
        F.array(F.col("event_type")).alias("langs"),
    )


# The same posts-view mapping as a DuckDB SQL fragment, for oracle queries.
POSTS_VIEW_ORACLE_SQL = """
SELECT event_id AS id,
       event_id AS key,
       user_id AS author_key,
       CAST(ts AS TIMESTAMP) AS ts,
       props AS text,
       value,
       CAST(FLOOR(value) AS INT) AS like_count,
       CAST(event_id % 7 AS INT) AS reply_count,
       CAST(event_id % 13 AS INT) AS repost_count,
       CAST(event_id % 4 AS INT) AS image_count,
       CASE WHEN event_type = 'purchase' THEN CAST(user_id AS VARCHAR) ELSE '' END AS parent,
       [event_type] AS langs
FROM events
"""
