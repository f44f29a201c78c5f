"""query_engine_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of skyfeed-dev/query-engine.

The reference (/root/reference/src/main.rs) is a single-node in-memory feed
query engine: a JSON "block" pipeline DSL (input → filter → score → sort →
limit …) over a ~7-day sliding window of posts, plus inverted indexes and a
micro-batch ingest loop. This package re-expresses those *semantics*
Spark-first:

- declarative DataFrame/SQL plans (Catalyst owns optimization: pushdown,
  pruning, broadcast selection, AQE),
- an explicit ``__ord`` ordering-column convention for the reference's
  order-sensitive semantics (append order, keep-first dedup, per-user top-N),
- Structured Streaming for the ingest lifecycle,
- plus large-scale training-data operators (dedup, similarity search,
  multimodal columns, text analysis) the reference does not have.

Layout:
    session.py            SparkSession factory tuned for the target cluster
    datamodel.py          fixed StructType schemas (PostV1, Profile, edges)
    sources/              parquet loaders for the driver test tables + views
    functions/            scalar helpers: TID/DID/URI codecs, script translator
    operators/            block semantics: inputs, filters, score
                          expressions, top-N helpers, joins, aggregates
    plans/                JSON block-pipeline → one-SQL-statement compiler (also
                          the score, sort, limit and stash blocks)
    streaming/            ingest lifecycle (batch incremental + streaming)
    llmdata/              dedup / similarity / text analysis / multimodal
"""

__version__ = "0.1.0"
