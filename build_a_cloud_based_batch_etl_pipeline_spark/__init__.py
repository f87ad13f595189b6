"""PySpark-native analytics engine with the capabilities of
pankace/Build-a-Cloud-Based-Batch-ETL-Pipeline, re-expressed Spark-first.

The reference (/root/reference, read-only snapshot) is a minimal cloud batch
ETL pipeline: HTTP-JSON extract -> GCS object store -> event-driven load into
a single queryable BigQuery table (see SURVEY.md). All of its query capability
is delegated to the warehouse. This package supplies that delegated SQL
surface natively via Spark SQL / DataFrame + Catalyst, replicates the
ingest semantics with Structured Streaming (exactly-once, vs. the
reference's at-least-once duplicate exposure at src/load/main.py:40), and
adds the LLM-data-pipeline operator extensions (dedup, similarity search,
text analysis, multimodal columns) designed for 100 TB scale.

Layout:
    session.py    SparkSession factory (AQE, UTC, Arrow, shuffle sizing)
    schemas.py    declared schemas: posts record shape, fixture-table registry
    config.py     env-var config surface (mirrors reference example.env)
    sources/      parquet (memoized footer schema) / json / csv / http readers
    sinks.py      managed-table / object-store writers, idempotent append
    operators/    relational, window, asof, dedup, similarity, text, events
    functions/    scalar function helpers (string/date/math/cond/array/json)
    streaming/    Structured Streaming ingest + windowed/stateful ops
    plans/        explain helpers and plan assertions
    queries.py    named query registry (drives __spark_entry__ + bench)
"""

__version__ = "0.1.0"
