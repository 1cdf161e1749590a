"""market_pulse_data_pipeline_spark — a PySpark-native analytics engine.

Re-implements the full data-processing surface of the reference pipeline
``Olami2596/Market-Pulse-Data-Pipeline`` (an Airflow + Snowflake + dbt ETL
stack) as an idiomatic Spark DataFrame/SQL engine, plus the large-scale
training-data operators (dedup, similarity search, text analysis,
multimodal plumbing) a 100 TB pipeline needs.

Layout
------
- ``session``    SparkSession factory (AQE on, tuned shuffle partitions)
- ``schemas``    explicit StructTypes (never schema inference in prod paths)
- ``sources``    landing-zone JSON readers/writers, parquet table loaders
- ``operators``  staging / dim / fact / agg transforms, keyed upsert & merge,
                 data-quality checks
- ``functions``  scalar & text/dedup/similarity/multimodal function library
- ``plans``      the dbt-like topological model runner
- ``streaming``  Structured Streaming ingest + event-time operators
- ``worker_daemon``  the Python worker daemon ``session`` selects

This module imports no pyspark: Python workers import it before
``worker_daemon`` takes Spark's archives off their path.
"""

__version__ = "0.1.0"
