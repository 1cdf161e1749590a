"""The complete streaming twin of the reference DAG: incremental landing
ingest (checkpointed file stream → keyed bronze upsert) followed by the
mart rebuild and QC — i.e., what the reference's ``@daily`` Airflow rerun
does, expressed as one incremental invocation.

Marts are recomputed in full from bronze each run (the reference's
``+materialized: table`` semantics, SURVEY §2.7-d) — bronze is the only
stateful zone, and its state lives in the upsert + stream checkpoint.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from market_pulse_data_pipeline_spark.operators.qc import QCResult, run_reference_suite
from market_pulse_data_pipeline_spark.pipeline import build_runner
from market_pulse_data_pipeline_spark.schemas import RAW_ALPHAVANTAGE_SCHEMA
from market_pulse_data_pipeline_spark.streaming.ingest import stream_landing_to_bronze


def run_incremental(
    spark: SparkSession,
    landing_dir: str,
    warehouse_dir: str,
    checkpoint_dir: str,
    timeout_s: int = 300,
) -> tuple[dict[str, DataFrame], list[QCResult]]:
    """One incremental cycle: ingest only files the checkpoint hasn't
    seen, upsert bronze, rebuild marts, run QC. Re-invoking with no new
    landing files is a no-op ingest + deterministic mart rebuild."""
    query = stream_landing_to_bronze(
        spark, landing_dir, warehouse_dir, checkpoint_dir
    )
    finished = query.awaitTermination(timeout_s)
    if not finished:
        query.stop()
        raise TimeoutError(
            f"landing ingest did not finish within {timeout_s}s — refusing "
            "to rebuild marts from possibly-stale bronze"
        )

    bronze_path = os.path.join(warehouse_dir, "raw_alphavantage")
    if os.path.exists(bronze_path):
        # explicit schema: skips inference; bronze is empty when every
        # landed document lacked a series
        raw = spark.read.schema(RAW_ALPHAVANTAGE_SCHEMA).parquet(bronze_path)
    else:
        # empty landing: the availableNow stream produced no batch and
        # bronze was never written
        raw = spark.createDataFrame([], RAW_ALPHAVANTAGE_SCHEMA)
    runner = build_runner(spark, warehouse_dir)
    tables = runner.run({"raw_alphavantage": raw})
    qc = run_reference_suite(
        tables["stg_alphavantage"],
        tables["dim_stock"],
        tables["fact_stock_prices"],
        tables["agg_weekly_prices"],
    )
    tables["raw_alphavantage"] = raw
    return tables, qc
