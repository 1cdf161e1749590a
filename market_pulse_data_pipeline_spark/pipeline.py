"""End-to-end pipeline runner — the Spark equivalent of the reference's
Airflow DAG ``market_pulse_pipeline`` (stock_pipeline_dag.py:104-141):
ingest → load/upsert bronze → transform (4 models) → data-quality.

Scheduling is out of engine scope; this is a plain function callable from
cron or a Structured Streaming ``availableNow`` trigger (see streaming/).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from market_pulse_data_pipeline_spark.operators.agg import (
    build_agg_weekly_ohlc,
    build_agg_weekly_prices,
)
from market_pulse_data_pipeline_spark.operators.dim import build_dim_stock
from market_pulse_data_pipeline_spark.operators.fact import build_fact_stock_prices
from market_pulse_data_pipeline_spark.operators.merge import (
    atomic_overwrite_parquet,
    upsert_by_key,
)
from market_pulse_data_pipeline_spark.operators.qc import QCResult, run_reference_suite
from market_pulse_data_pipeline_spark.operators.staging import stage_alphavantage
from market_pulse_data_pipeline_spark.plans.runner import Model, ModelRunner
from market_pulse_data_pipeline_spark.schemas import RAW_ALPHAVANTAGE_SCHEMA
from market_pulse_data_pipeline_spark.sources.landing import (
    landing_to_raw,
    read_landing_json,
)


def load_bronze(spark: SparkSession, landing_dir: str, warehouse_dir: str) -> DataFrame:
    """Entry point B (minio_to_snowflake.py): landing docs → keyed upsert
    into the bronze table on SYMBOL (J2, last write wins).

    Bronze is written even when the upsert is empty, with no emptiness
    check first, so the landing parse and the upsert run once. It is read
    back with the explicit schema, which skips inference and keeps an
    empty bronze readable with the bronze columns."""
    new = landing_to_raw(read_landing_json(spark, landing_dir))
    bronze_path = os.path.join(warehouse_dir, "raw_alphavantage")
    if os.path.exists(bronze_path):
        old = spark.read.schema(RAW_ALPHAVANTAGE_SCHEMA).parquet(bronze_path)
        merged = upsert_by_key(old, new, "symbol")
    else:
        merged = new
    atomic_overwrite_parquet(merged, bronze_path)
    return spark.read.schema(RAW_ALPHAVANTAGE_SCHEMA).parquet(bronze_path)


def build_runner(spark: SparkSession, warehouse_dir: str) -> ModelRunner:
    """The reference's dbt ref-graph (SURVEY §3.3):
    raw → stg_alphavantage → {dim_stock, fact_stock_prices} → agg_weekly_prices.
    """
    runner = ModelRunner(spark, warehouse_dir)
    runner.add(
        Model(
            "stg_alphavantage",
            ["raw_alphavantage"],
            stage_alphavantage,
            schema="staging",
        )
    )
    runner.add(Model("dim_stock", ["stg_alphavantage"], build_dim_stock))
    # unpartitioned: every consumer scans the whole fact table, so one
    # directory per symbol pruned nothing and multiplied files (SCALING.md)
    runner.add(
        Model("fact_stock_prices", ["stg_alphavantage", "dim_stock"], build_fact_stock_prices)
    )
    runner.add(Model("agg_weekly_prices", ["fact_stock_prices"], build_agg_weekly_prices))
    # additive mart (not in the reference): weekly OHLC candlesticks
    runner.add(Model("agg_weekly_ohlc", ["fact_stock_prices"], build_agg_weekly_ohlc))
    return runner


def run_pipeline(
    spark: SparkSession, landing_dir: str, warehouse_dir: str
) -> tuple[dict[str, DataFrame], list[QCResult]]:
    raw = load_bronze(spark, landing_dir, warehouse_dir)
    runner = build_runner(spark, warehouse_dir)
    tables = runner.run({"raw_alphavantage": raw})
    qc = run_reference_suite(
        tables["stg_alphavantage"],
        tables["dim_stock"],
        tables["fact_stock_prices"],
        tables["agg_weekly_prices"],
    )
    return tables, qc
