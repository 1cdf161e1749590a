"""Structured Streaming ingest of landing documents (north-star phase 5).

The reference's "incremental" behavior is a daily DAG rerun + keyed
upsert (SURVEY §2.6); the streaming twin is: file-source readStream over
the landing zone → foreachBatch keyed upsert into bronze (the J2 MERGE
semantics, applied micro-batch by micro-batch). An ``availableNow``
trigger gives the same run-to-completion semantics as the batch job
while keeping exactly-once progress via the checkpoint.

Design per *Structured Streaming: A Declarative API* (SIGMOD 2018):
incremental keyed upsert = foreachBatch + merge; the sink table stays a
plain parquet path (atomic swap), so batch readers never see torn state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from market_pulse_data_pipeline_spark.operators.merge import (
    atomic_overwrite_parquet,
    upsert_by_key,
)
from market_pulse_data_pipeline_spark.schemas import (
    ALPHAVANTAGE_DOC_SCHEMA,
    RAW_ALPHAVANTAGE_SCHEMA,
)
from market_pulse_data_pipeline_spark.sources.landing import landing_to_raw


def stream_landing_to_bronze(
    spark: SparkSession,
    landing_dir: str,
    warehouse_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """readStream(landing JSON) → foreachBatch upsert(bronze, key=symbol).

    Returns the StreamingQuery; with ``available_now`` the caller can
    ``awaitTermination()`` for batch-equivalent semantics.
    """
    bronze_path = os.path.join(warehouse_dir, "raw_alphavantage")

    docs = (
        spark.readStream.schema(ALPHAVANTAGE_DOC_SCHEMA)
        .option("multiLine", True)
        .option("maxFilesPerTrigger", 64)
        .option("pathGlobFilter", "*.json")
        .json(landing_dir)
    )

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        # no emptiness check: it would parse the batch twice. A batch of
        # only invalid documents rewrites bronze unchanged, or empty.
        new = landing_to_raw(batch_df)
        if os.path.exists(bronze_path):
            old = batch_df.sparkSession.read.schema(RAW_ALPHAVANTAGE_SCHEMA).parquet(
                bronze_path
            )
            merged = upsert_by_key(old, new, "symbol")
        else:
            merged = new
        atomic_overwrite_parquet(merged, bronze_path)

    writer = (
        docs.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
