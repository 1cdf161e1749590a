"""Landing-zone JSON source/sink (reference operators S2/S3/S5).

The reference lands one pretty-printed Alpha Vantage JSON document per
symbol under an object-store prefix (``dags/get_stock.py:86,99-104``) and
later list-scans the prefix (``dags/minio_to_snowflake.py:51-60``). Here
the landing zone is a directory of ``*.json`` files; Spark's file listing
replaces the boto3 prefix scan, and `multiLine=True` reads one document
per file.

Schema is always the explicit ALPHAVANTAGE_DOC_SCHEMA — field names with
spaces/dots/digits ("1. open", "Time Series (Daily)") make inference a
production hazard (SURVEY.md §7 risk 4).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.schemas import ALPHAVANTAGE_DOC_SCHEMA
from market_pulse_data_pipeline_spark.functions.scalars import normalize_symbol_col
from market_pulse_data_pipeline_spark.sources.tables import local_frame


def write_landing_doc(landing_dir: str, key: str, doc: dict) -> str:
    """Write one document, pretty-printed, mirroring the reference's
    ``put_object(..., ContentType="application/json")`` (get_stock.py:99-104).

    Note: the object key uses the *un*-normalized symbol, like the
    reference (get_stock.py:86,114) — the symbol-identity split of
    SURVEY.md §2.7-a is preserved deliberately.
    """
    os.makedirs(landing_dir, exist_ok=True)
    path = os.path.join(landing_dir, f"{key}.json")
    with open(path, "w") as f:
        json.dump(doc, f, indent=2)
    return path


def read_landing_json(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Read every landed document (one per file) with the explicit schema.

    Missing/empty directory → empty DataFrame with the same schema
    (reference returns ``{}`` for a missing key, get_stock.py:73-82).
    """
    try:
        has_files = any(n.endswith(".json") for n in os.listdir(landing_dir))
    except FileNotFoundError:
        has_files = False
    if not has_files:
        return local_frame(spark, [], ALPHAVANTAGE_DOC_SCHEMA)
    # Directory path + pathGlobFilter instead of a "*.json" glob string:
    # Spark stats a glob path literally in FileStreamSink.hasMetadata and
    # logs a (benign but noisy) FileNotFoundException stack trace.
    return (
        spark.read.schema(ALPHAVANTAGE_DOC_SCHEMA)
        .option("multiLine", True)
        .option("pathGlobFilter", "*.json")
        .json(landing_dir)
    )


def landing_to_raw(docs: DataFrame) -> DataFrame:
    """Landing documents → raw (bronze) rows ``(symbol, data, data_json, load_date)``.

    The symbol comes from *inside* the document (``Meta Data."2. Symbol"``,
    reference minio_to_snowflake.py:62), then through the normalization map
    (get_stock.py:30-32,111) — so ``BRK.B`` loads as ``BRK-B``.
    ``load_date`` is current_timestamp at load, like the Snowflake column
    default (minio_to_snowflake.py:46); it is excluded from oracle-checked
    output columns.
    """
    raw = docs.select(
        normalize_symbol_col(F.col("`Meta Data`").getField("2. Symbol")).alias("symbol"),
        F.struct(
            F.col("`Meta Data`").alias("Meta Data"),
            F.col("`Time Series (Daily)`").alias("Time Series (Daily)"),
        ).alias("data"),
        F.to_json(F.struct(F.col("`Meta Data`"), F.col("`Time Series (Daily)`"))).alias(
            "data_json"
        ),
        F.current_timestamp().alias("load_date"),
    ).filter(
        # presence filter: keep only documents that actually carry the series
        # (reference get_stock.py:64-68)
        F.col("data").getField("Time Series (Daily)").isNotNull()
    )
    # two landed objects can normalize to the same symbol within one batch
    # (reference processes objects serially, so the later MERGE wins,
    # minio_to_snowflake.py:56-75); pick one deterministically: freshest
    # "3. Last Refreshed", then the larger document
    w = Window.partitionBy("symbol").orderBy(
        F.col("data").getField("Meta Data").getField("3. Last Refreshed").desc_nulls_last(),
        F.length("data_json").desc(),
        F.col("data_json"),
    )
    return (
        raw.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
