"""Parquet table loaders for the driver fixture tables (TESTDATA.md).

One parquet file per table; Catalyst handles predicate pushdown and
column pruning at the scan, so loaders stay plain ``spark.read.parquet``
— no options that would defeat pushdown. A read without a schema runs a
one-task schema-inference job, so each file's inferred schema is kept
for as long as the file is unchanged and later reads pass it.
"""

from __future__ import annotations

import datetime as dt
import os
import weakref
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from market_pulse_data_pipeline_spark.schemas import TESTDATA_TABLES

# event-time columns whose parquet physical encoding has varied across
# driver testdata generations: TIMESTAMP(NANOS) (read as long via
# spark.sql.legacy.parquet.nanosAsLong), or TIMESTAMP(MICROS) with
# isAdjustedToUTC=false (read as TIMESTAMP_NTZ). Both are normalized to
# plain TIMESTAMP so downstream unix_micros()/watermark code sees one
# type; with the session tz pinned to UTC the epoch value is identical
# either way (and matches DuckDB's naive reading of the same file).
_EVENT_TS_COLUMNS = {"events": ["ts"]}

# each session's inferred parquet schemas by (path, st_mtime_ns,
# st_size): a rewritten file gets a new key, so it is inferred again.
# Kept per session because inference reads session confs
# (``spark.sql.legacy.parquet.nanosAsLong`` turns a column's type).
_SCHEMAS: weakref.WeakKeyDictionary[
    SparkSession, dict[tuple[str, int, int], T.StructType]
] = weakref.WeakKeyDictionary()


def _ensure_session_confs(spark: SparkSession) -> None:
    """Defensive runtime confs for sessions we didn't build (the driver
    constructs its own): nanos-parquet readability and UTC semantics for
    timestamp↔local conversions (matches the DuckDB oracle's naive
    timestamps). Both are runtime-settable SQLConfs; idempotent."""
    for key, val in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        if spark.conf.get(key, None) != val:
            spark.conf.set(key, val)
        # loud, not silent: a session where these can't stick would read
        # nanos parquet wrong / emit tz-shifted timestamps downstream
        got = spark.conf.get(key, None)
        if got != val:
            raise RuntimeError(
                f"required session conf {key}={val!r} did not stick (got {got!r})"
            )


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to plain TIMESTAMP whatever the
    parquet generation encoded (see _EVENT_TS_COLUMNS). Requires the
    session tz to already be UTC (``_ensure_session_confs``)."""
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        # integer division — a double roundtrip would lose microseconds
        # at nanosecond epoch magnitudes (~1.7e18 > 2^53)
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
    elif dtype == "timestamp_ntz":
        # session tz is UTC (enforced), so this cast reinterprets the
        # naive value as the same UTC instant — no epoch shift
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: str | T.StructType
) -> DataFrame:
    """A driver-built table (rows as tuples in ``schema`` column order;
    ``schema`` a DDL string or a StructType) as a ``LocalTableScan``.

    The package's only ``createDataFrame`` call. A Python list goes
    through ``PythonRDD`` and costs one Python worker task per
    ``defaultParallelism`` slice when the table is scanned; an Arrow
    table becomes a local relation on the driver and runs no Python
    task at all. Top-level timestamp values follow the list path's
    rule: a naive ``datetime`` is local time."""
    if not isinstance(schema, T.StructType):
        schema = T.DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    rows = list(rows)
    cols = []
    for i, (field, arrow_field) in enumerate(zip(schema.fields, arrow)):
        vals = [r[i] for r in rows]
        if isinstance(field.dataType, T.TimestampType):
            vals = [v if v is None else v.astimezone(dt.timezone.utc) for v in vals]
        cols.append(pa.array(vals, type=arrow_field.type))
    table = pa.Table.from_arrays(cols, schema=arrow)
    return spark.createDataFrame(table, schema)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a local file's schema
    once per session: later reads of the unchanged file pass the schema
    and run no Spark job. A path ``os.stat`` cannot see is read as
    before."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    schemas = _SCHEMAS.setdefault(spark, {})
    if key not in schemas:
        schemas[key] = spark.read.parquet(path).schema
    return spark.read.schema(schemas[key]).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_session_confs(spark)
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    for col in _EVENT_TS_COLUMNS.get(name, []):
        df = normalize_event_ts(df, col)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (mirrors the driver's
    DuckDB-side view registration, so ``spark.sql`` text can match
    ``oracle_sql`` text closely)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
