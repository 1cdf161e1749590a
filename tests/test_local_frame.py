"""Pins for sources.tables.local_frame — the package's one path from
driver-side Python rows to a DataFrame. It must give the same rows and
schema as ``createDataFrame(list, schema)`` while running no Python
worker task, and it must stay the only ``createDataFrame`` call."""

import ast
import datetime as dt
import pathlib

from market_pulse_data_pipeline_spark.queries.r22_staging import _GZ_PHRASES
from market_pulse_data_pipeline_spark.schemas import (
    ALPHAVANTAGE_DOC_SCHEMA,
    RAW_ALPHAVANTAGE_SCHEMA,
)
from market_pulse_data_pipeline_spark.sources.tables import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / (
    "market_pulse_data_pipeline_spark"
)


def _no_python_rdd(df):
    assert b"PythonRDD" not in df.rdd.toDebugString()


def test_gazetteer_columns_match_the_list_path(spark):
    rows = [
        (p, tok, off, len(p.split(" ")))
        for p in _GZ_PHRASES
        for off, tok in enumerate(p.split(" "))
    ]
    listed = spark.createDataFrame(rows, ["phrase", "tok", "off", "plen"])
    local = local_frame(
        spark, rows, "phrase string, tok string, off bigint, plen bigint"
    )
    assert local.schema == listed.schema
    assert local.collect() == listed.collect()
    assert b"PythonRDD" in listed.rdd.toDebugString()
    _no_python_rdd(local)


def test_typed_columns_with_nulls_match_the_list_path(spark):
    ddl = "i int, b bigint, d double, f boolean, s string"
    rows = [
        (1, 1 << 40, 0.5, True, "a"),
        (None, None, None, None, None),
        (-7, -(1 << 62), float("nan"), False, ""),
    ]
    listed = spark.createDataFrame(rows, ddl)
    local = local_frame(spark, rows, ddl)
    assert local.schema == listed.schema
    assert repr(local.collect()) == repr(listed.collect())  # NaN != NaN
    _no_python_rdd(local)


def test_naive_timestamps_match_the_list_path(spark):
    ddl = "id int, ts timestamp"
    rows = [(1, dt.datetime(2026, 1, 1, 12, 0, 0, 123456)), (2, None)]
    listed = spark.createDataFrame(rows, ddl)
    local = local_frame(spark, rows, ddl)
    assert local.collect() == listed.collect()


def test_zero_row_landing_schemas(spark):
    for schema in (ALPHAVANTAGE_DOC_SCHEMA, RAW_ALPHAVANTAGE_SCHEMA):
        empty = local_frame(spark, [], schema)
        assert empty.schema == spark.createDataFrame([], schema).schema
        assert empty.count() == 0
        _no_python_rdd(empty)


def test_create_data_frame_only_inside_local_frame():
    # every driver-built table goes through local_frame, so none of them
    # pays a Python worker task per defaultParallelism slice
    hits = [
        (path.relative_to(PACKAGE).as_posix(), no)
        for path in sorted(PACKAGE.rglob("*.py"))
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    tables = ast.parse((PACKAGE / "sources" / "tables.py").read_text())
    fn = next(
        n
        for n in tables.body
        if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
    )
    assert hits
    assert all(
        p == "sources/tables.py" and fn.lineno <= no <= fn.end_lineno
        for p, no in hits
    ), hits
