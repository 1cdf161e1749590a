"""End-to-end pipeline tests on deterministic Alpha Vantage fixtures
(FIXTURES.md §A) — the reference chain raw → stg → dim/fact → agg,
including the §2.7 quirk cases."""

import datetime
import os

import pytest
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.pipeline import load_bronze, run_pipeline
from market_pulse_data_pipeline_spark.schemas import RAW_ALPHAVANTAGE_SCHEMA
from market_pulse_data_pipeline_spark.sources.alphavantage import (
    default_fixture_docs,
    make_fixture_doc,
    merge_series_doc,
    write_fixture_landing,
)
from market_pulse_data_pipeline_spark.sources.landing import write_landing_doc


@pytest.fixture(scope="module")
def pipeline_out(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("mp")
    landing = str(root / "landing")
    warehouse = str(root / "warehouse")
    write_fixture_landing(landing, default_fixture_docs(n_days=60))
    tables, qc = run_pipeline(spark, landing, warehouse)
    return tables, qc, landing, warehouse


def test_staging_shape_and_types(pipeline_out):
    tables, _, _, _ = pipeline_out
    stg = tables["stg_alphavantage"]
    assert dict(stg.dtypes) == {
        "symbol": "string",
        "trading_date": "date",
        "open": "double",
        "high": "double",
        "low": "double",
        "close": "double",
        "volume": "bigint",
    }
    # 10 symbols x 60 weekdays, minus MSFT's one gap day
    assert stg.count() == 10 * 60 - 1
    syms = {r.symbol for r in stg.select("symbol").distinct().collect()}
    assert "BRK-B" in syms and "BRK.B" not in syms  # §2.7-a identity split


def test_dim_stock_quirk_preserved(pipeline_out):
    tables, _, _, _ = pipeline_out
    dim = {r.symbol: r for r in tables["dim_stock"].collect()}
    assert len(dim) == 10
    assert dim["AAPL"].company_name == "Apple Inc."
    assert dim["AAPL"].sector == "Technology"
    # the BRK.B CASE branch never matches the loaded BRK-B (§2.7-a)
    assert dim["BRK-B"].company_name == "Unknown Company"
    assert dim["BRK-B"].sector == "Other"
    # verbatim reference CASE strings (dim_stock.sql:14-17,25-27):
    # commas in names, TSLA under Technology, AMZN alone in Cons. Disc.
    assert dim["AMZN"].company_name == "Amazon.com, Inc."
    assert dim["AMZN"].sector == "Consumer Discretionary"
    assert dim["META"].company_name == "Meta Platforms, Inc."
    assert dim["TSLA"].company_name == "Tesla, Inc."
    assert dim["TSLA"].sector == "Technology"
    # loaded V has no CASE branch (dim_stock.sql has NFLX instead, which
    # is never loaded — a second dead branch alongside BRK.B)
    assert dim["V"].company_name == "Unknown Company"
    assert dim["V"].sector == "Other"


def test_fact_derived_metrics(pipeline_out):
    tables, _, _, _ = pipeline_out
    fact = tables["fact_stock_prices"]
    # NULLIF path: AAPL's zero-open day has NULL percent_change
    zero_open = fact.filter((F.col("symbol") == "AAPL") & (F.col("open") == 0.0))
    assert zero_open.count() == 1
    row = zero_open.collect()[0]
    assert row.percent_change is None
    assert row.daily_change == round(row.close - row.open, 2)
    # enrichment joined
    assert fact.filter(F.col("company_name").isNull()).count() == 0


def test_agg_weekly_monday_start(pipeline_out):
    tables, _, _, _ = pipeline_out
    agg = tables["agg_weekly_prices"]
    assert dict(agg.dtypes)["week_start"] == "date"
    for r in agg.select("week_start").distinct().collect():
        assert r.week_start.weekday() == 0  # Monday (Snowflake WEEK_START=0)


def test_qc_suite_green(pipeline_out):
    _, qc, _, _ = pipeline_out
    failures = [r for r in qc if not r.passed]
    assert failures == []


def test_fact_table_unpartitioned(pipeline_out):
    """One directory of part files, no symbol=... directories; the column
    order is build_fact_stock_prices', symbol first."""
    tables, _, _, warehouse = pipeline_out
    entries = os.listdir(os.path.join(warehouse, "fact_stock_prices"))
    assert entries and not [e for e in entries if e.startswith("symbol=")]
    assert tables["fact_stock_prices"].columns[0] == "symbol"


def test_series_less_landing_builds_empty_marts(spark, tmp_path):
    """Only documents without a series and no bronze yet: bronze is
    written empty and stays readable, every mart is empty, QC is green."""
    landing = str(tmp_path / "landing")
    warehouse = str(tmp_path / "warehouse")
    write_landing_doc(landing, "RATE", {"Note": "API call frequency exceeded"})
    meta_only = make_fixture_doc("AAPL", n_days=5)
    del meta_only["Time Series (Daily)"]
    write_landing_doc(landing, "AAPL", meta_only)

    raw = load_bronze(spark, landing, warehouse)
    assert raw.count() == 0
    assert [(f.name, f.dataType) for f in raw.schema] == [
        (f.name, f.dataType) for f in RAW_ALPHAVANTAGE_SCHEMA
    ]

    # second cycle reads the empty bronze written by the first
    tables, qc = run_pipeline(spark, landing, warehouse)
    for name in ("stg_alphavantage", "dim_stock", "fact_stock_prices",
                 "agg_weekly_prices", "agg_weekly_ohlc"):
        assert tables[name].count() == 0, name
    assert len(qc) == 10
    assert [r for r in qc if not r.passed] == []


def test_upsert_idempotent_and_last_write_wins(spark, pipeline_out):
    """Re-running ingest with overlapping dates is idempotent and
    newest-wins (SURVEY §2.7-b / Phase 1 property)."""
    tables, _, landing, warehouse = pipeline_out
    before = tables["stg_alphavantage"].count()

    # second batch: AAPL with 10 overlapping dates (changed closes) + 5 new days
    old_doc = make_fixture_doc("AAPL", n_days=60, end="2025-10-16")
    new_doc = make_fixture_doc("AAPL", n_days=15, end="2025-10-23", base_price=999.0)
    merged = merge_series_doc(old_doc, new_doc)
    write_fixture_landing(landing, {"AAPL": merged})

    from market_pulse_data_pipeline_spark.pipeline import run_pipeline as rp

    tables2, qc2 = rp(spark, landing, warehouse)
    stg2 = tables2["stg_alphavantage"]
    aapl = stg2.filter(F.col("symbol") == "AAPL")
    # 60 original weekdays + 5 genuinely new ones
    assert aapl.count() == 65
    # overlapping date took the NEW batch's value (base 999)
    newest = aapl.filter(F.col("trading_date") == datetime.date(2025, 10, 16)).collect()[0]
    assert newest.open > 900
    # other symbols untouched
    assert stg2.count() == before + 5
    assert [r for r in qc2 if not r.passed] == []


def test_agg_weekly_ohlc(spark, pipeline_out):
    """Weekly OHLC: open = first day's open, close = last day's close,
    high/low bracket them, volume sums.

    Reads from the warehouse path (not the fixture's DataFrames): the
    upsert test re-runs the pipeline, which atomically swaps the table
    directories out from under the fixture's cached references."""
    _, _, _, warehouse = pipeline_out
    ohlc = spark.read.parquet(f"{warehouse}/agg_weekly_ohlc")
    stg = spark.read.parquet(f"{warehouse}/stg_alphavantage")
    row = (
        ohlc.filter((F.col("symbol") == "GOOGL"))
        .orderBy("week_start")
        .collect()[1]  # a full Mon-Fri week
    )
    days = (
        stg.filter(
            (F.col("symbol") == "GOOGL")
            & (F.col("trading_date") >= row.week_start)
            & (F.col("trading_date") < row.week_start + datetime.timedelta(days=7))
        )
        .orderBy("trading_date")
        .collect()
    )
    assert row.n_trading_days == len(days)
    assert row.open == days[0].open
    assert row.close == days[-1].close
    assert row.high == max(d.high for d in days)
    assert row.low == min(d.low for d in days)
    assert row.volume == sum(d.volume for d in days)
