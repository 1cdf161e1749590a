"""operators/qc.py — observed_write_qc's counters must ride the main
action (no extra job), and both it and run_reference_suite must agree
with the standalone check_* passes."""

import datetime

from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.operators.qc import (
    check_not_null,
    check_relationships,
    check_unique,
    observed_write_qc,
    run_reference_suite,
)
from market_pulse_data_pipeline_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_observed_matches_standalone_checks(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "value", F.when(F.col("event_id") % 11 == 0, None).otherwise(F.col("value"))
    )
    observed, obs = observed_write_qc(
        ev,
        not_null_cols=["value", "user_id"],
        accepted_values={"event_type": ["click", "view", "purchase"]},
    )
    # ONE action materializes data AND metrics
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))
    got = obs.get
    assert got["n_rows"] == ev.count()
    assert got["null_value"] == check_not_null(ev, "events", "value").violations
    assert got["null_user_id"] == 0
    bad = ev.filter(
        ~F.col("event_type").isin(["click", "view", "purchase"])
        | F.col("event_type").isNull()
    ).count()
    assert got["bad_event_type"] == bad
    assert bad > 0  # fixture has event types outside the allowed list


def _dirty_marts(spark):
    """stg/dim/fact/agg frames that give every reference test a non-zero
    count, including NULL-key groups and NULL child keys."""
    d1, d2 = datetime.date(2025, 10, 13), datetime.date(2025, 10, 14)
    stg = spark.createDataFrame(
        [("A", d1)] * 3  # one key three times
        + [("A", d2)]
        + [(None, d1)] * 2  # duplicated NULL-key rows
        + [("B", None), (None, None)],
        "symbol string, trading_date date",
    )
    dim = spark.createDataFrame([("A",), ("A",), (None,), ("B",)], "symbol string")
    fact = spark.createDataFrame(
        [("A", d1), ("Z", d1), (None, d2), ("B", None)],
        "symbol string, trading_date date",
    )
    agg = spark.createDataFrame(
        [("A", None), (None, d1), ("B", d1)], "symbol string, week_start date"
    )
    return stg, dim, fact, agg


def _standalone(stg, dim, fact, agg):
    return [
        check_not_null(stg, "stg_alphavantage", "symbol"),
        check_not_null(stg, "stg_alphavantage", "trading_date"),
        check_unique(stg, "stg_alphavantage", ["symbol", "trading_date"]),
        check_not_null(dim, "dim_stock", "symbol"),
        check_unique(dim, "dim_stock", ["symbol"]),
        check_not_null(fact, "fact_stock_prices", "symbol"),
        check_not_null(fact, "fact_stock_prices", "trading_date"),
        check_relationships(fact, dim, "fact_stock_prices", "symbol", "symbol"),
        check_not_null(agg, "agg_weekly_prices", "symbol"),
        check_not_null(agg, "agg_weekly_prices", "week_start"),
    ]


def test_reference_suite_matches_standalone_checks(spark):
    """run_reference_suite's one pass per table gives the same ten results,
    in the same order, as the one-action-per-test check_* functions."""
    stg, dim, fact, agg = _dirty_marts(spark)
    want = _standalone(stg, dim, fact, agg)
    assert all(r.violations > 0 for r in want)
    assert [r.violations for r in want] == [3, 2, 2, 1, 1, 1, 1, 2, 1, 1]
    got = run_reference_suite(stg, dim, fact, agg)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g == w

    # clean data: every count zero on both paths
    clean_dim = dim.dropna().dropDuplicates()
    clean = (
        stg.dropna().dropDuplicates(),
        clean_dim,
        fact.dropna().join(clean_dim, "symbol", "left_semi"),
        agg.dropna(),
    )
    want = _standalone(*clean)
    assert all(r.passed for r in want)
    assert run_reference_suite(*clean) == want
