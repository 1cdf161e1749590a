"""Data-quality checks — the reference's dbt schema tests (SURVEY.md §2.5).

Each check returns a violation count; results are collected
report-style (failures collected, not thrown), mirroring ``dbt test``.
The standalone ``check_*`` functions run one action per test;
``run_reference_suite`` computes the same counts with one aggregate
action per table.

Q2 note (SURVEY §2.7-c): the reference declares ``unique`` on
``stg.trading_date`` alone, which necessarily fails with ≥2 symbols. The
intent is uniqueness of (symbol, trading_date); we implement the
composite-key version and record the deviation here.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class QCResult:
    test: str
    table: str
    columns: tuple[str, ...]
    violations: int

    @property
    def passed(self) -> bool:
        return self.violations == 0


def check_not_null(df: DataFrame, table: str, column: str) -> QCResult:
    """Q1/Q3 — dbt not_null (schema.yml)."""
    n = df.filter(F.col(column).isNull()).count()
    return QCResult("not_null", table, (column,), n)


def check_unique(df: DataFrame, table: str, columns: list[str]) -> QCResult:
    """Q2 — dbt unique, generalized to composite keys (§2.7-c fix).
    Violations = number of duplicated key groups."""
    n = (
        df.groupBy(*columns)
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .count()
    )
    return QCResult("unique", table, tuple(columns), n)


def check_accepted_values(
    df: DataFrame, table: str, column: str, values: list
) -> QCResult:
    """dbt's fourth standard schema test, ``accepted_values`` — not used
    by the reference's schema.yml but part of the standard dbt quartet
    (not_null/unique/relationships/accepted_values); included so a dbt
    user's full test surface ports. Violations = rows whose value is
    neither NULL nor in the accepted list (dbt counts NULLs via
    not_null, not here)."""
    n = df.filter(
        F.col(column).isNotNull() & ~F.col(column).isin(values)
    ).count()
    return QCResult("accepted_values", table, (column,), n)


def check_relationships(
    child: DataFrame, parent: DataFrame, table: str, column: str, parent_column: str
) -> QCResult:
    """Q4 — dbt relationships (FK): child keys absent from parent.
    A left-anti join that broadcasts the (small, distinct) parent keys."""
    orphans = child.select(F.col(column).alias("_k")).join(
        F.broadcast(parent.select(F.col(parent_column).alias("_k")).distinct()),
        on="_k",
        how="left_anti",
    )
    return QCResult("relationships", table, (column,), orphans.count())


def _nulls(column: str, weight: Column | None = None) -> Column:
    """Rows whose ``column`` is NULL; over a frame of per-key counts, pass
    the count column as ``weight`` to get the rows those keys stand for."""
    w = F.lit(1) if weight is None else weight
    return F.coalesce(F.sum(F.when(F.col(column).isNull(), w)), F.lit(0))


def _key_suite(df: DataFrame, table: str, key: list[str]) -> list[QCResult]:
    """``not_null`` on each key column and ``unique(key)``, from one
    per-key count. NULL keys form their own groups, as in ``check_unique``."""
    per_key = df.groupBy(*key).agg(F.count(F.lit(1)).alias("_c"))
    row = per_key.agg(
        *[_nulls(c, F.col("_c")) for c in key], F.count(F.when(F.col("_c") > 1, 1))
    ).first()
    return [QCResult("not_null", table, (c,), row[i]) for i, c in enumerate(key)] + [
        QCResult("unique", table, tuple(key), row[len(key)])
    ]


def _fact_suite(fact: DataFrame, dim: DataFrame) -> list[QCResult]:
    """``not_null`` on the fact's key plus ``relationships(symbol → dim)``,
    from one left join against the broadcast distinct dim keys. A NULL
    child key never matches, so it counts as an orphan, as in
    ``check_relationships``."""
    keys = F.broadcast(dim.select(F.col("symbol").alias("_k")).distinct())
    row = (
        fact.join(keys, F.col("symbol") == F.col("_k"), "left")
        .agg(_nulls("symbol"), _nulls("trading_date"), _nulls("_k"))
        .first()
    )
    table = "fact_stock_prices"
    return [
        QCResult("not_null", table, ("symbol",), row[0]),
        QCResult("not_null", table, ("trading_date",), row[1]),
        QCResult("relationships", table, ("symbol",), row[2]),
    ]


def run_reference_suite(
    stg: DataFrame, dim: DataFrame, fact: DataFrame, agg: DataFrame
) -> list[QCResult]:
    """The reference's seven declared tests (staging/schema.yml:11-27,
    marts/schema.yml:3-50), with the composite-key correction, as ten
    results in declaration order.

    One aggregate action per table instead of one per test: the results
    equal those of the standalone ``check_*`` functions, which stay the
    reference."""
    # declared as unique(trading_date); corrected to composite (§2.7-c)
    results = _key_suite(stg, "stg_alphavantage", ["symbol", "trading_date"])
    results += _key_suite(dim, "dim_stock", ["symbol"])
    results += _fact_suite(fact, dim)
    row = agg.agg(_nulls("symbol"), _nulls("week_start")).first()
    results += [
        QCResult("not_null", "agg_weekly_prices", ("symbol",), row[0]),
        QCResult("not_null", "agg_weekly_prices", ("week_start",), row[1]),
    ]
    return results


def observed_write_qc(
    df: DataFrame,
    not_null_cols: list[str],
    accepted_values: dict[str, list] | None = None,
):
    """Single-pass QC: attach violation counters to ``df`` via Spark's
    Observation API, so the SAME action that materializes the frame
    (write, count, collect) also returns the QC report — no second scan.

    The standalone check_* functions above each cost one extra pass per
    test (the dbt model: run, then test), and ``run_reference_suite``
    still costs one pass per table after the write. At 100 TB that
    doubles-or-worse the read cost; observe() accumulates metrics inside
    the running job (an AggregatingAccumulator on the executors), which
    is how a production pipeline should emit its not_null /
    accepted_values counters. ``unique`` is the exception — it needs its own
    aggregation (a per-key count cannot ride an accumulator) — so it
    stays a separate check by design.

    Returns (observed_df, observation). After ANY action on
    observed_df, ``observation.get`` is a dict with ``n_rows`` plus one
    ``null_<col>`` / ``bad_<col>`` count per declared check.
    """
    from pyspark.sql import Observation  # noqa: PLC0415

    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in not_null_cols:
        metrics.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                f"null_{c}"
            )
        )
    for c, allowed in (accepted_values or {}).items():
        metrics.append(
            F.sum(
                F.when(~F.col(c).isin(allowed) | F.col(c).isNull(), 1)
                .otherwise(0)
            ).alias(f"bad_{c}")
        )
    obs = Observation()
    return df.observe(obs, *metrics), obs
