"""2-D skyline (Pareto frontier) as a two-phase range-partitioned scan.

Dominance (minimize ``cost``, maximize ``gain``): q dominates p iff
q.cost <= p.cost AND q.gain >= p.gain AND strictly better on at least
one. The definitional formulation is a quadratic NOT EXISTS self-join;
the scan form is O(n log n): order by cost, a point survives iff its
gain strictly exceeds the running MAX gain over all STRICTLY-cheaper
points (RANGE frame excludes cost ties) and it carries the max gain
within its own cost tie-group — equal (cost, gain) duplicates are
mutually non-dominating and all survive.

Scale (VERDICT r11 item 3): the scan EXECUTES two-phase — the same
shape as functions/prefix.py::partitioned_prefix_sum, with MAX as the
associative operator. Range-partition on cost (equal costs co-locate:
the range partitioner maps each key to exactly one partition, and
partition i's keys are all strictly below partition i+1's), run the
strictly-cheaper running-max LOCALLY per range in parallel, collect
only the per-range MAX(gain) totals (bounded by the range count,
never rows), fold them into exclusive carry-in maxima on the driver,
and broadcast them back. No single-partition window anywhere in the
plan; MAX is idempotent and order-independent, so the result is
exactly the serial form's — pinned by the brute-force property test
(tests/test_determinism_properties.py) and the skyline_pareto_parts
oracle row (hash vs the quadratic NOT EXISTS definition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from market_pulse_data_pipeline_spark.sources.tables import local_frame

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _nan_aware_gt(a, b) -> bool:
    """Spark's comparison ordering for the driver-side carry fold: Spark
    treats NaN as larger than any other floating-point value (both in
    ``F.max`` and in ``>`` predicates), while Python's ``>`` makes NaN
    incomparable (always False). The fold must mirror the executor-side
    ordering or a NaN gain in an earlier range would fail to propagate
    into later ranges' carry-in and dominated points could survive."""
    a_nan = isinstance(a, float) and a != a
    b_nan = isinstance(b, float) and b != b
    if a_nan:
        return not b_nan
    if b_nan:
        return False
    return a > b


def skyline_2d(
    df: DataFrame, cost_col: str, gain_col: str, n_ranges: int = 8
) -> DataFrame:
    """Rows of ``df`` on the Pareto frontier (min cost, max gain),
    computed without a single-partition window (two-phase scan, see
    module docstring).

    ``cost_col`` MUST be an integral type: the strictly-cheaper frame is
    ``RANGE BETWEEN UNBOUNDED PRECEDING AND -1``, whose -1 offset means
    "cost - 1" — exactly the strictly-cheaper set only when costs are
    integers. A fractional cost in (cost-1, cost) would be silently
    excluded and dominated points would survive. Callers with
    double/decimal costs must pre-scale to integer units (cents,
    micro-units) — as every call site in queries/ does.
    """
    cost_type = df.schema[cost_col].dataType
    if not isinstance(cost_type, _INTEGRAL):
        raise TypeError(
            f"skyline_2d requires an integral cost column; {cost_col} is "
            f"{cost_type.simpleString()}. Pre-scale to integer units "
            "(e.g. cents) before calling."
        )
    gain_type = df.schema[gain_col].dataType
    ranged = df.repartitionByRange(n_ranges, F.col(cost_col))
    with_pid = ranged.withColumn("_sk_pid", F.spark_partition_id())
    # pin the range assignment: RangePartitioner samples boundaries per
    # job, so without materialization the totals job and the final scan
    # could disagree on which range a boundary cost belongs to
    with_pid = with_pid.localCheckpoint()
    # phase 1, in parallel per range: running max over STRICTLY-cheaper
    # local rows (earlier ranges hold strictly smaller costs, later
    # ranges strictly larger — handled by the carry-in), plus the
    # tie-group max. Equal costs co-locate in one range, so the tie
    # window partitions by (_sk_pid, cost) and rides the SAME exchange
    # as the local scan (HashPartitioning(_sk_pid) satisfies clustering
    # on the superset keys) — one shuffle serves both windows.
    local_cheaper = (
        Window.partitionBy("_sk_pid")
        .orderBy(cost_col)
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    tie = Window.partitionBy("_sk_pid", cost_col)
    scanned = with_pid.withColumn(
        "_sk_local", F.max(gain_col).over(local_cheaper)
    ).withColumn("_sk_tie", F.max(gain_col).over(tie))
    # phase 2: per-range MAX(gain) totals — bounded collect, one row
    # per range partition, never per data row
    totals = (
        with_pid.groupBy("_sk_pid")
        .agg(F.max(gain_col).alias("_sk_mx"))
        .collect()
    )
    carry = None
    offsets = []
    for row in sorted(totals, key=lambda r: r["_sk_pid"]):
        offsets.append((row["_sk_pid"], carry))
        m = row["_sk_mx"]
        if m is not None and (carry is None or _nan_aware_gt(m, carry)):
            carry = m
    spark = df.sparkSession
    # carry values round-trip as typed rows in the gain column's actual
    # DataType — collect() already yielded Python values of that type,
    # so no string formatting/parsing is involved and non-numeric
    # orderable gains (timestamps, decimals) carry over exactly
    offset_schema = T.StructType(
        [
            T.StructField("_sk_pid", T.IntegerType(), False),
            T.StructField("_sk_carry", gain_type, True),
        ]
    )
    offset_df = local_frame(spark, offsets, offset_schema)
    # greatest() skips NULLs: exactly the null-aware max of the local
    # strictly-cheaper running max and the earlier-ranges carry-in
    return (
        scanned.join(F.broadcast(offset_df), "_sk_pid")
        .withColumn(
            "_sk_cheaper", F.greatest(F.col("_sk_local"), F.col("_sk_carry"))
        )
        .filter(
            (
                F.col("_sk_cheaper").isNull()
                | (F.col(gain_col) > F.col("_sk_cheaper"))
            )
            & (F.col(gain_col) == F.col("_sk_tie"))
        )
        .drop("_sk_pid", "_sk_local", "_sk_carry", "_sk_cheaper", "_sk_tie")
    )


def largest_remainder(
    df: DataFrame, key_col: str, count_col: str, total: int
) -> DataFrame:
    """Integer quotas per key, proportional to ``count_col``, summing
    EXACTLY to ``total`` (largest-remainder apportionment; remainder
    ties broken by key ascending). Pure integer arithmetic end to end.

    Degenerate cases: an empty ``df`` returns no rows; when
    SUM(count_col) is 0 (all-zero counts) proportionality is undefined,
    so the budget is split EVENLY — base = total DIV n_keys with the
    first total % n_keys keys (ascending) taking one extra unit — which
    preserves the exact-sum contract for any total (integer DIV/% by
    the zero sum would otherwise yield NULL and silently break it).
    ``count_col`` is re-aliased internally, so arbitrary column names
    (including ones needing quoting) are safe — no name is interpolated
    into SQL text.
    """
    if not isinstance(total, int) or total < 0:
        raise ValueError(f"total must be a non-negative int, got {total!r}")
    tot = df.agg(
        F.sum(count_col).cast("long").alias("_n"),
        F.count(F.lit(1)).cast("long").alias("_nk"),
    )
    base = (
        df.select(key_col, F.col(count_col).alias("_cnt"))
        .crossJoin(F.broadcast(tot))
        .select(
            key_col,
            F.col("_cnt").alias(count_col),
            # conditional, NOT coalesce-over-division: under ANSI mode
            # (the session default) DIV/% by the zero sum THROW rather
            # than yield NULL, so the degenerate branch must be taken
            # before the division is evaluated. total is a validated
            # int literal, _cnt/_n/_nk internal aliases — nothing
            # user-supplied reaches the SQL text.
            F.when(F.col("_n") == 0, F.expr(f"{total} DIV _nk"))
            .otherwise(F.expr(f"({total} * _cnt) DIV _n"))
            .alias("_base"),
            F.when(F.col("_n") == 0, F.lit(0))
            .otherwise(F.lit(total) * F.col("_cnt") % F.col("_n"))
            .alias("_rem"),
        )
    )
    short = base.agg(
        (F.lit(total) - F.sum("_base").cast("long")).alias("_k")
    )
    rn = F.row_number().over(Window.orderBy(F.col("_rem").desc(), key_col))
    return (
        base.withColumn("_rn", rn)
        .crossJoin(F.broadcast(short))
        .select(
            key_col,
            count_col,
            (F.col("_base") + F.when(F.col("_rn") <= F.col("_k"), 1).otherwise(0))
            .cast("long")
            .alias("quota"),
        )
    )
