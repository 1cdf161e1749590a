"""Two-phase distributed prefix sum.

A running total over a GLOBAL order (`SUM(x) OVER (ORDER BY k)`) plans
as a single-partition window in Spark — every row funnels through one
task, the classic scale cliff of cumulative metrics (sweep-line
concurrency, cumulative revenue, equity curves).

`partitioned_prefix_sum` is the textbook fix: range-partition on the
order key (range partition i holds keys strictly below partition i+1,
in ascending partition-id order — the property the offset phase relies
on), compute per-partition local cumulative sums in parallel, collect
only the per-partition TOTALS (bounded by the partition count, never
rows), turn them into exclusive carry-in offsets on the driver, and
broadcast-add them back. Wall-clock is two parallel passes + an
O(partitions) driver step instead of one serial pass over all rows.

Exactness: summands are cast to decimal before any accumulation, so
local sums, partition totals, and offsets are all order-independent
and the result is bit-identical to the single-window form (pinned by
tests/test_prefix_sum.py and the `prefix_sum_two_phase` oracle row).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.sources.tables import local_frame


def partitioned_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value: Column,
    out_col: str = "running_total",
    n_ranges: int = 8,
    scale: int = 6,
) -> DataFrame:
    """Global running (inclusive) sum of ``value`` over the total order
    given by ``order_cols``, computed without a single-partition window.

    ``order_cols`` must be a unique key (ties would make any running
    sum order-ambiguous). ``value`` is cast to DECIMAL(38, scale) so
    every phase is exact and order-independent.
    """
    dec = f"decimal(38,{scale})"
    ranged = df.repartitionByRange(n_ranges, *[F.col(c) for c in order_cols])
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())
    local_w = (
        Window.partitionBy("_pid")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = with_pid.withColumn(
        "_local", F.sum(value.cast(dec)).over(local_w)
    )
    # pin the range assignment: RangePartitioner samples boundaries per
    # job, so without materialization the totals job and the final join
    # could disagree on which partition a boundary row belongs to
    local = local.localCheckpoint()
    # bounded collect: one row per range partition, never per data row
    totals = (
        local.groupBy("_pid")
        .agg(F.sum(value.cast(dec)).alias("_total"))
        .collect()
    )
    running = None
    offsets = []
    for row in sorted(totals, key=lambda r: r["_pid"]):
        offsets.append((row["_pid"], running))
        running = (
            row["_total"]
            if running is None
            else running + (row["_total"] or 0)
        )
    spark = df.sparkSession
    offset_df = local_frame(
        spark,
        [(pid, None if off is None else str(off)) for pid, off in offsets],
        "_pid int, _offset string",
    ).select("_pid", F.col("_offset").cast(dec).alias("_offset"))
    return (
        local.join(F.broadcast(offset_df), "_pid")
        .withColumn(
            out_col,
            (
                F.coalesce(F.col("_offset"), F.lit(0).cast(dec))
                + F.col("_local")
            ).cast(dec),
        )
        .drop("_pid", "_local", "_offset")
    )
