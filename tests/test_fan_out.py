"""Behavior pins for functions.dedup.fan_out — the round-10 scan
finding made it load-bearing across the doc-filter, MinHash, k-means,
and staged families, and VERDICT r9 flagged its private-API partition
probe as a watch item: these pins make any Spark-upgrade breakage of
the probe (or an accidental change to the no-op contract) loud."""

from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.functions.dedup import (
    _probe_partitions,
    fan_out,
)


def test_fan_out_widens_a_narrow_input(spark):
    # 4M longs -> a ~32 MB optimizer size estimate, far past the
    # per-partition size floor at any realistic core count, so the
    # fan-out reaches the full parallelism target
    target = spark.sparkContext.defaultParallelism
    n = 4_000_000
    narrow = spark.range(n).coalesce(1)
    assert narrow.rdd.getNumPartitions() == 1
    wide = fan_out(narrow)
    assert wide.rdd.getNumPartitions() == target
    # same rows, nothing lost or duplicated
    assert wide.count() == n
    assert wide.agg(F.sum("id")).first()[0] == (n - 1) * n // 2


def test_fan_out_caps_target_by_input_size(spark):
    # r17 (VERDICT r16 item 4): a tiny input must NOT spread to the
    # full parallelism — per-partition Arrow/task fixed costs would
    # exceed its compute. Target = ceil(size / chunk), floor 1.
    from market_pulse_data_pipeline_spark.functions import dedup as d

    narrow = spark.range(1000).coalesce(1)  # ~8 KB estimate
    est = d._plan_size_bytes(narrow)
    assert est is not None and 0 < est < d._FAN_CHUNK_BYTES
    out = fan_out(narrow)
    # size floor says 1 partition; input already has 1 -> untouched
    assert out is narrow


def test_fan_out_keeps_full_target_without_a_size_estimate(
    spark, monkeypatch
):
    # degrade-gracefully contract: if the size probe fails (Connect,
    # Spark upgrade), fan_out keeps the pre-r17 full-parallelism
    # target rather than silently disabling the spread
    import market_pulse_data_pipeline_spark.functions.dedup as d

    monkeypatch.setattr(d, "_plan_size_bytes", lambda df: None)
    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    wide = d.fan_out(narrow)
    assert wide.rdd.getNumPartitions() == target


def test_fan_out_is_a_noop_on_a_wide_input(spark):
    target = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(target + 4)
    out = fan_out(wide)
    # the contract the 100 TB story rests on: an already-wide input
    # (a real many-split scan) gets NO extra exchange — fan_out must
    # return the input untouched, not re-shuffle it
    assert out is wide


def test_fan_out_partition_probe_matches_public_api(spark):
    # the fast JVM-side probe (df._jdf.rdd().getNumPartitions()) must
    # agree with the public df.rdd path it falls back to — a Spark
    # upgrade that changes the private surface fails here, loudly,
    # instead of silently disabling the fan-out
    df = spark.range(100).coalesce(2)
    assert df._jdf.rdd().getNumPartitions() == df.rdd.getNumPartitions()
    # the shim is the repo's ONLY _jdf partition probe (VERDICT r10
    # item 5) and must agree with both
    assert _probe_partitions(df) == 2


def test_fan_out_degrades_to_noop_without_a_probe(spark, monkeypatch):
    # Connect-style sessions have no RDD API: both probe paths raise.
    # fan_out must then return the input UNTOUCHED — a missing probe
    # can never add an exchange (ADVICE r10).
    import market_pulse_data_pipeline_spark.functions.dedup as d

    monkeypatch.setattr(d, "_probe_partitions", lambda df: None)
    narrow = spark.range(100).coalesce(1)
    assert d.fan_out(narrow) is narrow


def test_fan_out_by_widens_on_the_key(spark):
    from market_pulse_data_pipeline_spark.functions.dedup import fan_out_by

    target = spark.sparkContext.defaultParallelism
    n = 4_000_000  # past the size floor (see test_fan_out_widens_...)
    narrow = (
        spark.range(n).withColumn("k", F.col("id") % 997).coalesce(1)
    )
    wide = fan_out_by(narrow, "k")
    assert wide.rdd.getNumPartitions() == target
    # hash partitioning: same rows, nothing lost or duplicated
    assert wide.count() == n
    assert wide.agg(F.sum("id")).first()[0] == (n - 1) * n // 2
    # co-location contract (what lets the downstream groupBy/window
    # reuse the exchange): all rows of one key land in one partition
    per_part = wide.select(
        F.spark_partition_id().alias("p"), "k"
    ).distinct().groupBy("k").count()
    assert per_part.agg(F.max("count")).first()[0] == 1


def test_fan_out_by_is_a_noop_on_a_wide_input(spark):
    from market_pulse_data_pipeline_spark.functions.dedup import fan_out_by

    target = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(target + 4)
    assert fan_out_by(wide, "id") is wide


def test_fan_out_by_degrades_to_noop_without_a_probe(spark, monkeypatch):
    import market_pulse_data_pipeline_spark.functions.dedup as d

    monkeypatch.setattr(d, "_probe_partitions", lambda df: None)
    narrow = spark.range(100).coalesce(1)
    assert d.fan_out_by(narrow, "id") is narrow


def test_fan_in_narrows_a_small_over_partitioned_input(spark):
    from market_pulse_data_pipeline_spark.functions.dedup import fan_in

    wide = spark.range(1000).repartition(8)  # ~8 KB estimate
    narrow = fan_in(wide)
    assert narrow.rdd.getNumPartitions() == 1
    assert sorted(narrow.collect()) == sorted(wide.collect())


def test_fan_in_is_a_noop_on_a_large_input(spark):
    import market_pulse_data_pipeline_spark.functions.dedup as d

    # 4M longs -> ~32 MB estimate: more chunks than partitions
    wide = spark.range(4_000_000).repartition(4)
    assert d._plan_size_bytes(wide) > 4 * d._ARROW_TASK_BYTES
    assert d.fan_in(wide) is wide


def test_fan_in_degrades_to_noop_without_a_probe(spark, monkeypatch):
    import market_pulse_data_pipeline_spark.functions.dedup as d

    wide = spark.range(100).repartition(4)
    with monkeypatch.context() as m:
        m.setattr(d, "_probe_partitions", lambda df: None)
        assert d.fan_in(wide) is wide
    with monkeypatch.context() as m:
        m.setattr(d, "_plan_size_bytes", lambda df: None)
        assert d.fan_in(wide) is wide


def test_fan_in_adds_no_exchange(spark):
    from market_pulse_data_pipeline_spark.functions.dedup import fan_in

    def exchanges(df):
        return df._jdf.queryExecution().executedPlan().toString().count(
            "Exchange"
        )

    wide = spark.range(1000).repartition(8).selectExpr("id * 2 AS v")
    narrow = fan_in(wide)
    assert narrow is not wide
    assert exchanges(narrow) == exchanges(wide) == 1
