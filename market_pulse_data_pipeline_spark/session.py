"""SparkSession factory.

Defaults follow the 100 TB design brief: AQE on (runtime coalesce +
skew-join handling), Arrow enabled for the Pandas-UDF paths, UTC session
time zone so date_trunc/week semantics match the DuckDB oracle, and
shuffle partitions sized to the local core count (on a real cluster this
is overridden to ~2-3x total executor cores; AQE coalesces down).

Python workers start from ``worker_daemon``, which imports pyspark off
Spark's archives, and find the package by name through the executor
``PYTHONPATH``: a driver runs from any working directory, and an
executor needs the package at the same path or installed.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from market_pulse_data_pipeline_spark import worker_daemon

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Entries in the JVM's cache of compiled whole-stage and expression
# classes (``spark.sql.codegen.cache.maxEntries``, Spark's default 100).
# One cold pass compiles ~190 distinct classes for perfbench's
# query_mix, ~740 for the 43 bench queries and 3,666 (sf0.001) or 3,706
# (sf0.01) for the whole registry; with 100 entries every warm pass
# recompiled nearly all of them with Janino. This is the smallest power
# of two above the registry's working set. The conf is static and
# ``CodeGenerator``'s cache is JVM-wide and sized when first used, so it
# is set in the builder: a session the driver builds itself keeps
# Spark's default.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "market-pulse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
    )
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/mp-spark-warehouse"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # some fixture parquets carry TIMESTAMP(NANOS); read as long and
        # convert at the source layer (sources.tables handles it)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.python.daemon.module", worker_daemon.__name__)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes the JVM has compiled from generated code so far; a
    generated class found in the codegen cache adds nothing."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
