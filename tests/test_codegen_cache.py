"""Generated code compiles once per session.

``session.get_spark`` sizes the JVM's cache of compiled classes to
``CODEGEN_CACHE_ENTRIES``. With Spark's default of 100 entries, a
working set larger than the cache is evicted before it comes round
again, and every repeat of the same queries recompiles with Janino.

The rounds run with adaptive execution off: AQE re-plans a stage from
the runtime statistics it has when the stage's inputs finish, which
can differ between two runs of one query, and each new plan compiles
a few new classes (4-6 on some warm passes of these queries with AQE
on, none in ten with it off). That is plan variance, not eviction.
"""

from market_pulse_data_pipeline_spark.queries import all_queries
from market_pulse_data_pipeline_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    codegen_compiles,
)

SPARK_DEFAULT_ENTRIES = 100
# perfbench's query_mix: each group's largest CPU users among the 43
# bench queries (3 relational, 2 Python/Arrow)
QUERIES = (
    "gazetteer_phrase_match",
    "range_frame_7day_revenue",
    "t_closeness_check",
    "eval_decontaminate_fuzzy_minhash",
    "semdedup_prune",
)


def _round(spark, sf_dir) -> int:
    """Classes compiled by one run of QUERIES to the noop sink."""
    registry = all_queries()
    spark.catalog.clearCache()
    before = codegen_compiles(spark)
    for name in QUERIES:
        registry[name].spark(spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
    return codegen_compiles(spark) - before


def test_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_second_round_compiles_nothing(spark, sf_dir):
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        first = _round(spark, sf_dir)
        second = _round(spark, sf_dir)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    # the working set outgrows Spark's default cache ...
    assert first > SPARK_DEFAULT_ENTRIES
    # ... and fits this one
    assert second == 0
