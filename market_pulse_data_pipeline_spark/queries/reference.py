"""Reference-operator queries over the driver fixture tables.

Every SURVEY.md §2 operator re-expressed on the TPC-H-ish tables
(FIXTURES.md §B mapping): OHLCV role → lineitem/orders, dim enrichment →
orders⟕customer, DISTINCT+CASE → nation, flatten → events.props JSON and
document word explode, keyed upsert → orders delta, merge-keep-latest →
events dedup, QC → not_null/unique/anti-join counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.functions.scalars import week_start
from market_pulse_data_pipeline_spark.sources.tables import local_frame
from market_pulse_data_pipeline_spark.operators.merge import (
    merge_last_write_wins,
    upsert_by_key,
)
from market_pulse_data_pipeline_spark.queries.common import (
    register,
    round_avg,
    sql_round_avg,
    t,
)

# --- flagship: A2/A3 weekly rollup (agg_weekly_prices analog) ----------------


@register(
    "weekly_rollup",
    f"""
    SELECT l_suppkey AS supp_key,
           CAST(date_trunc('week', l_shipdate) AS DATE) AS week_start,
           {sql_round_avg('l_extendedprice', 4, 4)} AS avg_price,
           {sql_round_avg('l_discount', 4, 6)} AS avg_discount,
           COUNT(*) AS n_items
    FROM lineitem
    GROUP BY 1, 2
    """,
    bench=True,
    doc="A2/A3 — GROUP BY symbol-key + Monday week_start, AVG×2 "
    "(agg_weekly_prices.sql:3-9)",
)
def weekly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out_by,
    )

    # fan_out_by on the group key: the single-split fixture scan
    # otherwise runs the whole partial aggregate on one core, and the
    # suppkey exchange doubles as the groupBy's required distribution
    # (ONE Exchange in the plan). No-op on a many-split corpus.
    li = fan_out_by(t(spark, sf_dir, "lineitem"), "l_suppkey")
    return li.groupBy(
        F.col("l_suppkey").alias("supp_key"),
        week_start(F.col("l_shipdate")).alias("week_start"),
    ).agg(
        round_avg(F.col("l_extendedprice"), 4, 4).alias("avg_price"),
        round_avg(F.col("l_discount"), 4, 6).alias("avg_discount"),
        F.count(F.lit(1)).alias("n_items"),
    )


# --- P1/P2/P3: JSON path extraction + cast -----------------------------------


@register(
    "json_path_extract",
    """
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value
    FROM events
    """,
    doc="P1/P2/P3 — semi-structured path projection + cast "
    "(stg_alphavantage.sql:6,13-18 analog over events.props)",
)
def json_path_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("k_value"),
    )


# --- A1: flatten (explode) ----------------------------------------------------


@register(
    "explode_words",
    """
    SELECT lang, word, COUNT(*) AS cnt
    FROM (SELECT lang, UNNEST(string_split(text, ' ')) AS word FROM documents) u
    GROUP BY lang, word
    """,
    bench=True,
    doc="A1 — LATERAL FLATTEN ≈ explode of a collection "
    "(stg_alphavantage.sql:19-20), over document tokens",
)
def explode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return (
        docs.select("lang", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# --- J4 + P5 + P6: DISTINCT + CASE chains (dim_stock analog) ------------------

_TIER_NATIONS = ["NATION_0", "NATION_1", "NATION_2", "NATION_3", "NATION_4"]
_MID_NATIONS = ["NATION_5", "NATION_6", "NATION_7"]

_DIM_CASE_SQL = """
    SELECT DISTINCT n_name,
      CASE WHEN n_name = 'NATION_0' THEN 'Alpha Holdings'
           WHEN n_name = 'NATION_1' THEN 'Beta Industries'
           WHEN n_name = 'NATION_2' THEN 'Gamma Group'
           WHEN n_name = 'NATION_3' THEN 'Delta Partners'
           WHEN n_name = 'NATION_4' THEN 'Epsilon Corp'
           ELSE 'Unknown Company' END AS company_name,
      CASE WHEN n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3','NATION_4') THEN 'Tier 1'
           WHEN n_name IN ('NATION_5','NATION_6','NATION_7') THEN 'Tier 2'
           ELSE 'Other' END AS tier
    FROM nation
"""

_COMPANY_CASES = [
    ("NATION_0", "Alpha Holdings"),
    ("NATION_1", "Beta Industries"),
    ("NATION_2", "Gamma Group"),
    ("NATION_3", "Delta Partners"),
    ("NATION_4", "Epsilon Corp"),
]


@register(
    "dim_case_mapping",
    _DIM_CASE_SQL,
    doc="J4+P5+P6 — SELECT DISTINCT seed + CASE-WHEN chain + CASE-IN lists "
    "(dim_stock.sql:3-30)",
)
def dim_case_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = t(spark, sf_dir, "nation")
    name = F.lit("Unknown Company")
    for key, label in reversed(_COMPANY_CASES):
        name = F.when(F.col("n_name") == key, label).otherwise(name)
    tier = (
        F.when(F.col("n_name").isin(_TIER_NATIONS), "Tier 1")
        .when(F.col("n_name").isin(_MID_NATIONS), "Tier 2")
        .otherwise("Other")
    )
    return nation.select("n_name").distinct().select(
        "n_name", name.alias("company_name"), tier.alias("tier")
    )


# --- J1: LEFT broadcast-join enrichment ---------------------------------------


@register(
    "left_join_enrich",
    """
    SELECT o_orderkey, o_totalprice, o_orderdate, c_name, c_mktsegment
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    """,
    bench=True,
    doc="J1 — LEFT equi-join fact←dim (fact_stock_prices.sql:22-24); "
    "broadcast-hash left-outer at any fact scale",
)
def left_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    return orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey, "left"
    ).select("o_orderkey", "o_totalprice", "o_orderdate", "c_name", "c_mktsegment")


# --- P7/P8/P9: arithmetic + ROUND + NULLIF ------------------------------------


@register(
    "derived_metrics",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS net_price,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                - CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS spread,
           l_tax / NULLIF(l_discount, 0.0) AS tax_over_discount
    FROM lineitem
    """,
    doc="P7/P8/P9 — daily_change / percent_change metric shape "
    "(fact_stock_prices.sql:20-21): arithmetic, ROUND(x,2), NULLIF guard. "
    "ROUND runs on exact decimals (both engines round half-away-from-zero "
    "on decimals; double-path ROUND diverges at representation boundaries); "
    "the NULLIF quotient stays an unrounded double — identical IEEE division "
    "on both sides.",
)
def derived_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    price_d = F.col("l_extendedprice").cast("decimal(18,2)")
    disc_d = F.col("l_discount").cast("decimal(18,2)")
    qty_d = F.col("l_quantity").cast("decimal(18,2)")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(price_d * (F.lit(1) - disc_d), 2).cast("double").alias("net_price"),
        (price_d - qty_d).cast("double").alias("spread"),
        (F.col("l_tax") / F.nullif(F.col("l_discount"), F.lit(0.0))).alias(
            "tax_over_discount"
        ),
    )


# --- J4: DISTINCT -------------------------------------------------------------


@register(
    "distinct_keys",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    doc="J4 — SELECT DISTINCT (dim_stock.sql:3-6)",
)
def distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


# --- J2: keyed upsert ----------------------------------------------------------


@register(
    "keyed_upsert",
    """
    WITH delta AS (
      SELECT o_orderkey,
             CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2))
                        * CAST(1.1 AS DECIMAL(3,1)), 2) AS DOUBLE)
               AS o_totalprice,
             'U' AS o_orderstatus
      FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
    )
    SELECT o_orderkey, o_totalprice, o_orderstatus FROM delta
    UNION ALL
    SELECT o.o_orderkey, o.o_totalprice, o.o_orderstatus
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.o_orderkey = o.o_orderkey)
    """,
    doc="J2 — MERGE WHEN MATCHED UPDATE / NOT MATCHED INSERT "
    "(minio_to_snowflake.py:66-75) as anti-join + union",
)
def keyed_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    delta = orders.filter(F.col("o_orderdate") >= "2000-01-01").select(
        "o_orderkey",
        F.round(
            F.col("o_totalprice").cast("decimal(18,2)")
            * F.expr("CAST(1.1 AS DECIMAL(3,1))"),
            2,
        )
        .cast("double")
        .alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
    )
    return upsert_by_key(base, delta, "o_orderkey")


# --- J3: last-write-wins dedup --------------------------------------------------


@register(
    "dedup_keep_latest",
    """
    SELECT event_id, user_id, event_type, ts_us, value FROM (
      SELECT event_id, user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value,
             ROW_NUMBER() OVER (
        PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
      FROM events e) x
    WHERE rn = 1
    """,
    bench=True,
    doc="J3 — per-key last-write-wins (get_stock.py:88-97): newest row per "
    "(user_id, event_type), deterministic tie-break. ts emitted as epoch "
    "micros so compared bytes are independent of timestamp rendering.",
)
def dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            "value",
        )
    )


# --- J3 (operator form): merge_last_write_wins across two batches ---------------


@register(
    "incremental_merge",
    """
    WITH old_batch AS (
      SELECT user_id, event_type, value FROM events WHERE event_id % 2 = 0
    ), new_batch AS (
      SELECT user_id, event_type, ROUND(value * 2.0, 2) AS value
      FROM events WHERE event_id % 10 = 0
    ), keyed_new AS (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY value DESC) AS rn
      FROM new_batch
    ), keyed_old AS (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY value DESC) AS rn
      FROM old_batch
    )
    SELECT user_id, event_type, value FROM keyed_new WHERE rn = 1
    UNION ALL
    SELECT o.user_id, o.event_type, o.value FROM keyed_old o
    WHERE o.rn = 1
      AND NOT EXISTS (SELECT 1 FROM new_batch n
                      WHERE n.user_id = o.user_id AND n.event_type = o.event_type)
    """,
    doc="J3 — two-batch last-write-wins merge (get_stock.py:84-105): new "
    "batch overwrites same-key rows, old keys retained",
)
def incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    old = ev.filter(F.col("event_id") % 2 == 0).select("user_id", "event_type", "value")
    new = ev.filter(F.col("event_id") % 10 == 0).select(
        "user_id", "event_type", F.round(F.col("value") * 2.0, 2).alias("value")
    )
    # deterministic within-batch dedup first (highest value wins), then LWW
    w = Window.partitionBy("user_id", "event_type").orderBy(F.col("value").desc())
    old1 = old.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    new1 = new.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    return merge_last_write_wins(old1, new1, ["user_id", "event_type"])


# --- Q1/Q2/Q4: data-quality counts ----------------------------------------------


@register(
    "qc_not_null_violations",
    "SELECT COUNT(*) AS violations FROM orders WHERE o_custkey IS NULL",
    doc="Q1 — dbt not_null as a violation count (staging/schema.yml:17)",
)
def qc_not_null_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNull())
        .agg(F.count(F.lit(1)).alias("violations"))
    )


@register(
    "qc_unique_violations",
    """
    SELECT COUNT(*) AS dup_groups FROM (
      SELECT l_orderkey, l_linenumber FROM lineitem
      GROUP BY 1, 2 HAVING COUNT(*) > 1) d
    """,
    doc="Q2 — dbt unique on a composite key (§2.7-c corrected form)",
)
def qc_unique_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .agg(F.count(F.lit(1)).alias("dup_groups"))
    )


@register(
    "map_explode_props",
    """
    SELECT event_id, 'k' AS map_key,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS map_value
    FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
    """,
    doc="A1 exact form — MapType explode (Snowflake LATERAL FLATTEN of an "
    "object): from_json to MAP<STRING,INT> then explode into (key, value) "
    "rows (stg_alphavantage.sql:19-20)",
)
def map_explode_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T  # noqa: PLC0415

    ev = t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id",
        F.from_json("props", T.MapType(T.StringType(), T.IntegerType())).alias("m"),
    )
    return parsed.select(
        "event_id", F.explode("m").alias("map_key", "map_value")
    ).filter(F.col("map_value").isNotNull())


@register(
    "variant_path_extract",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_variant
    FROM events
    """,
    doc="P1 on a true VARIANT column (Spark 4 VariantType): parse_json + "
    "variant_get path access — the engine-native form of Snowflake "
    "DATA:path (minio_to_snowflake.py:45)",
)
def variant_path_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.try_variant_get(F.parse_json("props"), "$.k", "int").alias("k_variant"),
    )


@register(
    "qc_anti_join_orphans",
    """
    SELECT COUNT(*) AS orphan_count FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    """,
    doc="Q4/J5 — dbt relationships FK test as a left-anti join "
    "(marts/schema.yml:22-24)",
)
def qc_anti_join_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    return (
        li.join(orders.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_count"))
    )


@register(
    "qc_accepted_values_violations",
    """
    SELECT COUNT(*) AS violation_count FROM events
    WHERE event_type IS NOT NULL
      AND event_type NOT IN ('click', 'view', 'purchase', 'signup')
    """,
    doc="dbt accepted_values schema test (the fourth standard dbt test; "
    "not declared by the reference's schema.yml but part of the dbt "
    "quartet a user's project ports) — rows outside the accepted domain; "
    "NULLs are not counted (that is not_null's job). The 'error' type is "
    "deliberately excluded so the check exercises a non-zero count.",
)
def qc_accepted_values_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.operators.qc import check_accepted_values  # noqa: PLC0415

    ev = t(spark, sf_dir, "events")
    res = check_accepted_values(
        ev, "events", "event_type", ["click", "view", "purchase", "signup"]
    )
    return local_frame(spark, [(res.violations,)], "violation_count bigint")


@register(
    "argmin_unit_price_supplier",
    """
    WITH unit AS (
      SELECT l_partkey, l_suppkey,
             l_extendedprice / NULLIF(l_quantity, 0) AS unit_price
      FROM lineitem WHERE l_quantity > 0
    ), mins AS (
      SELECT l_partkey, MIN(unit_price) AS min_price
      FROM unit GROUP BY l_partkey
    )
    SELECT u.l_partkey, u.l_suppkey,
           CAST(ROUND(CAST(m.min_price AS DECIMAL(28,10)), 6) AS DOUBLE)
             AS min_unit_price
    FROM unit u JOIN mins m
      ON u.l_partkey = m.l_partkey AND u.unit_price = m.min_price
    """,
    doc="argmin-per-group via aggregate + join-back (the cheapest "
    "supplier for every part): two-phase min then an equality join on "
    "the raw double (identical IEEE division and MIN on both engines) — "
    "the no-window-shuffle alternative to ranking when only the extreme "
    "row is wanted; ties all kept, deterministically. At scale both "
    "sides hash-partition on l_partkey (AQE picks the join side).",
)
def argmin_unit_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    unit = li.select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.nullif(F.col("l_quantity"), F.lit(0.0))).alias(
            "unit_price"
        ),
    )
    mins = unit.groupBy("l_partkey").agg(F.min("unit_price").alias("min_price"))
    return (
        unit.alias("u")
        .join(
            mins.alias("m"),
            (F.col("u.l_partkey") == F.col("m.l_partkey"))
            & (F.col("u.unit_price") == F.col("m.min_price")),
        )
        .select(
            F.col("u.l_partkey").alias("l_partkey"),
            F.col("u.l_suppkey").alias("l_suppkey"),
            F.round(F.col("m.min_price").cast("decimal(28,10)"), 6)
            .cast("double")
            .alias("min_unit_price"),
        )
    )


def _sql_multiplicity(relation: str, left_sql: str, right_sql: str) -> str:
    """One audit row: per-side key multiplicities + join-size estimate."""
    return f"""
      SELECT '{relation}' AS relation,
             (SELECT CAST(SUM(lc) AS BIGINT) FROM ({left_sql}) l) AS left_rows,
             (SELECT CAST(SUM(rc) AS BIGINT) FROM ({right_sql}) r) AS right_rows,
             COUNT(*) AS n_shared_keys,
             MAX(lc) AS max_left_per_key,
             MAX(rc) AS max_right_per_key,
             CAST(SUM(CASE WHEN lc > 1 AND rc > 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_mn_keys,
             CAST(SUM(lc * rc) AS BIGINT) AS est_join_rows,
             CASE WHEN MAX(lc) = 1 AND MAX(rc) = 1 THEN '1:1'
                  WHEN MAX(rc) = 1 THEN 'M:1'
                  WHEN MAX(lc) = 1 THEN '1:M'
                  ELSE 'M:N' END AS rel_class
      FROM ({left_sql}) l JOIN ({right_sql}) r USING (k)
    """


_MULT_PAIRS_SQL = [
    (
        "lineitem->orders",
        "SELECT l_orderkey AS k, COUNT(*) AS lc FROM lineitem GROUP BY 1",
        "SELECT o_orderkey AS k, COUNT(*) AS rc FROM orders GROUP BY 1",
    ),
    (
        "orders->customer",
        "SELECT o_custkey AS k, COUNT(*) AS lc FROM orders GROUP BY 1",
        "SELECT c_custkey AS k, COUNT(*) AS rc FROM customer GROUP BY 1",
    ),
    (
        "lineitem<->lineitem.partkey",
        "SELECT l_partkey AS k, COUNT(*) AS lc FROM lineitem GROUP BY 1",
        "SELECT l_partkey AS k, COUNT(*) AS rc FROM lineitem GROUP BY 1",
    ),
]


@register(
    "qc_join_multiplicity",
    " UNION ALL ".join(
        _sql_multiplicity(rel, ls, rs) for rel, ls, rs in _MULT_PAIRS_SQL
    ),
    doc="pre-join cardinality audit — the QC gate that catches row "
    "explosions BEFORE a join runs: for each declared relationship, "
    "per-side key multiplicities (max rows per key), the count of "
    "keys that are many-on-both-sides, the exact expected join size "
    "SUM(lc*rc), and the inferred relationship class. The dbt-style "
    "tests (qc_unique/relationships, operators/qc.py) assert declared "
    "shapes; this measures the actual shape, so an upstream dedup bug "
    "surfaces as M:1 flipping to M:N with an est_join_rows blowup "
    "instead of as a mysterious 100× shuffle at execution time. The "
    "third audited pair (lineitem self-joined on partkey) is a real "
    "M:N witness with its quadratic-in-multiplicity size estimate "
    "computed WITHOUT materializing the join. Scale shape: each side "
    "collapses to per-key counts first (partial+final aggregate), so "
    "the audit join carries one row per KEY, never per row — "
    "strictly cheaper than the join it predicts; all SUMs cast "
    "BIGINT on the oracle side (the DuckDB HUGEINT rule).",
)
def qc_join_multiplicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")

    def counts(df: DataFrame, key: str, out: str) -> DataFrame:
        return df.groupBy(F.col(key).alias("k")).agg(
            F.count(F.lit(1)).alias(out)
        )

    def audit(relation: str, left: DataFrame, right: DataFrame) -> DataFrame:
        # ONE full-outer pass per relation: the per-side totals ride the
        # same aggregate as the shared-key stats (SUM skips the nulls
        # the outer join introduces), so neither count-side is
        # recomputed for its total — the three-aggregate form scanned
        # each base table twice (12 scans for 3 relations; now 6).
        joined = left.join(right, "k", "full_outer")
        both = F.col("lc").isNotNull() & F.col("rc").isNotNull()
        return (
            joined.agg(
                F.sum("lc").cast("long").alias("left_rows"),
                F.sum("rc").cast("long").alias("right_rows"),
                F.count(F.when(both, F.lit(1))).alias("n_shared_keys"),
                F.max(F.when(both, F.col("lc"))).alias("max_left_per_key"),
                F.max(F.when(both, F.col("rc"))).alias("max_right_per_key"),
                F.sum(
                    F.when(
                        both & (F.col("lc") > 1) & (F.col("rc") > 1), 1
                    ).otherwise(0)
                )
                .cast("long")
                .alias("n_mn_keys"),
                F.sum(F.when(both, F.col("lc") * F.col("rc")))
                .cast("long")
                .alias("est_join_rows"),
            )
            .select(
                F.lit(relation).alias("relation"),
                "left_rows",
                "right_rows",
                "n_shared_keys",
                "max_left_per_key",
                "max_right_per_key",
                "n_mn_keys",
                "est_join_rows",
                F.when(
                    (F.col("max_left_per_key") == 1)
                    & (F.col("max_right_per_key") == 1),
                    "1:1",
                )
                .when(F.col("max_right_per_key") == 1, "M:1")
                .when(F.col("max_left_per_key") == 1, "1:M")
                .otherwise("M:N")
                .alias("rel_class"),
            )
        )

    a1 = audit(
        "lineitem->orders",
        counts(li, "l_orderkey", "lc"),
        counts(orders, "o_orderkey", "rc"),
    )
    a2 = audit(
        "orders->customer",
        counts(orders, "o_custkey", "lc"),
        counts(cust, "c_custkey", "rc"),
    )
    a3 = audit(
        "lineitem<->lineitem.partkey",
        counts(li, "l_partkey", "lc"),
        counts(li, "l_partkey", "rc"),
    )
    return a1.unionByName(a2).unionByName(a3)
