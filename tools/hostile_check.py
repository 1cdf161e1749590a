"""Driver-environment robustness sweep: run every registered query in a
BARE SparkSession (none of the repo's session confs) with a non-UTC
process timezone, and compare against the DuckDB oracles.

Why this exists: the driver harness builds its own SparkSession and the
round-1 `sessionization` hash mismatch was exactly an environment
sensitivity — raw-precision timestamps rendered differently under the
harness's session/timezone state than under the repo's pinned confs.
Any query whose compared bytes depend on timestamp rendering, parquet
reader mode, or session timezone FAILS here even though
tools/check_oracle.py (repo session) passes. Run after adding any query
that touches `ts` columns.

Usage:
    python tools/hostile_check.py [--sf DIR] [--only name1,name2]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# hostile: non-UTC process tz (set before any JVM/duckdb start; --chaos
# swaps in a half-hour-offset zone, the nastier rendering case).
# UNCONDITIONAL on purpose (round-5 ADVICE): with setdefault, a caller
# environment exporting TZ=UTC would silently neuter the sweep's
# non-UTC rendering hostility while still printing success.
os.environ["TZ"] = "America/New_York"
time.tzset()

import duckdb

from market_pulse_data_pipeline_spark.schemas import TESTDATA_TABLES
from tools.check_oracle import frame_fingerprint


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument(
        "--chaos",
        action="store_true",
        help=(
            "attack PARALLELISM instead of just session state: 5 cores, "
            "7 shuffle partitions (prime, != any input split count), "
            "1 MB input splits (every sf0.01 parquet shreds into many "
            "tasks), and 512-row Arrow batches (every mapInPandas / "
            "pandas_udf path sees MANY partial batches instead of one). "
            "Any query whose bytes depend on fold order, partial-agg "
            "grouping, per-batch state, or partition count fails here "
            "even though the layout-friendly default sweep passes."
        ),
    )
    args = ap.parse_args()

    if args.chaos:
        # half-hour-offset zone: the rendering case integer-offset zones
        # never exercise. Set before the JVM exists so it sticks.
        os.environ["TZ"] = "Asia/Kolkata"
        time.tzset()

    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    # deliberately bare: no nanosAsLong, no UTC session tz, no AQE tuning
    builder = (
        SparkSession.builder.master(
            "local[5]" if args.chaos else "local[16]"
        )
        .appName("hostile-check")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "12g")
    )
    if args.chaos:
        builder = (
            builder.config("spark.sql.shuffle.partitions", "7")
            .config("spark.sql.files.maxPartitionBytes", "1m")
            .config("spark.sql.files.openCostInBytes", "0")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
            .config("spark.default.parallelism", "5")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    # visibility guard (round-5 ADVICE): a sweep that somehow resolved
    # to UTC exercises none of the rendering hostility this tool was
    # built for — fail loudly rather than print a neutered "all green".
    eff_tz = time.tzname
    print(f"effective process TZ: {os.environ['TZ']} (tzname={eff_tz})")
    if "UTC" in eff_tz or "GMT" in eff_tz:
        print("FATAL: hostile sweep is running in UTC — non-UTC "
              "rendering hostility is not being exercised")
        return 2

    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{args.sf}/{name}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, args.sf)
            s_fp = frame_fingerprint(sdf.columns, [tuple(r) for r in sdf.collect()])
            if name not in oracles:
                print(f"  {name:36s} rows={s_fp[0]} (no oracle)")
                if s_fp[0] == 0:
                    failures.append((name, "0 rows"))
                continue
            cur = con.execute(oracles[name])
            cols = [d[0] for d in cur.description]
            o_fp = frame_fingerprint(cols, cur.fetchall())
            ok = s_fp == o_fp
            print(f"  {name:36s} {'OK ' if ok else 'FAIL'} rows={s_fp[0]}")
            if not ok:
                failures.append((name, f"spark={s_fp} oracle={o_fp}"))
        except Exception as e:  # noqa: BLE001 - report and continue
            print(f"  {name:36s} ERROR {type(e).__name__}: {str(e)[:160]}")
            failures.append((name, str(e)[:160]))

    print()
    if failures:
        print(f"{len(failures)} HOSTILE-ENV FAILURE(S):")
        for name, why in failures:
            print(f"  {name}: {why[:300]}")
        return 1
    print("all queries environment-robust")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
