"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry in Spark and its ``oracle_sql()`` twin in
DuckDB on the same parquet tables, then compares row count, schema
(column names), and an order-insensitive value hash (columns sorted by
name, rows sorted, values stringified). Exit code 1 on any mismatch.

Usage:
    python tools/check_oracle.py [--sf DIR] [--only name1,name2]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time

import pandas as pd  # module-level: the warm-up pandas_udf's string
# annotations (PEP 563) are resolved against module globals by
# pyspark's type-hint inference (the bench.py discipline)

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from market_pulse_data_pipeline_spark.schemas import TESTDATA_TABLES


def value_repr(v) -> str:
    # The driver's harness canonicalizes through pandas sort_values,
    # which cannot factorize container values — mirror that constraint
    # here so an array-typed output column fails locally first
    # (round-2 lesson: embedding_int8_quantize).
    if isinstance(v, (list, dict, set, bytearray)) or type(v).__name__ == "ndarray":
        raise TypeError(
            "container value in result column (driver-unhashable): "
            + repr(v)[:80]
        )
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return repr(v)
    return str(v)


def dtype_class(dt) -> str:
    """Collapse a pandas/numpy dtype to the class the driver's hash sees.

    int64 vs float64 is the distinction that matters: DuckDB types
    SUM(integer) / windowed SUM(integer) as HUGEINT, which its pandas
    path (`cur.df()`, the driver's canonicalizer input) converts to
    float64 — so the driver hashes `1.0` where Spark supplies int64 `1`
    even though fetchall() returns Python ints and the stringified
    comparison below sees no difference. That blind spot shipped a
    locally-green, driver-red sessionization row in rounds 1-3.
    """
    k = getattr(dt, "kind", "O")
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k in ("M", "m"):
        return "datetime"
    return "object"


def column_class(series) -> str:
    """dtype_class, but resolves object columns by their values.

    Spark DATE values collect as datetime.date objects (pandas dtype
    `object`) while duckdb's `.df()` returns DATE as datetime64 — yet
    date-emitting queries (weekly_rollup, weekly_ohlc, ...) are
    driver-green, so the driver canonicalizes the two representations
    equal. Classify an object column holding date/datetime values as
    "datetime" so only genuine class divergences (int vs float) fail.
    """
    import datetime  # noqa: PLC0415

    cls = dtype_class(series.dtype)
    if cls != "object":
        return cls
    non_null = series.dropna()
    if len(non_null) and isinstance(
        non_null.iloc[0], (datetime.date, datetime.datetime)
    ):
        return "datetime"
    return cls


def dtype_mismatches(spark_pdf, oracle_pdf) -> list:
    """Columns whose pandas dtype class differs between the two engines.

    The Spark frame is built from the collected rows (how the driver
    materializes the Spark result); the oracle frame comes from
    duckdb's `.df()` (how the driver materializes the oracle result).
    Entirely-null columns are skipped: their inferred dtype is an
    artifact of the null representation, not an engine divergence.
    """
    bad = []
    for col in spark_pdf.columns:
        if col not in oracle_pdf.columns:
            continue
        s, o = spark_pdf[col], oracle_pdf[col]
        if s.isna().all() or o.isna().all():
            continue
        sc, oc = column_class(s), column_class(o)
        if sc != oc:
            bad.append((col, sc, oc))
    return bad


def frame_fingerprint(columns, rows) -> tuple[int, tuple, str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = tuple(columns[i] for i in order)
    lines = sorted("\x1f".join(value_repr(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), cols, h


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument(
        "--window",
        action="store_true",
        help="check exactly the first 50 queries() entries — the "
        "driver's CORRECTNESS snapshot",
    )
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from market_pulse_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{args.sf}/{name}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None
    if args.window:
        only = set(list(qs)[:50]) | (only or set())

    # Warm-up (not timed, bench.py's discipline): JVM codegen + parquet
    # footer caches via a relational pass, and the Python worker pool +
    # Arrow path via a trivial pandas_udf — otherwise whichever query
    # runs FIRST absorbs the whole session cold start and its printed
    # time reads several times its true cost (t_closeness_check read
    # 6.9 s at the head of a full gate vs 1.07 s warm).
    try:
        from pyspark.sql import functions as _F  # noqa: PLC0415
        from pyspark.sql.functions import pandas_udf as _pudf  # noqa: PLC0415

        spark.read.parquet(f"{args.sf}/orders.parquet").groupBy(
            "o_orderstatus"
        ).count().write.mode("overwrite").format("noop").save()

        @_pudf("double")
        def _warm_py(s: pd.Series) -> pd.Series:
            return s * 1.0

        (
            spark.range(32_000)
            .repartition(32)
            .select(_warm_py(_F.col("id").cast("double")).alias("v"))
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
    except Exception:
        pass  # warm-up is best-effort; the gate itself must not break

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf)
            srows = sdf.collect()
            s_fp = frame_fingerprint(sdf.columns, [tuple(r) for r in srows])
        except Exception as e:  # mirror the driver: an err is a red row
            print(f"  {name:34s} ERR  {type(e).__name__}: {e}")
            failures.append((name, f"{type(e).__name__}: {e}"))
            continue
        spark_t = time.time() - t0
        if name not in oracles:
            print(f"  {name:34s} rows={s_fp[0]:>8} (rows-only, no oracle) "
                  f"[{spark_t:.1f}s]")
            if s_fp[0] == 0:
                failures.append((name, "rows-only query returned 0 rows"))
            continue
        t0 = time.time()
        cur = con.execute(oracles[name])
        cols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        o_fp = frame_fingerprint(cols, orows)
        # Driver-faithful dtype check: re-run the oracle through duckdb's
        # pandas path and compare dtype classes against a pandas frame
        # built from the collected Spark rows (what the driver hashes).
        bad_dtypes = []
        if s_fp[0] > 0 and o_fp[0] > 0:
            import pandas as pd  # noqa: PLC0415

            spark_pdf = pd.DataFrame(
                [tuple(r) for r in srows], columns=list(sdf.columns)
            )
            oracle_pdf = con.execute(oracles[name]).df()
            bad_dtypes = dtype_mismatches(spark_pdf, oracle_pdf)
        duck_t = time.time() - t0
        ok = s_fp == o_fp and not bad_dtypes
        status = "OK " if ok else "FAIL"
        print(f"  {name:34s} {status} rows={s_fp[0]:>8} hash={s_fp[2]} "
              f"[spark {spark_t:.1f}s, duckdb {duck_t:.1f}s]")
        if not ok:
            if bad_dtypes:
                failures.append((name, f"dtype mismatch: {bad_dtypes}"))
                for col, sc, oc in bad_dtypes:
                    print(
                        f"    dtype: {col!r} spark={sc} oracle={oc} "
                        "(driver pandas path diverges even if values match)"
                    )
                if s_fp == o_fp:
                    continue
            failures.append((name, f"spark={s_fp} oracle={o_fp}"))
            if s_fp[1] != o_fp[1]:
                print(f"    schema: spark={s_fp[1]} oracle={o_fp[1]}")
            elif s_fp[0] != o_fp[0]:
                print(f"    rowcount: spark={s_fp[0]} oracle={o_fp[0]}")
            else:
                s_set = {tuple(r) for r in ([tuple(x) for x in srows])}
                o_set = {tuple(r) for r in orows}
                samp_s = list(s_set - o_set)[:3]
                samp_o = list(o_set - s_set)[:3]
                print(f"    spark-only sample: {samp_s}")
                print(f"    oracle-only sample: {samp_o}")

    print()
    if failures:
        print(f"{len(failures)} FAILURE(S):")
        for name, why in failures:
            print(f"  {name}: {why}")
        return 1
    print(f"all {len([n for n in qs if not only or n in only])} queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
