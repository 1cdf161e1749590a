"""Headline benchmark — runs the bench-flagged queries from the registry
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints TWO JSON lines: the noise-evidence
detail first, then the compact summary LAST (the line the driver's
tail capture parses — kept small so it always fits; see the inline
note at the print site).

Each query is fully materialized via the noop sink (forces every column
to be computed without driver-side collect overhead).

The JSON is self-evidencing against ambient host load (VERDICT r13
item 4 — a noisy round must be distinguishable from a regression from
the artifact alone):

- ``queries``: the settled number per query — min over 3 interleaved
  passes (interference only ever ADDS time, so the minimum estimates
  achievable latency; the timeit argument).
- ``samples``: all 3 raw per-pass timings per query, so a reader can
  see WHICH pass a spike landed on (uniform pass-wide inflation =
  host noise; a single query slow in all 3 passes = real).
- ``codegen_compiles``: classes compiled from generated code in each
  pass. A warm pass compiles next to none; hundreds mean the codegen
  cache (``session.CODEGEN_CACHE_ENTRIES``) is smaller than the
  queries' working set and every pass paid Janino again.
- ``load_probe_sec``: a fixed single-threaded spin loop timed before
  each pass. The loop does constant work, so probe variance IS the
  ambient-load measurement: if the probes disagree by >10-15% the
  host was contended and cross-round ratios should be read against
  the probe ratio, not taken at face value.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd  # module-level: the warm-up pandas_udf's string
# annotations (PEP 563 via `from __future__ import annotations`) are
# resolved against module globals by pyspark's type-hint inference

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from market_pulse_data_pipeline_spark.queries import all_queries
from market_pulse_data_pipeline_spark.session import codegen_compiles, get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="market-pulse-bench")

    bench_queries = {n: q for n, q in all_queries().items() if q.bench}
    # Warm-up (not measured): JVM codegen + parquet footer caches via a
    # relational query, and the Python worker pool + Arrow serialization
    # via a trivial pandas_udf across all cores — so first-run costs do
    # not land on whichever query happens to execute first.
    warm = bench_queries["weekly_rollup"].spark(spark, sf_dir)
    warm.write.mode("overwrite").format("noop").save()

    from pyspark.sql import functions as F  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    @pandas_udf("double")
    def _warm_py(s: pd.Series) -> pd.Series:
        return s * 1.0

    (
        spark.range(32_000)
        .repartition(32)
        .select(_warm_py(F.col("id").cast("double")).alias("v"))
        .write.mode("overwrite")
        .format("noop")
        .save()
    )

    # Fixed alphabetical order: registry iteration order changes as the
    # driver-witness window rotates; bench timings must not depend on it.
    # Min over 3 INTERLEAVED passes: this host is shared, and
    # interference only ever ADDS time, so the minimum is the unbiased
    # estimator of achievable latency (the timeit argument). The passes
    # are interleaved (run the whole list, then again) rather than
    # back-to-back per query because a single multi-second contention
    # burst otherwise captures ALL runs of whichever sub-second query
    # it lands on — exactly the round-5 left_join_enrich 2.01x
    # artifact, which reproduced at 0.3-0.4 s in every local
    # configuration. Interleaving spaces a query's runs ~30 s apart,
    # so one burst can inflate at most one of its three samples.
    def load_probe() -> float:
        # fixed single-threaded work (driver-side pure Python): the
        # wall time of constant work measures ambient contention.
        t0 = time.time()
        acc = 0
        for i in range(5_000_000):
            acc += i * i & 0xFFFF
        return round(time.time() - t0, 3)

    runs: dict[str, list[float]] = {n: [] for n in bench_queries}
    probes: list[float] = []
    compiles: list[int] = []
    for _ in range(3):
        probes.append(load_probe())
        # Measurement-hygiene fix (round 17, VERDICT r16 item 2,
        # additions-only): clear every cached intermediate between the
        # interleaved passes. Spark's CacheManager matches a freshly
        # re-built plan against blocks a previous pass materialized via
        # .cache() inside a query, so without this, passes 2-3 of any
        # cache-bearing query report a partially WARM minimum (the
        # basket_lift_pairs r15 artifact). Each pass now computes every
        # query from the parquet inputs alone; cache-bearing queries
        # step UP once against r16 numbers — that step is honest.
        spark.catalog.clearCache()
        compiled = codegen_compiles(spark)
        for name in sorted(bench_queries):
            q = bench_queries[name]
            t0 = time.time()
            df = q.spark(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            runs[name].append(round(time.time() - t0, 3))
        compiles.append(codegen_compiles(spark) - compiled)

    timings: dict[str, float] = {}
    total = 0.0
    for name in sorted(bench_queries):
        dt = round(min(runs[name]), 3)
        timings[name] = dt
        total += dt

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # Two lines, detail FIRST, summary LAST. The driver's tail capture
    # parses the LAST stdout line; round 14 proved the per-query
    # `samples` dict (42x3 floats) pushes a single combined line past
    # the capture window, which then starts mid-`samples` and cannot
    # parse (BENCH_r14 "parsed": null — VERDICT r14 item 1). The
    # self-evidencing detail stays machine-readable on its own line;
    # the summary line is a few hundred bytes and always fits the tail.
    # It names the resolved master, the cores Spark scheduled on and the
    # data directory, so a reader can tell which harness produced it.
    print(
        json.dumps(
            {
                "detail": "bench_noise_evidence",
                "samples": {n: runs[n] for n in sorted(runs)},
                "codegen_compiles": compiles,
                "load_probe_sec": probes,
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": "total_bench_seconds",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf else None,
                "sf_dir": sf_dir,
                "master": spark.sparkContext.master,
                "cores": spark.sparkContext.defaultParallelism,
            }
        )
    )


if __name__ == "__main__":
    main()
