"""The benchmark's workloads: set-up, one operation, and its output check.

A workload runs in passes. A pass is a list of operation kinds: one kind
for the pipelines (one cycle), every pinned query for ``query_mix``. For each
operation ``before`` makes its input (untimed), ``run`` is the timed call
into the program, and ``check`` compares the output with values computed
independently of Spark (untimed).
"""

from __future__ import annotations

import os
import random
import shutil

from landing import Landing
from spans import dir_stats

# Pinned query set for query_mix, with each query's group and the tables it
# scans. ``survey.py`` measured all 43 bench queries at sf0.01 and derived
# the group from the physical plans of every SQL execution a query runs: a
# Python/Arrow evaluation node (ArrowEvalPython, MapInPandas,
# FlatMapGroupsInPandas, ...) puts it in ``python``. The python group is 40%
# of the 43 queries' CPU time, so it gets 2 of the 5 slots, and each group's
# slots go to its largest CPU users (survey and shares in BASELINE.json).
# Pinned by name so a plan change cannot move a query between groups.
QUERIES = {
    "gazetteer_phrase_match": ("relational", ("documents",)),
    "range_frame_7day_revenue": ("relational", ("lineitem",)),
    "t_closeness_check": ("relational", ("customer", "orders")),
    "eval_decontaminate_fuzzy_minhash": ("python", ("documents",)),
    "semdedup_prune": ("python", ("embeddings",)),
}
QUERY_TABLES = sorted({t for _, tables in QUERIES.values() for t in tables})
# The pinned queries' tables are copies of the fixed seed-42 test tables. The
# large scale is measured; the small one is the second point of the
# fixed-cost / per-row fit in traced runs.
LARGE, SMALL = "sf0.01", "sf0.001"
# A query whose input rows at SMALL are more than this share of those at
# LARGE is left out of the fit: its input barely grows between the scales.
MAX_FIT_SHARE = 0.5


def group(name: str) -> str | None:
    """``relational`` or ``python`` for a pinned query, else None."""
    return QUERIES[name][0] if name in QUERIES else None


def fit_shares(data: str) -> dict[str, float]:
    """Input rows at SMALL over input rows at LARGE, from the parquet
    footers, for each pinned query whose input grows between the scales."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    def rows(scale: str, tables) -> int:
        return sum(pq.ParquetFile(os.path.join(data, scale, f"{t}.parquet")).metadata.num_rows
                   for t in tables)

    shares = {n: rows(SMALL, tables) / rows(LARGE, tables)
              for n, (_, tables) in QUERIES.items()}
    return {n: s for n, s in shares.items() if s <= MAX_FIT_SHARE}


def drop_persisted(spark) -> int:
    """Drops the RDDs a query left persisted, and the cache, so the next
    execution computes from the parquet inputs; returns how many were left."""
    left = spark.sparkContext._jsc.getPersistentRDDs()
    n = left.size()
    for rdd in list(left.values()):
        rdd.unpersist(True)
    spark.catalog.clearCache()
    return n


def _data_files(path: str) -> list[str]:
    return [os.path.join(dp, n) for dp, _, names in os.walk(path)
            for n in names if n.endswith(".parquet") and not n.startswith((".", "_"))]


class Pipeline:
    """``pipeline_full_refresh`` (``pipeline.run_pipeline``, the CLI path) or
    ``pipeline_incremental`` (``streaming.pipeline.run_incremental``)."""

    def __init__(self, spark, work: str, seed: int, incremental: bool):
        self.spark, self.work, self.incremental = spark, work, incremental
        self.landing = Landing(seed)
        self.expected = self.landing.expected()
        self.kinds = ["cycle"]
        self.root = ""
        self.layer_inputs: dict = {}

    def _dirs(self):
        return (os.path.join(self.root, "landing"), os.path.join(self.root, "warehouse"),
                os.path.join(self.root, "checkpoint"))

    def _call(self):
        from market_pulse_data_pipeline_spark.pipeline import run_pipeline  # noqa: PLC0415
        from market_pulse_data_pipeline_spark.streaming.pipeline import (  # noqa: PLC0415
            run_incremental,
        )

        landing, warehouse, checkpoint = self._dirs()
        if self.incremental:
            return run_incremental(self.spark, landing, warehouse, checkpoint)
        return run_pipeline(self.spark, landing, warehouse)

    def prepare(self):
        """Land the zone into fresh directories; returns the timed bootstrap
        call (a full build of an empty warehouse)."""
        self.root = os.path.join(self.work, "incremental" if self.incremental else "full")
        shutil.rmtree(self.root, ignore_errors=True)
        landed = self.landing.write(self._dirs()[0])
        self.layer_inputs = {"files": len(self.landing.docs), "bytes": landed}
        return self._call

    def passes(self, rng: random.Random):
        return self.kinds

    def before(self, kind: str) -> None:
        keys = self.landing.deltas(new_keys=self.incremental)
        landed = self.landing.write(self._dirs()[0], keys)
        self.expected = self.landing.expected()
        if self.incremental:
            self.layer_inputs = {"files": len(keys), "bytes": landed}
        else:
            files, size = dir_stats(self._dirs()[0])
            self.layer_inputs = {"files": files, "bytes": size}

    def run(self, kind: str, tracer=None):
        return self._call()

    def check(self, kind: str, out) -> list[str]:
        """QC all green, and the tables on disk hold the generator's row
        counts and weekly checksum. Reads parquet footers and one small
        table with pyarrow, so checking adds no Spark work."""
        import pyarrow.compute as pc  # noqa: PLC0415
        import pyarrow.parquet as pq  # noqa: PLC0415

        _, qc = out
        problems = [f"qc {r.test} {r.table}.{','.join(r.columns)}: {r.violations}"
                    for r in qc if not r.passed]
        warehouse = self._dirs()[1]
        for name, want in self.expected["counts"].items():
            got = sum(pq.ParquetFile(f).metadata.num_rows
                      for f in _data_files(os.path.join(warehouse, name)))
            if got != want:
                problems.append(f"{name}: {got} rows, expected {want}")
        weekly = pq.read_table(os.path.join(warehouse, "agg_weekly_prices"),
                               columns=["avg_close", "avg_percent_change"])
        got = sum(pc.sum(weekly[c]).as_py() or 0.0 for c in weekly.column_names)
        want = self.expected["weekly_checksum"]
        if abs(got - want) > 1e-9 * abs(want) + 1e-6:
            problems.append(f"agg_weekly_prices checksum {got!r}, expected {want!r}")
        return problems

    def after(self, kind: str, out) -> dict:
        """Per-operation facts the layer metrics need (untimed)."""
        warehouse = self._dirs()[1]
        stored = sum(dir_stats(os.path.join(warehouse, t))[1]
                     for t in os.listdir(warehouse) if "__" not in t)
        return {"landing_files": self.layer_inputs["files"],
                "landing_bytes": self.layer_inputs["bytes"],
                "stored_bytes": stored,
                "bronze_json_bytes": self.expected["bronze_json_bytes"],
                "staged_rows": self.expected["counts"]["stg_alphavantage"]}


class QueryMix:
    """``query_mix``: the pinned registry queries, each executed to the
    ``noop`` sink. The seed permutes their order in every pass."""

    def __init__(self, spark, data: str):
        from market_pulse_data_pipeline_spark.queries import all_queries  # noqa: PLC0415

        self.spark, self.data = spark, data
        registry = all_queries()
        self.queries = {n: registry[n] for n in QUERIES}
        self.kinds = sorted(QUERIES)
        self.scale = LARGE
        self.oracle_rows: dict[str, dict[str, int]] = {}

    def _oracle(self, scale: str) -> dict[str, int]:
        """Row count of every query's DuckDB oracle on the same tables,
        computed once per scale."""
        import duckdb  # noqa: PLC0415

        if scale not in self.oracle_rows:
            con = duckdb.connect()
            for t in QUERY_TABLES:
                path = os.path.join(self.data, scale, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self.oracle_rows[scale] = {
                n: len(con.execute(q.oracle).fetchall()) for n, q in self.queries.items()
            }
            con.close()
        return self.oracle_rows[scale]

    def prepare(self):
        """Returns the timed bootstrap: one cold pass over every query."""
        def warm():
            for n in self.kinds:
                self._execute(n)
                self.after(n, None)
        return warm

    def passes(self, rng: random.Random):
        kinds = list(self.kinds)
        rng.shuffle(kinds)
        return kinds

    def before(self, kind: str) -> None:
        pass

    def _execute(self, name: str, tracer=None):
        from contextlib import nullcontext  # noqa: PLC0415

        from pyspark.sql import Observation  # noqa: PLC0415
        from pyspark.sql import functions as F  # noqa: PLC0415

        span = tracer.span if tracer else (lambda *a, **k: nullcontext())
        sf_dir = os.path.join(self.data, self.scale)
        with span("queries.build"):
            df = self.queries[name].spark(self.spark, sf_dir)
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        with span("queries.execute"):
            df.write.mode("overwrite").format("noop").save()
        return obs

    def run(self, kind: str, tracer=None):
        return self._execute(kind, tracer)

    def check(self, kind: str, obs) -> list[str]:
        got = obs.get["rows"]
        want = self._oracle(self.scale)[kind]
        return [] if got == want else [f"{kind}: {got} rows, DuckDB oracle {want}"]

    def after(self, kind: str, out) -> dict:
        return {"persisted_rdds_left": drop_persisted(self.spark)}


def make(name: str, spark, work: str, seed: int, data: str):
    if name == "query_mix":
        return QueryMix(spark, data)
    if name in ("pipeline_full_refresh", "pipeline_incremental"):
        return Pipeline(spark, work, seed, incremental=name == "pipeline_incremental")
    raise ValueError(f"unknown workload {name!r}")
