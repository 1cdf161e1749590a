"""dbt-like topological model runner (reference lifecycle §3.3).

The reference's dbt project does no relational optimization — it renders
SQL and runs models in ref-graph order (RAW → stg → dim → fact → agg,
each ``CREATE TABLE AS``, full rebuild). Here each model is a pure
DataFrame→DataFrame transform; Catalyst plans each one; materialization
is an atomic parquet overwrite (full-rebuild semantics, §2.7-d, which
makes every run trivially idempotent).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession

from market_pulse_data_pipeline_spark.operators.merge import (
    atomic_overwrite_parquet,
    commit_pointer_swap,
)


@dataclass
class Model:
    name: str
    deps: list[str]
    build: Callable[..., DataFrame]  # receives dep DataFrames in deps order
    materialize: bool = True
    # catalog schema when materializing as managed tables — mirrors the
    # reference's dbt schema split: staging models → `staging`, marts →
    # `analytics` (dbt_project.yml:4-10)
    schema: str = "analytics"


@dataclass
class ModelRunner:
    spark: SparkSession
    warehouse_dir: str
    models: dict[str, Model] = field(default_factory=dict)
    # "rename" = atomic_overwrite_parquet (local FS, sandbox default);
    # "pointer" = commit_pointer_swap (object-store-safe: immutable
    # version prefixes + atomic pointer flip; readers never see a torn
    # OR missing table). See SCALING.md "Materialization".
    commit_protocol: str = "rename"

    def add(self, model: Model) -> None:
        self.models[model.name] = model

    def table_path(self, name: str) -> str:
        return os.path.join(self.warehouse_dir, name)

    def run(
        self, sources: dict[str, DataFrame], to_catalog: bool = False
    ) -> dict[str, DataFrame]:
        """Build every model in topological order; returns name → DataFrame
        (re-read from storage when materialized, so downstream models scan
        columnar storage instead of recomputing lineage).

        ``to_catalog=True`` materializes as managed catalog tables
        (``CREATE DATABASE IF NOT EXISTS`` + ``saveAsTable``, i.e. the
        reference's warehouse-DDL + dbt CTAS path, S6/S7); otherwise
        atomic parquet overwrite under ``warehouse_dir``.
        """
        graph = {name: set(m.deps) for name, m in self.models.items()}
        built: dict[str, DataFrame] = dict(sources)
        for name in TopologicalSorter(graph).static_order():
            if name in built:  # a source, not a model
                continue
            model = self.models[name]
            df = model.build(*[built[d] for d in model.deps])
            if model.materialize and to_catalog:
                fq = f"{model.schema}.{name}"
                self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {model.schema}")
                self.spark.sql(f"DROP TABLE IF EXISTS {fq}")
                # an in-memory catalog forgets managed tables across
                # sessions while their warehouse locations persist; clear
                # any orphaned location so saveAsTable is CREATE OR REPLACE
                wh = self.spark.conf.get("spark.sql.warehouse.dir", "")
                if wh.startswith(("file:", "/")):
                    import shutil  # noqa: PLC0415

                    loc = os.path.join(
                        wh.removeprefix("file:"), f"{model.schema}.db", name
                    )
                    shutil.rmtree(loc, ignore_errors=True)
                df.write.mode("overwrite").saveAsTable(fq)
                df = self.spark.table(fq)
            elif model.materialize and self.commit_protocol == "pointer":
                path = self.table_path(name)
                data_path = commit_pointer_swap(df, path)
                df = self.spark.read.schema(df.schema).parquet(data_path)
            elif model.materialize:
                path = self.table_path(name)
                atomic_overwrite_parquet(df, path)
                # explicit schema: skips inference (a listing+footer pass)
                # and keeps an EMPTY materialization readable — a write
                # of 0 rows leaves no schema-bearing part files
                df = self.spark.read.schema(df.schema).parquet(path)
            built[name] = df
        return built
