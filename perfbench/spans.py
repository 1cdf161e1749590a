"""Spans around calls into the program's layers, with Spark counts per span.

The program is traced from outside: ``install`` replaces module attributes of
the package (``pipeline.load_bronze``, the ``atomic_overwrite_parquet`` names
that ``pipeline``, ``streaming.ingest`` and ``plans.runner`` imported, the
``operators.qc`` checks, ...) with wrappers that open a span, and ``restore``
puts the originals back. The benchmark opens the query spans itself.

Each span sets its own Spark job group, so the jobs it submits are found
afterwards through ``StatusTracker.getJobIdsForGroup``. Jobs a streaming
query runs on its own thread carry the query's ``runId`` as their group; the
ingest span claims that group too. Stage metrics (executor time, shuffle,
spill) come from the application status store and Python-worker metrics
from the SQL status store; both are read once, when the run ends, after the
listener bus has drained. Spans stay in memory until then.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager

JOB_GROUP = "spark.jobGroup.id"
_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_METRICS = {
    "time to run Python workers": "worker_s",
    "data sent to Python workers": "arrow_sent_b",
    "data returned from Python workers": "arrow_returned_b",
}


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping Spark's marker files."""
    files = size = 0
    for dp, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dp, n))
    return files, size


def _metric_total(text: str) -> float | None:
    """The total of a formatted SQL metric: 'total (min, med, max ...)\\n4.7 s (...)'."""
    m = re.search(r"\n\s*([\d.]+)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)\b", text)
    if not m:
        return None
    value, unit = float(m.group(1)), m.group(2)
    return value * (_SIZE.get(unit) or _TIME[unit])


class Tracer:
    """Span recorder for one run. ``op`` is the id of the operation being
    measured; spans opened outside an operation (set-up) carry ``None``."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op: int | None = None
        self._saved: list[tuple[object, str, object]] = []

    def begin(self, name: str, **attrs) -> dict:
        """Open a span; its jobs run under its own job group until ``end``."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op,
               "parent": self.stack[-1] if self.stack else None,
               "groups": [f"perfbench-span-{sid}"], "attrs": attrs,
               "prev_group": self.sc.getLocalProperty(JOB_GROUP)}
        self.spans.append(rec)
        self.stack.append(sid)
        self.sc.setLocalProperty(JOB_GROUP, rec["groups"][0])
        rec["start"] = time.perf_counter()
        return rec

    def end(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        self.sc.setLocalProperty(JOB_GROUP, rec["prev_group"])
        self.stack.pop()

    @contextmanager
    def span(self, name: str, **attrs):
        rec = self.begin(name, **attrs)
        try:
            yield rec
        finally:
            self.end(rec)

    # --- wrappers around the program's public functions --------------------

    def _patch(self, module, attr: str, wrapper) -> None:
        self._saved.append((module, attr, getattr(module, attr)))
        setattr(module, attr, wrapper)

    def restore(self) -> None:
        while self._saved:
            module, attr, orig = self._saved.pop()
            setattr(module, attr, orig)

    def install(self) -> None:
        from market_pulse_data_pipeline_spark import pipeline  # noqa: PLC0415
        from market_pulse_data_pipeline_spark.operators import qc  # noqa: PLC0415
        from market_pulse_data_pipeline_spark.plans import runner  # noqa: PLC0415
        from market_pulse_data_pipeline_spark.streaming import ingest  # noqa: PLC0415
        from market_pulse_data_pipeline_spark.streaming import (  # noqa: PLC0415
            pipeline as spipeline,
        )

        tracer = self

        def timed(name, fn):
            def wrapper(*args, **kwargs):
                with tracer.span(name):
                    return fn(*args, **kwargs)
            return wrapper

        def bronze_write(fn):
            def wrapper(df, path, partition_by=None):
                with tracer.span("operators.merge.bronze_write") as rec:
                    fn(df, path, partition_by)
                rec["files"], rec["bytes"] = dir_stats(path)
            return wrapper

        def model_write(fn):
            def wrapper(df, path, partition_by=None):
                name = f"plans.runner.model.{os.path.basename(path)}"
                with tracer.span(name) as rec:
                    fn(df, path, partition_by)
                rec["files"], rec["bytes"] = dir_stats(path)
            return wrapper

        def stream_start(fn):
            # the span runs from the stream's start until awaitTermination
            # returns, so it covers every micro-batch
            def wrapper(*args, **kwargs):
                rec = tracer.begin("streaming.ingest")
                try:
                    query = fn(*args, **kwargs)
                except BaseException:
                    tracer.end(rec)
                    raise
                rec["groups"].append(str(query.runId))
                return _TracedQuery(query, tracer, rec)
            return wrapper

        self._patch(pipeline, "load_bronze", timed("pipeline.load_bronze", pipeline.load_bronze))
        self._patch(pipeline, "atomic_overwrite_parquet",
                    bronze_write(pipeline.atomic_overwrite_parquet))
        self._patch(ingest, "atomic_overwrite_parquet",
                    bronze_write(ingest.atomic_overwrite_parquet))
        self._patch(runner, "atomic_overwrite_parquet",
                    model_write(runner.atomic_overwrite_parquet))
        self._patch(runner.ModelRunner, "run", timed("plans.runner", runner.ModelRunner.run))
        self._patch(spipeline, "stream_landing_to_bronze",
                    stream_start(spipeline.stream_landing_to_bronze))
        for module in (pipeline, spipeline):
            self._patch(module, "run_reference_suite",
                        timed("operators.qc", module.run_reference_suite))
        for check in ("check_not_null", "check_unique", "check_relationships"):
            self._patch(qc, check, timed(f"operators.qc.{check}", getattr(qc, check)))

    # --- Spark counts, read once at the end --------------------------------

    def collect(self) -> None:
        """Attach jobs, stages, tasks and executor metrics to every span
        (self counts: a job belongs to the span whose group submitted it)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        seen_stages: set[int] = set()
        job_span: dict[int, dict] = {}
        for rec in self.spans:
            jobs = sorted(j for g in rec["groups"] for j in tracker.getJobIdsForGroup(g))
            c = dict.fromkeys(("jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
                               "executor_cpu_s", "shuffle_write_b", "spill_b", "input_b"), 0)
            c["jobs"] = len(jobs)
            for j in jobs:
                job_span[j] = rec
                info = tracker.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    if sid in seen_stages:
                        continue
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 — skipped stages have no attempt
                        continue
                    if sd.status().toString() not in ("COMPLETE", "FAILED"):
                        continue
                    seen_stages.add(sid)
                    c["stages"] += 1
                    c["tasks"] += sd.numTasks()
                    c["failed_tasks"] += sd.numFailedTasks()
                    c["executor_run_s"] += sd.executorRunTime() / 1e3
                    c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    c["shuffle_write_b"] += sd.shuffleWriteBytes()
                    c["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    c["input_b"] += sd.inputBytes()
            rec["spark"] = c
        self._collect_python(job_span)

    def _collect_python(self, job_span: dict[int, dict]) -> None:
        """Python-worker time and Arrow bytes from the SQL executions, each
        credited to the span that ran its first job."""
        jvm = self.spark._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        for rec in self.spans:
            rec["python"] = dict.fromkeys(_PY_METRICS.values(), 0.0)
        for ex in conv.asJava(sql_store.executionsList()):
            jobs = sorted(conv.asJava(ex.jobs()).keySet())
            owners = [job_span[j] for j in jobs if j in job_span]
            if not owners:
                continue
            wanted = {}
            for m in conv.asJava(ex.metrics()):
                if m.name() in _PY_METRICS:
                    wanted[m.accumulatorId()] = _PY_METRICS[m.name()]
            if not wanted:
                continue
            values = sql_store.executionMetrics(ex.executionId())
            for acc, key in wanted.items():
                v = values.get(acc)
                total = _metric_total(v.get()) if v.isDefined() else None
                if total is not None:
                    owners[0]["python"][key] += total

    def dump(self) -> list[dict]:
        """Spans with duration and self time (duration minus the children's)."""
        child_s: dict[int, float] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                child_s[rec["parent"]] = child_s.get(rec["parent"], 0.0) + rec["end"] - rec["start"]
        out = []
        for rec in self.spans:
            d = dict(rec)
            d["s"] = rec["end"] - rec["start"]
            d["self_s"] = d["s"] - child_s.get(rec["id"], 0.0)
            out.append(d)
        return out


class _TracedQuery:
    """A StreamingQuery whose ``awaitTermination`` closes the ingest span
    and records the query's progress: batches with input, and the input rows
    the source reported (a batch plan that is executed twice counts twice)."""

    def __init__(self, query, tracer: Tracer, rec: dict):
        self._query, self._tracer, self._rec = query, tracer, rec

    def awaitTermination(self, timeout=None):  # noqa: N802 — StreamingQuery API
        try:
            return self._query.awaitTermination(timeout)
        finally:
            progress = self._query.recentProgress
            self._rec["batches"] = sum(1 for p in progress if p.get("numInputRows", 0) > 0)
            self._rec["input_rows"] = sum(p.get("numInputRows", 0) for p in progress)
            self._tracer.end(self._rec)

    def __getattr__(self, name):
        return getattr(self._query, name)
