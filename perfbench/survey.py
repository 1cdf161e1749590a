"""Survey of every ``bench=True`` registry query, from which ``query_mix``
pins its subset.

    python3 perfbench/survey.py --data DIR

``DIR`` holds the test tables as ``<table>.parquet``. One session runs every
bench query to the ``noop`` sink, in alphabetical order, ``PASSES`` times;
the first pass is cold and left out of the medians. For each query it
records the median wall seconds, the median CPU seconds (this process, the
JVM and its Python workers, less the JVM's JIT compilation, as ``run.py``
counts them) and the median JIT seconds, and, from the physical plans of every SQL execution the query ran
(eager ones inside ``q.spark`` included), the tables it scanned and its
Python/Arrow evaluation nodes. A query with such a node is in group
``python``, the others in ``relational``.

``pick`` shares ``PICK`` slots between the two groups in proportion to
their CPU time, and fills each group's slots with its largest CPU
contributors. The last line of output is the survey as JSON; it is also
written to ``.bench_build/perfbench/survey.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from run import ROOT, _environment, _jit_s, _stop, _tree_cpu_s  # noqa: E402
from workloads import drop_persisted  # noqa: E402

PASSES = 4
# query_mix's size: each run pays a cold pass and three measured passes over
# the pinned queries, so with more of them a run on a slow host would take
# well over a minute
PICK = 5

# a physical-plan operator that runs Python code: ArrowEvalPython,
# BatchEvalPython, MapInPandas, FlatMapGroupsInPandas, MapInArrow, ...
_PY_NODE = re.compile(r"^[\s:+\-*()\d]*([A-Z]\w*(?:Python|InPandas|InArrow)\w*)", re.M)
_SCAN = re.compile(r"/(\w+)\.parquet\b")


def _plans_since(spark, first: int) -> tuple[list[str], int]:
    """Physical plan descriptions of the SQL executions the status store
    holds from position ``first`` on, and the position after the last."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()
    count = store.executionsCount()
    if count == first:
        return [], count
    new = conv.asJava(store.executionsList(first, count - first))
    return [ex.physicalPlanDescription() for ex in new], count


def survey(spark, data: str, passes: int) -> dict[str, dict]:
    from market_pulse_data_pipeline_spark.queries import all_queries  # noqa: PLC0415

    queries = {n: q for n, q in sorted(all_queries().items()) if q.bench}
    out = {n: {"wall_s": [], "cpu_s": [], "jit_s": [], "tables": set(), "python_nodes": set()}
           for n in queries}
    _, seen = _plans_since(spark, 0)
    for _ in range(passes):
        for name, q in queries.items():
            jit0 = _jit_s(spark)
            cpu0 = _tree_cpu_s()
            t0 = time.perf_counter()
            q.spark(spark, data).write.mode("overwrite").format("noop").save()
            out[name]["wall_s"].append(time.perf_counter() - t0)
            jit = _jit_s(spark) - jit0
            out[name]["cpu_s"].append(_tree_cpu_s() - cpu0 - jit)
            out[name]["jit_s"].append(jit)
            plans, seen = _plans_since(spark, seen)
            for plan in plans:
                out[name]["tables"].update(_SCAN.findall(plan))
                out[name]["python_nodes"].update(_PY_NODE.findall(plan))
            drop_persisted(spark)
    return {
        n: {"group": "python" if r["python_nodes"] else "relational",
            "cold_wall_s": round(r["wall_s"][0], 4),
            "wall_s": round(statistics.median(r["wall_s"][1:]), 4),
            "cpu_s": round(statistics.median(r["cpu_s"][1:]), 4),
            "jit_s": round(statistics.median(r["jit_s"][1:]), 4),
            "tables": sorted(r["tables"]), "python_nodes": sorted(r["python_nodes"])}
        for n, r in out.items()
    }


def pick(rows: dict[str, dict], slots: int) -> list[str]:
    """``slots`` queries: each group gets slots in proportion to its CPU
    time (at least one), filled with its largest CPU contributors."""
    groups: dict[str, list[str]] = {}
    for n, r in sorted(rows.items(), key=lambda kv: -kv[1]["cpu_s"]):
        groups.setdefault(r["group"], []).append(n)
    total = sum(r["cpu_s"] for r in rows.values())
    chosen = []
    for g, names in sorted(groups.items()):
        share = sum(rows[n]["cpu_s"] for n in names) / total
        chosen += names[:max(1, round(slots * share))]
    return sorted(chosen)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--data", required=True)
    args = ap.parse_args(argv)
    work = os.path.join(ROOT, ".bench_build", "perfbench", "survey")
    env = _environment(work)
    from market_pulse_data_pipeline_spark.session import get_spark  # noqa: PLC0415

    spark = get_spark(app_name="perfbench-survey", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['TMPDIR']}",
        "spark.sql.ui.retainedExecutions": "100000",
    })
    try:
        rows = survey(spark, os.path.abspath(args.data), PASSES)
    finally:
        _stop(spark)
    totals = {g: {"queries": sum(1 for r in rows.values() if r["group"] == g),
                  "wall_s": round(sum(r["wall_s"] for r in rows.values() if r["group"] == g), 4),
                  "cpu_s": round(sum(r["cpu_s"] for r in rows.values() if r["group"] == g), 4)}
              for g in ("relational", "python")}
    chosen = pick(rows, PICK)
    all_cpu = sum(r["cpu_s"] for r in rows.values())
    result = {"data": os.path.basename(os.path.normpath(args.data)), "passes": PASSES,
              "totals": totals, "pick": chosen,
              "pick_cpu_share": round(sum(rows[n]["cpu_s"] for n in chosen) / all_cpu, 4),
              "queries": rows}
    path = os.path.join(ROOT, ".bench_build", "perfbench", "survey.json")
    with open(path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
