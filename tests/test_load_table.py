"""``sources.tables.load_table`` infers a fixture file's schema once.

A parquet read without a schema runs a one-task schema-inference job;
``load_table`` keeps the inferred schema by the file's path, mtime and
size, so a second read of the unchanged file runs no Spark job, and a
rewritten file is inferred again."""

import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from market_pulse_data_pipeline_spark.sources.tables import load_table


def _jobs(spark, call):
    """Spark jobs ``call`` runs, from the status tracker."""
    sc = spark.sparkContext
    group = f"load-table-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_runs_no_job(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}),
                   tmp_path / "t.parquet")
    first, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs >= 1  # the schema-inference job
    second, jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_gets_its_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    pq.write_table(pa.table({"k": [1, 2], "w": [0.5, 1.5], "s": ["x", "y"]}),
                   path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "w", "s"]
    assert df.dtypes == [("k", "bigint"), ("w", "double"), ("s", "string")]
    assert sorted(df.collect()) == [(1, 0.5, "x"), (2, 1.5, "y")]
