"""Structured Streaming tests: availableNow runs compared against their
batch twins, and the streaming ingest upsert chain."""

import os

import pytest
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.sources.alphavantage import (
    default_fixture_docs,
    make_fixture_doc,
    write_fixture_landing,
)
from market_pulse_data_pipeline_spark.sources.tables import load_table
from market_pulse_data_pipeline_spark.streaming.events import (
    dedup_within_watermark,
    session_windows,
    windowed_counts,
)
from market_pulse_data_pipeline_spark.streaming.ingest import stream_landing_to_bronze


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    """events fixture rewritten as a micro-batched parquet directory with
    µs timestamps (streaming file source input)."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(4).write.mode("overwrite").parquet(out)
    return out


def _run_stream(spark, stream_df, checkpoint):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(f"mem_{os.path.basename(checkpoint)}")
        .option("checkpointLocation", checkpoint)
        .outputMode("complete" if stream_df.isStreaming else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM mem_{os.path.basename(checkpoint)}")


def test_windowed_counts_matches_batch(spark, events_stream_dir, tmp_path):
    ev_batch = spark.read.parquet(events_stream_dir)
    stream = spark.readStream.schema(ev_batch.schema).parquet(events_stream_dir)

    got = _run_stream(
        spark, windowed_counts(stream, "1 hour"), str(tmp_path / "ck_win")
    ).collect()
    want = (
        windowed_counts(ev_batch, "1 hour").collect()
    )  # same function works on batch DataFrames
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0


def test_session_windows_stream(spark, events_stream_dir, tmp_path):
    ev_batch = spark.read.parquet(events_stream_dir)
    stream = spark.readStream.schema(ev_batch.schema).parquet(events_stream_dir)
    got = _run_stream(
        spark, session_windows(stream, "30 minutes"), str(tmp_path / "ck_sess")
    )
    batch = session_windows(ev_batch, "30 minutes")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_dedup_within_watermark_stream(spark, events_stream_dir, tmp_path):
    ev_batch = spark.read.parquet(events_stream_dir)
    # duplicate the input: every event twice → dedup must halve it
    dup_dir = str(tmp_path / "dup_events")
    ev_batch.union(ev_batch).repartition(4).write.parquet(dup_dir)
    stream = spark.readStream.schema(ev_batch.schema).parquet(dup_dir)
    q = (
        dedup_within_watermark(stream, ["event_id"])
        .writeStream.format("memory")
        .queryName("mem_dedup")
        .option("checkpointLocation", str(tmp_path / "ck_dedup"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM mem_dedup").head()
    assert got.n == ev_batch.count()
    assert got.d == got.n


def test_streaming_ingest_upsert(spark, tmp_path):
    landing = str(tmp_path / "landing")
    warehouse = str(tmp_path / "wh")
    write_fixture_landing(landing, default_fixture_docs(n_days=10))
    q = stream_landing_to_bronze(
        spark, landing, warehouse, str(tmp_path / "ck_ingest")
    )
    q.awaitTermination(120)
    bronze = spark.read.parquet(os.path.join(warehouse, "raw_alphavantage"))
    assert bronze.count() == 10  # one row per symbol
    assert {r.symbol for r in bronze.select("symbol").collect()} >= {"AAPL", "BRK-B"}

    # second batch for one symbol → upsert keeps 10 rows, updates AAPL
    write_fixture_landing(
        landing, {"AAPL2": make_fixture_doc("AAPL", n_days=3, base_price=777.0)}
    )
    q2 = stream_landing_to_bronze(
        spark, landing, warehouse, str(tmp_path / "ck_ingest")
    )
    q2.awaitTermination(120)
    bronze2 = spark.read.parquet(os.path.join(warehouse, "raw_alphavantage"))
    assert bronze2.count() == 10
    aapl = bronze2.filter(F.col("symbol") == "AAPL").head()
    assert len(aapl.data["Time Series (Daily)"]) == 3  # replaced wholesale (J2)


def test_incremental_streaming_pipeline(spark, tmp_path):
    """Full streaming twin of the DAG: two incremental cycles — the second
    only ingests the new file and marts reflect the merged state."""
    from market_pulse_data_pipeline_spark.streaming.pipeline import run_incremental

    landing = str(tmp_path / "landing")
    wh = str(tmp_path / "wh")
    ck = str(tmp_path / "ck")
    write_fixture_landing(landing, default_fixture_docs(n_days=10))
    tables1, qc1 = run_incremental(spark, landing, wh, ck)
    assert tables1["stg_alphavantage"].count() == 100  # 10 symbols x 10 days
    assert all(r.passed for r in qc1)

    # second cycle: one new file for a NEW symbol
    write_fixture_landing(
        landing, {"NEWCO": make_fixture_doc("NEWCO", n_days=10)}
    )
    tables2, qc2 = run_incremental(spark, landing, wh, ck)
    assert tables2["raw_alphavantage"].count() == 11
    assert tables2["stg_alphavantage"].count() == 110
    assert tables2["dim_stock"].filter(F.col("symbol") == "NEWCO").count() == 1
    assert all(r.passed for r in qc2)


def test_run_incremental_empty_landing(spark, tmp_path):
    """Empty landing dir: no batch, no bronze — run_incremental must fall
    back to an empty-schema bronze instead of raising AnalysisException."""
    from market_pulse_data_pipeline_spark.streaming.pipeline import run_incremental

    landing = str(tmp_path / "landing_empty")
    import os

    os.makedirs(landing)
    tables, qc = run_incremental(
        spark, landing, str(tmp_path / "wh"), str(tmp_path / "ck")
    )
    assert tables["raw_alphavantage"].count() == 0
    assert tables["stg_alphavantage"].count() == 0


def test_run_incremental_series_less_batch(spark, tmp_path):
    """A micro-batch of only series-less documents writes an empty bronze;
    the marts rebuild empty from it and the next batch upserts into it."""
    from market_pulse_data_pipeline_spark.sources.landing import write_landing_doc
    from market_pulse_data_pipeline_spark.streaming.pipeline import run_incremental

    landing, wh, ck = (str(tmp_path / d) for d in ("landing", "wh", "ck"))
    write_landing_doc(landing, "RATE", {"Note": "API call frequency exceeded"})
    tables, qc = run_incremental(spark, landing, wh, ck)
    assert os.path.isdir(os.path.join(wh, "raw_alphavantage"))
    assert tables["raw_alphavantage"].count() == 0
    assert tables["fact_stock_prices"].count() == 0
    assert all(r.passed for r in qc)

    write_fixture_landing(landing, {"AAPL": make_fixture_doc("AAPL", n_days=5)})
    tables, qc = run_incremental(spark, landing, wh, ck)
    assert tables["raw_alphavantage"].count() == 1
    assert tables["stg_alphavantage"].count() == 5
    assert all(r.passed for r in qc)


def test_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join (clicks -> purchases within 15 min)
    over an availableNow run equals the batch interval join."""
    from market_pulse_data_pipeline_spark.sources.tables import load_table
    from market_pulse_data_pipeline_spark.streaming.events import (
        stream_interval_join,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    src = str(tmp_path / "ij_src")
    ev.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    clicks = stream.filter(F.col("event_type") == "click")
    buys = stream.filter(F.col("event_type") == "purchase")
    q = (
        stream_interval_join(clicks, buys)
        .writeStream.format("memory")
        .queryName("mem_ij")
        .option("checkpointLocation", str(tmp_path / "ck_ij"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.left_event_id, r.right_event_id)
        for r in spark.sql("SELECT * FROM mem_ij").collect()
    }
    bc = ev.filter(F.col("event_type") == "click").alias("l")
    bp = ev.filter(F.col("event_type") == "purchase").alias("r")
    want = {
        (r.lid, r.rid)
        for r in bc.join(
            bp,
            F.expr(
                "l.user_id = r.user_id AND r.ts >= l.ts "
                "AND r.ts <= l.ts + interval 15 minutes"
            ),
        )
        .select(F.col("l.event_id").alias("lid"), F.col("r.event_id").alias("rid"))
        .collect()
    }
    assert want, "batch twin found no pairs — fixture too sparse for the test"
    assert got == want


def test_ingest_replay_after_lost_commit_is_idempotent(spark, tmp_path):
    """Exactly-once under the failure window: if the driver dies AFTER
    foreachBatch applied the upsert but BEFORE the checkpoint recorded
    the commit, restart re-delivers the batch (at-least-once). The
    keyed upsert is idempotent, so the replay must leave bronze
    byte-identical — simulated by deleting the newest commit marker
    from the checkpoint and re-running the stream."""
    import shutil

    landing = str(tmp_path / "landing")
    warehouse = str(tmp_path / "wh")
    ck = str(tmp_path / "ck_replay")
    write_fixture_landing(landing, default_fixture_docs(n_days=10))
    q = stream_landing_to_bronze(spark, landing, warehouse, ck)
    q.awaitTermination(120)
    bronze_path = os.path.join(warehouse, "raw_alphavantage")
    before = {
        (r.symbol, str(sorted(r.data["Time Series (Daily)"].keys())))
        for r in spark.read.parquet(bronze_path).collect()
    }
    assert len(before) == 10

    # crash simulation: the sink mutation survived, the commit didn't
    commits = sorted(
        f
        for f in os.listdir(os.path.join(ck, "commits"))
        if not f.startswith(".")
    )
    os.remove(os.path.join(ck, "commits", commits[-1]))
    crc = os.path.join(ck, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):  # stale sidecar would fail the re-create
        os.remove(crc)

    q2 = stream_landing_to_bronze(spark, landing, warehouse, ck)
    q2.awaitTermination(120)
    after = {
        (r.symbol, str(sorted(r.data["Time Series (Daily)"].keys())))
        for r in spark.read.parquet(bronze_path).collect()
    }
    assert after == before  # replayed batch upserted the same keys

    # and a THIRD run with an intact checkpoint does nothing new
    q3 = stream_landing_to_bronze(spark, landing, warehouse, ck)
    q3.awaitTermination(120)
    assert spark.read.parquet(bronze_path).count() == 10
    shutil.rmtree(ck, ignore_errors=True)
