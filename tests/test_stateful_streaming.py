"""applyInPandasWithState: running per-user stats accumulate across
micro-batches, match the batch aggregate at end-of-stream, and recover
their GroupState from the checkpoint's write-ahead log after a crash in
the middle of a stream."""

import glob
import os
import shutil

import duckdb
import pytest
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.sources.tables import load_table
from market_pulse_data_pipeline_spark.streaming.stateful import running_user_stats


def test_running_user_stats_matches_batch(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    src = str(tmp_path / "events_src")
    # several files → several micro-batches (maxFilesPerTrigger=1)
    ev.repartition(5).write.parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        running_user_stats(stream)
        .writeStream.format("memory")
        .queryName("mem_stats")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # latest state per user (the last update emitted across batches)
    got = spark.sql(
        """
        SELECT user_id, n_events, ROUND(total_value, 4) AS total_value
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY n_events DESC) rn FROM mem_stats)
        WHERE rn = 1
        """
    ).collect()
    want = {
        r.user_id: (r.n, round(r.total, 4))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert len(got) == len(want)
    mismatches = [
        (r.user_id, (r.n_events, r.total_value), want[r.user_id])
        for r in got
        if r.n_events != want[r.user_id][0]
        or abs(r.total_value - want[r.user_id][1]) > 1e-6
    ]
    assert mismatches == [], mismatches[:5]


def test_state_ttl_evicts_and_restarts(spark, tmp_path):
    """With state_ttl, a quiet user's state is evicted once the watermark
    passes last_event + ttl; a later event starts a fresh accumulator."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("value", T.DoubleType(), False),
        ]
    )
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    h = pd.Timedelta(hours=1)
    src = tmp_path / "ttl_src"
    src.mkdir()

    def write_batch(name, rows, mtime):
        df = spark.createDataFrame(
            [(u, (t0 + dt).to_pydatetime(), v) for u, dt, v in rows], schema
        )
        path = str(src / name)
        df.coalesce(1).write.parquet(path)
        for root, _, files in os.walk(path):
            for fn in files:
                os.utime(os.path.join(root, fn), (mtime, mtime))

    # batch order via mtime: A+B early; B later batches advance the
    # watermark past A's ttl while A is quiet (timeouts only fire for
    # keys with no data in the batch); then A returns in its own batch
    write_batch("b0", [(1, 0 * h, 1.0), (1, 0 * h, 2.0), (2, 0 * h, 1.0)], 1000)
    write_batch("b1", [(2, 10 * h, 1.0)], 2000)
    write_batch("b2", [(2, 20 * h, 1.0)], 3000)
    write_batch("b3", [(1, 21 * h, 5.0)], 4000)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        running_user_stats(stream, watermark="1 hour", state_ttl="2 hours")
        .writeStream.format("memory")
        .queryName("mem_ttl")
        .option("checkpointLocation", str(tmp_path / "ck_ttl"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    rows = spark.sql("SELECT * FROM mem_ttl ORDER BY user_id, n_events").collect()
    a_counts = [r.n_events for r in rows if r.user_id == 1]
    b_counts = [r.n_events for r in rows if r.user_id == 2]
    # user 1: first batch accumulates 2 events; after eviction the late
    # event restarts at 1 (NOT 3 — that would mean state survived the ttl)
    assert 2 in a_counts and 1 in a_counts and 3 not in a_counts
    # user 2 has data in every batch, so it never times out (timeouts
    # fire only for quiet keys) and keeps accumulating
    assert sorted(b_counts) == [1, 2, 3]


# --------------------------------------------------------------------
# crash recovery: WAL replay of running_user_stats' GroupState
# --------------------------------------------------------------------

_SS_MOD, _SS_REM = 3, 1  # witness users: user_id % 3 == 1, non-empty
# at every scale factor (the user domain scales with sf)
_N_FILES = 6  # ts-ranged source files = micro-batches (1 file/trigger)
_CRASH_BATCH = 2  # run 1 dies here: after 2 committed stateful batches


def _crash_recovery_run(events, root: str):
    """Run ``running_user_stats`` over ``events`` (user_id, ts, value)
    fed as _N_FILES ts-ranged files, one per micro-batch. The
    foreachBatch sink raises on micro-batch _CRASH_BATCH before writing,
    killing run 1 with that batch's offsets in the WAL but neither its
    sink rows nor its state delta committed; run 2, a new query on the
    same checkpoint, must replay the batch against the batch-1 state
    snapshot and drain the rest. Returns every committed update row
    with its batch_id."""
    spark = events.sparkSession
    capture = os.path.join(root, "capture")
    ckpt = os.path.join(root, "ckpt")

    # mtimes pinned ascending, so the file source (oldest-first)
    # consumes the ts-ranged files in ts order
    staged = os.path.join(root, "src_stage")
    src = os.path.join(root, "src")
    os.makedirs(src)
    events.repartitionByRange(_N_FILES, "ts").write.parquet(staged)
    parts = sorted(glob.glob(os.path.join(staged, "part-*.parquet")))
    for i, p in enumerate(parts):
        dst = os.path.join(src, f"{i:02d}.parquet")
        shutil.move(p, dst)
        os.utime(dst, (1_700_000_000 + 100 * i, 1_700_000_000 + 100 * i))
    shutil.rmtree(staged)
    schema = spark.read.parquet(src).schema

    fault = {"armed": True}

    def capture_batch(bdf, batch_id: int) -> None:
        if fault["armed"] and batch_id == _CRASH_BATCH:
            fault["armed"] = False  # the replay must not crash again
            raise RuntimeError("planted mid-stream crash")
        (
            bdf.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(capture)
        )

    def run_once() -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            running_user_stats(stream, watermark="3650 days")
            .writeStream.foreachBatch(capture_batch)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        except Exception as exc:  # StreamingQueryException wraps it
            if "planted mid-stream crash" not in str(exc):
                raise  # genuine failures must not be swallowed

    run_once()  # run 1: dies on the planted crash
    run_once()  # run 2: replays the crashed batch from the WAL, drains
    return spark.read.parquet(capture)


@pytest.fixture(scope="module")
def crash_result(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("crash_recovery"))
    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % _SS_MOD == _SS_REM)
        .select("user_id", "ts", "value")
    )
    capture = _crash_recovery_run(events, root)
    # update mode emits one row per user per batch that touched it;
    # the final recovered state per user is the largest n_events
    final = {
        r.user_id: r.n_events
        for r in capture.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    }
    updates = [
        (r.user_id, r.batch_id, r.n_events) for r in capture.collect()
    ]
    return final, updates


def test_crash_fired_and_batch_replayed_exactly_once(crash_result):
    final, updates = crash_result
    batches = {b for _, b, _ in updates}
    # the planted crash fired mid-stream: batches exist on BOTH sides
    # of the crash point, and the crashed batch itself was replayed
    # (present in the capture exactly once per touched user)
    assert any(b < _CRASH_BATCH for b in batches)
    assert _CRASH_BATCH in batches
    assert any(b > _CRASH_BATCH for b in batches)
    seen = [(u, b) for u, b, _ in updates]
    assert len(seen) == len(set(seen))  # no double-committed update


def test_crash_recovery_counts_are_cumulative(crash_result):
    final, updates = crash_result
    # per user, n_events ordered by batch_id strictly increases —
    # the state CONTINUED across the crash; a restart-from-zero would
    # break monotonicity (or undershoot the final count below)
    per_user: dict = {}
    for u, b, n in updates:
        per_user.setdefault(u, []).append((b, n))
    crossing = 0
    for u, seq in per_user.items():
        seq.sort()
        counts = [n for _, n in seq]
        assert counts == sorted(set(counts)), f"user {u} not cumulative"
        if seq[0][0] < _CRASH_BATCH <= seq[-1][0]:
            crossing += 1
    # non-vacuous: at least one user's state genuinely crossed the
    # crash boundary (had updates before AND at-or-after it)
    assert crossing >= 1


def test_crash_recovery_final_counts_match_batch(crash_result, sf_dir):
    final, _ = crash_result
    expected = dict(
        duckdb.sql(
            f"SELECT user_id, COUNT(*) FROM "
            f"read_parquet('{sf_dir}/events.parquet') "
            f"WHERE user_id % {_SS_MOD} = {_SS_REM} GROUP BY user_id"
        ).fetchall()
    )
    assert final == expected
