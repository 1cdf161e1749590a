"""Round-14 registrations, first batch — staged and triple-gated in
round 11 (implementations, DuckDB value-hash oracles, pytest pins in
tests/test_r20_staging.py; check_oracle --staging matched at
sf0.001/0.01/0.1 and hostile_check --chaos --staging passed, re-gated
on round-13 code before the flip), registered in round 14 under
VERDICT round-13 item 1's full drain (the entire remaining backlog
r20+r21+r22 flips this round — backlog 0, two rounds ahead of the
original drain-by-round-16 schedule).

The three close distinct holes:

- ``trigram_substring_index`` — substring search the scale-safe way
  (the pg_trgm pattern): a LIKE '%pattern%' scan has no pushable
  predicate and reads 100 TB per query, while a character-trigram
  inverted index turns it into an equi-join — candidates are docs
  containing ALL of the pattern's trigrams, then only candidates are
  verified with the real contains(). The chosen patterns include
  CROSS-WORD substrings ('table sc', 'k order') that no token-level
  index (tfidf/bm25) can answer — exactly the queries that force the
  trigram index. Per-pattern candidate vs verified counts expose the
  index's filtering precision in the compared bytes.
- ``equi_depth_histogram_stats`` — the optimizer-statistics artifact
  itself: per-group equi-depth (NTILE) histograms with per-bucket
  row counts and [min, max] bounds — what a CBO consumes for
  selectivity estimation and what ANALYZE TABLE materializes.
  Deterministic under a total order (value, event_id tiebreak), so
  the bucket boundaries are bit-identical across engines; bounds are
  raw untouched doubles (no arithmetic, no rounding boundary).
- ``incremental_sessionization`` — the batch-boundary problem every
  incremental pipeline hits: sessionizing each batch independently
  breaks the sessions that SPAN the boundary. Sessionize batch A and
  batch B separately (the steady-state per-batch work), then stitch:
  per user, A's last session merges with B's first iff the boundary
  gap <= the session gap — and ONLY that pair can merge, because
  within-batch sessionization already separated everything else by
  more than the gap (the algebra is exact, not heuristic). The
  oracle is the monolithic full-data sessionization: hash equality
  proves the incremental path reconstructs it exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.queries.common import (
    register,
    t,
)
from market_pulse_data_pipeline_spark.sources.tables import local_frame

# this sessionizer's gap parameter: 12 h (gap is a per-pipeline knob —
# the registered 30-min `sessionization` models interactive sessions;
# the fixture's inter-event cadence is hours, so a 12 h gap yields the
# multi-event, boundary-SPANNING sessions the stitch must handle at
# every checked scale factor)
_IS_GAP_US = 12 * 3600 * 1_000_000


# --------------------------------------------------------------------
# trigram_substring_index
# --------------------------------------------------------------------

# fixed literal patterns; 'table sc' and 'k order' cross word
# boundaries (no token-level index can answer them), 'data' is a
# within-word substring of several vocabulary words
_TG_PATTERNS = ["sort merge", "table sc", "k order", "data"]


def _trigrams(s: str) -> list[str]:
    return [s[i : i + 3] for i in range(len(s) - 2)]


def _tg_oracle() -> str:
    pat_rows = ", ".join(f"('{p}')" for p in _TG_PATTERNS)
    all_tris = sorted({g for p in _TG_PATTERNS for g in _trigrams(p)})
    tri_list = ", ".join("'" + g.replace("'", "''") + "'" for g in all_tris)
    return f"""
    WITH pats(pattern) AS (VALUES {pat_rows}),
    ptri AS (
      SELECT DISTINCT pattern,
             UNNEST(list_transform(range(1, length(pattern) - 1),
                                   i -> substring(pattern, i, 3))) AS tri
      FROM pats
    ),
    pn AS (
      SELECT pattern, COUNT(*) AS n_tri FROM ptri GROUP BY pattern
    ),
    dtri AS (
      SELECT DISTINCT doc_id, tri
      FROM (
        SELECT doc_id,
               UNNEST(list_transform(range(1, length(text) - 1),
                                     i -> substring(text, i, 3))) AS tri
        FROM documents
      )
      WHERE tri IN ({tri_list})
    ),
    cand AS (
      SELECT p.pattern, d.doc_id
      FROM ptri p JOIN dtri d USING (tri)
      GROUP BY p.pattern, d.doc_id
      HAVING COUNT(*) = (SELECT n_tri FROM pn WHERE pn.pattern = p.pattern)
    ),
    verified AS (
      SELECT c.pattern, c.doc_id
      FROM cand c JOIN documents doc USING (doc_id)
      WHERE contains(doc.text, c.pattern)
    )
    SELECT p.pattern,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(v.n, 0) AS BIGINT) AS n_verified
    FROM pats p
    LEFT JOIN (SELECT pattern, COUNT(*) AS n FROM cand GROUP BY 1) c
      USING (pattern)
    LEFT JOIN (SELECT pattern, COUNT(*) AS n FROM verified GROUP BY 1) v
      USING (pattern)
    ORDER BY p.pattern
    """


@register(
    "trigram_substring_index",
    _tg_oracle(),
    doc="substring search through a character-trigram inverted index "
    "(the pg_trgm pattern) — LIKE '%pattern%' has no pushable "
    "predicate and rescans the corpus per query, while the trigram "
    "index turns containment into an equi-join: candidates = docs "
    "whose trigram set covers ALL of the pattern's trigrams "
    "(inverted-index probe + per-doc coverage count), then ONLY "
    "candidates pay the real contains() verification. Two of the "
    "patterns cross word boundaries ('table sc', 'k order') — "
    "queries no token-level index (tfidf/bm25/vocab) can answer, "
    "exactly what forces character-granular indexing. Per-pattern "
    "candidate vs verified counts put the index's filtering "
    "precision in the compared bytes (candidates >= verified is the "
    "no-false-negative contract, pytest-pinned). 100 TB shape: the "
    "doc-side trigram stream is filtered MAP-SIDE to the query "
    "trigram set (a tiny literal — in production the full index is "
    "materialized once and this is its probe path), so the shuffle "
    "carries only (candidate-trigram, doc) pairs; verification "
    "touches candidates, not the corpus.",
)
def trigram_substring_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out,
    )

    docs = fan_out(t(spark, sf_dir, "documents").select("doc_id", "text"))
    pat_tris = {p: _trigrams(p) for p in _TG_PATTERNS}
    all_tris = sorted({g for ts_ in pat_tris.values() for g in ts_})
    ptri = local_frame(
        spark,
        [(p, g) for p, ts_ in pat_tris.items() for g in set(ts_)],
        "pattern string, tri string",
    )
    pn = {p: len(set(ts_)) for p, ts_ in pat_tris.items()}
    tri_expr = F.transform(
        F.sequence(F.lit(1), F.length("text") - 2),
        lambda i: F.substring(F.col("text"), i, F.lit(3)),
    )
    dtri = (
        docs.select("doc_id", F.explode(tri_expr).alias("tri"))
        .filter(F.col("tri").isin(all_tris))
        .distinct()
    )
    n_tri_col = F.coalesce(
        *[
            F.when(F.col("pattern") == p, F.lit(n))
            for p, n in pn.items()
        ]
    )
    cand = (
        dtri.join(F.broadcast(ptri), "tri")
        .groupBy("pattern", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_cov"))
        .filter(F.col("n_cov") == n_tri_col)
        .select("pattern", "doc_id")
    )
    verified = cand.join(
        t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    ).filter(F.expr("contains(text, pattern)"))
    pats = local_frame(
        spark, [(p,) for p in _TG_PATTERNS], "pattern string"
    )
    c_agg = cand.groupBy("pattern").agg(
        F.count(F.lit(1)).cast("long").alias("n_c")
    )
    v_agg = verified.groupBy("pattern").agg(
        F.count(F.lit(1)).cast("long").alias("n_v")
    )
    z = F.lit(0).cast("long")
    return (
        pats.join(c_agg, "pattern", "left")
        .join(v_agg, "pattern", "left")
        .select(
            "pattern",
            F.coalesce("n_c", z).alias("n_candidates"),
            F.coalesce("n_v", z).alias("n_verified"),
        )
        .orderBy("pattern")
    )


# --------------------------------------------------------------------
# equi_depth_histogram_stats
# --------------------------------------------------------------------

_EH_BUCKETS = 10


def _histo_oracle() -> str:
    return f"""
    WITH ranked AS (
      SELECT event_type, value,
             NTILE({_EH_BUCKETS}) OVER (
               PARTITION BY event_type ORDER BY value NULLS LAST, event_id
             ) AS bucket
      FROM events
    )
    SELECT event_type,
           CAST(bucket AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM ranked
    GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """


@register(
    "equi_depth_histogram_stats",
    _histo_oracle(),
    doc="the optimizer-statistics artifact itself: per-group "
    "equi-depth histograms (NTILE over a TOTAL order — value with "
    "event_id tiebreak, so bucket boundaries are bit-identical across "
    "engines) with per-bucket row counts and [min, max] bounds — what "
    "a cost-based optimizer consumes for range-selectivity estimates "
    "and what ANALYZE TABLE materializes. Bounds are raw untouched "
    "doubles: no arithmetic, so no rounding boundary can exist in the "
    "compared bytes. 100 TB shape: one partitioned window (per-group "
    "sort — the price every histogram build pays, parallel across "
    "groups) + one hash aggregate; output size is groups x buckets, "
    "constant in row count — persist per snapshot and selectivity "
    "lookups never rescan. Complements value_histogram_by_event_type "
    "(equi-WIDTH: fixed ranges, variable counts) with the equi-DEPTH "
    "dual (fixed counts, data-driven ranges).",
)
def equi_depth_histogram_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_type", "event_id", "value")
    # NULLS LAST pinned explicitly: Spark's ascending default is NULLS
    # FIRST, DuckDB's is NULLS LAST — a NULL value would silently shift
    # every bucket assignment between engines (ADVICE r11)
    w = Window.partitionBy("event_type").orderBy(
        F.asc_nulls_last("value"), "event_id"
    )
    ranked = ev.select(
        "event_type",
        "value",
        F.ntile(_EH_BUCKETS).over(w).alias("bucket"),
    )
    return (
        ranked.groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("event_type", "bucket")
    )


# --------------------------------------------------------------------
# incremental_sessionization
# --------------------------------------------------------------------


def _inc_sess_oracle() -> str:
    return f"""
    WITH ev AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > {_IS_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             CAST(SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id,
           epoch_us(MIN(ts)) AS session_start_us,
           epoch_us(MAX(ts)) AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sessions GROUP BY user_id, session_id
    ORDER BY user_id, session_start_us
    """


@register(
    "incremental_sessionization",
    _inc_sess_oracle(),
    bench=True,
    doc="cross-batch session stitching — the boundary problem every "
    "incremental pipeline hits: sessionizing each arrival batch "
    "independently breaks the sessions that SPAN the batch boundary. "
    "The incremental path sessionizes batch A (ts below the midpoint "
    "split, the 'already processed' state) and batch B (the new "
    "arrivals) separately, then stitches: per user, A's LAST session "
    "merges with B's FIRST iff the boundary gap <= the session "
    "gap (12 h here — a pipeline knob) — and ONLY that pair can ever merge, because within-batch "
    "sessionization already separated every other adjacent pair by "
    "more than the gap, so the stitch algebra is EXACT, not a "
    "heuristic (same discipline as delta_join_view_maintenance). The "
    "oracle is the monolithic full-data sessionization: value-hash "
    "equality proves the incremental path reconstructs it byte-for-"
    "byte. Session bounds ride epoch-microsecond longs (the round-1 "
    "timestamp-rendering lesson). 100 TB shape: steady-state cost is "
    "sessionizing the NEW batch plus a per-user single-row state join "
    "(each user's last open session — the applyInPandasWithState "
    "shape in the streaming twin); the full history is never "
    "re-windowed.",
)
def incremental_sessionization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    us = F.unix_micros(F.col("ts"))
    # bounded collect: ONE row — the batch-boundary split point (the
    # midpoint timestamp plays 'end of the previous load')
    lo, hi = ev.agg(F.min(us), F.max(us)).first()
    split_us = (lo + hi) // 2

    # per-batch sessionization in ONE pass (r16): every window is keyed
    # by (user_id, batch), so each batch is still sessionized strictly
    # independently — identical sessions to the former two separate
    # sessionize() branches (pinned byte-for-byte in
    # tests/test_r20_staging.py and by the monolithic oracle) — but the
    # events are scanned, exchanged and windowed once instead of twice,
    # and the session table is materialized once for its four
    # consumers (last/first state rows + both keep anti-joins) instead
    # of re-running a window pipeline per consumer.
    tagged = ev.withColumn("batch", (us >= split_us).cast("int"))
    w = Window.partitionBy("user_id", "batch").orderBy("ts", "event_id")
    b_us = F.unix_micros(F.col("ts"))
    prev = F.lag(b_us).over(w)
    flagged = tagged.withColumn(
        "is_new",
        F.when(prev.isNull() | ((b_us - prev) > _IS_GAP_US), 1).otherwise(0),
    )
    w2 = (
        Window.partitionBy("user_id", "batch")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = flagged.withColumn("sid", F.sum("is_new").over(w2))
    sessions = (
        sess.groupBy("user_id", "batch", "sid")
        .agg(
            F.min(F.unix_micros("ts")).alias("session_start_us"),
            F.max(F.unix_micros("ts")).alias("session_end_us"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .localCheckpoint(eager=True)
    )
    sa = sessions.filter(F.col("batch") == 0).drop("batch", "sid")
    sb = sessions.filter(F.col("batch") == 1).drop("batch", "sid")
    # per-user boundary state: A's LAST session, B's FIRST session
    last_a = sa.groupBy("user_id").agg(
        F.max(
            F.struct("session_start_us", "session_end_us", "n_events")
        ).alias("s")
    )
    first_b = sb.groupBy("user_id").agg(
        F.min(
            F.struct("session_start_us", "session_end_us", "n_events")
        ).alias("s")
    )
    merged = (
        last_a.alias("a")
        .join(first_b.alias("b"), "user_id")
        .filter(
            F.col("b.s.session_start_us") - F.col("a.s.session_end_us")
            <= _IS_GAP_US
        )
        .select(
            "user_id",
            F.col("a.s.session_start_us").alias("session_start_us"),
            F.col("b.s.session_end_us").alias("session_end_us"),
            (F.col("a.s.n_events") + F.col("b.s.n_events")).alias(
                "n_events"
            ),
            F.col("a.s.session_start_us").alias("a_start"),
            F.col("b.s.session_start_us").alias("b_start"),
        )
    )
    drop_a = merged.select("user_id", F.col("a_start").alias("k"))
    drop_b = merged.select("user_id", F.col("b_start").alias("k"))
    keep_a = sa.join(
        F.broadcast(drop_a),
        (sa.user_id == drop_a.user_id)
        & (sa.session_start_us == drop_a.k),
        "left_anti",
    )
    keep_b = sb.join(
        F.broadcast(drop_b),
        (sb.user_id == drop_b.user_id)
        & (sb.session_start_us == drop_b.k),
        "left_anti",
    )
    cols = ["user_id", "session_start_us", "session_end_us", "n_events"]
    return (
        keep_a.select(*cols)
        .unionByName(keep_b.select(*cols))
        .unionByName(merged.select(*cols))
        .orderBy("user_id", "session_start_us")
    )
