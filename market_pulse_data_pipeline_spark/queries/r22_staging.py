"""Round-14 registrations, third batch — staged and triple-gated in
round 11 as the second RESERVE batch (implementations, DuckDB
value-hash oracles, pytest pins in tests/test_r22_staging.py;
check_oracle --staging matched at sf0.001/0.01/0.1 and
hostile_check --chaos --staging passed, re-gated on round-13 code
before the flip), registered in round 14 under VERDICT round-13
item 1's full drain (r20+r21+r22 flip together — backlog 0, two
rounds ahead of the original drain-by-round-16 schedule).

The three open capability families no registered query touches:

- ``grid_radius_join`` — the scale-safe SPATIAL join: all point pairs
  within radius R, found by bucketing points into an R-sized grid and
  probing each point's 3x3 neighbor cells as an EQUI-join (the
  geohash/cell-join pattern) — versus the theta-join |p - q| <= R
  that has no hash key and degenerates to a cross product. Every
  quantity is an exact integer (planted integer coordinates, squared
  Euclidean distance, cross-multiplied R²), and each qualifying pair
  is emitted EXACTLY once without a dedup pass (the probe side
  explodes to 9 cells, the build side keeps its one true cell).
- ``seasonal_naive_backtest`` — forecast backtesting, the evaluation
  loop every metrics platform runs: the seasonal-naive baseline
  (forecast(d) = actual(d - 7)) joined against actuals per series,
  with MAE and signed bias through the exact-decimal route (sums are
  order-independent DECIMAL, ONE terminal rounding each). Day buckets
  are epoch_us div 86400000000 (integer truncation on both engines) — timezone-free integers.
- ``gazetteer_phrase_match`` — dictionary/gazetteer span matching
  (the Aho-Corasick workload, NER-by-dictionary): multi-token phrases
  located by their RAREST token as the anchor (chosen from corpus
  document frequencies, engine-side, deterministically) — the
  standard trick that makes a million-phrase gazetteer joinable: the
  anchor equi-join emits candidates proportional to the RARE token's
  frequency, not the common ones', and only candidates pay the
  token-slice verification. Distinct from trigram_substring_index
  (character-level containment COUNTS): this extracts token-aligned
  occurrences with their positions, the shape span annotation needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.queries.common import (
    register,
    round_div,
    sql_round_div,
    t,
)
from market_pulse_data_pipeline_spark.sources.tables import local_frame


# --------------------------------------------------------------------
# grid_radius_join
# --------------------------------------------------------------------

_GR_MOD = 10_007  # coordinate space (prime, so the LCG coords spread)
_GR_AX, _GR_AY, _GR_BY = 48_271, 16_807, 3  # deterministic planted coords
_GR_R = 150  # radius; cell size == R so 3x3 neighbor cells COVER it


def _grid_oracle() -> str:
    dcell = ", ".join(
        f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    )
    return f"""
    WITH pts AS (
      SELECT doc_id AS id,
             (doc_id * {_GR_AX}) % {_GR_MOD} AS x,
             (doc_id * {_GR_AY} + {_GR_BY}) % {_GR_MOD} AS y
      FROM documents
    ),
    cells AS (
      SELECT id, x, y,
             CAST(x // {_GR_R} AS BIGINT) AS cx,
             CAST(y // {_GR_R} AS BIGINT) AS cy
      FROM pts
    ),
    probe AS (
      SELECT c.id, c.x, c.y, c.cx + d.dx AS cx, c.cy + d.dy AS cy
      FROM cells c, (VALUES {dcell}) AS d(dx, dy)
    )
    SELECT p.id AS id_a, b.id AS id_b,
           (p.x - b.x) * (p.x - b.x) + (p.y - b.y) * (p.y - b.y)
             AS dist_sq
    FROM probe p
    JOIN cells b ON p.cx = b.cx AND p.cy = b.cy AND p.id < b.id
    WHERE (p.x - b.x) * (p.x - b.x) + (p.y - b.y) * (p.y - b.y)
            <= {_GR_R * _GR_R}
    ORDER BY id_a, id_b
    """


@register(
    "grid_radius_join",
    _grid_oracle(),
    doc="spatial radius join the scale-safe way: all point pairs "
    "within R, via an R-sized grid — the probe side explodes each "
    "point into its 3x3 neighbor CELLS (a bounded 9x fan-out) and "
    "equi-joins the build side's single true cell, so candidate "
    "volume is local density, never n² (the naive |p-q| <= R theta-"
    "join has no hash key and plans as a cross product). Cell size = "
    "R makes the 3x3 neighborhood a COVER: any pair within R shares "
    "a probe/build cell, so there are no false negatives (pytest "
    "brute-force replay), and each qualifying pair is emitted exactly "
    "once without a dedup pass (the build side has ONE cell). Every "
    "compared quantity is an exact integer: deterministic planted "
    "integer coordinates (LCG over a prime space, the house idiom), "
    "squared Euclidean distance against R² — no sqrt, no float "
    "boundary. 100 TB shape: one map-only cell projection, one "
    "bounded 9x explode, one equi-join shuffled on cell id (skew = "
    "real spatial hotspots, handled by AQE skew-join like any other "
    "key) — the geohash-join pattern every geospatial engine uses.",
)
def grid_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        ((F.col("doc_id") * _GR_AX) % _GR_MOD).alias("x"),
        ((F.col("doc_id") * _GR_AY + _GR_BY) % _GR_MOD).alias("y"),
    )
    cells = pts.select(
        "id",
        "x",
        "y",
        F.floor(F.col("x") / _GR_R).cast("long").alias("cx"),
        F.floor(F.col("y") / _GR_R).cast("long").alias("cy"),
    )
    deltas = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probe = cells.select(
        "id", "x", "y", "cx", "cy", F.explode(deltas).alias("d")
    ).select(
        F.col("id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        (F.col("cx") + F.col("d.dx")).alias("cx"),
        (F.col("cy") + F.col("d.dy")).alias("cy"),
    )
    build = cells.select(
        F.col("id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        "cx",
        "cy",
    )
    dist_sq = (F.col("xa") - F.col("xb")) * (
        F.col("xa") - F.col("xb")
    ) + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
    return (
        probe.join(
            build,
            ["cx", "cy"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist_sq", dist_sq)
        .filter(F.col("dist_sq") <= _GR_R * _GR_R)
        .select("id_a", "id_b", "dist_sq")
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------
# seasonal_naive_backtest
# --------------------------------------------------------------------

_SN_DAY_US = 86_400_000_000
_SN_LAG = 7  # the seasonal-naive lag (weekly seasonality)


def _backtest_oracle() -> str:
    return f"""
    WITH daily AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // {_SN_DAY_US} AS day,
             SUM(CAST(value AS DECIMAL(20,6))) AS actual
      FROM events GROUP BY 1, 2
    ),
    joined AS (
      SELECT d.event_type, d.day, d.actual, p.actual AS forecast
      FROM daily d
      JOIN daily p ON p.event_type = d.event_type
                  AND p.day = d.day - {_SN_LAG}
    ),
    per_type AS (
      SELECT event_type,
             COUNT(*) AS n_eval,
             SUM(ABS(actual - forecast)) AS abs_err,
             SUM(actual - forecast) AS err
      FROM joined GROUP BY event_type
    ),
    days AS (
      SELECT event_type, COUNT(*) AS n_days FROM daily GROUP BY 1
    )
    SELECT p.event_type,
           CAST(d.n_days AS BIGINT) AS n_days,
           CAST(p.n_eval AS BIGINT) AS n_eval,
           {sql_round_div('p.abs_err', 'p.n_eval')} AS mae,
           {sql_round_div('p.err', 'p.n_eval')} AS bias
    FROM per_type p JOIN days d USING (event_type)
    ORDER BY p.event_type
    """


@register(
    "seasonal_naive_backtest",
    _backtest_oracle(),
    doc="forecast backtesting — the evaluation loop every metrics "
    "platform runs before trusting a model: the seasonal-naive "
    "baseline forecast(d) = actual(d - 7) per series (the benchmark "
    "every real forecaster must beat, per the M-competitions), "
    "scored with MAE and signed bias. Daily actuals are exact "
    "DECIMAL sums (order-independent), the error aggregates stay "
    "DECIMAL end-to-end, and each output metric takes ONE terminal "
    "rounding through the shared decimal route — no float "
    "reassociation anywhere. Day buckets are epoch_us div 86400000000 (integer truncation on both engines), "
    "timezone-free integers (the round-1 lesson). Only days with an "
    "observation 7 days prior are evaluable — n_eval vs n_days makes "
    "the coverage explicit rather than silently imputing. 100 TB "
    "shape: one hash aggregate to daily grain (map-side combine "
    "collapses events before any shuffle), one self equi-join on "
    "(series, day-7) at DAILY grain — series x days rows, thousands "
    "of times smaller than the event stream — then a series-keyed "
    "fold; persist the daily table and successive backtests never "
    "rescan raw events.",
)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        # integer `div` matches DuckDB's integer // (both truncate
        # toward zero) for ALL inputs incl. pre-1970 ts (ADVICE r11)
        F.expr(f"unix_micros(ts) div {_SN_DAY_US}").alias("day"),
        "value",
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.sum(F.col("value").cast("decimal(20,6)")).alias("actual")
    )
    prev = daily.select(
        "event_type",
        (F.col("day") + _SN_LAG).alias("day"),
        F.col("actual").alias("forecast"),
    )
    joined = daily.join(prev, ["event_type", "day"])
    per_type = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.sum(F.abs(F.col("actual") - F.col("forecast"))).alias(
            "abs_err"
        ),
        F.sum(F.col("actual") - F.col("forecast")).alias("err"),
    )
    days = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    return (
        per_type.join(days, "event_type")
        .select(
            "event_type",
            "n_days",
            "n_eval",
            round_div(F.col("abs_err"), F.col("n_eval")).alias("mae"),
            round_div(F.col("err"), F.col("n_eval")).alias("bias"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------
# gazetteer_phrase_match
# --------------------------------------------------------------------

# fixed literal gazetteer (mixed 2- and 3-token phrases, all present
# at every checked scale factor)
_GZ_PHRASES = [
    "sort merge",
    "hash join",
    "table scan",
    "merge part window",
]


def _gz_oracle() -> str:
    prow = ", ".join(f"('{p}')" for p in _GZ_PHRASES)
    return f"""
    WITH phrases(phrase) AS (VALUES {prow}),
    ptok AS (
      SELECT phrase,
             UNNEST(string_split(phrase, ' ')) AS tok,
             generate_subscripts(string_split(phrase, ' '), 1) - 1
               AS t_off,
             len(string_split(phrase, ' ')) AS plen
      FROM phrases
    ),
    tdf AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS df
      FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
            FROM documents)
      GROUP BY tok
    ),
    anchor AS (
      SELECT phrase, tok AS anchor_tok, t_off AS anchor_off, plen,
             df AS anchor_df
      FROM (
        SELECT p.phrase, p.tok, p.t_off, p.plen, t.df,
               ROW_NUMBER() OVER (PARTITION BY p.phrase
                                  ORDER BY t.df, p.tok, p.t_off) AS rn
        FROM ptok p JOIN tdf t USING (tok)
      ) WHERE rn = 1
    ),
    toks AS (
      SELECT doc_id, u.i AS pos, ws[u.i + 1] AS tok
      FROM (SELECT doc_id, string_split(text, ' ') AS ws
            FROM documents),
           UNNEST(range(len(ws))) AS u(i)
    ),
    cand AS (
      SELECT a.phrase, a.plen, t.doc_id,
             t.pos - a.anchor_off AS start_pos
      FROM toks t JOIN anchor a ON t.tok = a.anchor_tok
      WHERE t.pos - a.anchor_off >= 0
    ),
    verified AS (
      SELECT c.phrase, c.doc_id, c.start_pos
      FROM cand c
      JOIN (SELECT doc_id, string_split(text, ' ') AS ws
            FROM documents) d USING (doc_id)
      WHERE array_to_string(
              list_slice(d.ws, c.start_pos + 1, c.start_pos + c.plen),
              ' ') = c.phrase
    )
    SELECT a.phrase, a.anchor_tok,
           CAST(a.anchor_df AS BIGINT) AS anchor_df,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(v.n, 0) AS BIGINT) AS n_matches,
           CAST(COALESCE(v.nd, 0) AS BIGINT) AS n_docs_matched
    FROM anchor a
    LEFT JOIN (SELECT phrase, COUNT(*) AS n FROM cand GROUP BY 1) c
      USING (phrase)
    LEFT JOIN (SELECT phrase, COUNT(*) AS n,
                      COUNT(DISTINCT doc_id) AS nd
               FROM verified GROUP BY 1) v
      USING (phrase)
    ORDER BY a.phrase
    """


@register(
    "gazetteer_phrase_match",
    _gz_oracle(),
    bench=True,
    doc="dictionary/gazetteer span matching — the Aho-Corasick "
    "workload (NER-by-dictionary, blocklist phrases, entity linking) "
    "done the scale-safe way: each multi-token phrase is located by "
    "its RAREST token as the anchor, chosen ENGINE-side from corpus "
    "document frequencies with a deterministic tiebreak (df, token, "
    "offset) — the standard trick that keeps a million-phrase "
    "gazetteer joinable, because the anchor equi-join emits "
    "candidates proportional to the rare token's frequency, not the "
    "common ones' ('merge part window' anchors on 'window', never on "
    "'part'). Only candidates pay the token-slice verification, "
    "joined back to the document tokens. Per-phrase output exposes "
    "the anchor choice, its df, and the candidate-vs-match funnel in "
    "the compared bytes. Distinct from trigram_substring_index "
    "(character-level containment counts): this is token-ALIGNED "
    "extraction with positions, the substrate span annotation needs. "
    "100 TB shape: one token-df aggregate (map-side combine), a "
    "phrase-table join that is broadcast by construction (gazetteers "
    "are MB-scale), candidate verification joined on doc_id for "
    "candidate docs only — never a corpus-wide scan per phrase.",
)
def gazetteer_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    ws_docs = docs.select("doc_id", F.split("text", " ").alias("ws"))
    ptok = local_frame(
        spark,
        [
            (p, tok, off, len(p.split(" ")))
            for p in _GZ_PHRASES
            for off, tok in enumerate(p.split(" "))
        ],
        "phrase string, tok string, off bigint, plen bigint",
    )
    # df only for the gazetteer's own token vocabulary (r17): the
    # anchor selection joins tdf INNER on tok, so non-phrase tokens can
    # never survive it — filtering before the aggregate shrinks its
    # state and shuffle from |corpus vocabulary| cells to |gazetteer
    # vocabulary| (a million-phrase gazetteer is still MB-scale where
    # a 100 TB corpus vocabulary is not). Local A/B: 1.318 -> 1.280 s
    # min-of-5, identical rows; the win is the scale bound, the local
    # delta just confirms it never regresses.
    vocab = sorted({tok for p in _GZ_PHRASES for tok in p.split(" ")})
    tdf = (
        ws_docs.select("doc_id", F.explode("ws").alias("tok"))
        .filter(F.col("tok").isin(vocab))
        .groupBy("tok")
        .agg(F.count_distinct("doc_id").alias("df"))
    )
    from pyspark.sql import Window  # noqa: PLC0415

    anchor = (
        ptok.join(tdf, "tok")
        .withColumn(
            "rn",
            F.row_number().over(
                # phrase-partitioned: the window is bounded by the
                # gazetteer's own token count
                Window.partitionBy("phrase").orderBy("df", "tok", "off")
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "phrase",
            F.col("tok").alias("anchor_tok"),
            F.col("off").alias("anchor_off"),
            "plen",
            F.col("df").cast("long").alias("anchor_df"),
        )
        # materialize-once discipline (round-12 sweep): anchor is
        # consumed by the candidate join AND the final per-phrase
        # select, and its lineage contains the corpus-wide token-df
        # aggregate — without this the df pass runs twice. The frame
        # is gazetteer-sized (one row per phrase), so the checkpoint
        # is model-sized state; blocks release with the reference.
        .localCheckpoint(eager=True)
    )
    toks = ws_docs.select(
        "doc_id", F.posexplode("ws").alias("pos", "tok")
    )
    cand = (
        toks.join(
            F.broadcast(anchor), toks.tok == anchor.anchor_tok
        )
        .filter(F.col("pos") - F.col("anchor_off") >= 0)
        .select(
            "phrase",
            "plen",
            "doc_id",
            (F.col("pos") - F.col("anchor_off")).alias("start_pos"),
        )
    )
    verified = (
        cand.join(ws_docs, "doc_id")
        .filter(
            F.concat_ws(
                " ", F.slice(F.col("ws"), F.col("start_pos") + 1, F.col("plen"))
            )
            == F.col("phrase")
        )
        .select("phrase", "doc_id", "start_pos")
    )
    c_agg = cand.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_c")
    )
    v_agg = verified.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_m"),
        F.count_distinct("doc_id").cast("long").alias("n_d"),
    )
    z = F.lit(0).cast("long")
    return (
        anchor.select("phrase", "anchor_tok", "anchor_df")
        .join(c_agg, "phrase", "left")
        .join(v_agg, "phrase", "left")
        .select(
            "phrase",
            "anchor_tok",
            "anchor_df",
            F.coalesce("n_c", z).alias("n_candidates"),
            F.coalesce("n_m", z).alias("n_matches"),
            F.coalesce("n_d", z).alias("n_docs_matched"),
        )
        .orderBy("phrase")
    )
