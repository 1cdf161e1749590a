"""Round-10 registrations — staged and triple-gated in round 9
(implementations, DuckDB value-hash oracles, and pytest semantic pins
in tests/test_r9_staging.py; check_oracle --staging matched at
sf0.001/0.01/0.1 and hostile_check --chaos --staging passed),
registered here in round 10 per VERDICT round-9 item 1. The names head
the round-10 correctness window (never-witnessed beats stale), and the
two corpus-scale shapes carry ``bench=True`` per VERDICT item 3.

All three close gaps VERDICT round-8 item 6 named on the LLM-pipeline
surface:

- ``gopher_repetition_filters`` — Gopher's within-document repetition
  rules (Rae et al. 2021, table A1): duplicate-line fraction,
  duplicate-paragraph fraction, and top-2/3/4-gram coverage, with the
  published keep thresholds (0.30 / 0.30 / 0.20 / 0.18 / 0.16).
  Complements ``exact_substring_spans`` (cross-doc) and
  ``text_repetition_stats`` (token-level): this is the WITHIN-document
  structural-repetition family every production filter stack runs.
- ``eval_decontaminate_fuzzy_minhash`` — fuzzy eval-set
  decontamination (the Llama-report / GPT-4-report shape: flag a
  training doc when its 13-gram shingle set has Jaccard ≥ 0.8 with any
  eval doc). Composes ``eval_decontaminate_exact_ngrams``'s eval-set
  framing with the registered banded-LSH machinery; the oracle is the
  proven band contract (exhaustive exact-Jaccard ≡ LSH candidates
  re-verified exactly, since recall at J ≥ 0.8 under 32 bands × 4 rows
  is total: per-pair miss probability (1-J⁴)³² ≤ 5e-8).
- ``lang_id_rank_profile`` — heuristic language identification by
  character-n-gram rank profiles (Cavnar & Trenkle 1994, the classic
  deterministic lang-ID): per-language top-K trigram rank profiles are
  fit on a labeled seed partition, every document is classified by the
  out-of-place rank distance, integer-exact end to end. The registry
  consumes a ``lang`` column in a dozen operators but never PRODUCES
  one; this is the producer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.queries.common import (
    register,
    round_div,
    sql_round_div,
    t,
)


# --------------------------------------------------------------------
# gopher_repetition_filters
# --------------------------------------------------------------------

_GR_LINE_W = 10  # tokens per pseudo-line (the registry's sentence unit)
_GR_PARA_W = 30  # tokens per pseudo-paragraph
_GR_TOPK_PCT = {2: 20, 3: 18, 4: 16}  # Gopher A1 top-n-gram caps, in %
_GR_DUP_PCT = 30  # Gopher A1 duplicate line/paragraph fraction cap, in %
_GR_PLANT_MOD = 29  # every 29th doc spawns a planted repetitive twin
_GR_PLANT_OFFSET = 500_000_000  # planted ids, clear of fixture ids
_GR_PLANT_REPS = 12  # plant = first pseudo-line repeated 12x ->
# 12 identical lines (dup_line_frac = 11/12), 4 identical paragraphs
# (dup_para_frac = 3/4): every plant MUST come out keep=false

# pseudo-line/paragraph split as a single map-side expression: ceil
# split of the token array into fixed windows (the tail window may be
# short), then dup fraction via array_distinct — NO shuffle for the
# line/paragraph family. Spark SQL `slice` and DuckDB list slicing
# both clamp at the array end, so the grids agree.
_GR_LINES_SPARK = (
    "transform(sequence(0, (size(ws) + {w} - 1) div {w} - 1),"
    " i -> concat_ws(' ', slice(ws, i * {w} + 1, {w})))"
)
_GR_LINES_SQL = (
    "list_transform(range(0, (len(ws) + {w} - 1) // {w}),"
    " i -> array_to_string(ws[i * {w} + 1 : i * {w} + {w}], ' '))"
)


def _gopher_oracle() -> str:
    lines = _GR_LINES_SQL.format(w=_GR_LINE_W)
    paras = _GR_LINES_SQL.format(w=_GR_PARA_W)
    return f"""
    WITH alldocs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_GR_PLANT_OFFSET},
             array_to_string(
               list_transform(range({_GR_PLANT_REPS}),
                 x -> array_to_string(ws[1 : {_GR_LINE_W}], ' ')), ' ')
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      WHERE doc_id % {_GR_PLANT_MOD} = 0
    ),
    toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM alldocs
    ),
    struct_stats AS (
      SELECT doc_id, len(ws) AS n_tokens,
             len(lines) AS n_lines,
             len(list_distinct(lines)) AS d_lines,
             len(paras) AS n_paras,
             len(list_distinct(paras)) AS d_paras
      FROM (SELECT doc_id, ws, {lines} AS lines, {paras} AS paras FROM toks)
    ),
    g AS (
      SELECT doc_id, gl,
             UNNEST(list_transform(range(1, len(ws) - gl + 2),
                    i -> array_to_string(ws[i : i + gl - 1], ' '))) AS gm
      FROM toks, (SELECT UNNEST([2, 3, 4]) AS gl)
      WHERE len(ws) >= gl
    ),
    cnt AS (SELECT doc_id, gl, gm, COUNT(*) AS c FROM g GROUP BY ALL),
    top AS (SELECT doc_id, gl, MAX(c) AS topc FROM cnt GROUP BY doc_id, gl),
    wide AS (
      SELECT doc_id,
             MAX(CASE WHEN gl = 2 THEN topc END) AS c2,
             MAX(CASE WHEN gl = 3 THEN topc END) AS c3,
             MAX(CASE WHEN gl = 4 THEN topc END) AS c4
      FROM top GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(s.n_tokens AS BIGINT) AS n_tokens,
           {sql_round_div('(s.n_lines - s.d_lines) * 1.0', 's.n_lines', 4)}
             AS dup_line_frac,
           {sql_round_div('(s.n_paras - s.d_paras) * 1.0', 's.n_paras', 4)}
             AS dup_para_frac,
           {sql_round_div('w.c2 * 2.0', 's.n_tokens', 4)} AS top2_cov,
           {sql_round_div('w.c3 * 3.0', 's.n_tokens', 4)} AS top3_cov,
           {sql_round_div('w.c4 * 4.0', 's.n_tokens', 4)} AS top4_cov,
           NOT (
             (s.n_lines - s.d_lines) * 100 > s.n_lines * {_GR_DUP_PCT}
             OR (s.n_paras - s.d_paras) * 100 > s.n_paras * {_GR_DUP_PCT}
             OR w.c2 * 200 > s.n_tokens * {_GR_TOPK_PCT[2]}
             OR w.c3 * 300 > s.n_tokens * {_GR_TOPK_PCT[3]}
             OR w.c4 * 400 > s.n_tokens * {_GR_TOPK_PCT[4]}
           ) AS keep
    FROM struct_stats s JOIN wide w USING (doc_id)
    ORDER BY doc_id
    """


@register(
    "gopher_repetition_filters",
    _gopher_oracle(),
    bench=True,  # VERDICT r9 item 3: corpus-wide doc-level map-only shape
    doc="Gopher within-document repetition filters (Rae et al. 2021, "
    "table A1; VERDICT r8 item 6a): duplicate-line fraction, "
    "duplicate-paragraph fraction (pseudo-lines = fixed 10/30-token "
    "windows — the corpus has no newlines; the unit matches "
    "sentence_dedup_profile's), and top-2/3/4-gram token coverage, "
    "with the published keep thresholds 0.30/0.30/0.20/0.18/0.16. "
    "The keep flag compares as cross-multiplied INTEGERS (c*n*100 > "
    "pct*n_tokens), so no float boundary exists on either engine; "
    "display ratios go through the decimal-quotient route. Planted "
    "repetitive twins (first pseudo-line repeated 12x, ids past 5e8) "
    "witness the contract: every plant measures dup_line_frac = 11/12 "
    "and MUST come out keep=false. "
    "Complements text_repetition_stats (token frequency) and "
    "exact_substring_spans (cross-doc): this is the within-doc "
    "STRUCTURAL family. 100 TB shape: ZERO shuffle — the "
    "line/paragraph stats are map-side array expressions, and the "
    "n-gram mode is a per-doc array_sort + one aggregate() fold "
    "(longest equal run), because n-grams are per-document by "
    "definition; since round 10 everything comes out of ONE map-only "
    "projection (no doc-keyed branch join in the plan at all). "
    "Per-doc arrays bound memory at the "
    "longest document, the same contract every per-doc array op in "
    "the repo carries.",
)
def gopher_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    # planted repetitive twins: first pseudo-line repeated 12x — the
    # filter MUST drop every one of them (pinned in tests)
    line = F.concat_ws(" ", F.slice(F.split("text", " "), 1, _GR_LINE_W))
    plants = docs.filter(F.col("doc_id") % _GR_PLANT_MOD == 0).select(
        (F.col("doc_id") + _GR_PLANT_OFFSET).alias("doc_id"),
        F.concat_ws(" ", F.array_repeat(line, _GR_PLANT_REPS)).alias("text"),
    )
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out,
    )

    # the fixture corpus arrives as one small parquet split: without
    # fan_out the whole per-doc fold pipeline runs on a single core
    # (measured 3.3 s -> sub-second at sf0.1). No-op on a real
    # many-split corpus. dense=True (r17): the per-doc fold pipeline
    # does orders of magnitude more CPU per input byte than the
    # size-aware byte floor assumes (interleaved A/B: floor lost 0.43x).
    alldocs = fan_out(docs.unionByName(plants), dense=True)
    toks = alldocs.select("doc_id", F.split("text", " ").alias("ws"))
    lines = F.expr(_GR_LINES_SPARK.format(w=_GR_LINE_W))
    paras = F.expr(_GR_LINES_SPARK.format(w=_GR_PARA_W))
    # the top-n-gram MODE is computed map-side too: per doc, build the
    # n-gram array, array_sort it, and take the longest equal run with
    # one aggregate() fold — n-grams are per-document by definition,
    # so there is nothing to shuffle. (The DuckDB oracle keeps the
    # equivalent groupBy/max form — same mode count, different engine
    # idiom.) The whole operator is therefore ONE map-only projection:
    # the line/paragraph stats and the three gram modes come out of
    # the same select (round-10 rewrite — the earlier two-branch form
    # joined them back on doc_id, paying a broadcast exchange and a
    # second corpus scan for columns that were map-side all along;
    # hashes unchanged, re-verified against the oracle).
    from market_pulse_data_pipeline_spark.functions.scalars import (  # noqa: PLC0415
        longest_run_count,
    )

    def top_run(gl: int):
        grams = (
            f"transform(sequence(0, size(ws) - {gl}),"
            f" i -> concat_ws(' ', slice(ws, i + 1, {gl})))"
        )
        return F.when(
            F.size("ws") >= gl, longest_run_count(grams)
        )

    stats = toks.select(
        "doc_id",
        F.size("ws").alias("n_tokens"),
        F.size(lines).alias("n_lines"),
        F.size(F.array_distinct(lines)).alias("d_lines"),
        F.size(paras).alias("n_paras"),
        F.size(F.array_distinct(paras)).alias("d_paras"),
        top_run(2).alias("c2"),
        top_run(3).alias("c3"),
        top_run(4).alias("c4"),
    )
    filtered = (
        ((F.col("n_lines") - F.col("d_lines")) * 100
         > F.col("n_lines") * _GR_DUP_PCT)
        | ((F.col("n_paras") - F.col("d_paras")) * 100
           > F.col("n_paras") * _GR_DUP_PCT)
        | (F.col("c2") * 200 > F.col("n_tokens") * _GR_TOPK_PCT[2])
        | (F.col("c3") * 300 > F.col("n_tokens") * _GR_TOPK_PCT[3])
        | (F.col("c4") * 400 > F.col("n_tokens") * _GR_TOPK_PCT[4])
    )
    return (
        stats
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            round_div(
                (F.col("n_lines") - F.col("d_lines")) * 1.0,
                F.col("n_lines"), 4,
            ).alias("dup_line_frac"),
            round_div(
                (F.col("n_paras") - F.col("d_paras")) * 1.0,
                F.col("n_paras"), 4,
            ).alias("dup_para_frac"),
            round_div(F.col("c2") * 2.0, F.col("n_tokens"), 4).alias(
                "top2_cov"
            ),
            round_div(F.col("c3") * 3.0, F.col("n_tokens"), 4).alias(
                "top3_cov"
            ),
            round_div(F.col("c4") * 4.0, F.col("n_tokens"), 4).alias(
                "top4_cov"
            ),
            (~filtered).alias("keep"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------
# eval_decontaminate_fuzzy_minhash
# --------------------------------------------------------------------

_FZ_N = 13  # the decontamination n-gram order (same as the exact op)
_FZ_EVAL_MOD = 53  # doc_id % 53 == 0 plays the held-out eval set
_FZ_VERBATIM_MOD = 2 * _FZ_EVAL_MOD  # every 2nd eval doc leaks verbatim
_FZ_PERM = 128
_FZ_BANDS = 32  # 32 bands x 4 rows: P(miss J=0.8 pair) = (1-.8^4)^32 ~ 5e-8
_FZ_V_OFFSET = 1_000_000_000  # verbatim leak ids
_FZ_P_OFFSET = 2_000_000_000  # 90%-prefix partial leak ids (J ~ 0.83-0.88)
_FZ_N_OFFSET = 3_000_000_000  # 40%-prefix negatives (J < 0.35, never flag)

# prefix-truncated plant text, shared between engines: keep the first
# (len*frac_num) div frac_den tokens. Spark `div` and DuckDB `//` are
# both integer floor division on BIGINT.
_FZ_CUT_SPARK = "concat_ws(' ', slice(ws, 1, (size(ws) * {num}) div {den}))"
_FZ_CUT_SQL = "array_to_string(ws[1 : (len(ws) * {num}) // {den}], ' ')"


def _fuzzy_oracle() -> str:
    # Band-contract oracle (the minhash_lsh_near_dups precedent): the
    # exhaustive exact-Jaccard pair set at J >= 0.8 equals the LSH
    # candidates re-verified exactly, because per-pair miss
    # probability under 32 bands x 4 rows is (1-J^4)^32 <= 5e-8 at the
    # threshold — deterministic on the fixed corpus, witnessed at
    # sf0.001/0.01/0.1 through both local gates. The >= 0.8 test
    # compares as integers (10*∩ >= 8*∪): no float boundary.
    cut90 = _FZ_CUT_SQL.format(num=9, den=10)
    cut40 = _FZ_CUT_SQL.format(num=2, den=5)
    return f"""
    WITH evald AS (
      SELECT doc_id, text FROM documents WHERE doc_id % {_FZ_EVAL_MOD} = 0
    ),
    train AS (
      SELECT doc_id, text FROM documents WHERE doc_id % {_FZ_EVAL_MOD} <> 0
      UNION ALL
      SELECT doc_id + {_FZ_V_OFFSET}, text FROM evald
      WHERE doc_id % {_FZ_VERBATIM_MOD} = 0
      UNION ALL
      SELECT doc_id + {_FZ_P_OFFSET}, {cut90}
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM evald)
      WHERE doc_id % {_FZ_VERBATIM_MOD} <> 0
      UNION ALL
      SELECT doc_id + {_FZ_N_OFFSET}, {cut40}
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM evald)
    ),
    esh AS (
      SELECT DISTINCT doc_id AS eval_doc_id,
             UNNEST(list_transform(range(1, len(ws) - {_FZ_N - 2}),
                    i -> array_to_string(ws[i : i + {_FZ_N - 1}], ' '))) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM evald)
      WHERE len(ws) >= {_FZ_N}
    ),
    tsh AS (
      SELECT DISTINCT doc_id,
             UNNEST(list_transform(range(1, len(ws) - {_FZ_N - 2}),
                    i -> array_to_string(ws[i : i + {_FZ_N - 1}], ' '))) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM train)
      WHERE len(ws) >= {_FZ_N}
    ),
    esz AS (SELECT eval_doc_id, COUNT(*) AS en FROM esh GROUP BY 1),
    tsz AS (SELECT doc_id, COUNT(*) AS tn FROM tsh GROUP BY 1),
    pairs AS (
      SELECT t.doc_id, e.eval_doc_id, COUNT(*) AS intersection
      FROM tsh t JOIN esh e USING (sh)
      GROUP BY 1, 2
    )
    SELECT p.doc_id, p.eval_doc_id,
           CAST(p.intersection AS BIGINT) AS intersection,
           {sql_round_div('p.intersection * 1.0',
                          'tsz.tn + esz.en - p.intersection', 6)} AS jaccard
    FROM pairs p
    JOIN tsz USING (doc_id)
    JOIN esz USING (eval_doc_id)
    WHERE p.intersection * 10 >= (tsz.tn + esz.en - p.intersection) * 8
    ORDER BY doc_id, eval_doc_id
    """


@register(
    "eval_decontaminate_fuzzy_minhash",
    _fuzzy_oracle(),
    bench=True,  # VERDICT r9 item 3: banded-LSH asymmetric join shape
    doc="fuzzy eval-set decontamination (VERDICT r8 item 6b — the "
    "Llama-report / GPT-4-report shape): flag every (train doc, eval "
    "doc) pair whose 13-gram shingle sets reach Jaccard >= 0.8, via "
    "MinHash(128 perms) + banded LSH(32 bands x 4 rows) candidates "
    "re-verified with EXACT set intersection — composes "
    "eval_decontaminate_exact_ngrams's eval framing with the "
    "registered banded-LSH machinery, catching paraphrased/truncated "
    "leaks the exact 13-gram hit test misses only when >=13-token "
    "runs survive verbatim. Planted witnesses: verbatim leaks "
    "(J = 1), 90%-prefix leaks (J ~ 0.83-0.88, MUST flag), and "
    "40%-prefix negatives (J < 0.35, MUST NOT flag). Oracle is the "
    "proven band contract: exhaustive exact-Jaccard >= 0.8 pairs, "
    "with the threshold compared as integers (10*∩ >= 8*∪). 100 TB "
    "shape: the eval side is tiny by definition, so its band entries "
    "AND its hashed shingle arrays broadcast — the corpus side is one "
    "map-only signature pass plus a band-keyed broadcast join; "
    "verification touches candidate pairs only, and nothing ever "
    "shuffles the corpus text.",
)
def eval_decontaminate_fuzzy_minhash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        band_entries,
        fan_out,
        minhash_signatures,
        shingle_hashes,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    evald = docs.filter(F.col("doc_id") % _FZ_EVAL_MOD == 0)
    ew = evald.select("doc_id", F.split("text", " ").alias("ws"))
    train = (
        docs.filter(F.col("doc_id") % _FZ_EVAL_MOD != 0)
        .unionByName(
            evald.filter(F.col("doc_id") % _FZ_VERBATIM_MOD == 0).select(
                (F.col("doc_id") + _FZ_V_OFFSET).alias("doc_id"), "text"
            )
        )
        .unionByName(
            ew.filter(F.col("doc_id") % _FZ_VERBATIM_MOD != 0).select(
                (F.col("doc_id") + _FZ_P_OFFSET).alias("doc_id"),
                F.expr(_FZ_CUT_SPARK.format(num=9, den=10)).alias("text"),
            )
        )
        .unionByName(
            ew.select(
                (F.col("doc_id") + _FZ_N_OFFSET).alias("doc_id"),
                F.expr(_FZ_CUT_SPARK.format(num=2, den=5)).alias("text"),
            )
        )
    )

    # one shingle pass per side feeds signatures AND exact verification
    # (the minhash_lsh_near_dups cache discipline); the eval side is
    # tiny, so everything eval-derived broadcasts. fan_out BEFORE the
    # shingle hashing: spreading after it would leave the expensive
    # 13-gram hash projection on the handful of pre-exchange tasks the
    # single-split fixture scan provides (round-10 fix; no-op on a
    # real many-split corpus).
    # dense=True (r17): the 13-gram build + xxhash is compute-dense
    # (A/B: the size-aware byte floor lost 0.62x on this query)
    th = shingle_hashes(fan_out(train, dense=True), _FZ_N).cache()
    eh = shingle_hashes(evald, _FZ_N).cache()
    tsig = minhash_signatures(th, _FZ_PERM)
    esig = minhash_signatures(eh, _FZ_PERM)

    cand = (
        band_entries(tsig, _FZ_BANDS)
        .join(
            F.broadcast(
                band_entries(esig, _FZ_BANDS).withColumnRenamed(
                    "doc_id", "eval_doc_id"
                )
            ),
            ["band", "bh"],
        )
        .select("doc_id", "eval_doc_id")
        .distinct()
    )
    ev = eh.select(
        F.col("doc_id").alias("eval_doc_id"), F.col("hs").alias("e_hs")
    )
    inter = F.size(F.array_intersect("hs", "e_hs"))
    tot = F.size(F.array_distinct("hs")) + F.size(F.array_distinct("e_hs"))
    out = (
        th.join(F.broadcast(cand), "doc_id")
        .join(F.broadcast(ev), "eval_doc_id")
        .select(
            "doc_id",
            "eval_doc_id",
            inter.cast("long").alias("intersection"),
            (tot - inter).alias("_union"),
        )
        .filter(F.col("intersection") * 10 >= F.col("_union") * 8)
        .select(
            "doc_id",
            "eval_doc_id",
            "intersection",
            round_div(
                F.col("intersection") * 1.0, F.col("_union"), 6
            ).alias("jaccard"),
        )
        .orderBy("doc_id", "eval_doc_id")
    )
    # force the tiny pair result, then release the corpus-sized blocks
    out = out.localCheckpoint(eager=True)
    th.unpersist(blocking=False)
    eh.unpersist(blocking=False)
    return out


# --------------------------------------------------------------------
# lang_id_rank_profile
# --------------------------------------------------------------------

_LI_K = 20  # profile length (top-K character trigrams)
_LI_N = 3  # character n-gram order
_LI_SEED_MOD = 10  # doc_id % 10 < 3 plays the labeled seed partition
_LI_SEED_LT = 3

_LI_GRAMS_SQL = (
    "list_transform(range(1, length(text) - 1),"
    " i -> substring(text, i, 3))"
)


def _langid_oracle() -> str:
    return f"""
    WITH dg AS (
      SELECT doc_id, UNNEST({_LI_GRAMS_SQL}) AS g
      FROM documents WHERE length(text) >= {_LI_N}
    ),
    dr AS (
      SELECT doc_id, g, dr FROM (
        SELECT doc_id, g,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY COUNT(*) DESC, g) AS dr
        FROM dg GROUP BY doc_id, g
      ) WHERE dr <= {_LI_K}
    ),
    tg AS (
      SELECT lang, UNNEST({_LI_GRAMS_SQL}) AS g
      FROM documents
      WHERE doc_id % {_LI_SEED_MOD} < {_LI_SEED_LT}
        AND length(text) >= {_LI_N}
    ),
    lr AS (
      SELECT lang, g, lr FROM (
        SELECT lang, g,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY COUNT(*) DESC, g) AS lr
        FROM tg GROUP BY lang, g
      ) WHERE lr <= {_LI_K}
    ),
    langs AS (SELECT DISTINCT lang FROM lr),
    scored AS (
      SELECT d.doc_id, l.lang,
             SUM(COALESCE(ABS(d.dr - p.lr), {_LI_K})) AS dist
      FROM dr d
      CROSS JOIN langs l
      LEFT JOIN lr p ON p.lang = l.lang AND p.g = d.g
      GROUP BY d.doc_id, l.lang
    ),
    best AS (
      SELECT doc_id, lang AS lang_pred, dist FROM (
        SELECT doc_id, lang, dist,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY dist, lang) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT d.doc_id, d.lang, b.lang_pred,
           CAST(b.dist AS BIGINT) AS oop_distance
    FROM best b JOIN documents d USING (doc_id)
    ORDER BY doc_id
    """


@register(
    "lang_id_rank_profile",
    _langid_oracle(),
    doc="heuristic language identification by character-n-gram rank "
    "profiles (Cavnar & Trenkle 1994 — the classic deterministic "
    "lang-ID; VERDICT r8 item 6c): fit a top-20 character-trigram "
    "rank profile per language on a labeled seed partition "
    "(doc_id % 10 < 3), then classify EVERY document by the "
    "out-of-place measure — sum over the doc's own top-20 trigrams "
    "of |doc rank - profile rank|, missing grams costing the maximum "
    "K. Ranks are ROW_NUMBER under the total order (count DESC, gram "
    "ASC) and the distance is an integer sum, so prediction is exact "
    "on both engines — no float anywhere. Unlike lang_id_heuristic "
    "(a binary en/other stopword test), this PRODUCES the lang label "
    "the registry's per-lang operators consume. 100 TB shape: the "
    "language profiles are bounded (|langs| x K rows) and broadcast; "
    "the doc side is one gram-count shuffle with map-side combine + "
    "a doc-keyed top-K window (no global sort), then a "
    "bounded-multiplier (x|langs|) broadcast join and a doc-keyed "
    "argmin.",
)
def lang_id_rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    grams = F.explode(
        F.expr(
            f"transform(sequence(1, length(text) - {_LI_N - 1}),"
            f" i -> substring(text, i, {_LI_N}))"
        )
    ).alias("g")
    long_enough = F.length("text") >= _LI_N

    doc_rank = (
        docs.filter(long_enough)
        .select("doc_id", grams)
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "dr",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("c").desc(), F.col("g")
                )
            ),
        )
        .filter(F.col("dr") <= _LI_K)
        .select("doc_id", "g", "dr")
    )
    lang_rank = (
        docs.filter(
            (F.col("doc_id") % _LI_SEED_MOD < _LI_SEED_LT) & long_enough
        )
        .select("lang", grams)
        .groupBy("lang", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "lr",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(
                    F.col("c").desc(), F.col("g")
                )
            ),
        )
        .filter(F.col("lr") <= _LI_K)
        .select("lang", "g", "lr")
    )
    langs = lang_rank.select("lang").distinct()
    scored = (
        doc_rank.crossJoin(F.broadcast(langs))
        .join(F.broadcast(lang_rank), ["lang", "g"], "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(
                F.coalesce(
                    F.abs(F.col("dr") - F.col("lr")), F.lit(_LI_K)
                )
            ).alias("dist")
        )
    )
    best = scored.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("dist", "lang")
        ),
    ).filter(F.col("rn") == 1)
    return (
        best.select(
            "doc_id",
            F.col("lang").alias("lang_pred"),
            F.col("dist").cast("long").alias("oop_distance"),
        )
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "lang_pred", "oop_distance")
        .orderBy("doc_id")
    )
