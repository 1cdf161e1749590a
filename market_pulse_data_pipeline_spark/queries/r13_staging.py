"""Round-12 registrations, second batch — staged and triple-gated in
round 10 (implementations, DuckDB value-hash oracles, pytest pins in
tests/test_r13_staging.py; check_oracle --staging matched at
sf0.001/0.01/0.1 and hostile_check --chaos --staging passed),
registered in round 12 per VERDICT round-11 item 1 (the r13 half of
the ordered double flip, including ``lsh_recall_curve`` — the
ANN-quality witness the registry previously lacked).

- ``eval_decontaminate_semantic`` — the third leg of the
  decontamination family: EXACT 13-grams (eval_decontaminate_exact_
  ngrams) catch verbatim leaks, fuzzy MinHash (eval_decontaminate_
  fuzzy_minhash) catches near-verbatim ones, and this catches
  PARAPHRASED leaks the lexical tests cannot see — flag every
  training vector whose embedding cosine with any eval vector reaches
  the SemDeDup threshold (0.95). The published practice (semantic
  dedup against eval sets, e.g. the SemDeDup/D4 line of work) applied
  to the decontamination direction.
- ``rendezvous_shard_assignment`` — deterministic doc→shard placement
  by Highest-Random-Weight hashing (Thaler & Ravishankar 1996, the
  classic rendezvous scheme): every document independently scores all
  S shards with an integer hash and takes the argmax. The property
  that matters for a training pipeline: when a shard is removed, ONLY
  the documents that lived on it move (pinned in tests) — re-sharding
  a 100 TB corpus touches 1/S of it, not all of it.
- ``lsh_recall_curve`` — measured recall calibration for the banded
  MinHash-LSH family: bucket the exhaustive shingle-sharing pair set
  by exact Jaccard decile and report, per bucket, how many pairs the
  banded candidate generation captured. The observability number that
  tells you whether (perms, bands) fit a corpus before you commit a
  100 TB dedup run to them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.queries.common import (
    register,
    sql_round_div,
    t,
)

# --------------------------------------------------------------------
# eval_decontaminate_semantic
# --------------------------------------------------------------------

_ES_SCALE = 1_000_000  # the repo-wide round(x*1e6) int64 quantization
_ES_DIM = 64
_ES_EVAL_MOD = 23  # vec_id % 23 == 0 plays the held-out eval set
_ES_NUM, _ES_DEN = 361, 400  # cos >= 0.95  <=>  400*dot^2 >= 361*|a|^2*|b|^2
_ES_V_OFFSET = 2_000_000_000  # planted verbatim eval copies (cos = 1)
_ES_H_OFFSET = 2_010_000_000  # half-scale copies (cos ~ 1: scale-free)
_ES_N_OFFSET = 2_020_000_000  # negated copies (dot < 0: never flag)


def _esem_oracle() -> str:
    q = (
        "list_transform(embedding, x -> "
        f"CAST(round(CAST(x AS DOUBLE) * {_ES_SCALE}) AS BIGINT))"
    )
    return f"""
    WITH evs AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % {_ES_EVAL_MOD} = 0
    ),
    train AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % {_ES_EVAL_MOD} <> 0
      UNION ALL
      SELECT vec_id + {_ES_V_OFFSET}, embedding FROM evs
      UNION ALL
      SELECT vec_id + {_ES_H_OFFSET},
             list_transform(embedding, x -> CAST(x * 0.5 AS FLOAT))
      FROM evs
      UNION ALL
      SELECT vec_id + {_ES_N_OFFSET},
             list_transform(embedding, x -> CAST(-x AS FLOAT))
      FROM evs
    ),
    tq AS (SELECT vec_id, {q} AS qv FROM train),
    eq AS (SELECT vec_id, {q} AS qv FROM evs),
    tp AS (
      SELECT vec_id, g.i AS pos, qv[g.i + 1] AS v
      FROM tq CROSS JOIN (SELECT UNNEST(range(0, {_ES_DIM})) AS i) g
    ),
    ep AS (
      SELECT vec_id, g.i AS pos, qv[g.i + 1] AS v
      FROM eq CROSS JOIN (SELECT UNNEST(range(0, {_ES_DIM})) AS i) g
    ),
    tn AS (SELECT vec_id, SUM(v * v) AS n2 FROM tp GROUP BY vec_id),
    en AS (SELECT vec_id, SUM(v * v) AS n2 FROM ep GROUP BY vec_id),
    dots AS (
      SELECT tp.vec_id AS vec_id, ep.vec_id AS eval_vec_id,
             SUM(tp.v * ep.v) AS dot
      FROM tp JOIN ep ON tp.pos = ep.pos
      GROUP BY tp.vec_id, ep.vec_id
    )
    SELECT d.vec_id, d.eval_vec_id, CAST(d.dot AS BIGINT) AS dot
    FROM dots d
    JOIN tn ON tn.vec_id = d.vec_id
    JOIN en ON en.vec_id = d.eval_vec_id
    WHERE d.dot >= 0
      AND {_ES_DEN} * d.dot * d.dot >= {_ES_NUM} * tn.n2 * en.n2
    ORDER BY d.vec_id, d.eval_vec_id
    """


@register(
    "eval_decontaminate_semantic",
    _esem_oracle(),
    bench=True,
    doc="semantic (embedding-space) eval-set decontamination — the "
    "third leg of the family: exact 13-grams catch verbatim leaks, "
    "fuzzy MinHash catches near-verbatim ones, and this flags every "
    "(train vector, eval vector) pair whose cosine reaches the "
    "SemDeDup threshold 0.95 — the paraphrased-leak screen lexical "
    "tests cannot do. Arithmetic is the repo's exact-integer cosine "
    "contract: round(x*1e6) int64 quantization, threshold as "
    "400*dot^2 >= 361*|a|^2*|b|^2 through decimal(38) (dot^2 can "
    "reach ~1e24), dot >= 0 guard — no float boundary on either "
    "engine. Planted witnesses: verbatim eval copies (cos = 1, MUST "
    "flag against exactly their own eval vector), half-scale copies "
    "(MUST flag — cosine is scale-free, so a dot threshold would "
    "miss them), negated copies (dot < 0, MUST NOT flag). 100 TB "
    "shape: the eval set is bounded by definition, so its quantized "
    "(E x dim) int64 matrix ships inside the Arrow-batched dot UDF "
    "closure (the brute_cosine broadcast-matmul discipline; numpy "
    "int64 matmul is exact, |dot| <= 64e12 << 2^63) — the corpus "
    "side is ONE map-only pass, zero shuffle, nothing collected but "
    "the eval set itself; the decimal(38) threshold filter stays "
    "JVM-side. For eval suites past ~10k vectors, pre-block with the "
    "registered ann_lsh/ann_ivf machinery exactly as README "
    "documents for SemDeDup.",
)
def eval_decontaminate_semantic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out,
    )

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    evs = emb.filter(F.col("vec_id") % _ES_EVAL_MOD == 0)
    train = (
        emb.filter(F.col("vec_id") % _ES_EVAL_MOD != 0)
        .unionByName(
            evs.select(
                (F.col("vec_id") + _ES_V_OFFSET).alias("vec_id"), "embedding"
            )
        )
        .unionByName(
            evs.select(
                (F.col("vec_id") + _ES_H_OFFSET).alias("vec_id"),
                F.transform(
                    "embedding", lambda x: (x * 0.5).cast("float")
                ).alias("embedding"),
            )
        )
        .unionByName(
            evs.select(
                (F.col("vec_id") + _ES_N_OFFSET).alias("vec_id"),
                F.transform("embedding", lambda x: (-x).cast("float")).alias(
                    "embedding"
                ),
            )
        )
    )
    quant = lambda col: F.transform(  # noqa: E731
        col, lambda x: F.round(x.cast("double") * _ES_SCALE).cast("long")
    )
    # the eval side is bounded by definition: collect its quantized
    # vectors and ship the (E x dim) int64 matrix inside the Arrow UDF
    # closure — the corpus never joins, it folds map-side against the
    # broadcast matrix. numpy int64 matmul is exact modular integer
    # arithmetic and |dot| <= dim * scale^2 = 64e12 << 2^63, so the
    # exact-integer contract holds bit-for-bit; the decimal(38)
    # threshold square stays JVM-side below. (This replaced a literal
    # array-of-structs expression whose E x dim F.lit tree cost more
    # in py4j construction + interpreted zip_with evaluation than the
    # whole data pass: isolated min-of-4 at sf0.1 4.28 -> 1.41 s.)
    ev_rows = sorted(
        evs.select("vec_id", quant(F.col("embedding")).alias("q")).collect(),
        key=lambda r: r["vec_id"],
    )
    ev_mat = np.array([[int(c) for c in r["q"]] for r in ev_rows], np.int64)
    ev_ids = np.array([int(r["vec_id"]) for r in ev_rows], dtype=np.int64)
    ev_n2 = (ev_mat * ev_mat).sum(axis=1)  # exact: 64e12 << 2^63

    # r17 (VERDICT r16 item 5): the kernel emits only SCREENED
    # candidate pairs instead of posexploding every (train x eval) dot
    # into E rows per train vector — the within_cluster_pair_dots
    # pattern. tn2 moves into the same numpy pass (exact int64,
    # replacing the interpreted per-row aggregate fold), the screen is
    # dot >= 0 plus the float64 threshold with relative slack 1e-12
    # (~3 orders wider than worst-case float64 error of the two
    # products, so the emitted set is a guaranteed SUPERSET), and the
    # exact decimal(38) contract below is UNCHANGED — the flagged set
    # is bit-identical (pinned by tests/test_r13_staging.py::
    # test_esem_candidate_kernel_matches_explode_path). The n2
    # products are compared in float64 because tn2 * en2 (~4e27)
    # overflows int64 — same discipline as the pair-dot kernel.
    rhs_f = float(_ES_NUM) * (1.0 - 1e-12)
    en2_f = ev_n2.astype(np.float64)

    def _cand(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["tv"].to_numpy()).astype(np.int64)
            ids = pdf["vec_id"].to_numpy().astype(np.int64)
            tn2 = (x * x).sum(axis=1)  # exact int64
            dots = x @ ev_mat.T  # (batch, E) exact int64
            d_f = dots.astype(np.float64)
            screen = (dots >= 0) & (
                float(_ES_DEN) * d_f * d_f
                >= rhs_f * tn2.astype(np.float64)[:, None] * en2_f[None, :]
            )
            ti, ej = np.nonzero(screen)
            if ti.size:
                yield pd.DataFrame(
                    {
                        "vec_id": ids[ti],
                        "eval_vec_id": ev_ids[ej],
                        "dot": dots[ti, ej],
                        "tn2": tn2[ti],
                        "en2": ev_n2[ej],
                    }
                )

    tq = fan_out(train.select("vec_id", quant(F.col("embedding")).alias("tv")))
    pairs = tq.mapInPandas(
        _cand,
        schema="vec_id long, eval_vec_id long, dot long, tn2 long, en2 long",
    )
    dec = "decimal(38,0)"
    flagged = pairs.filter(
        (F.col("dot") >= 0)
        & (
            F.col("dot").cast(dec) * F.col("dot").cast(dec) * _ES_DEN
            >= F.col("tn2").cast(dec) * F.col("en2").cast(dec) * _ES_NUM
        )
    )
    return flagged.select("vec_id", "eval_vec_id", "dot").orderBy(
        "vec_id", "eval_vec_id"
    )


# --------------------------------------------------------------------
# rendezvous_shard_assignment
# --------------------------------------------------------------------

_RV_SHARDS = 16  # shard count S; scores are per-(doc, shard) hashes


def _rv_score_sql(doc: str, shard: str) -> str:
    # portable 60-bit score: first 15 hex digits of md5("doc:shard")
    return (
        f"(('0x' || substring(md5(CAST({doc} AS VARCHAR) || ':' || "
        f"CAST({shard} AS VARCHAR)), 1, 15))::BIGINT)"
    )


def _rendezvous_oracle() -> str:
    score = _rv_score_sql("d.doc_id", "g.s")
    return f"""
    WITH scored AS (
      SELECT d.doc_id,
             len(string_split(d.text, ' ')) AS n_tokens,
             g.s AS shard, {score} AS score
      FROM documents d
      CROSS JOIN (SELECT UNNEST(range(0, {_RV_SHARDS})) AS s) g
    ),
    best AS (
      SELECT doc_id, n_tokens, shard,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY score DESC, shard ASC
             ) AS rn
      FROM scored
    )
    SELECT doc_id, CAST(shard AS BIGINT) AS shard,
           CAST(n_tokens AS BIGINT) AS n_tokens
    FROM best WHERE rn = 1
    ORDER BY doc_id
    """


@register(
    "rendezvous_shard_assignment",
    _rendezvous_oracle(),
    doc="deterministic doc->shard placement by Highest-Random-Weight "
    "(rendezvous) hashing (Thaler & Ravishankar 1996): every document "
    "independently scores all S=16 shards with the portable 60-bit "
    "md5 hash of 'doc_id:shard' and takes the argmax under the total "
    "order (score DESC, shard ASC). THE property a training pipeline "
    "wants from its sharder: removing a shard remaps ONLY the "
    "documents that lived on it (each survivor's argmax over the "
    "remaining shards is unchanged) — re-sharding a 100 TB corpus "
    "moves 1/S of it, where mod-S hashing moves (S-1)/S. The "
    "monotonicity contract is pinned in tests by recomputing the "
    "assignment with shard 7 deleted. 100 TB shape: pure map-side "
    "(the S scores are a per-row transform over a literal sequence, "
    "argmax via one array_max over (score, shard) structs); zero "
    "shuffle, zero state — any executor can place any document "
    "without coordination.",
)
def rendezvous_shard_assignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        portable_hash60,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    score = lambda s: portable_hash60(  # noqa: E731
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":"), s.cast("string")
        )
    )
    # argmax via array_max over (score, -shard) structs: struct
    # comparison is lexicographic, so ties (impossible for a 60-bit
    # hash in practice, but the order is total anyway) resolve to the
    # SMALLEST shard — the same (score DESC, shard ASC) order the
    # oracle's ROW_NUMBER uses
    best = F.array_max(
        F.transform(
            F.sequence(F.lit(0), F.lit(_RV_SHARDS - 1)),
            lambda s: F.struct(
                score(s).alias("score"), (-s).alias("negs")
            ),
        )
    )
    return (
        docs.select(
            "doc_id",
            (-best["negs"]).cast("long").alias("shard"),
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------
# lsh_recall_curve
# --------------------------------------------------------------------

_RC_PERM = 16  # same portable pipeline parameters as minhash_lsh_portable
_RC_BANDS = 4  # 4 rows per band: s-curve midpoint (1/4)^(1/4) ~ 0.71
_RC_PLANT_MOD = 17  # every 17th doc seeds the three planted pair shapes
_RC_V_OFFSET = 3_000_000_000  # verbatim copy (J = 1)
_RC_P8_OFFSET = 3_010_000_000  # 80%-prefix copy (J ~ 0.75)
_RC_P5_OFFSET = 3_020_000_000  # 50%-prefix copy (J ~ 0.45)


def _rc_cut_sql(num: int, den: int) -> str:
    return (
        "array_to_string(ws[1 : greatest(3, (len(ws) * "
        f"{num}) // {den})], ' ')"
    )


def _recall_oracle() -> str:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        _MERSENNE,
        _minhash_sql,
    )

    mins, band_rows = _minhash_sql(_RC_PERM, _RC_BANDS)
    return f"""
    WITH seeds AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      WHERE doc_id % {_RC_PLANT_MOD} = 0
    ),
    alldocs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_RC_V_OFFSET}, array_to_string(ws, ' ') FROM seeds
      UNION ALL
      SELECT doc_id + {_RC_P8_OFFSET}, {_rc_cut_sql(4, 5)} FROM seeds
      UNION ALL
      SELECT doc_id + {_RC_P5_OFFSET}, {_rc_cut_sql(1, 2)} FROM seeds
    ),
    toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM alldocs
      WHERE len(string_split(text, ' ')) >= 3
    ),
    hsets AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(ws) - 1),
               i -> ('0x' || substring(md5(ws[i] || ' ' || ws[i+1]
                     || ' ' || ws[i+2]), 1, 15))::BIGINT
                    % {_MERSENNE})) AS hs
      FROM toks
    ),
    inv AS (SELECT doc_id, UNNEST(hs) AS h FROM hsets),
    truth AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    jacc AS (
      SELECT t.doc_a, t.doc_b,
             len(list_intersect(x.hs, y.hs)) AS i,
             len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)) AS u
      FROM truth t
      JOIN hsets x ON x.doc_id = t.doc_a
      JOIN hsets y ON y.doc_id = t.doc_b
    ),
    sigs AS (
      SELECT doc_id,
             {mins}
      FROM hsets
    ),
    bands AS (
      {band_rows}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    )
    SELECT LEAST((10 * j.i) // j.u, 9) AS j_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_candidates,
           {sql_round_div(
               'SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) * 1.0',
               'COUNT(*)')} AS recall
    FROM jacc j
    LEFT JOIN cand c ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
    GROUP BY 1
    ORDER BY j_bucket
    """


@register(
    "lsh_recall_curve",
    _recall_oracle(),
    doc="measured recall calibration of the banded MinHash-LSH "
    "pipeline (16 perms x 4 bands, the registered "
    "minhash_lsh_portable parameters): the exhaustive "
    "shingle-sharing pair set (inverted-index join — bucketed, never "
    "all-pairs) is bucketed by exact-Jaccard decile "
    "(LEAST((10*∩) // ∪, 9) — pure integer arithmetic), and each "
    "bucket reports how many of its pairs the banded candidate join "
    "captured. THE pre-flight number for a dedup run: the measured "
    "s-curve tells you whether (perms, bands) hit your target "
    "threshold before you commit a 100 TB pass to them. Planted pair "
    "shapes make the high-J tail non-trivial: verbatim copies "
    "(J = 1), 80%-prefix copies (J ~ 0.75), 50%-prefix copies "
    "(J ~ 0.45) off every 17th doc. The recall column is a display "
    "ratio (exact integer counts are the compared evidence; the "
    "round(4) quotient matches DuckDB's dyadic rounding). 100 TB "
    "shape: one shingle-keyed inverted-index shuffle for truth, one "
    "(band, slice)-keyed shuffle for candidates, one bounded "
    "10-bucket aggregate; at production scale you run it on a "
    "SAMPLED corpus slice — the curve is a property of the "
    "(perms, bands) choice, not of corpus size.",
)
def lsh_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        fan_out,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_hashes,
    )
    from market_pulse_data_pipeline_spark.queries.common import (  # noqa: PLC0415
        round_div,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    seeds = docs.filter(F.col("doc_id") % _RC_PLANT_MOD == 0).select(
        "doc_id", F.split("text", " ").alias("ws")
    )

    def cut(num: int, den: int):
        return F.concat_ws(
            " ",
            F.slice(
                F.col("ws"),
                1,
                F.greatest(
                    F.lit(3),
                    F.floor((F.size("ws") * num) / den).cast("int"),
                ).cast("int"),
            ),
        )

    alldocs = (
        docs.unionByName(
            seeds.select(
                (F.col("doc_id") + _RC_V_OFFSET).alias("doc_id"),
                F.concat_ws(" ", F.col("ws")).alias("text"),
            )
        )
        .unionByName(
            seeds.select(
                (F.col("doc_id") + _RC_P8_OFFSET).alias("doc_id"),
                cut(4, 5).alias("text"),
            )
        )
        .unionByName(
            seeds.select(
                (F.col("doc_id") + _RC_P5_OFFSET).alias("doc_id"),
                cut(1, 2).alias("text"),
            )
        )
    )
    hsets = (
        shingle_hashes(fan_out(alldocs), portable=True)
        .select("doc_id", F.array_distinct("hs").alias("hs"))
        .cache()
    )
    inv = hsets.select("doc_id", F.explode("hs").alias("h"))
    ia, ib = inv.alias("a"), inv.alias("b")
    truth = (
        ia.join(
            ib,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    xa = hsets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("ha"))
    xb = hsets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hb"))
    inter = F.size(F.array_intersect("ha", "hb"))
    jacc = (
        truth.join(xa, "doc_a")
        .join(xb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.alias("i"),
            (F.size("ha") + F.size("hb") - inter).alias("u"),
        )
    )
    cand = lsh_candidate_pairs(
        minhash_signatures(hsets, _RC_PERM), _RC_BANDS
    ).withColumn("is_cand", F.lit(True))
    joined = jacc.join(cand, ["doc_a", "doc_b"], "left")
    hit = F.when(F.col("is_cand"), 1).otherwise(0)
    out = (
        joined.select(
            F.least(
                F.floor((F.col("i") * 10) / F.col("u")), F.lit(9).cast("bigint")
            ).alias("j_bucket"),
            hit.alias("hit"),
        )
        .groupBy("j_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("hit").cast("long").alias("n_candidates"),
        )
        .select(
            F.col("j_bucket").cast("long").alias("j_bucket"),
            "n_pairs",
            "n_candidates",
            round_div(
                F.col("n_candidates") * 1.0, F.col("n_pairs"), 4
            ).alias("recall"),
        )
        .orderBy("j_bucket")
    )
    # force the 10-row curve, then release the corpus-sized hash sets
    out = out.localCheckpoint(eager=True)
    hsets.unpersist(blocking=False)
    return out
