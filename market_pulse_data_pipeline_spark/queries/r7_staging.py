"""Round-7 LLM-training-data operators (staged in round 6, registered
in round 7 per VERDICT round-6 item 2).

Landed as round-6 staging rows with their DuckDB value-hash oracles and
pytest gates already final; round 7 moved them onto ``@register`` and
appended the six names to the round-8 deferral list (the round-4
displacement rule — additions never displace a verified window), so
their first driver witness is the round-8 rotation window.

All are LLM-training-data operators the registry did not previously
cover:

- ``semdedup_prune`` — SemDeDup (Abbas et al., 2023, arXiv:2303.09540):
  k-means clusters bound the candidate space, then within-cluster
  pairwise cosine above a threshold marks semantic duplicates and the
  lowest vec_id survives. Complements the existing dedup family
  (exact / MinHash / SimHash / n-gram Jaccard / LSH-cosine): those all
  key on content overlap; SemDeDup keys on embedding-space semantic
  proximity with clusters, not hash bands, as the blocking structure.
- ``ngram_novelty_profile`` — per-document novel-n-gram fraction
  against everything earlier in ingestion order (the memorization /
  novelty signal from the dedup literature, e.g. Lee et al. 2022
  "Deduplicating Training Data Makes Language Models Better"): unlike
  ``cross_corpus_dedup_exact`` (whole-doc hash vs a fixed corpus) this
  scores every doc by how much of its n-gram content is first-seen.
- ``domain_frequency_cap`` — C4/CCNet-style per-source document cap
  with a deterministic quality priority (n_chars DESC, doc_id ASC):
  the anti-boilerplate step that bounds any one domain's share of the
  training mix. Distinct from ``stratified_sample_per_lang``
  (proportional sampling) and ``quota_largest_remainder``
  (budget apportionment): a cap is an absolute per-key ceiling.
- ``kcenter_diversity_sample`` — greedy k-center (farthest-point
  traversal, the classic 2-approximation; Gonzalez 1985): pick the
  seed, then repeatedly the point farthest from everything selected.
  The diversity-selection primitive of data curation (coreset /
  "maximize coverage of embedding space" subset picks), dual to the
  similarity-driven dedup family: dedup removes the closest pairs,
  k-center KEEPS the farthest spread.
- ``colbert_maxsim_topk`` — late-interaction retrieval (ColBERT,
  Khattab & Zaharia, SIGIR 2020): a query is a BAG of token vectors
  and a document scores sum-over-query-tokens of the max dot product
  against any of its token vectors. The multi-vector complement of
  the single-vector ANN family; exact int64 arithmetic because the
  fixture embeddings are unit-norm, so the quantized dot IS the
  scaled cosine.
- ``incremental_near_dup_lsh`` — batch-vs-corpus NEAR-dup detection
  (the daily-crawl production shape): asymmetric banded MinHash-LSH
  pairing only incoming x corpus, with the corpus band table as
  compute-once store-forever state. Complements
  ``cross_corpus_dedup_exact`` (exact incremental) and the self-join
  LSH rows (full-corpus near-dup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.functions.clustering import (
    SNAP_SCALE,
    kmeans_oracle_sql,
    kmeans_snapped_fit,
    within_cluster_pair_dots,
)
from market_pulse_data_pipeline_spark.queries.common import (
    register,
    round_div,
    sql_round_div,
    t,
)
from market_pulse_data_pipeline_spark.sources.tables import local_frame

# --------------------------------------------------------------------
# semdedup_prune
# --------------------------------------------------------------------

_SD_K = 10  # k-means clusters (the SemDeDup blocking structure)
_SD_ITERS = 3
_SD_DIM = 64
# planted-copy id offset; 1e9 clears any realistic fixture id (sf0.1
# max vec_id is 1999) and tests/test_r7_staging.py asserts
# max(id) < offset so id growth can't silently alias a plant
_SD_PLANT_OFFSET = 1_000_000_000
# cos >= 0.95 as the exact-integer contract 400*dot^2 >= 361*|a|^2*|b|^2
# (19/20 squared), valid with dot >= 0; every quantity is int64-exact
# after round(x * SNAP_SCALE) quantization, so the comparison is
# bit-identical across engines (HUGEINT in DuckDB, DECIMAL(38,0) in
# Spark — max magnitude ~1.6e30 for 64-dim unit vectors, 31 digits).
_SD_NUM, _SD_DEN = 361, 400


def _semdedup_oracle() -> str:
    """DuckDB twin: the shared unrolled-Lloyd's CTE chain
    (functions/clustering.py::kmeans_oracle_sql) re-pointed at the
    planted-union source, then within-cluster pairwise exact-integer
    cosine and the drop-higher-id rule.

    Uses the generator's ``src`` parameter to train on the
    planted-union subquery instead of the raw table.
    """
    final = f"""
    , asg AS (SELECT vec_id, cid AS cluster FROM %(a)s),
    n2 AS (SELECT vec_id, SUM(qv * qv) AS n2 FROM pu GROUP BY vec_id),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM asg a JOIN asg b
        ON a.cluster = b.cluster AND a.vec_id > b.vec_id
    ),
    dots AS (
      SELECT c.id_a, c.id_b, SUM(pa.qv * pb.qv) AS dot
      FROM cand c
      JOIN pu pa ON pa.vec_id = c.id_a
      JOIN pu pb ON pb.vec_id = c.id_b AND pb.pos = pa.pos
      GROUP BY c.id_a, c.id_b
    ),
    dup AS (
      SELECT DISTINCT d.id_a AS vec_id
      FROM dots d
      JOIN n2 x ON x.vec_id = d.id_a
      JOIN n2 y ON y.vec_id = d.id_b
      WHERE d.dot >= 0
        AND {_SD_DEN} * d.dot * d.dot >= {_SD_NUM} * x.n2 * y.n2
    )
    SELECT a.vec_id, CAST(a.cluster AS INTEGER) AS cluster,
           (dup.vec_id IS NOT NULL) AS dropped
    FROM asg a LEFT JOIN dup ON dup.vec_id = a.vec_id
    ORDER BY a.vec_id
    """
    src = f"""(
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + {_SD_PLANT_OFFSET},
             list_transform(embedding, x -> CAST(x * 1.001 AS FLOAT))
      FROM embeddings WHERE vec_id % 13 = 0
    ) both_src"""
    return kmeans_oracle_sql(
        final, k=_SD_K, iters=_SD_ITERS, dim=_SD_DIM, scale=SNAP_SCALE,
        src=src,
    )


@register(
    "semdedup_prune",
    _semdedup_oracle(),
    bench=True,  # headline shape: semantic dedup (VERDICT round-6 item 3)
    doc="SemDeDup (Abbas et al. 2023, arXiv:2303.09540): integer-snapped "
    "k-means clusters as the blocking structure, then within-cluster "
    "pairwise cosine >= 0.95 (exact-integer contract "
    "400*dot^2 >= 361*|a|^2*|b|^2 on round(x*1e6) int64 vectors) marks "
    "semantic duplicates; the lowest vec_id in each >=-threshold pair "
    "survives. Planted 1.001-scaled copies (cosine ~1 by construction) "
    "make the witness non-trivial — the raw corpus's max pairwise "
    "cosine is 0.51. 100 TB shape: the quadratic is bounded per "
    "cluster (SemDeDup's design — k grows with the corpus so cluster "
    "sizes stay fixed), the fit keeps k*dim ints on the driver, and "
    "signatures/norms are JVM integer aggregates; one shuffle on "
    "cluster id for the pair join. Full value-hash oracle via the "
    "shared unrolled-Lloyd's CTE generator re-pointed at the planted "
    "union.",
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 13 == 0).select(
        (F.col("vec_id") + _SD_PLANT_OFFSET).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * 1.001).cast("float")
        ).alias("embedding"),
    )
    both = emb.unionByName(planted)
    # emit_n2 (r17): the final assignment AND the exact int64 squared
    # norm come out of ONE fused Arrow pass inside the fit — the n2
    # withColumn here used to run as an interpreted per-row JVM fold
    # on top of a separate ArrowEvalPython assignment (two passes'
    # worth of work in the qv materialization job).
    qv, _ = kmeans_snapped_fit(
        both, k=_SD_K, iters=_SD_ITERS, emit_n2=True
    )
    # qv feeds the within-cluster pair kernel AND the final left join;
    # un-materialized, each consumer re-runs the Arrow-batched centroid
    # assignment over the checkpointed quantized vectors. Materialize
    # the assignment once (the kmeans_snapped_fit src discipline —
    # localCheckpoint, so the blocks release on GC); footprint = one
    # (cluster, v, n2) row per vector, the same order as the src
    # checkpoint the fit already holds.
    qv = qv.localCheckpoint(eager=True)
    # within-cluster pairwise dots as ONE grouped int64 matmul kernel
    # (r16): the former cluster self-join evaluated an interpreted
    # zip_with/aggregate fold per pair — the VERDICT r15 item 5
    # pattern — and shuffled qv twice. The kernel emits a guaranteed
    # SUPERSET of the threshold pairs (float64 screen, 1e-12 relative
    # slack); the exact decimal(38) contract below is unchanged, so
    # the dup set is bit-identical (kernel-equivalence pinned in
    # tests/test_clustering_kernels.py; oracle re-gated).
    pairs = within_cluster_pair_dots(qv, _SD_NUM, _SD_DEN)
    dec = "decimal(38,0)"
    d = F.col("dot").cast(dec)
    dup = (
        pairs.filter(
            (F.col("dot") >= 0)
            & (
                d * d * F.lit(_SD_DEN).cast(dec)
                >= F.col("na").cast(dec)
                * F.col("nb").cast(dec)
                * F.lit(_SD_NUM).cast(dec)
            )
        )
        .select(F.col("id_a").alias("dup_id"))
        .distinct()
    )
    return (
        qv.join(dup, qv.vec_id == dup.dup_id, "left")
        .select(
            "vec_id",
            F.col("cluster").cast("int").alias("cluster"),
            F.col("dup_id").isNotNull().alias("dropped"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------
# ngram_novelty_profile
# --------------------------------------------------------------------

_NV_N = 3  # shingle width (tokens)


@register(
    "ngram_novelty_profile",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(tk, s, s + {_NV_N - 1}), ' ') AS sh
      FROM toks, UNNEST(generate_series(1, n - {_NV_N - 1})) AS g(s)
      WHERE n >= {_NV_N}
    ),
    fo AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY sh)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           {sql_round_div(
        "SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)",
        "COUNT(*)",
    )} AS novelty
    FROM sh s JOIN fo f USING (sh)
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
    doc="per-document novelty: the fraction of a doc's distinct "
    "3-gram shingles whose FIRST occurrence (min doc_id = ingestion "
    "order) is the doc itself — the novel-n-gram signal the dedup "
    "literature uses to quantify cross-document repetition (Lee et "
    "al. 2022). Two shuffles at 100 TB, both on the shingle key: a "
    "min-aggregate to find each shingle's first doc, and the "
    "join-back — per-shingle state is one bigint, never a doc list. "
    "Docs shorter than the shingle width are excluded on both "
    "engines.",
)
def ngram_novelty_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    tk = F.split("text", " ")
    with_tk = docs.select("doc_id", tk.alias("tk")).filter(
        F.size("tk") >= _NV_N
    )
    sh = (
        with_tk.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("tk") - (_NV_N - 1)),
                    lambda s: F.concat_ws(
                        " ", F.slice(F.col("tk"), s, _NV_N)
                    ),
                )
            ).alias("sh"),
        )
        .distinct()
    )
    fo = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    agg = (
        sh.join(fo, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return agg.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        round_div(
            F.col("n_novel").cast("double"), F.col("n_shingles")
        ).alias("novelty"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------
# domain_frequency_cap
# --------------------------------------------------------------------

_CAP = 15  # max docs per source (each source has 25 at the fixture SFs)


@register(
    "domain_frequency_cap",
    f"""
    WITH ranked AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rk <= {_CAP} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN rk > {_CAP} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           CAST(SUM(CASE WHEN rk <= {_CAP} THEN n_chars ELSE 0 END)
                AS BIGINT) AS chars_kept
    FROM ranked
    GROUP BY source
    ORDER BY source
    """,
    doc="C4/CCNet-style per-domain frequency cap: keep at most 15 docs "
    "per source under a deterministic quality priority (n_chars DESC, "
    "doc_id ASC tiebreak) — the ceiling that stops one boilerplate-"
    "heavy domain from dominating the mix, distinct from proportional "
    "sampling (stratified_sample_per_lang) and budget apportionment "
    "(quota_largest_remainder). One shuffle on source for the window "
    "rank, then a per-source aggregate; at 100 TB a skewed domain is "
    "exactly the case the cap exists for — the rank only needs each "
    "source's top CAP rows, which Spark's window TopK/rank pushdown "
    "bounds, and the output is one row per domain.",
)
def domain_frequency_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    ranked = docs.select(
        "source", "n_chars", F.row_number().over(w).alias("rk")
    )
    kept = F.col("rk") <= _CAP
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(~kept, 1).otherwise(0)).alias("n_dropped"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).alias(
                "chars_kept"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# kcenter_diversity_sample
# --------------------------------------------------------------------

_KC_K = 8  # selected subset size
_KC_DIM = 64


def _kcenter_oracle() -> str:
    """Unrolled greedy farthest-point traversal: round t recomputes every
    point's exact-integer squared distance to the whole selected set
    (join on position), takes the min per point, and picks the max-min
    row (d2 DESC, vec_id ASC tiebreak) — the same 1-row-per-round
    argmax the Spark loop collects. All int64-exact: per-term
    (qa-qb)^2 <= 4e12, 64-dim sums <= 2.6e14.

    Every chained CTE is AS MATERIALIZED: s{t} is referenced three
    times downstream (d, the NOT-IN, and s{t+1}), so without the
    hint DuckDB inlines the whole prefix per reference and the
    7-round chain re-evaluates ~3^rounds times (measured: the
    inlined form did not finish in 100 s at sf0.001 where the
    materialized form is sub-second)."""
    parts = [
        f"""
    WITH p AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {SNAP_SCALE}) AS BIGINT))
               AS v
      FROM embeddings
    ),
    pu AS MATERIALIZED (
      SELECT vec_id, i AS pos, v[i + 1] AS qv
      FROM p CROSS JOIN (SELECT UNNEST(range(0, {_KC_DIM})) AS i) idx
    ),
    s1 AS MATERIALIZED (SELECT MIN(vec_id) AS vec_id FROM p)"""
    ]
    for t_ in range(2, _KC_K + 1):
        parts.append(
            """,
    d%(t)d AS MATERIALIZED (
      SELECT a.vec_id, SUM((a.qv - b.qv) * (a.qv - b.qv)) AS d2
      FROM pu a
      JOIN s%(prev)d s ON true
      JOIN pu b ON b.vec_id = s.vec_id AND b.pos = a.pos
      GROUP BY a.vec_id, s.vec_id
    ),
    m%(t)d AS MATERIALIZED (SELECT vec_id, MIN(d2) AS mind FROM d%(t)d GROUP BY vec_id),
    pick%(t)d AS MATERIALIZED (
      SELECT vec_id, mind FROM m%(t)d
      WHERE vec_id NOT IN (SELECT vec_id FROM s%(prev)d)
      ORDER BY mind DESC, vec_id LIMIT 1
    ),
    s%(t)d AS MATERIALIZED (
      SELECT vec_id FROM s%(prev)d
      UNION ALL SELECT vec_id FROM pick%(t)d
    )"""
            % {"t": t_, "prev": t_ - 1}
        )
    sel = [
        "SELECT 1 AS rank, vec_id, CAST(0 AS BIGINT) AS d2_at_pick FROM s1"
    ]
    for t_ in range(2, _KC_K + 1):
        sel.append(
            f"SELECT {t_} AS rank, vec_id, CAST(mind AS BIGINT) "
            f"AS d2_at_pick FROM pick{t_}"
        )
    parts.append(
        "\nSELECT CAST(rank AS INTEGER) AS rank, vec_id, d2_at_pick "
        "FROM (" + " UNION ALL ".join(sel) + ") ORDER BY rank"
    )
    return "".join(parts)


@register(
    "kcenter_diversity_sample",
    _kcenter_oracle(),
    doc="greedy k-center / farthest-point traversal (Gonzalez 1985, the "
    "2-approximation): seed = min vec_id, then 7 rounds of 'farthest "
    "point from the selected set' over exact int64 squared distances "
    "(round(x*1e6) quantization; ties break to the lower vec_id). The "
    "diversity-selection dual of the dedup family — emits the pick "
    "order plus each pick's coverage distance (the decreasing radius "
    "sequence data-curation pipelines monitor). 100 TB shape: the "
    "selected set is k*dim ints broadcast in the scan expression, each "
    "round is one map-only pass + a 1-row TakeOrdered collect — the "
    "BPE/GD bounded-driver-loop discipline applied to subset "
    "selection. Full value-hash oracle via unrolled per-round CTEs.",
)
def kcenter_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    src = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * SNAP_SCALE).cast("long"),
        ).alias("v"),
    ).localCheckpoint()  # k-1 scans reuse the quantized table
    seed = src.orderBy("vec_id").limit(1).collect()[0]
    picks = [(1, seed["vec_id"], 0)]
    selected = [list(seed["v"])]
    sel_ids = [seed["vec_id"]]
    for rank in range(2, _KC_K + 1):
        dists = [
            F.aggregate(
                F.zip_with(
                    "v",
                    F.array(*[F.lit(int(c)) for c in cvec]),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            for cvec in selected
        ]
        mind = dists[0] if len(dists) == 1 else F.least(*dists)
        row = (
            src.filter(~F.col("vec_id").isin(sel_ids))
            .select("vec_id", "v", mind.alias("mind"))
            .orderBy(F.desc("mind"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )  # bounded: 1 row per round
        picks.append((rank, row["vec_id"], int(row["mind"])))
        selected.append(list(row["v"]))
        sel_ids.append(row["vec_id"])
    spark_out = local_frame(
        spark, picks, "rank int, vec_id long, d2_at_pick long"
    )
    return spark_out.orderBy("rank")


# --------------------------------------------------------------------
# colbert_maxsim_topk
# --------------------------------------------------------------------

_MS_GROUP = 8  # token vectors per pseudo-document; power of two so the
assert _MS_GROUP & (_MS_GROUP - 1) == 0  # shiftright grouping is exact
_MS_TOPK = 10


@register(
    "colbert_maxsim_topk",
    f"""
    WITH p AS MATERIALIZED (
      SELECT vec_id,
             CAST(vec_id // {_MS_GROUP} AS BIGINT) AS grp,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {SNAP_SCALE}) AS BIGINT))
               AS v
      FROM embeddings
    ),
    pu AS MATERIALIZED (
      SELECT vec_id, grp, i AS pos, v[i + 1] AS qv
      FROM p CROSS JOIN (SELECT UNNEST(range(0, {_SD_DIM})) AS i) idx
    ),
    dots AS (
      SELECT q.vec_id AS q_tok, d.grp AS doc_id,
             d.vec_id AS d_tok, SUM(q.qv * d.qv) AS dot
      FROM pu q JOIN pu d ON d.pos = q.pos AND d.grp > 0
      WHERE q.grp = 0
      GROUP BY q.vec_id, d.grp, d.vec_id
    ),
    best AS (
      SELECT q_tok, doc_id, MAX(dot) AS best_dot
      FROM dots GROUP BY q_tok, doc_id
    )
    SELECT doc_id, CAST(SUM(best_dot) AS BIGINT) AS maxsim
    FROM best
    GROUP BY doc_id
    ORDER BY maxsim DESC, doc_id
    LIMIT {_MS_TOPK}
    """,
    bench=True,  # headline shape: late-interaction re-rank (VERDICT r6 #3)
    doc="ColBERT MaxSim late-interaction retrieval (Khattab & Zaharia, "
    "SIGIR 2020): vec_ids group into 8-token pseudo-documents "
    "(vec_id DIV 8; group 0 is the query), a document's score is "
    "sum-over-query-tokens of the max dot product against any of its "
    "token vectors, top-10 docs returned. Dots are exact int64 on "
    "round(x*1e6)-quantized vectors — the fixture embeddings are "
    "unit-norm, so the integer dot IS the scaled cosine and the whole "
    "score is portable integer arithmetic. 100 TB shape: the query's "
    "8x64 ints broadcast into a map-side zip_with over doc tokens "
    "(no shuffle to score), one hash aggregate per (doc, q_tok) max "
    "and one per doc sum, TakeOrderedAndProject for the top-k; a real "
    "deployment bounds the candidate doc set with the existing "
    "ANN/IVF primitives first — MaxSim is the re-rank stage.",
)
def colbert_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        # arithmetic shift = exact int64 division by 2^3 for every
        # NON-NEGATIVE long, including ids past 2^53 where the old
        # double-division truncation lost exactness. The engines agree
        # only on non-negatives (shiftright floors, DuckDB's //
        # truncates toward zero, so a negative vec_id would diverge) —
        # tests/test_r7_staging.py pins min(vec_id) >= 0 (ADVICE r7).
        F.shiftright(F.col("vec_id"), _MS_GROUP.bit_length() - 1).alias("grp"),
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * SNAP_SCALE).cast("long"),
        ).alias("v"),
    )
    # the query: group 0's token vectors — bounded (8 x dim ints)
    q_rows = emb.filter(F.col("grp") == 0).select("vec_id", "v").collect()
    docs = emb.filter(F.col("grp") > 0).select(
        F.col("grp").alias("doc_id"), F.col("v").alias("dv")
    )
    dot = lambda qvec: F.aggregate(  # noqa: E731
        F.zip_with(
            "dv",
            F.array(*[F.lit(int(c)) for c in qvec]),
            lambda x, y: x * y,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = docs.select(
        "doc_id",
        *[
            dot(r["v"]).alias(f"q{r['vec_id']}")
            for r in sorted(q_rows, key=lambda r: r["vec_id"])
        ],
    )
    per_tok_max = scored.groupBy("doc_id").agg(
        *[
            F.max(f"q{r['vec_id']}").alias(f"m{r['vec_id']}")
            for r in sorted(q_rows, key=lambda r: r["vec_id"])
        ]
    )
    maxsim = None
    for r in sorted(q_rows, key=lambda r: r["vec_id"]):
        c = F.col(f"m{r['vec_id']}")
        maxsim = c if maxsim is None else maxsim + c
    return (
        per_tok_max.select("doc_id", maxsim.alias("maxsim"))
        .orderBy(F.desc("maxsim"), F.asc("doc_id"))
        .limit(_MS_TOPK)
    )


# --------------------------------------------------------------------
# incremental_near_dup_lsh
# --------------------------------------------------------------------

_INC_PERM = 16
_INC_BANDS = 4
_INC_T = 0.5
# 1e9 clears any realistic fixture doc_id (sf0.1 max is 4999); a
# fixture guard test pins max(doc_id) < offset (ADVICE round 6)
_INC_PLANT_OFFSET = 1_000_000_000


def _inc_neardup_oracle() -> str:
    """Asymmetric twin of the proven minhash_lsh_portable oracle
    (queries/scale_paths.py::_portable_minhash_sql): identical md5
    60-bit shingle hashes and universal-hash permutations, but the
    banded join pairs INCOMING docs against CORPUS docs only."""
    from market_pulse_data_pipeline_spark.functions.dedup import (
        _MERSENNE,
        _minhash_sql,
    )

    mins, band_rows = _minhash_sql(_INC_PERM, _INC_BANDS, "doc_id, side")
    eq_sum = " + ".join(f"(si.m{i} = sc.m{i})::INT" for i in range(_INC_PERM))
    return f"""
    WITH corpus AS (
      SELECT doc_id, text, 'c' AS side FROM documents WHERE doc_id % 2 = 0
    ), incoming AS (
      SELECT doc_id, text, 'i' AS side FROM documents WHERE doc_id % 2 = 1
      UNION ALL
      SELECT doc_id + {_INC_PLANT_OFFSET}, text || ' planted', 'i'
      FROM documents WHERE doc_id % 26 = 0
    ), alldocs AS (
      SELECT * FROM corpus UNION ALL SELECT * FROM incoming
    ), toks AS (
      SELECT doc_id, side, string_split(text, ' ') AS ws FROM alldocs
      WHERE len(string_split(text, ' ')) >= 3
    ), hs AS (
      SELECT doc_id, side,
             list_transform(range(1, len(ws) - 1),
               i -> ('0x' || substring(
                       md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
                       1, 15))::BIGINT % {_MERSENNE}) AS hs
      FROM toks
    ), sigs AS (
      SELECT doc_id, side,
             {mins}
      FROM hs
    ), bands AS (
      {band_rows}
    ), cand AS (
      SELECT DISTINCT i.doc_id AS inc_id, c.doc_id AS corpus_id
      FROM bands i JOIN bands c
        ON i.band = c.band AND i.bh = c.bh
       AND i.side = 'i' AND c.side = 'c'
    )
    SELECT inc_id, corpus_id,
           ROUND(({eq_sum}) / {float(_INC_PERM)}, 6) AS est_jaccard
    FROM cand
    JOIN sigs si ON si.doc_id = inc_id AND si.side = 'i'
    JOIN sigs sc ON sc.doc_id = corpus_id AND sc.side = 'c'
    WHERE ({eq_sum}) / {float(_INC_PERM)} >= {_INC_T}
    ORDER BY inc_id, corpus_id
    """


@register(
    "incremental_near_dup_lsh",
    _inc_neardup_oracle(),
    bench=True,  # headline: the production daily-crawl dedup shape
    # (VERDICT r7 item 6b — first-round baseline lands in BENCH_r08)
    doc="incremental (batch-vs-corpus) NEAR-duplicate detection — the "
    "production daily-crawl shape the registry's self-join LSH rows "
    "don't witness: even-id docs stand in for the accumulated corpus, "
    "odd-id docs plus planted near-copies of corpus docs for the "
    "incoming batch, and the banded join pairs ONLY incoming x corpus "
    "(never corpus x corpus — history is not re-paired, never "
    "incoming x incoming — intra-batch dedup is a separate, cheaper "
    "pass). Same portable md5 60-bit MinHash as the driver-green "
    "minhash_lsh_portable (16 perms / 4 bands), so every signature, "
    "band bucket, candidate, and Jaccard estimate is bit-reproducible "
    "in DuckDB. 100 TB shape: the corpus band table is compute-once, "
    "store-forever state partitioned by (band, bucket); each day's "
    "batch builds its own (small) band table and joins in — candidate "
    "cost is per-bucket collisions, never |corpus| x |batch|.",
)
def incremental_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.dedup import (
        band_entries,
        fan_out,
        minhash_signatures,
        shingle_hashes,
    )

    docs = t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    incoming = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text")
        .unionByName(
            docs.filter(F.col("doc_id") % 26 == 0).select(
                (F.col("doc_id") + _INC_PLANT_OFFSET).alias("doc_id"),
                F.concat("text", F.lit(" planted")).alias("text"),
            )
        )
    )

    def sigs_of(side: DataFrame) -> DataFrame:
        # fan_out BEFORE the md5 shingle hashing (round-10 single-split
        # finding: each side otherwise computes its whole signature
        # table on one core); no-op on a many-split corpus
        return minhash_signatures(
            shingle_hashes(fan_out(side), portable=True), _INC_PERM
        )

    # cached for the band-explode + signature-compare double read, then
    # released after the eager checkpoint below (the registered
    # minhash_lsh_near_dups idiom) so full-registry sweeps don't pin
    # two corpus-sized signature tables per invocation
    sig_c = sigs_of(corpus).cache()
    sig_i = sigs_of(incoming).cache()
    cand = (
        band_entries(sig_i, _INC_BANDS)
        .select(F.col("doc_id").alias("inc_id"), "band", "bh")
        .join(
            band_entries(sig_c, _INC_BANDS).select(
                F.col("doc_id").alias("corpus_id"), "band", "bh"
            ),
            ["band", "bh"],
        )
        .select("inc_id", "corpus_id")
        .distinct()
    )
    est = F.size(
        F.filter(
            F.zip_with("sig_i", "sig_c", lambda x, y: x == y), lambda eq: eq
        )
    ) / F.lit(float(_INC_PERM))
    out = (
        cand.join(
            sig_i.select(F.col("doc_id").alias("inc_id"), F.col("sig").alias("sig_i")),
            "inc_id",
        )
        .join(
            sig_c.select(
                F.col("doc_id").alias("corpus_id"), F.col("sig").alias("sig_c")
            ),
            "corpus_id",
        )
        # filter on the UNROUNDED estimate exactly like the oracle's
        # WHERE — rounding first would move the threshold boundary if
        # _INC_PERM ever stops being a power of two (ADVICE round 6)
        .filter(est >= _INC_T)
        .select(
            "inc_id", "corpus_id", F.round(est, 6).alias("est_jaccard")
        )
        .orderBy("inc_id", "corpus_id")
    )
    out = out.localCheckpoint(eager=True)
    sig_c.unpersist(blocking=False)
    sig_i.unpersist(blocking=False)
    return out
