"""Relevance scoring over the `documents` table: TF-IDF term extraction
and BM25 query scoring (north-star extension, SURVEY §7 phase 6 — the
retrieval/ranking end of a training-data pipeline: term importance for
keyword extraction, BM25 for query-driven corpus selection).

Determinism note: both queries use the RATIONAL idf form
``(N - df + 0.5) / (df + 0.5)`` (the argument of BM25's log) instead of
``log(...)``. ``log`` routes through libm and the JVM's Math.log, which
are not guaranteed bit-identical across engines; a fixed expression tree
of IEEE +,-,*,/ over identical inputs IS. Rankings are monotone in the
rational form (log is monotone), so top-k sets are unchanged; scores are
emitted through the exact-decimal rounding route (queries.common).

Scale shape: tokenize with JVM-side split/explode (no Python), tf via
one (doc_id, term) hash-aggregate, df via one (term) hash-aggregate over
the already-tiny tf relation, then a term-keyed join — the inverted-
index build is two shuffles total, both on bounded-cardinality keys.
BM25's per-query-term df row is a 1-row broadcast.
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
from market_pulse_data_pipeline_spark.sources.tables import local_frame

# Fixed BM25 constants (Robertson/Sparck Jones defaults) and a fixed
# 3-term query drawn from the fixture vocabulary.
_K1 = 1.2
_B = 0.75
_QUERY_TERMS = ("spark", "join", "vector")
_TOP_TERMS = 3
_TOP_DOCS = 20


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term") != "")


_SQL_TOK = """
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
"""


@register(
    "tfidf_top_terms",
    f"""
    WITH tok AS ({_SQL_TOK}),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM tok WHERE term <> '' GROUP BY doc_id, term
    ),
    idf AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, idf.df,
             tf.tf * ((n.n_docs - idf.df + 0.5) / (idf.df + 0.5)) AS raw
      FROM tf JOIN idf USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df,
           CAST(ROUND(CAST(raw AS DECIMAL(28,8)), 4) AS DOUBLE) AS tfidf
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY raw DESC, term) AS rn
          FROM scored)
    WHERE rn <= {_TOP_TERMS}
    """,
    doc="TF-IDF keyword extraction: top-3 terms per document by "
    "tf x rational-idf (N-df+0.5)/(df+0.5). Inverted index = two "
    "hash-aggregates (doc_id,term) then (term); the doc count is a "
    "1-row broadcast. Deterministic tie-break on term.",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    tf = (
        _tokens(docs)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    raw = F.col("tf") * (
        (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("raw", raw)
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("raw").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_TERMS)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(F.col("raw").cast("decimal(28,8)"), 4)
            .cast("double")
            .alias("tfidf"),
        )
    )


def _sql_bm25_term(q: str) -> str:
    """Per-term BM25 addend; parenthesization mirrored exactly in the
    Spark build below so both engines evaluate the identical IEEE tree."""
    return (
        f"(((n_docs - df_{q} + 0.5) / (df_{q} + 0.5)) * "
        f"((tf_{q} * {_K1 + 1}) / "
        f"(tf_{q} + {_K1} * ({1 - _B} + {_B} * (dl / avgdl)))))"
    )


@register(
    "bm25_score_query",
    f"""
    WITH tok AS ({_SQL_TOK}),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM tok WHERE term <> '' GROUP BY doc_id, term
    ),
    idf AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    qdf AS (
      SELECT {', '.join(
        f"MAX(CASE WHEN term = '{q}' THEN df END) AS df_{q}"
        for q in _QUERY_TERMS)}
      FROM idf WHERE term IN {_QUERY_TERMS!r}
    ),
    dl AS (
      SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS dl
      FROM documents
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             {sql_round_div('CAST(SUM(CAST(len(string_split(lower(text), '
                            "' ')) AS BIGINT)) AS DOUBLE)", 'COUNT(*)', 6)}
               AS avgdl
      FROM documents
    ),
    qtf AS (
      SELECT doc_id,
             {', '.join(
        f"CAST(COALESCE(MAX(CASE WHEN term = '{q}' THEN tf END), 0) "
        f"AS DOUBLE) AS tf_{q}"
        for q in _QUERY_TERMS)}
      FROM tf WHERE term IN {_QUERY_TERMS!r} GROUP BY doc_id
    ),
    scored AS (
      SELECT dl.doc_id,
             {', '.join(f"qtf.tf_{q}" for q in _QUERY_TERMS)},
             {' + '.join(_sql_bm25_term(q) for q in _QUERY_TERMS)} AS raw
      FROM dl JOIN qtf USING (doc_id) CROSS JOIN qdf CROSS JOIN stats
    )
    SELECT doc_id,
           {', '.join(
        f"CAST(tf_{q} AS BIGINT) AS tf_{q}" for q in _QUERY_TERMS)},
           CAST(ROUND(CAST(raw AS DECIMAL(28,8)), 4) AS DOUBLE) AS bm25
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY raw DESC, doc_id) AS rn
          FROM scored)
    WHERE rn <= {_TOP_DOCS}
    """,
    doc=f"BM25 top-{_TOP_DOCS} retrieval for the fixed query "
    f"{_QUERY_TERMS} (k1={_K1}, b={_B}), rational-idf variant. "
    "Query-term dfs collapse to a 1-row broadcast; per-doc term "
    "frequencies pivot to fixed columns so the 3-term score is a fixed "
    "scalar expression (no reassociating SUM) — bit-identical across "
    "engines. Docs containing no query term are skipped by the inner "
    "join (score 0 < any match).",
)
def bm25_score_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    tf = (
        _tokens(docs)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qdf = (
        df_.filter(F.col("term").isin(*_QUERY_TERMS))
        .groupBy()
        .agg(
            *[
                F.max(F.when(F.col("term") == q, F.col("df"))).alias(f"df_{q}")
                for q in _QUERY_TERMS
            ]
        )
    )
    dl = docs.select(
        "doc_id",
        F.size(F.split(F.lower("text"), " ")).cast("double").alias("dl"),
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        round_div(
            F.sum(F.size(F.split(F.lower("text"), " ")).cast("bigint")).cast(
                "double"
            ),
            F.count(F.lit(1)),
            6,
        ).alias("avgdl"),
    )
    qtf = (
        tf.filter(F.col("term").isin(*_QUERY_TERMS))
        .groupBy("doc_id")
        .agg(
            *[
                F.coalesce(
                    F.max(F.when(F.col("term") == q, F.col("tf"))), F.lit(0)
                )
                .cast("double")
                .alias(f"tf_{q}")
                for q in _QUERY_TERMS
            ]
        )
    )

    def term_score(q: str):
        idf = (F.col("n_docs") - F.col(f"df_{q}") + F.lit(0.5)) / (
            F.col(f"df_{q}") + F.lit(0.5)
        )
        sat = (F.col(f"tf_{q}") * F.lit(_K1 + 1)) / (
            F.col(f"tf_{q}")
            + F.lit(_K1) * (F.lit(1 - _B) + F.lit(_B) * (F.col("dl") / F.col("avgdl")))
        )
        return idf * sat

    raw = (
        term_score(_QUERY_TERMS[0])
        + term_score(_QUERY_TERMS[1])
        + term_score(_QUERY_TERMS[2])
    )
    scored = (
        dl.join(qtf, "doc_id")
        .crossJoin(F.broadcast(qdf))
        .crossJoin(F.broadcast(stats))
        .withColumn("raw", raw)
    )
    # global top-k via sort+limit, NOT a row_number over an unpartitioned
    # window: Spark plans this as TakeOrderedAndProject (per-partition
    # heap + driver merge of k rows), whereas the window form funnels
    # every row through one partition.
    return (
        scored.orderBy(F.col("raw").desc(), "doc_id")
        .limit(_TOP_DOCS)
        .select(
            "doc_id",
            *[
                F.col(f"tf_{q}").cast("bigint").alias(f"tf_{q}")
                for q in _QUERY_TERMS
            ],
            F.round(F.col("raw").cast("decimal(28,8)"), 4)
            .cast("double")
            .alias("bm25"),
        )
    )


# --------------------------------------------------------------------------
# nDCG@k ranking-quality evaluation
# --------------------------------------------------------------------------

_NDCG_K = 10
# Discount weights round(1e9 / log2(rank+1)) precomputed ONCE here and
# embedded as the same BIGINT literals in both engines (the Benford
# discipline: log2 routes through libm and is not cross-engine
# portable; a shared integer literal table is). Integer-scaled gains
# make every DCG sum an exact BIGINT — order-independent, no float
# reassociation anywhere.
import math as _math  # noqa: E402

_NDCG_W = [round(1e9 / _math.log2(r + 1)) for r in range(1, _NDCG_K + 1)]
_NDCG_QUERIES = {
    1: ("spark", "join", "vector"),
    2: ("table", "scan", "merge"),
    3: ("hash", "sort", "window"),
}
_SQL_QTERMS = " UNION ALL ".join(
    f"SELECT {qid} AS qid, '{term}' AS term"
    for qid, terms in _NDCG_QUERIES.items()
    for term in terms
)
_SQL_W_CASE = (
    "CASE rn "
    + " ".join(f"WHEN {r + 1} THEN {w}" for r, w in enumerate(_NDCG_W))
    + " END"
)


@register(
    "ndcg_at_k",
    f"""
    WITH tok AS ({_SQL_TOK}),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM tok WHERE term <> '' GROUP BY doc_id, term
    ),
    qterms AS ({_SQL_QTERMS}),
    cand AS (
      SELECT q.qid, tf.doc_id,
             CAST(SUM(tf.tf) AS BIGINT) AS score,
             CAST((1 << COUNT(*)) - 1 AS BIGINT) AS gain
      FROM tf JOIN qterms q USING (term)
      GROUP BY q.qid, tf.doc_id
    ),
    ranked AS (
      SELECT qid, gain,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id) AS rn
      FROM cand
    ),
    ideal AS (
      SELECT qid, gain,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY gain DESC, doc_id) AS rn
      FROM cand
    ),
    dcg AS (
      SELECT qid, CAST(SUM(gain * ({_SQL_W_CASE})) AS BIGINT) AS dcg_scaled
      FROM ranked WHERE rn <= {_NDCG_K} GROUP BY qid
    ),
    idcg AS (
      SELECT qid, CAST(SUM(gain * ({_SQL_W_CASE})) AS BIGINT) AS idcg_scaled
      FROM ideal WHERE rn <= {_NDCG_K} GROUP BY qid
    ),
    nc AS (SELECT qid, COUNT(*) AS n_candidates FROM cand GROUP BY qid)
    SELECT qid, n_candidates, dcg_scaled, idcg_scaled,
           {sql_round_div('dcg_scaled', 'idcg_scaled', 6)} AS ndcg
    FROM dcg JOIN idcg USING (qid) JOIN nc USING (qid)
    """,
    doc=f"nDCG@{_NDCG_K} ranking-quality evaluation — the IR eval "
    "metric the relevance family scores rankers with (ann_recall_at_10 "
    "covers ANN retrieval; this covers graded ranking quality). Three "
    "fixed 3-term queries; the evaluated ranker orders candidates by "
    "total query-term frequency (score DESC, doc_id), and graded "
    "relevance is the distinct-terms-matched count with standard "
    "exponential gain 2^rel - 1. Discount weights are shared "
    "round(1e9/log2(r+1)) BIGINT literals (log2 is libm — not "
    "cross-engine portable; a literal table is), so DCG and ideal-DCG "
    "are exact integer sums and nDCG is one decimal-rounded division. "
    "Scale shape: tf is the inverted-index aggregate (one shuffle), "
    "the 9-row query-term table broadcasts, per-query top-k is a "
    "qid-partitioned window over candidates only, and every output "
    "row is per-query — constant-size result.",
)
def ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    tf = (
        _tokens(docs)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    qterms = local_frame(
        spark,
        [
            (qid, term)
            for qid, terms in _NDCG_QUERIES.items()
            for term in terms
        ],
        "qid int, term string",
    )
    cand = (
        tf.join(F.broadcast(qterms), "term")
        .groupBy("qid", "doc_id")
        .agg(
            F.sum("tf").cast("long").alias("score"),
            # gain 2^rel - 1 for rel in 1..3 (shiftleft needs a Python
            # int shift amount, so index a literal table instead)
            F.element_at(
                F.array(F.lit(1), F.lit(3), F.lit(7)),
                F.count(F.lit(1)).cast("int"),
            )
            .cast("long")
            .alias("gain"),
        )
    )
    weights = F.array(*[F.lit(w) for w in _NDCG_W])
    w_rank = Window.partitionBy("qid").orderBy(F.col("score").desc(), "doc_id")
    w_ideal = Window.partitionBy("qid").orderBy(F.col("gain").desc(), "doc_id")

    def _dcg(win, out_col):
        return (
            cand.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") <= _NDCG_K)
            .select(
                "qid",
                (F.col("gain") * F.element_at(weights, F.col("rn"))).alias(
                    "addend"
                ),
            )
            .groupBy("qid")
            .agg(F.sum("addend").cast("long").alias(out_col))
        )

    dcg = _dcg(w_rank, "dcg_scaled")
    idcg = _dcg(w_ideal, "idcg_scaled")
    nc = cand.groupBy("qid").agg(F.count(F.lit(1)).alias("n_candidates"))
    return (
        dcg.join(idcg, "qid")
        .join(nc, "qid")
        .select(
            "qid",
            "n_candidates",
            "dcg_scaled",
            "idcg_scaled",
            round_div(F.col("dcg_scaled"), F.col("idcg_scaled"), 6).alias(
                "ndcg"
            ),
        )
    )


# Reciprocal-rank fusion: list depth, RRF smoothing constant (the
# standard k=60 from Cormack/Clarke/Buettcher 2009), and the integer
# scale that replaces 1/(k+r) with 1e12 DIV (k+r) — exact BIGINT
# arithmetic on both engines, ordering preserved to 1e-12 quantization.
_RRF_N = 100
_RRF_K = 60
_RRF_SCALE = 1_000_000_000_000


@register(
    "rrf_hybrid_fusion",
    f"""
    WITH tokset AS (
      SELECT DISTINCT doc_id, t.term
      FROM documents, UNNEST(string_split(lower(text), ' ')) AS t(term)
      WHERE t.term <> ''
    ),
    q1 AS (SELECT term FROM tokset WHERE doc_id = 0),
    a AS (
      SELECT doc_id, COUNT(*) AS o1 FROM tokset JOIN q1 USING (term)
      WHERE doc_id <> 0 GROUP BY doc_id
    ),
    ta AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY o1 DESC, doc_id) AS ra
      FROM a ORDER BY o1 DESC, doc_id LIMIT {_RRF_N}
    ),
    bgset AS (
      SELECT DISTINCT doc_id, bigram FROM (
        SELECT doc_id,
               UNNEST(list_transform(range(1, len(ws)),
                                     i -> ws[i] || ' ' || ws[i + 1])) AS bigram
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
              FROM documents)
        WHERE len(ws) >= 2
      )
    ),
    q2 AS (SELECT bigram FROM bgset WHERE doc_id = 0),
    b AS (
      SELECT doc_id, COUNT(*) AS o2 FROM bgset JOIN q2 USING (bigram)
      WHERE doc_id <> 0 GROUP BY doc_id
    ),
    tb AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY o2 DESC, doc_id) AS rb
      FROM b ORDER BY o2 DESC, doc_id LIMIT {_RRF_N}
    )
    SELECT COALESCE(ta.doc_id, tb.doc_id) AS doc_id,
           COALESCE(ta.ra, 0) AS rank_uni,
           COALESCE(tb.rb, 0) AS rank_bi,
           COALESCE({_RRF_SCALE} // ({_RRF_K} + ta.ra), 0)
             + COALESCE({_RRF_SCALE} // ({_RRF_K} + tb.rb), 0) AS rrf_scaled
    FROM ta FULL OUTER JOIN tb ON ta.doc_id = tb.doc_id
    ORDER BY rrf_scaled DESC, doc_id LIMIT {_TOP_DOCS}
    """,
    doc="hybrid-retrieval fusion (the RAG two-retriever merge): rank "
    "candidate docs against query doc 0 by distinct-unigram overlap "
    "and independently by distinct-bigram overlap, take each "
    "retriever's deterministic top-100, and fuse with reciprocal-rank "
    "fusion sum(1/(60+rank)) — computed as 1e12 DIV (60+rank) so the "
    "score is exact BIGINT on both engines (no libm, no float "
    "rounding; ordering preserved to 1e-12). Docs absent from a list "
    "contribute 0, the standard finite-list RRF convention. Scale "
    "shape: each ranking is a broadcast semi-join of the tiny query "
    "term set + one doc-keyed hash aggregate, and top-100 is "
    "TakeOrderedAndProject — no global window over the corpus; the "
    "fusion join touches <= 200 rows.",
)
def rrf_hybrid_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    tokset = _tokens(docs).distinct()
    q1 = tokset.filter(F.col("doc_id") == 0).select("term")
    a = (
        tokset.filter(F.col("doc_id") != 0)
        .join(F.broadcast(q1), "term")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("o1"))
    )
    bgset = (
        docs.select(
            "doc_id", F.split(F.lower("text"), " ").alias("ws")
        )
        .filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> concat(ws[i - 1], ' ', ws[i]))"
                )
            ).alias("bigram"),
        )
        .distinct()
    )
    q2 = bgset.filter(F.col("doc_id") == 0).select("bigram")
    b = (
        bgset.filter(F.col("doc_id") != 0)
        .join(F.broadcast(q2), "bigram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("o2"))
    )

    def top_ranked(scored, score_col, rank_col):
        w = Window.orderBy(F.col(score_col).desc(), "doc_id")
        return (
            scored.orderBy(F.col(score_col).desc(), "doc_id")
            .limit(_RRF_N)
            .select("doc_id", F.row_number().over(w).alias(rank_col))
        )

    ta = top_ranked(a, "o1", "ra")
    tb = top_ranked(b, "o2", "rb")
    contrib = lambda r: F.coalesce(  # noqa: E731
        F.expr(f"{_RRF_SCALE}L div ({_RRF_K} + {r})"), F.lit(0).cast("long")
    )
    return (
        ta.join(tb, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("ra", F.lit(0)).alias("rank_uni"),
            F.coalesce("rb", F.lit(0)).alias("rank_bi"),
            (contrib("ra") + contrib("rb")).alias("rrf_scaled"),
        )
        .orderBy(F.col("rrf_scaled").desc(), "doc_id")
        .limit(_TOP_DOCS)
    )
