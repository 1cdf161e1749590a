"""Embedding clustering / decomposition registry rows.

The k-means and PQ rows ship FULL value-hash oracles since round 5:
kmeans_snapped quantizes vectors to int64 and updates centroids with
truncating integer division, so every Lloyd iteration is bit-identical
across engines and the DuckDB twin unrolls the fit as chained CTEs
(functions/clustering.py::kmeans_oracle_sql — also parameterized by
the IVF-ANN oracle; pq_oracle_sql emits one chain per subspace for
the PQ/ADC rows). The PCA row joined them later in round 5: the eigh
eigendecomposition (no ANSI-SQL form) was replaced by integer
repeated-squaring power iteration with exact matrix-level deflation
(functions/clustering.py::pca_snapped_project), whose DuckDB twin
(pca_oracle_sql) replays the whole eigensolve as chained CTEs; the
float eigh variant (pca_project) remains the general library API and
is still numpy-pinned by tests/test_clustering.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.functions.clustering import (
    kmeans_oracle_sql,
    kmeans_snapped,
    pca_oracle_sql,
    pca_snapped_project,
)
from market_pulse_data_pipeline_spark.functions.graph import (
    pagerank_fixed_point,
)
from market_pulse_data_pipeline_spark.queries.common import (
    register,
    round_div,
    sql_round_avg,
    sql_round_div,
    t,
)
from market_pulse_data_pipeline_spark.sources.tables import local_frame

_DIM = 64
_K = 10
_ITERS = 5


def _kmeans_oracle_sql(final: str) -> str:
    """Unrolled DuckDB twin of kmeans_snapped at this module's fixed
    (k, iters, dim) — delegates to the shared generator next to the
    algorithm (functions/clustering.py::kmeans_oracle_sql), which the
    IVF-ANN oracle parameterizes differently."""
    return kmeans_oracle_sql(final, k=_K, iters=_ITERS, dim=_DIM)


@register(
    "embedding_kmeans_clusters",
    _kmeans_oracle_sql(
        """
    SELECT vec_id, CAST(cid AS INTEGER) AS cluster
    FROM %(a)s ORDER BY vec_id
    """
    ),
    doc="Lloyd's k-means (k=10, 5 iterations, deterministic first-k "
    "init) over the embedding column: driver-side state is k×dim "
    "centroid ints, assignment is an Arrow-batched int64 matmul, the "
    "update shuffle carries k×dim partial cells per partition — row "
    "count never crosses the driver. Converted rows-only → full "
    "value-hash oracle in round 5 via kmeans_snapped "
    "(functions/clustering.py): integer-scaled vectors + truncating-"
    "division centroid updates make every iteration bit-identical "
    "across engines, so the DuckDB twin unrolls the fit as chained "
    "CTEs (the linear_regression_gd pattern).",
)
def embedding_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    out = kmeans_snapped(emb, k=_K, iters=_ITERS)
    return out.orderBy("vec_id")


@register(
    "embedding_kmeans_sizes",
    _kmeans_oracle_sql(
        """
    SELECT CAST(cid AS INTEGER) AS cluster,
           CAST(COUNT(*) AS INTEGER) AS n
    FROM %(a)s GROUP BY cid ORDER BY cluster
    """
    ),
    doc="cluster cardinality for the same (integer-snapped) k-means "
    "fit — the convergence diagnostic a pipeline monitors. Same "
    "bounded-state shape; the per-cluster aggregate is relational. "
    "Converted rows-only → full value-hash oracle in round 5 "
    "(unrolled-CTE DuckDB twin of kmeans_snapped).",
)
def embedding_kmeans_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    out = kmeans_snapped(emb, k=_K, iters=_ITERS)
    return (
        out.groupBy("cluster")
        .agg(F.count(F.lit(1)).cast("int").alias("n"))
        .orderBy("cluster")
    )


@register(
    "embedding_pca_project",
    pca_oracle_sql(dim=_DIM),
    doc="PCA projection onto the top-2 principal components, converted "
    "rows-only → FULL value-hash oracle in round 5: the eigensolve is "
    "integer repeated-squaring power iteration (gap ratio squares per "
    "step — converges on this corpus's near-flat spectrum where plain "
    "power iteration cannot) with exact matrix-level deflation for the "
    "second component, all on exact int64 moments from one mapInPandas "
    "partial-Gram pass (dim² collect, independent of corpus size; "
    "projection map-only). Both principal directions align with numpy "
    "eigh to |cos| ≥ 0.999999 at every fixture SF (pinned in "
    "tests/test_pca_snapped.py); the DuckDB oracle replays the entire "
    "eigensolve as materialized CTE chains. "
    "functions/clustering.py::pca_snapped_project.",
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return pca_snapped_project(emb, dim=_DIM).orderBy("vec_id")


_PR_SCALE = 10**12
_PR_ITERS = 3
_PR_TOPK = 50


def _pagerank_oracle_sql() -> str:
    """Unrolled-iteration DuckDB twin of pagerank_fixed_point: scaled-
    integer PageRank is exactly expressible as chained CTEs, one
    (sums, ranks) pair per iteration."""
    parts = [
        """
    WITH e0 AS (
      SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS src,
                      't:' || event_type AS dst
      FROM events
    ),
    edges AS (SELECT src, dst FROM e0
              UNION ALL SELECT dst AS src, src AS dst FROM e0),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    n AS (SELECT COUNT(*) AS n_nodes FROM deg),
    r0 AS (
      SELECT d.src AS node,
             CAST(%(scale)d // n.n_nodes AS BIGINT) AS pr
      FROM deg d CROSS JOIN n
    )""" % {"scale": _PR_SCALE}
    ]
    for i in range(1, _PR_ITERS + 1):
        parts.append(
            """,
    s%(i)d AS (
      SELECT e.dst AS node, SUM(r.pr // d.outdeg) AS s
      FROM edges e
      JOIN r%(prev)d r ON e.src = r.node
      JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    r%(i)d AS (
      SELECT s%(i)d.node,
             CAST((15 * (%(scale)d // n.n_nodes)) // 100
                  + (85 * s%(i)d.s) // 100 AS BIGINT) AS pr
      FROM s%(i)d CROSS JOIN n
    )"""
            % {"i": i, "prev": i - 1, "scale": _PR_SCALE}
        )
    parts.append(
        f"""
    SELECT node, pr AS pr_scaled FROM r{_PR_ITERS}
    ORDER BY pr DESC, node LIMIT {_PR_TOPK}
    """
    )
    return "".join(parts)


@register(
    "pagerank_user_event_graph",
    _pagerank_oracle_sql(),
    doc="PageRank over the symmetric bipartite user<->event_type graph "
    f"from events, {_PR_ITERS} iterations, damping 0.85, ranks as "
    f"BIGINTs scaled by {_PR_SCALE} (integer-only arithmetic -> "
    "bit-identical across engines; the DuckDB twin unrolls the "
    "iterations as CTEs). Top-50 via sort+limit. Per iteration one "
    "rank-edge join + one groupBy(dst) shuffle; "
    "functions/graph.py::pagerank_fixed_point.",
)
def pagerank_user_event_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    e0 = ev.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t:"), F.col("event_type")).alias("dst"),
    ).distinct()
    edges = e0.union(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = pagerank_fixed_point(edges, iters=_PR_ITERS, scale=_PR_SCALE)
    return (
        pr.orderBy(F.col("pr").desc(), "node")
        .limit(_PR_TOPK)
        .select("node", F.col("pr").alias("pr_scaled"))
    )


_PQ_M = 8  # subspaces
_PQ_KC = 16  # centroids per subspace
_PQ_ITERS = 3  # Lloyd rounds per subspace
_PQ_SUB = _DIM // _PQ_M
_PQ_NCAND = 64  # ADC candidate pool re-ranked exactly


def _pq_encode_sql() -> str:
    from market_pulse_data_pipeline_spark.functions.clustering import (  # noqa: PLC0415
        SNAP_SCALE,
        pq_oracle_sql,
    )

    final = f""",
    codes AS (
      SELECT vec_id,
             string_agg(CAST(cid AS VARCHAR), ',' ORDER BY j) AS codes_csv
      FROM assign GROUP BY vec_id
    ),
    errs AS (
      SELECT pu.vec_id, SUM((pu.qv - cf.val) * (pu.qv - cf.val)) AS ss
      FROM pu
      JOIN assign a ON a.vec_id = pu.vec_id AND a.j = pu.pos // {_PQ_SUB}
      JOIN cfin cf ON cf.j = a.j AND cf.cid = a.cid AND cf.pos = pu.pos
      GROUP BY pu.vec_id
    )
    SELECT c.vec_id, c.codes_csv,
           {sql_round_div("sqrt(CAST(e.ss AS DOUBLE))", str(SNAP_SCALE), 4)}
             AS recon_err
    FROM codes c JOIN errs e USING (vec_id)
    ORDER BY c.vec_id
    """
    return pq_oracle_sql(final, m=_PQ_M, k=_PQ_KC, iters=_PQ_ITERS, dim=_DIM)


def _pq_adc_sql() -> str:
    from market_pulse_data_pipeline_spark.functions.clustering import (  # noqa: PLC0415
        pq_oracle_sql,
    )

    final = f""",
    qv AS (SELECT v AS eq FROM p WHERE vec_id = 0),
    tblq AS (
      SELECT cf.j, cf.cid AS code,
             SUM((q.eq[cf.pos + 1] - cf.val) * (q.eq[cf.pos + 1] - cf.val))
               AS d2
      FROM cfin cf, qv q GROUP BY cf.j, cf.cid
    ),
    adc AS (
      SELECT a.vec_id, SUM(t.d2) AS adc_d2
      FROM assign a JOIN tblq t ON t.j = a.j AND t.code = a.cid
      GROUP BY a.vec_id
    ),
    cand AS (SELECT vec_id FROM adc
             ORDER BY adc_d2, vec_id LIMIT {_PQ_NCAND}),
    scored AS (
      SELECT e.vec_id,
             list_sum(list_transform(range(1, len(v) + 1),
                      i -> (v[i] - q2.vq[i]) * (v[i] - q2.vq[i]))) AS d2
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings) e
      JOIN cand USING (vec_id),
      (SELECT CAST(embedding AS DOUBLE[]) AS vq FROM embeddings
       WHERE vec_id = 0) q2
    )
    SELECT vec_id, ROUND(d2, 4) AS l2_d2
    FROM scored ORDER BY ROUND(d2, 4), vec_id LIMIT 10
    """
    return pq_oracle_sql(final, m=_PQ_M, k=_PQ_KC, iters=_PQ_ITERS, dim=_DIM)


@register(
    "pq_encode_embeddings",
    # Full value-hash oracle (round 5): the codebooks are the integer-
    # snapped per-subspace Lloyd's fits, so the DuckDB twin unrolls all
    # m fits as CTE chains (functions/clustering.py::pq_oracle_sql) and
    # recomputes codes + the integer squared reconstruction error; the
    # only float op is the final sqrt/scale/round — identical IEEE on
    # identical integer inputs.
    _pq_encode_sql(),
    doc="product quantization of the embedding store "
    "(functions/clustering.py::pq_train_snapped/pq_encode_snapped): "
    "m=8 subspaces x k=16 centroids over int64-quantized vectors, "
    "codes emitted as a driver-hashable CSV plus the per-row L2 "
    "reconstruction error (4-decimal snap of sqrt(integer SS)/scale). "
    "Converted rows-only → full value-hash oracle in round 5 via the "
    "unrolled per-subspace kmeans CTEs. Training touches only column "
    "slices and keeps m*k*sub ints on the driver; encoding is "
    "map-only with the codebook shipped in the Arrow UDF — the "
    "standard memory layout for billion-scale ANN re-rank at 100 TB.",
)
def pq_encode_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.clustering import (  # noqa: PLC0415
        SNAP_SCALE,
        pq_encode_snapped,
        pq_train_snapped,
    )

    emb = t(spark, sf_dir, "embeddings")
    books = pq_train_snapped(emb, m=_PQ_M, k=_PQ_KC, iters=_PQ_ITERS)
    out = pq_encode_snapped(emb, books)
    return out.select(
        "vec_id",
        F.concat_ws(",", F.col("codes").cast("array<string>")).alias(
            "codes_csv"
        ),
        # decimal-tie-safe quotient rounding (round_div), NOT bare
        # F.round: sqrt(ss)/scale CAN terminate decimally (perfect-
        # square ss with root ≡ 50 mod 100), exactly the tie class
        # where Spark's BigDecimal route and DuckDB's float route
        # disagree
        round_div(
            F.sqrt(F.col("ss").cast("double")), F.lit(SNAP_SCALE), 4
        ).alias("recon_err"),
    )


@register(
    "ann_pq_adc_topk",
    # Full value-hash oracle (round 5): snapped codebooks + integer ADC
    # tables make the candidate stage exact; the re-rank's float fold
    # is the established zip_with/list_sum route.
    _pq_adc_sql(),
    doc="PQ asymmetric distance computation (ADC) with exact re-rank: "
    "the query stays full-precision for the re-rank, every stored "
    "vector is its 8-nibble PQ code, ADC distance is the sum of "
    "per-subspace table lookups — with snapped codebooks the table "
    "entries are exact integers, so candidate selection is "
    "deterministic and the DuckDB twin replays it bit-for-bit — and "
    "the top-64 ADC candidates are re-ranked by exact L2: the "
    "FAISS-style two-stage scan that makes billion-vector ANN fit in "
    "RAM. Converted rows-only → full value-hash oracle in round 5 via "
    "the unrolled per-subspace kmeans CTEs. Spark shape: the m*k="
    "128-row integer distance table is a broadcast join against "
    "posexploded codes, vec_id-keyed partial/final sum, "
    "TakeOrdered(64) candidate set, then a broadcast semi-join back "
    "to embeddings with a JVM-side zip_with fold for the exact "
    "distance.",
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.functions.clustering import (  # noqa: PLC0415
        pq_encode_snapped,
        pq_train_snapped,
        quantize_vec_py,
    )

    emb = t(spark, sf_dir, "embeddings")
    books = pq_train_snapped(emb, m=_PQ_M, k=_PQ_KC, iters=_PQ_ITERS)
    codes = pq_encode_snapped(emb, books)
    q = [
        float(x) for x in emb.orderBy("vec_id").head()["embedding"]
    ]  # deterministic probe: first vector by id (bounded collect)
    eq = quantize_vec_py(q)
    tbl = local_frame(
        spark,
        [
            (
                j,
                c,
                sum(
                    (eq[j * _PQ_SUB + p] - int(books[j][c][p])) ** 2
                    for p in range(_PQ_SUB)
                ),
            )
            for j in range(_PQ_M)
            for c in range(_PQ_KC)
        ],
        "j int, code int, d2 long",
    )
    candidates = (
        codes.select("vec_id", F.posexplode("codes").alias("j", "code"))
        .join(F.broadcast(tbl), ["j", "code"])
        .groupBy("vec_id")
        .agg(F.sum("d2").alias("adc_d2"))
        .orderBy("adc_d2", "vec_id")
        .limit(_PQ_NCAND)
    )
    qlit = F.array(*[F.lit(float(x)) for x in q])
    v = F.col("embedding").cast("array<double>")
    exact_d2 = F.aggregate(
        F.zip_with(v, qlit, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        emb.join(F.broadcast(candidates.select("vec_id")), "vec_id")
        .select("vec_id", F.round(exact_d2, 4).alias("l2_d2"))
        .orderBy("l2_d2", "vec_id")
        .limit(10)
    )


@register(
    "centroid_classifier_confusion",
    """
    WITH e AS (
      SELECT vec_id, label, i AS pos,
             CAST(embedding AS DOUBLE[])[i] AS val
      FROM embeddings, UNNEST(range(1, 65)) t(i)
    ), cent AS (
      SELECT label, pos,
             CAST(ROUND(CAST(CAST(SUM(CAST(val AS DECIMAL(20,6)))
                    AS DOUBLE) / COUNT(*) AS DECIMAL(28,10)), 6)
                  AS DOUBLE) AS c
      FROM e GROUP BY label, pos
    ), d AS (
      SELECT e.vec_id, e.label AS true_label, c.label AS cand,
             SUM(CAST((e.val - c.c) * (e.val - c.c)
                 AS DECIMAL(30,12))) AS d2
      FROM e JOIN cent c ON c.pos = e.pos
      GROUP BY 1, 2, 3
    ), pred AS (
      SELECT true_label, cand AS pred_label FROM (
        SELECT d.*, ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY d2, cand) AS rn
        FROM d) WHERE rn = 1
    )
    SELECT true_label, pred_label, COUNT(*) AS n
    FROM pred GROUP BY 1, 2
    """,
    doc="nearest-label-centroid classification with a confusion "
    "matrix — the zero-training eval that tells you whether an "
    "embedding space separates its labels (and which pairs confuse). "
    "Determinism discipline: per-dim centroid means from exact "
    "decimal sums (order-independent) snapped at 1e-6; squared "
    "residuals are identical IEEE doubles snapped to DECIMAL(30,12) "
    "so the distance SUM is order-independent too; argmin breaks "
    "ties on label. Shape: fully relational — posexplode + two "
    "hash aggregates + a 640-row centroid broadcast join; no numpy, "
    "no collect.",
)
def centroid_classifier_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    from market_pulse_data_pipeline_spark.queries.common import round_div  # noqa: PLC0415

    emb = t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "val"
        ),
    )
    cent = e.groupBy(F.col("label").alias("c_label"), "pos").agg(
        round_div(
            F.sum(F.col("val").cast("decimal(20,6)")).cast("double"),
            F.count(F.lit(1)),
            6,
        ).alias("c")
    )
    d = (
        e.join(F.broadcast(cent), "pos")
        .groupBy(
            "vec_id",
            F.col("label").alias("true_label"),
            F.col("c_label").alias("cand"),
        )
        .agg(
            F.sum(
                ((F.col("val") - F.col("c")) * (F.col("val") - F.col("c")))
                .cast("decimal(30,12)")
            ).alias("d2")
        )
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cand")
    pred = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("true_label", F.col("cand").alias("pred_label"))
    )
    return pred.groupBy("true_label", "pred_label").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "embedding_mean_pool_by_label",
    """
    WITH e AS (
      SELECT label, i AS pos, CAST(embedding AS DOUBLE[])[i] AS val
      FROM embeddings, UNNEST(range(1, 65)) t(i)
    ), m AS (
      SELECT label, pos,
             CAST(ROUND(CAST(CAST(SUM(CAST(val AS DECIMAL(20,6)))
                    AS DOUBLE) / COUNT(*) AS DECIMAL(28,10)), 6)
                  AS DOUBLE) AS c
      FROM e GROUP BY label, pos
    )
    SELECT label,
           array_to_string(
             list(CAST(CAST(c AS DECIMAL(12,6)) AS VARCHAR) ORDER BY pos),
             ',') AS pooled_csv
    FROM m GROUP BY label
    """,
    doc="mean-pooling embeddings per label (the pooling step that "
    "turns chunk/token embeddings into document/class vectors): "
    "posexplode -> per-(label, dim) exact-decimal mean (order-"
    "independent, snapped at 1e-6) -> re-assembled in dim order as a "
    "driver-hashable CSV. Determinism extends to the string: both "
    "engines render the same snapped doubles via shortest-roundtrip "
    "formatting. Shape: two hash aggregates, label-dim cardinality "
    "bounded (|labels| x dim), rows never widen.",
)
def embedding_mean_pool_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.queries.common import round_div  # noqa: PLC0415

    emb = t(spark, sf_dir, "embeddings")
    e = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "val"
        ),
    )
    m = e.groupBy("label", "pos").agg(
        round_div(
            F.sum(F.col("val").cast("decimal(20,6)")).cast("double"),
            F.count(F.lit(1)),
            6,
        ).alias("c")
    )
    # fixed-scale decimal -> string renders identically on both engines
    # (double -> string does NOT: Spark uses scientific notation below
    # 1e-3 where DuckDB stays fixed-point)
    c_str = F.col("c").cast("decimal(12,6)").cast("string")
    return m.groupBy("label").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", c_str))),
                lambda s: s["col2"],
            ),
        ).alias("pooled_csv")
    )


_GD_LR = 0.0009765625  # 2^-10: exact in binary, stable (< 2/lambda_max
                       # of the [[1,E[x]],[E[x],E[x^2]]] normal matrix
                       # for x = l_quantity in 1..50)
_GD_ITERS = 3


def _gd_sql() -> str:
    """Unrolled-iteration DuckDB twin of linear_regression_gd: each
    iteration is one scalar-aggregate CTE (exact-decimal gradient sums,
    decimal-snapped average) plus one weight-update CTE (decimal-snapped
    step) — the pagerank discipline applied to a training loop."""
    snap = "CAST(ROUND(CAST((%s) AS DECIMAL(28,12)), 6) AS DOUBLE)"
    xy = """
    WITH xy AS (
      SELECT CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_extendedprice AS DOUBLE) AS y
      FROM lineitem
    ),
    w0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1)"""
    parts = [xy]
    for i in range(1, _GD_ITERS + 1):
        g0 = sql_round_avg(f"((w0 + w1 * x) - y)", 6, 6)
        g1 = sql_round_avg(f"(((w0 + w1 * x) - y) * x)", 6, 6)
        parts.append(
            f""",
    g{i} AS (
      SELECT {g0} AS g0, {g1} AS g1
      FROM xy CROSS JOIN w{i - 1}
    ),
    w{i} AS (
      SELECT {snap % f'w0 - {_GD_LR} * g0'} AS w0,
             {snap % f'w1 - {_GD_LR} * g1'} AS w1
      FROM w{i - 1} CROSS JOIN g{i}
    )"""
        )
    mse0 = sql_round_avg("y * y", 6, 2)
    msef = sql_round_avg("((w0 + w1 * x) - y) * ((w0 + w1 * x) - y)", 6, 2)
    parts.append(
        f"""
    SELECT w0, w1,
           (SELECT COUNT(*) FROM xy) AS n_rows,
           (SELECT {mse0} FROM xy) AS mse_initial,
           (SELECT {msef} FROM xy CROSS JOIN w{_GD_ITERS}) AS mse_final
    FROM w{_GD_ITERS}
    """
    )
    return "".join(parts)


@register(
    "linear_regression_gd",
    _gd_sql(),
    doc=f"distributed model TRAINING as a hash-checked query: "
    f"{_GD_ITERS} full-batch gradient-descent iterations fitting "
    f"y = w0 + w1*x (extendedprice on quantity), lr = {_GD_LR} "
    "(a power of two — exact in binary). The cross-engine-exactness "
    "discipline is the pagerank one applied to continuous "
    "optimization: per-row residuals are a FIXED double expression "
    "tree (identical IEEE ops both engines), every gradient SUM "
    "snaps its addends to exact decimals (order-independent — "
    "partial-aggregation order can never change the result), and "
    "each weight update decimal-snaps to 6dp before the next "
    "iteration, so three chained iterations stay bit-identical to "
    "DuckDB's unrolled CTEs. mse_initial vs mse_final witnesses the "
    "loss actually dropping. Scale shape: the (x, y) projection is "
    "materialized ONCE via localCheckpoint (an eager job at build "
    "time; blocks release with the reference — ADVICE r12), then "
    "each iteration is one in-memory aggregate whose 1-row result "
    "broadcasts into the next (crossJoin of a 1-row frame — no "
    "driver collect between epochs), the textbook data-parallel "
    "full-batch GD.",
)
def linear_regression_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from market_pulse_data_pipeline_spark.queries.common import (  # noqa: PLC0415
        round_avg,
    )

    # materialize the 2-column training projection once: every GD
    # iteration (plus the n/mse passes) aggregates over it, and the
    # unmaterialized form re-scanned lineitem per iteration — 17 scans
    # in the audited plan. localCheckpoint rather than cache(): the
    # blocks are released when this DataFrame reference is collected
    # (cache() pinned them in executor storage for the rest of the
    # session — the bench/correctness sweeps run hundreds of queries in
    # one session, so an unreleased cache compounds). The projection is
    # 16 bytes/row; gradients are unchanged.
    xy = t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
    ).localCheckpoint()

    def snap(col):
        return F.round(col.cast("decimal(28,12)"), 6).cast("double")

    w = spark.range(1).select(
        F.lit(0.0).alias("w0"), F.lit(0.0).alias("w1")
    )
    resid = (F.col("w0") + F.col("w1") * F.col("x")) - F.col("y")
    for _ in range(_GD_ITERS):
        g = (
            xy.crossJoin(F.broadcast(w))
            .agg(
                round_avg(resid, 6, 6).alias("g0"),
                round_avg(resid * F.col("x"), 6, 6).alias("g1"),
            )
        )
        w = w.crossJoin(F.broadcast(g)).select(
            snap(F.col("w0") - F.lit(_GD_LR) * F.col("g0")).alias("w0"),
            snap(F.col("w1") - F.lit(_GD_LR) * F.col("g1")).alias("w1"),
        )
    n = xy.agg(F.count(F.lit(1)).alias("n_rows"))
    mse0 = xy.agg(round_avg(F.col("y") * F.col("y"), 6, 2).alias("mse_initial"))
    msef = (
        xy.crossJoin(F.broadcast(w))
        .agg(round_avg(resid * resid, 6, 2).alias("mse_final"))
    )
    return (
        w.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(mse0))
        .crossJoin(F.broadcast(msef))
        .select("w0", "w1", "n_rows", "mse_initial", "mse_final")
    )
