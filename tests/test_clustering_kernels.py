"""Equivalence pins for the round-16 clustering kernels.

Two optimizations changed operator INTERNALS while the oracle contract
stayed byte-identical; these pins make the equivalence claims loud:

1. ``_snapped_partial_sums`` — the fused Lloyd update (one Arrow pass
   assigning + partially summing, keyed by subspace, cluster and
   position) must produce the same per-cluster sums/counts, hence the
   same centroids, as the r15-era assign-UDF + posexplode + groupBy
   path it replaced.
2. ``within_cluster_pair_dots`` — the grouped int64-matmul pair kernel
   must emit a SUPERSET of the exact-threshold pairs (its float64
   screen may only over-include), and after the callers' unchanged
   exact decimal(38) filter the surviving pair set must equal the
   r15-era interpreted zip_with join's.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.functions.clustering import (
    SNAP_SCALE,
    _assign_udf_snapped,
    kmeans_snapped_fit,
    within_cluster_pair_dots,
)
from market_pulse_data_pipeline_spark.queries.common import t

SF = "/root/testdata/sf0.001"


def _old_iteration_sums(src, centroids):
    """The pre-r16 Lloyd update step, verbatim."""
    assigned = src.withColumn("cluster", _assign_udf_snapped(centroids)("v"))
    return {
        (r["cluster"], r["pos"]): (r["s"], r["n"])
        for r in (
            assigned.select("cluster", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
    }


def test_fused_lloyd_update_matches_explode_groupby(spark):
    from market_pulse_data_pipeline_spark.functions.clustering import (
        _snapped_partial_sums,
    )

    emb = t(spark, SF, "embeddings").select("vec_id", "embedding")
    src = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * SNAP_SCALE).cast("long"),
        ).alias("v"),
    ).repartition(5).localCheckpoint(eager=True)
    init = src.orderBy("vec_id").limit(7).collect()
    centroids = np.array([r["v"] for r in init], dtype=np.int64)

    old = _old_iteration_sums(src, centroids)
    new = {
        (r["cluster"], r["pos"]): (r["s"], r["n"])
        for r in (
            src.select("v")
            .mapInPandas(
                _snapped_partial_sums(centroids[None]),
                "j int, cluster int, pos int, s long, n long",
            )
            .groupBy("cluster", "pos")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
    }
    assert old == new


def test_direct_merge_matches_grouped_merge(spark, monkeypatch):
    # r17 pin: the size-bounded direct driver merge of the fused Lloyd
    # partials must produce the same fit as the distributed
    # groupBy(cluster, pos) merge it skips (int64 sums are
    # combination-order-independent, so WHERE they merge cannot change
    # the centroids — this makes that claim loud).
    import market_pulse_data_pipeline_spark.functions.clustering as cl

    emb = t(spark, SF, "embeddings").select("vec_id", "embedding")
    monkeypatch.setattr(cl, "_DIRECT_MERGE_MAX_CELLS", 0)  # force grouped
    a_g, c_g = cl.kmeans_snapped_fit(emb, k=7, iters=2)
    monkeypatch.setattr(cl, "_DIRECT_MERGE_MAX_CELLS", 1 << 20)
    a_d, c_d = cl.kmeans_snapped_fit(emb, k=7, iters=2)
    assert np.array_equal(c_g, c_d)
    rows_g = {r["vec_id"]: r["cluster"] for r in a_g.collect()}
    rows_d = {r["vec_id"]: r["cluster"] for r in a_d.collect()}
    assert rows_g == rows_d
    # the m-subspace call of the same loop: PQ books merged either way
    monkeypatch.setattr(cl, "_DIRECT_MERGE_MAX_CELLS", 0)
    b_g = cl.pq_train_snapped(emb, m=8, k=16, iters=2)
    monkeypatch.setattr(cl, "_DIRECT_MERGE_MAX_CELLS", 1 << 20)
    b_d = cl.pq_train_snapped(emb, m=8, k=16, iters=2)
    assert np.array_equal(b_g, b_d)


def test_emit_n2_matches_assign_udf_plus_fold(spark):
    # r17 pin: the fused (assignment + n2) Arrow pass behind
    # kmeans_snapped_fit(emit_n2=True) must reproduce, row for row,
    # the separate _assign_udf_snapped withColumn plus the interpreted
    # aggregate(transform(v, x*x)) fold the SemDeDup queries stacked
    # on it before r17.
    emb = t(spark, SF, "embeddings").select("vec_id", "embedding")
    fused, cents = kmeans_snapped_fit(emb, k=7, iters=2, emit_n2=True)
    legacy, cents2 = kmeans_snapped_fit(emb, k=7, iters=2)
    assert np.array_equal(cents, cents2)
    legacy = legacy.withColumn(
        "n2",
        F.aggregate(
            F.transform("v", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    want = {
        r["vec_id"]: (list(r["v"]), r["cluster"], r["n2"])
        for r in legacy.collect()
    }
    got = {
        r["vec_id"]: (list(r["v"]), r["cluster"], r["n2"])
        for r in fused.collect()
    }
    assert got == want


def test_k_from_count_matches_explicit_k(spark):
    emb = t(spark, SF, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    k = (n + 49) // 50
    a_explicit, c_explicit = kmeans_snapped_fit(emb, k=k, iters=2)
    a_rule, c_rule = kmeans_snapped_fit(
        emb, k_from_count=lambda m: (m + 49) // 50, iters=2
    )
    assert np.array_equal(c_explicit, c_rule)
    rows_e = sorted(
        (r["vec_id"], r["cluster"])
        for r in a_explicit.select("vec_id", "cluster").collect()
    )
    rows_r = sorted(
        (r["vec_id"], r["cluster"])
        for r in a_rule.select("vec_id", "cluster").collect()
    )
    assert rows_e == rows_r


def _qv(spark, k=5, iters=2):
    # planted 1.001-scaled copies (the semdedup witness construction):
    # the raw fixture's max pairwise cosine is ~0.5, so without plants
    # the exact-threshold pair set would be empty and the equivalence
    # pin vacuous
    emb = t(spark, SF, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 13 == 0).select(
        (F.col("vec_id") + 1_000_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * 1.001).cast("float")
        ).alias("embedding"),
    )
    emb = emb.unionByName(planted)
    assigned, _ = kmeans_snapped_fit(emb, k=k, iters=iters)
    return assigned.withColumn(
        "n2",
        F.aggregate(
            F.transform("v", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    ).localCheckpoint(eager=True)


def _exact_filter(pairs, num, den):
    dec = "decimal(38,0)"
    d = F.col("dot").cast(dec)
    return pairs.filter(
        (F.col("dot") >= 0)
        & (
            d * d * F.lit(den).cast(dec)
            >= F.col("na").cast(dec)
            * F.col("nb").cast(dec)
            * F.lit(num).cast(dec)
        )
    )


def test_pair_kernel_matches_interpreted_join(spark):
    num, den = 361, 400
    qv = _qv(spark)
    # old path, verbatim from the r15 semdedup_prune
    a = qv.select(
        F.col("vec_id").alias("id_a"),
        F.col("cluster").alias("cl_a"),
        F.col("v").alias("v_a"),
        F.col("n2").alias("na"),
    )
    b = qv.select(
        F.col("vec_id").alias("id_b"),
        F.col("cluster").alias("cl_b"),
        F.col("v").alias("v_b"),
        F.col("n2").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("v_a", "v_b", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    old_pairs = a.join(
        b, (F.col("cl_a") == F.col("cl_b")) & (F.col("id_a") > F.col("id_b"))
    ).withColumn("dot", dot)
    old = sorted(
        (r["id_a"], r["id_b"], r["dot"])
        for r in _exact_filter(
            old_pairs.select("id_a", "id_b", "dot", "na", "nb"), num, den
        ).collect()
    )

    cand = within_cluster_pair_dots(qv, num, den)
    new = sorted(
        (r["id_a"], r["id_b"], r["dot"])
        for r in _exact_filter(cand, num, den).collect()
    )
    assert old == new
    assert len(old) > 0  # non-vacuous: the fixture yields real pairs

    # superset property: every exact-threshold pair of the OLD join is
    # already present among the kernel's screened candidates
    cand_keys = {
        (r["id_a"], r["id_b"]) for r in cand.select("id_a", "id_b").collect()
    }
    assert {(x[0], x[1]) for x in old} <= cand_keys


def test_pair_kernel_orders_and_blocks(spark):
    # block_rows smaller than the cluster population exercises the
    # blocked matmul path; id_a > id_b must hold for every emitted row
    qv = _qv(spark, k=2, iters=1)
    cand = within_cluster_pair_dots(qv, 361, 400, block_rows=3)
    rows = cand.select("id_a", "id_b").collect()
    assert len(rows) > 0
    assert all(r["id_a"] > r["id_b"] for r in rows)
    # blocked result identical to unblocked
    cand_big = within_cluster_pair_dots(qv, 361, 400, block_rows=100000)
    assert sorted(map(tuple, rows)) == sorted(
        map(tuple, cand_big.select("id_a", "id_b").collect())
    )
