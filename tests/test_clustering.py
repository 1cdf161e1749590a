"""Exactness twins for functions/clustering.py.

K-means: the snapped Spark fit must produce IDENTICAL assignments to a
pure-integer numpy replay of the same deterministic algorithm (first-k
init, ties toward lower cluster id, truncating-division updates), and
the fused PQ fit must equal per-subspace k-means fits bit for bit.
PCA: projections must match a numpy eigendecomposition of the same
covariance up to float tolerance (partial-sum order differs between
engines).
"""

from __future__ import annotations

import numpy as np
import pytest

from market_pulse_data_pipeline_spark.functions.clustering import (
    SNAP_SCALE,
    kmeans_snapped,
    kmeans_snapped_fit,
    pca_components,
    pca_project,
    pq_train_snapped,
)
from market_pulse_data_pipeline_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    return ids, x


def test_kmeans_all_clusters_nonempty(emb):
    sizes = (
        kmeans_snapped(emb, k=5, iters=3).groupBy("cluster").count().collect()
    )
    assert len(sizes) == 5
    assert all(r["count"] > 0 for r in sizes)


def numpy_kmeans_snapped(
    x: np.ndarray, k: int, iters: int, scale: int
) -> np.ndarray:
    """Pure-int replay of kmeans_snapped: quantize, exact int64
    distances, truncating-division centroid updates."""
    # half-away-from-zero, matching Spark's HALF_UP round() and
    # DuckDB's round() (np.round would use half-to-even)
    v = x * scale
    q = (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype(np.int64)
    c = q[:k].copy()
    for _ in range(iters):
        d2 = ((q[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        a = np.argmin(d2, axis=1)
        for ci in range(k):
            members = q[a == ci]
            if len(members):
                s = members.sum(axis=0)
                n = len(members)
                tdiv = np.abs(s) // n
                c[ci] = np.where(s >= 0, tdiv, -tdiv)
    d2 = ((q[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
    return np.argmin(d2, axis=1)


def test_kmeans_snapped_matches_int_replay_exactly(spark, emb, emb_np):
    """The oracle-bearing variant: BIT-identical to a pure-integer
    replay — no float tolerance anywhere (this is the property that
    lets embedding_kmeans_clusters/_sizes carry a DuckDB value-hash
    oracle)."""
    ids, x = emb_np
    expected = numpy_kmeans_snapped(x, k=5, iters=3, scale=SNAP_SCALE)
    got_rows = kmeans_snapped(emb, k=5, iters=3).orderBy("vec_id").collect()
    got = np.array([r.cluster for r in got_rows])
    assert np.array_equal(ids, np.array([r.vec_id for r in got_rows]))
    assert np.array_equal(got, expected)


def test_pca_components_match_numpy(emb, emb_np):
    _, x = emb_np
    comp, mean = pca_components(emb, dim=x.shape[1], n_components=2)
    np.testing.assert_allclose(mean, x.mean(axis=0), rtol=1e-9)
    cov = np.cov(x, rowvar=False, bias=True)
    _, vecs = np.linalg.eigh(cov)
    expected = vecs[:, ::-1][:, :2].T
    for c in range(2):
        m = np.argmax(np.abs(expected[c]))
        if expected[c, m] < 0:
            expected[c] = -expected[c]
    np.testing.assert_allclose(np.abs(comp), np.abs(expected), atol=1e-6)


def test_pca_projection_variance_order(emb, emb_np):
    _, x = emb_np
    rows = pca_project(emb, dim=x.shape[1], n_components=2).collect()
    p1 = np.array([r.pc1 for r in rows])
    p2 = np.array([r.pc2 for r in rows])
    assert len(rows) == len(x)
    # top component carries at least as much variance as the second
    assert p1.var() >= p2.var()


def test_pq_rejects_indivisible_dim(spark, emb):
    with pytest.raises(ValueError):
        pq_train_snapped(emb, m=7)


def test_snapped_fits_reject_empty_input(spark, emb):
    # both entry points of the one Lloyd loop take dim from the init
    # rows, so an empty frame must fail with one clear ValueError (not
    # an IndexError on the centroid shape or a TypeError on head())
    empty = emb.limit(0)
    with pytest.raises(ValueError, match="no rows"):
        kmeans_snapped_fit(empty, k=5, iters=1)
    with pytest.raises(ValueError, match="no rows"):
        pq_train_snapped(empty, m=8, k=4, iters=1)


def test_pq_adc_recall(spark, emb, emb_np):
    from market_pulse_data_pipeline_spark.queries.ml import ann_pq_adc_topk

    ids, x = emb_np
    got = [r.vec_id for r in ann_pq_adc_topk(spark, SF_DIR).collect()]
    q = x[np.argsort(ids)[0]]
    exact = ids[np.argsort(((x - q) ** 2).sum(axis=1))][:10]
    recall = len(set(got) & set(exact)) / 10
    # PQ on this synthetic (near-uniform) embedding table is a hard
    # case even with the 64-candidate exact re-rank; the bar is "far
    # above chance" (chance = 10/n ≈ 0.05)
    assert recall >= 0.5, (recall, got, list(exact))
    # the probe vector itself (distance 0) must always be recalled
    assert exact[0] in got


def test_pq_snapped_fused_equals_sequential_subspace_fits(spark, emb):
    # pq_train_snapped fuses the m per-subspace Lloyd fits into one
    # loop; the books must stay BIT-IDENTICAL to m sequential
    # kmeans_snapped_fit calls over the subvector slices (the form the
    # DuckDB oracle unrolls) — int64 sums are combination-order-
    # independent and each subspace's init/argmin inputs are unchanged,
    # so any divergence is a bug in the fusion
    from pyspark.sql import functions as F

    m, k, iters = 8, 16, 3
    fused = pq_train_snapped(emb, m=m, k=k, iters=iters)
    first = emb.select("embedding").head()
    sub = len(first[0]) // m
    for j in range(m):
        sl = emb.select(
            "vec_id",
            F.slice(F.col("embedding"), j * sub + 1, sub).alias("subvec"),
        )
        _, cent = kmeans_snapped_fit(
            sl, k, iters, id_col="vec_id", vec_col="subvec"
        )
        assert (fused[j] == cent).all(), f"subspace {j} diverged"
