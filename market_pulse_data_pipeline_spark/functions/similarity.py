"""Similarity search over embedding columns.

- ``cosine_topk``: brute-force baseline (exact; one scan + top-k).
- ``lsh_ann_topk``: random-hyperplane LSH scale path — signature via
  fixed deterministic planes, candidates from Hamming-near buckets,
  exact cosine re-rank on the candidate set only. At 100 TB the bucket
  join touches a small fraction of vectors instead of all of them.
- ``embedding_near_duplicates``: cosine ≥ threshold pairs through the
  same LSH bucketing (embedding-based near-dup for dedup pipelines).
- ``ivf_ann_topk``: the one inverted-file ANN path — a coarse codebook
  from the integer-snapped k-means fit (functions/clustering.py's one
  Lloyd loop), an integer probe of the cells nearest the quantized
  query, and an exact cosine re-rank of the probed cells' members
  (``ivf_probe``, which the stress harness times on its own).

Signature portability: plane components are md5-derived integers in
[-1000, 1000] (``portable_planes``) and projections run on int64
round(x·10⁶)-quantized vectors — every sign decision is exact integer
arithmetic a SQL oracle can replay bit-for-bit (the minhash_portable /
simhash_portable discipline applied to hyperplane LSH). Sign-LSH needs
only a symmetric component distribution, so the uniform integer planes
retain the Gaussian variant's locality guarantees. Quantization is a
JVM transform; the sign matmul is an Arrow-batched int64
``pandas_udf`` — exact whatever the summation order, since integer
addition is associative. The relational shell (bucketing, joins,
re-rank) is plain DataFrame ops.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from market_pulse_data_pipeline_spark.functions.clustering import (
    kmeans_snapped_fit,
    quantize_vec_py,
)


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_topk(
    emb: DataFrame, query_vec: list[float], k: int = 10, id_col: str = "vec_id"
) -> DataFrame:
    """Exact brute-force top-k against one query vector."""
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    v = F.col("embedding").cast("array<double>")
    return (
        emb.select(id_col, F.round(cosine(v, qlit), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), id_col)
        .limit(k)
    )


# Signature parameters shared with the SQL oracle twins: int64
# quantization scale for projections and the plane-component modulus
# (components uniform in [-(_PLANE_MOD//2), _PLANE_MOD//2]).
_SIG_Q = 1_000_000
_PLANE_MOD = 2001


def portable_planes(
    dim: int, n_planes: int, seed: int = 42
) -> list[list[int]]:
    """Integer hyperplane components, md5-derived so a SQL oracle can
    re-derive the identical matrix:
    ``('0x'||substring(md5('plane:{seed}:{i}:{j}'),1,15))::BIGINT
    % 2001 - 1000`` in DuckDB equals entry (i, j)."""
    return [
        [
            int(
                hashlib.md5(f"plane:{seed}:{i}:{j}".encode()).hexdigest()[:15],
                16,
            )
            % _PLANE_MOD
            - _PLANE_MOD // 2
            for j in range(dim)
        ]
        for i in range(n_planes)
    ]


def quantized_embedding(col: Column) -> Column:
    """round(x·10⁶) int64 per element — the exact-integer domain every
    portable sign/cosine decision is made in."""
    return F.transform(
        col, lambda x: F.round(x.cast("double") * _SIG_Q).cast("long")
    )


def add_lsh_signature(
    emb: DataFrame, dim: int, n_planes: int = 16, seed: int = 42
) -> DataFrame:
    """Adds ``lsh_sig`` (bigint): sign bits of int64-quantized
    projections onto the portable integer hyperplanes.

    Quantization (round(x·10⁶) → long) happens JVM-side with F.round —
    the same rounding the SQL oracle's round() performs — and the sign
    decisions are an Arrow-batched int64 matmul: integer addition is
    associative, so the batch matmul is bit-identical to the oracle's
    sequential term sum NO MATTER the summation order (the property
    float projections never had)."""
    from market_pulse_data_pipeline_spark.functions.dedup import fan_out  # noqa: PLC0415

    emb = fan_out(emb)
    pl = np.array(portable_planes(dim, n_planes, seed), dtype=np.int64)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf(T.LongType())
    def sig_udf(eq: pd.Series) -> pd.Series:
        mat = np.stack(eq.to_numpy()).astype(np.int64)  # (batch, dim)
        bits = (mat @ pl.T) > 0  # exact: int64 matmul
        return pd.Series(bits @ weights)

    return emb.withColumn(
        "lsh_sig", sig_udf(quantized_embedding(F.col("embedding")))
    )


def query_sig(
    query_vec: list[float], n_planes: int = 16, seed: int = 42
) -> int:
    """Portable signature of one query vector, computed driver-side in
    pure integer arithmetic (no job). Quantization is
    Decimal(repr(x·10⁶)) rounded HALF_UP — the exact decimal value
    Spark's F.round produces for a double (BigDecimal over
    Double.toString, both shortest round-trip decimal forms), so the
    driver-side signature can never diverge from the executor-side
    ones; tests/test_scale_paths.py pins the parity vector-by-vector."""
    from decimal import ROUND_HALF_UP, Decimal  # noqa: PLC0415

    dim = len(query_vec)
    planes = portable_planes(dim, n_planes, seed)
    e = [
        int(
            Decimal(repr(float(x) * _SIG_Q)).quantize(
                Decimal(1), rounding=ROUND_HALF_UP
            )
        )
        for x in query_vec
    ]
    sig = 0
    for i, row in enumerate(planes):
        if sum(ej * pj for ej, pj in zip(e, row)) > 0:
            sig |= 1 << i
    return sig


def lsh_ann_topk(
    emb: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    n_planes: int = 16,
    max_hamming: int = 6,
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: probe buckets within a Hamming radius of the
    query signature, exact cosine only on the survivors."""
    q_sig = query_sig(query_vec, n_planes, seed)
    with_sig = add_lsh_signature(emb, dim, n_planes, seed)
    near = with_sig.filter(
        F.bit_count(F.col("lsh_sig").bitwiseXOR(F.lit(q_sig))) <= max_hamming
    )
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    v = F.col("embedding").cast("array<double>")
    return (
        near.select(id_col, F.round(cosine(v, qlit), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), id_col)
        .limit(k)
    )


def lsh_chunk_candidate_pairs(
    with_sig: DataFrame,
    n_planes: int = 16,
    max_hamming: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """(id_a, id_b) — signature pairs within ``max_hamming`` via
    pigeonhole chunk bucketing over a frame carrying ``lsh_sig``.

    INVARIANT: 4 chunks keep the candidate stage complete only for
    ``max_hamming`` ≤ 3 (k+1 chunks cover radius k); a larger radius
    would silently miss signature pairs differing in all four chunks."""
    if max_hamming > 3:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the radius the 4-chunk "
            "pigeonhole covers (≤ 3); add chunks (k+1 chunks for radius k) "
            "before raising the threshold"
        )
    chunk_bits = n_planes // 4
    mask = (1 << chunk_bits) - 1
    chunks = with_sig.select(
        F.col(id_col),
        "lsh_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("lsh_sig"), c * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("e"),
    ).select(F.col(id_col), "lsh_sig", "e.chunk", "e.val")
    a = chunks.alias("a")
    b = chunks.alias("b")
    pair_ok = (
        (F.col("a.chunk") == F.col("b.chunk"))
        & (F.col("a.val") == F.col("b.val"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & (
            F.bit_count(F.col("a.lsh_sig").bitwiseXOR(F.col("b.lsh_sig")))
            <= max_hamming
        )
    )
    # dedup candidate IDs FIRST (a pair can collide in up to 4 chunks), so
    # downstream exact verification runs once per pair, not per collision
    return (
        a.join(b, pair_ok)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def embedding_near_duplicates(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 16,
    max_hamming: int = 2,
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """(id_a, id_b, cosine) — embedding-cosine near-dup pairs via LSH
    chunk bucketing (pigeonhole: hamming ≤ 2 over 4 chunks → some chunk
    equal) + exact cosine verification."""
    with_sig = add_lsh_signature(emb, dim, n_planes, seed)
    pairs = lsh_chunk_candidate_pairs(with_sig, n_planes, max_hamming, id_col)
    ea = emb.select(F.col(id_col).alias("id_a"), F.col("embedding").alias("emb_a"))
    eb = emb.select(F.col(id_col).alias("id_b"), F.col("embedding").alias("emb_b"))
    va = F.col("emb_a").cast("array<double>")
    vb = F.col("emb_b").cast("array<double>")
    return (
        pairs.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", F.round(cosine(va, vb), 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# --- IVF (inverted-file) ANN ---------------------------------------------------


# Lloyd rounds of the coarse codebook — shared with the DuckDB twin of
# the registered ann_ivf_topk query (queries/scale_paths.py).
IVF_ITERS = 2


def ivf_probe(
    emb: DataFrame,
    assigned: DataFrame,
    centroids: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe the ``nprobe`` cells whose centroids are integer-nearest to
    the quantized query (``quantize_vec_py``, the driver twin of the
    executor quantization; ties toward the lower cell), then exact
    cosine re-rank of those cells' members only."""
    eq = quantize_vec_py(query_vec)
    dists = sorted(
        (sum((int(c) - e) ** 2 for c, e in zip(row, eq)), cid)
        for cid, row in enumerate(centroids)
    )
    probe = [cid for _, cid in dists[:nprobe]]
    near = assigned.filter(F.col("cluster").isin(probe)).select(id_col)
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    v = F.col("embedding").cast("array<double>")
    return (
        emb.join(near, id_col, "left_semi")
        .select(id_col, F.round(cosine(v, qlit), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), id_col)
        .limit(k)
    )


def ivf_ann_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN: fit the coarse codebook with the integer-snapped
    k-means (``kmeans_snapped_fit``, first-k-by-id init, ``IVF_ITERS``
    Lloyd rounds; only the n_centroids x dim int64 codebook reaches
    the driver), probe only the ``nprobe`` cells nearest the query and
    re-rank inside them by exact cosine (``ivf_probe``). Every
    codebook, assignment and probe decision is exact integer
    arithmetic, so the registered ann_ivf_topk query replays it in
    DuckDB."""
    assigned, centroids = kmeans_snapped_fit(
        emb, k=n_centroids, iters=IVF_ITERS, id_col=id_col
    )
    return ivf_probe(
        emb, assigned, centroids, query_vec, k, nprobe, id_col
    )
