"""Distributed clustering / decomposition over embedding columns.

The iterative algorithms a training-data pipeline runs over its
embedding store, in their scale-correct Spark shapes:

- ONE integer-snapped Lloyd loop (``_snapped_fit``) behind every
  k-means-shaped fit: ``kmeans_snapped`` / ``kmeans_snapped_fit`` are
  its ``m = 1`` call, ``pq_train_snapped`` its ``m``-subspace call, and
  the IVF-ANN path (``functions/similarity.py::ivf_ann_topk``) trains
  its coarse codebook through ``kmeans_snapped_fit``. Vectors quantize
  to ``round(x * scale)`` int64s and materialize once (``fan_out`` +
  ``localCheckpoint``); each iteration is ONE fused ``mapInPandas``
  pass that assigns every row (``_argmin_codes``: expanded-form int64
  argmin, ties toward the lower id) and emits per-partition partial
  sums keyed by (subspace, cluster, pos). Small partials merge on the
  driver (``_DIRECT_MERGE_MAX_CELLS``), larger ones through one
  groupBy. Centroid = coordinate-sum DIV count (truncating toward
  zero); empty clusters keep their previous centroid. Driver state is
  the int64 ``(m, k, dim // m)`` codebook — k x dim cells, independent
  of row count — and every step replays in DuckDB
  (``kmeans_oracle_sql``, ``pq_oracle_sql``).

- ``pca_components`` / ``pca_project``: principal components via the
  d×d Gram matrix. Each partition emits ONE partial Gram (mapInPandas
  numpy ``X.T @ X``), the d² cells are summed in one aggregate, and
  the eigendecomposition runs driver-side on the d×d result — the
  only collect is d², independent of row count. Projection is then a
  map-only Arrow-batched matmul. Eigenvector sign is fixed
  (largest-|component| coordinate positive) so output is reproducible
  across numpy builds.

- ``pca_snapped_project``: the cross-engine-exact twin of the above —
  exact int64 moments, an integer repeated-squaring eigensolve with
  exact matrix-level deflation (``_pca_snapped_vectors``), and
  IEEE-deterministic float finishing, fully replayed in SQL by
  ``pca_oracle_sql``. Same distributed shape; the registry's PCA row
  uses this variant so it hash-checks against DuckDB.

None of these shapes ever materializes an n×n or n×d driver-side
structure; they survive 100 TB with the same code path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


SNAP_SCALE = 1_000_000

# Ceiling on n_partitions x k x dim for the fused Lloyd update to
# collect per-partition partials DIRECTLY and merge them on the driver
# (r17): below it, the per-iteration groupBy shuffle stage is pure
# fixed cost — the driver merge of a few thousand rows
# replaces a whole second stage per iteration (measured 1.062 ->
# 0.805 s over a 3-iteration fit at sf0.1, centroids bit-identical;
# integer sums are combination-order-independent so WHERE the partials
# merge cannot change the result). Above it — any real corpus, where
# partition counts reach thousands — the groupBy pre-aggregation runs
# exactly as before, keeping the driver collect bounded at k x dim.
_DIRECT_MERGE_MAX_CELLS = 1 << 20


def _trunc_div(s: int, n: int) -> int:
    """Integer division truncating toward zero — the semantics BOTH
    Spark's ``DIV`` and DuckDB's ``//`` implement (Python's ``//``
    floors, which differs on negative sums)."""
    q = abs(s) // n
    return q if s >= 0 else -q


def quantize_vec_py(vec, scale: int = SNAP_SCALE) -> list[int]:
    """Driver-side twin of the executor quantization
    ``F.round(x.cast('double') * scale).cast('long')``: Decimal over
    repr(x·scale) rounded HALF_UP equals BigDecimal over
    Double.toString — both shortest round-trip decimal forms of the
    same IEEE product — so driver- and executor-quantized vectors can
    never diverge."""
    from decimal import ROUND_HALF_UP, Decimal  # noqa: PLC0415

    return [
        int(
            Decimal(repr(float(x) * scale)).quantize(
                Decimal(1), rounding=ROUND_HALF_UP
            )
        )
        for x in vec
    ]


def kmeans_oracle_sql(
    final: str,
    *,
    k: int | str,
    iters: int,
    dim: int,
    scale: int = SNAP_SCALE,
    where: str = "",
    src: str = "embeddings",
) -> str:
    """Unrolled-iteration DuckDB twin of kmeans_snapped: integer-scaled
    Lloyd's is exactly expressible as chained CTEs — one
    (distance, argmin-assign, centroid-update) triple per iteration,
    with empty clusters kept via LEFT JOIN + COALESCE and centroid
    updates as truncating integer division (DuckDB // == Spark DIV).
    ``final`` is a format string over ``%(a)s`` (the assignment under
    the final centroids, CTE a{iters+1}) and ``%(c)s`` (the final
    centroid table c{iters}); ``where`` optionally restricts the
    training rows (e.g. ``WHERE vec_id <> 0`` for the IVF codebook);
    ``src`` swaps the source relation (must expose vec_id + embedding
    — e.g. the semdedup oracle's planted-union subquery).

    ``k`` may be a SQL expression string instead of an int — it lands
    in the init CTE's LIMIT, parenthesized, so a scalar subquery like
    ``SELECT (COUNT(*) + 49) // 50 FROM p`` yields k ∝ N (the
    SemDeDup-at-scale discipline: cluster POPULATION fixed, cluster
    COUNT growing with the corpus). Int k produces byte-identical SQL
    to before this parameter existed (the generator pins hold)."""
    k_sql = k if isinstance(k, int) else f"({k})"
    parts = [
        f"""
    WITH p AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT))
               AS v
      FROM {src} {where}
    ),
    pu AS (
      SELECT vec_id, i AS pos, v[i + 1] AS qv
      FROM p CROSS JOIN (SELECT UNNEST(range(0, {dim})) AS i) idx
    ),
    c0 AS (
      SELECT CAST(ROW_NUMBER() OVER (PARTITION BY pos ORDER BY vec_id) - 1
                  AS INTEGER) AS cid,
             pos, qv AS val
      FROM pu
      WHERE vec_id IN (SELECT vec_id FROM p ORDER BY vec_id LIMIT {k_sql})
    )"""
    ]
    for i in range(1, iters + 2):  # last pass assigns only
        parts.append(
            """,
    d%(i)d AS (
      SELECT pu.vec_id, c.cid,
             SUM((pu.qv - c.val) * (pu.qv - c.val)) AS dist
      FROM pu JOIN c%(prev)d c ON pu.pos = c.pos
      GROUP BY pu.vec_id, c.cid
    ),
    a%(i)d AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cid) AS rn
        FROM d%(i)d) WHERE rn = 1
    )"""
            % {"i": i, "prev": i - 1}
        )
        if i <= iters:
            parts.append(
                """,
    s%(i)d AS (
      SELECT a.cid, pu.pos, SUM(pu.qv) AS s, COUNT(*) AS n
      FROM a%(i)d a JOIN pu ON pu.vec_id = a.vec_id
      GROUP BY a.cid, pu.pos
    ),
    c%(i)d AS (
      SELECT c.cid, c.pos, COALESCE(s.s // s.n, c.val) AS val
      FROM c%(prev)d c
      LEFT JOIN s%(i)d s ON s.cid = c.cid AND s.pos = c.pos
    )"""
                % {"i": i, "prev": i - 1}
            )
    parts.append(final % {"a": f"a{iters + 1}", "c": f"c{iters}"})
    return "".join(parts)


def _argmin_codes(x: "np.ndarray", books: "np.ndarray") -> "np.ndarray":
    """Nearest codeword per subspace: ``(n, m)`` int32 codes for int64
    rows ``x`` (n x m*sub) against the int64 ``(m, k, sub)`` codebook.
    Expanded form argmin ||x-c||² == argmin(-2 x·c + ||c||²) — pure
    int64, exact (|q| ≤ scale, so every term is far below 2^63);
    np.argmin breaks ties toward the lower id, as the oracle's
    ``ORDER BY dist, cid`` does. The ONE assignment kernel: the Lloyd
    partial sums, the final assignment (with or without n2) and
    ``pq_encode_snapped`` all call it."""
    m, _, sub = books.shape
    codes = np.empty((x.shape[0], m), dtype=np.int32)
    for j in range(m):
        b = books[j]
        xs = x[:, j * sub : (j + 1) * sub]
        d2 = -2 * (xs @ b.T) + (b * b).sum(axis=1)[None, :]
        codes[:, j] = np.argmin(d2, axis=1)
    return codes


def _assign_udf_snapped(centroids: "np.ndarray"):
    books = centroids[None]  # int64 (1, k, dim); ships with the UDF

    @pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        x = np.stack(vecs.to_numpy()).astype(np.int64)  # (batch, dim)
        return pd.Series(_argmin_codes(x, books)[:, 0])

    return assign


def kmeans_snapped(
    emb: DataFrame,
    k: int = 10,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SNAP_SCALE,
) -> DataFrame:
    """Integer-snapped Lloyd's k-means: vectors quantize to
    ``round(x * scale)`` int64s, distances and centroid updates are pure
    integer arithmetic (centroid = coordinate-sum DIV count, truncating
    toward zero), so every iteration is bit-identical across engines
    and the whole fit is expressible as unrolled ANSI-SQL CTEs — the
    ``linear_regression_gd`` pattern applied to clustering, giving the
    registry's k-means rows a full value-hash DuckDB oracle instead of
    a rows-only check.

    100 TB shape (``_snapped_fit``): k×dim driver-side centroid state,
    Arrow-batched int64 matmul assignment, per-iteration merge of at
    most k×dim partial cells per partition; ties break toward the
    lower cluster id and empty clusters keep their previous centroid.
    """
    assigned, _ = kmeans_snapped_fit(emb, k, iters, id_col, vec_col, scale)
    return assigned.select(id_col, "cluster")


def _snapped_partial_sums(books: "np.ndarray"):
    """Fused Lloyd update step: ONE Arrow pass per iteration assigns
    every row in every subspace (``_argmin_codes``) and emits
    per-partition partial sums ``(j, cluster, pos, s, n)`` — subspace,
    codeword, position within the subspace, coordinate sum, member
    count: at most k x dim rows per partition, never row-level data.
    Replaces the ``assign UDF + posexplode + groupBy`` iteration, whose
    N x dim exploded exchange and second pass over the rows were pure
    overhead (guide §2.3 aggregate-before-shuffle / §4.2: the partial
    aggregation moves INTO the same numpy pass that already holds the
    batch). Sums are int64 (same domain as the JVM ``sum(long)`` it
    replaces); empty clusters emit nothing, so the caller's
    keep-previous-centroid rule is untouched — bit-identical fits,
    pinned by tests/test_clustering_kernels.py."""
    m, k, sub = books.shape
    offs = np.arange(m, dtype=np.int64) * k  # (j, cluster) -> j*k + cluster

    def fn(pdfs):
        acc = np.zeros((m * k, sub), dtype=np.int64)
        cnt = np.zeros(m * k, dtype=np.int64)
        for pdf in pdfs:
            if not len(pdf):
                continue
            x = np.stack(pdf["v"].to_numpy()).astype(np.int64)
            cell = (_argmin_codes(x, books) + offs).ravel()
            np.add.at(acc, cell, x.reshape(-1, sub))
            cnt += np.bincount(cell, minlength=m * k)
        idx = np.nonzero(cnt)[0]
        if idx.size:
            yield pd.DataFrame(
                {
                    "j": np.repeat(idx // k, sub).astype(np.int32),
                    "cluster": np.repeat(idx % k, sub).astype(np.int32),
                    "pos": np.tile(np.arange(sub, dtype=np.int32), idx.size),
                    "s": acc[idx].ravel(),
                    "n": np.repeat(cnt[idx], sub),
                }
            )

    return fn


def _assign_n2_fn(centroids: "np.ndarray"):
    """Fused final-assignment pass for the SemDeDup consumers: ONE
    Arrow pass emits (vec_id, v, cluster, n2) — the ``_argmin_codes``
    assignment plus the exact int64 squared norm Σv², replacing a
    separate ArrowEvalPython assignment AND the interpreted per-row
    ``aggregate(transform(v, x*x))`` fold the callers used to stack on
    top (r17; bit-equivalence pinned in
    tests/test_clustering_kernels.py). n2 is exact: dim · scale² =
    64e12 « 2^63."""
    books = centroids[None]

    def fn(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            x = np.stack(pdf["v"].to_numpy()).astype(np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "v": pdf["v"],
                    "cluster": _argmin_codes(x, books)[:, 0],
                    "n2": (x * x).sum(axis=1),
                }
            )

    return fn


def _snapped_fit(
    emb: DataFrame,
    m: int,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
    scale: int,
    k_from_count=None,
) -> tuple[DataFrame, "np.ndarray"]:
    """The one Lloyd loop: ``iters`` integer-snapped iterations of an
    ``m``-subspace codebook (``m = 1`` is plain k-means). Returns the
    materialized quantized source ``(id_col, v)`` and the final int64
    ``(m, k, dim // m)`` books. Every subspace follows the same
    contract — first-k-by-id init, ``_argmin_codes`` assignment,
    truncating-division updates, empty clusters frozen — so a fused
    ``m``-subspace fit is bit-for-bit ``m`` separate fits over the
    subvector slices (int64 sums are combination-order-independent),
    in (iters + 1) passes over the corpus instead of m * (iters + 1).
    ``dim`` comes from the init rows: no separate probe job."""
    from market_pulse_data_pipeline_spark.functions.dedup import (  # noqa: PLC0415
        _probe_partitions,
        fan_in,
        fan_out,
    )

    # fan_out: the fixture embeddings arrive as ONE parquet split, so
    # every Lloyd iteration's Arrow-batched assignment would otherwise
    # run on a single core; no-op on a real many-split corpus (the
    # per-row assignment is order-independent, so results are
    # partitioning-invariant — chaos-gated)
    src = fan_out(
        emb.select(
            id_col,
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double") * scale).cast("long"),
            ).alias("v"),
        )
    )
    # materialize the quantized vectors ONCE: every Lloyd iteration
    # (plus the init collect and the final assignment) re-reads them,
    # and without this each of those jobs re-runs the upstream scan,
    # quantization, and whatever plan produced `emb` (the semdedup
    # callers union planted copies in). localCheckpoint, not cache():
    # blocks are reclaimed when the DataFrame is garbage-collected, so
    # a long session running many registered queries cannot accumulate
    # pinned storage.
    src = src.localCheckpoint(eager=True)
    # fan_in AFTER the checkpoint (which keeps the plan's size
    # estimate): the JVM quantisation keeps fan_out's spread, while
    # every Python pass below reads one _ARROW_TASK_BYTES chunk per
    # task — before it, fan_out's exchange would feed a coalesce
    src = fan_in(src)
    if k_from_count is not None:
        k = int(k_from_count(src.count()))  # cheap: checkpointed blocks
    init = src.orderBy(id_col).limit(k).collect()  # bounded: k vectors
    if not init:
        raise ValueError("cannot fit centroids: the input has no rows")
    dim = len(init[0]["v"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = np.ascontiguousarray(
        np.array([r["v"] for r in init], dtype=np.int64)
        .reshape(len(init), m, sub)
        .transpose(1, 0, 2)
    )
    # direct driver merge when the partials are small (see
    # _DIRECT_MERGE_MAX_CELLS): skips the per-iteration groupBy shuffle
    # stage; a probe failure (None) keeps the distributed merge
    n_parts = _probe_partitions(src)
    direct = (
        n_parts is not None and n_parts * books.size <= _DIRECT_MERGE_MAX_CELLS
    )
    for _ in range(iters):
        # fused update (see _snapped_partial_sums): one Arrow pass
        # assigns AND partially aggregates; what crosses to the merge
        # is <= partitions x k x dim partial cells instead of N x dim
        # exploded rows
        partials = src.select("v").mapInPandas(
            _snapped_partial_sums(books),
            "j int, cluster int, pos int, s long, n long",
        )
        if not direct:
            partials = partials.groupBy("j", "cluster", "pos").agg(
                F.sum("s").alias("s"), F.sum("n").alias("n")
            )
        acc: dict = {}
        # bounded: the cell ceiling, or k*dim grouped cells
        for j, ci, pos, s, n in partials.collect():
            s0, n0 = acc.get((j, ci, pos), (0, 0))
            acc[(j, ci, pos)] = (s0 + s, n0 + n)
        for (j, ci, pos), (s, n) in acc.items():
            books[j, ci, pos] = _trunc_div(int(s), int(n))
    return src, books


def kmeans_snapped_fit(
    emb: DataFrame,
    k: int = 10,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SNAP_SCALE,
    k_from_count=None,
    emit_n2: bool = False,
) -> tuple[DataFrame, "np.ndarray"]:
    """The fit behind kmeans_snapped (``_snapped_fit`` with one
    subspace), additionally exposing the final int64 centroid matrix
    (k × dim) — the coarse codebook IVF-ANN probes against. Returns
    (assignments under the final centroids with the quantized vector
    column ``v`` retained, centroids).

    ``k_from_count``: optional ``n_rows -> k`` rule, evaluated against
    the materialized quantized table (row count identical to ``emb``'s
    by construction) — lets a k ∝ N caller (semdedup_scaled_prune)
    derive k from the cheap post-checkpoint count instead of paying a
    separate full scan of its planted-union plan. ``k`` is ignored
    when it is given.

    ``emit_n2``: additionally emit the exact int64 squared norm ``n2``
    per row, fused into the same Arrow pass as the final assignment
    (``_assign_n2_fn``) — the SemDeDup consumers otherwise pay a
    second Python pass plus an interpreted JVM fold for it. The
    assignment column is bit-identical either way."""
    src, books = _snapped_fit(
        emb, 1, k, iters, id_col, vec_col, scale, k_from_count
    )
    centroids = books[0]
    if emit_n2:
        return (
            src.select(id_col, "v").mapInPandas(
                _assign_n2_fn(centroids),
                schema=f"{id_col} long, v array<long>, cluster int, n2 long",
            ),
            centroids,
        )
    return (
        src.withColumn("cluster", _assign_udf_snapped(centroids)("v")),
        centroids,
    )


def within_cluster_pair_dots(
    qv: DataFrame,
    num: int,
    den: int,
    block_rows: int = 256,
) -> DataFrame:
    """Within-cluster candidate pairs for the SemDeDup cosine contract
    ``den * dot² >= num * |a|² * |b|²`` over ``qv(cluster, vec_id, v,
    n2)`` rows: one grouped Arrow pass per cluster computes every
    pairwise int64 dot as a numpy matmul and emits ``(id_a, id_b, dot,
    na, nb)`` for the pairs that can possibly satisfy the contract
    (``dot >= 0`` and a float64 screen with relative slack 1e-12 —
    ~3 orders of magnitude wider than the worst accumulated float64
    error of the two products, so the emitted set is a guaranteed
    SUPERSET). Callers re-apply the exact decimal(38) threshold
    unchanged, so results are bit-identical to the r15 self-join —
    what changes is the cost: the join evaluated an interpreted
    ``aggregate(zip_with(...))`` fold per pair (dim multiplies + folds
    OUTSIDE whole-stage codegen, the VERDICT r15 item 5 pattern) and
    shuffled both join sides; the kernel shuffles qv once (groupBy
    cluster) and runs the quadratic as one int64 matmul per cluster,
    blocked at ``block_rows`` rows so peak memory is block x cluster
    cells regardless of cluster population. Ordering contract
    preserved: pairs are emitted with ``id_a > id_b`` exactly like the
    join condition. Superset + exact-filter equivalence pinned by
    tests/test_clustering_kernels.py.

    PRECONDITION — bounded cluster population (ADVICE r16):
    ``block_rows`` bounds the gram-matrix BLOCK, not the input — the
    grouped Arrow pass still materializes one cluster's full
    ``s x dim`` int64 matrix (plus pandas overhead) in a single Python
    worker. The SemDeDup callers satisfy this by construction (k ∝ N
    pins the AVERAGE population at ``_SS_POP``; the fixture max is the
    same order), but the rule does not bound the MAX: a skewed
    mega-cluster (s ~ 1e8 at 64 dims ≈ 50 GB) OOMs the worker where
    the r15 self-join would merely have run long. Callers with
    unbounded or adversarial cluster sizes must split hot clusters
    first (salt the cluster key, or sub-cluster with a second k-means
    level — the IVF escalation the semdedup docs describe) or fall
    back to the exchange-heavy pair join for clusters above a row
    threshold."""
    out_schema = "id_a long, id_b long, dot long, na long, nb long"

    empty = pd.DataFrame(
        {
            c: pd.Series([], dtype="int64")
            for c in ["id_a", "id_b", "dot", "na", "nb"]
        }
    )

    def fn(key, pdf):
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy().astype(np.int64)
        n2 = pdf["n2"].to_numpy().astype(np.int64)
        x = np.stack(pdf["v"].to_numpy()).astype(np.int64)
        s = len(ids)
        if s < 2:
            return empty.copy()
        outs = []
        rhs_f = float(num) * (1.0 - 1e-12)
        for lo in range(1, s, block_rows):
            hi = min(lo + block_rows, s)
            g = x[lo:hi] @ x.T  # (block, s) exact int64
            for bi in range(hi - lo):
                i = lo + bi
                d = g[bi, :i]
                screen = (d >= 0) & (
                    float(den) * d.astype(np.float64) ** 2
                    >= rhs_f * n2[:i].astype(np.float64) * float(n2[i])
                )
                (js,) = np.nonzero(screen)
                if js.size:
                    outs.append(
                        pd.DataFrame(
                            {
                                "id_a": np.full(js.size, ids[i]),
                                "id_b": ids[js],
                                "dot": d[js],
                                "na": np.full(js.size, n2[i]),
                                "nb": n2[js],
                            }
                        )
                    )
        if not outs:
            return empty.copy()
        return pd.concat(outs, ignore_index=True)

    return qv.select("cluster", "vec_id", "v", "n2").groupBy(
        "cluster"
    ).applyInPandas(fn, out_schema)


def _partial_gram_factory(dim: int, vec_col: str):
    def partial_gram(batches):
        total = np.zeros((dim, dim), dtype=np.float64)
        s = np.zeros(dim, dtype=np.float64)
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            total += x.T @ x
            s += x.sum(axis=0)
            n += len(pdf)
        if n == 0:
            return
        i, j = np.meshgrid(range(dim), range(dim), indexing="ij")
        yield pd.DataFrame(
            {
                "i": i.ravel().astype(np.int32),
                "j": j.ravel().astype(np.int32),
                "g": total.ravel(),
                "si": np.where(
                    j.ravel() == 0, s[i.ravel()], 0.0
                ),  # mean vector rides along in column j=0
                "n": np.int64(n),
            }
        )

    return partial_gram


def pca_components(
    emb: DataFrame, dim: int, n_components: int = 2, vec_col: str = "embedding"
) -> tuple[np.ndarray, np.ndarray]:
    """Top principal components of the embedding column.

    Returns (components (n_components, dim), mean (dim,)). The only
    driver-side data is the d²-cell Gram aggregate.
    """
    parts = emb.select(vec_col).mapInPandas(
        _partial_gram_factory(dim, vec_col),
        schema="i int, j int, g double, si double, n long",
    )
    cells = (
        parts.groupBy("i", "j")
        .agg(
            F.sum("g").alias("g"),
            F.sum("si").alias("si"),
            F.sum("n").alias("n"),
        )
        .collect()
    )  # bounded: dim² rows
    gram = np.zeros((dim, dim), dtype=np.float64)
    mean = np.zeros(dim, dtype=np.float64)
    n = 0
    for r in cells:
        gram[r["i"], r["j"]] = r["g"]
        if r["j"] == 0:
            mean[r["i"]] = r["si"]
            n = r["n"]  # every cell sums each partition's row count once
    n = max(n, 1)
    mean = mean / n
    cov = gram / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)
    comp = vecs[:, ::-1][:, :n_components].T  # (n_components, dim)
    # sign fix: largest-|coordinate| positive
    for c in range(comp.shape[0]):
        m = np.argmax(np.abs(comp[c]))
        if comp[c, m] < 0:
            comp[c] = -comp[c]
    return comp, mean


def pca_project(
    emb: DataFrame,
    dim: int,
    n_components: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    digits: int = 4,
) -> DataFrame:
    """Map-only projection of every vector onto the top components."""
    comp, mean = pca_components(emb, dim, n_components, vec_col)

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def project(vecs: pd.Series) -> pd.Series:
        x = np.stack(vecs.to_numpy()).astype(np.float64) - mean
        p = np.round(x @ comp.T, digits)
        return pd.Series(list(p))

    out = emb.select(id_col, project(vec_col).alias("p"))
    cols = [id_col] + [
        F.col("p")[c].alias(f"pc{c + 1}") for c in range(n_components)
    ]
    return out.select(*cols)


def pq_train_snapped(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SNAP_SCALE,
) -> "np.ndarray":
    """Integer-snapped product-quantization codebooks: every subspace
    follows the kmeans_snapped_fit contract (first-k-by-id init,
    expanded-form int64 argmin with ties toward the lower code,
    truncating-division updates, empty clusters frozen), so the whole
    training is exact integer arithmetic and the DuckDB twin
    (``pq_oracle_sql``) replays it per subspace. Returns int64
    ``(m, k, dim // m)`` quantized-unit centroids.

    The ``m`` subspace fits are the ``m``-subspace call of the one
    Lloyd loop (``_snapped_fit``): the quantized full vectors
    materialize once, each iteration's fused Arrow pass assigns all
    ``m`` codes per row and emits (subspace, cluster, pos) partial
    sums, and one merge feeds every codebook's update. Bit-for-bit
    equal to ``m`` sequential fits (pinned by
    tests/test_clustering.py) while running (iters + 1) passes over the
    corpus instead of m * (iters + 1): the sequential form spent more
    wall-clock on job scheduling than on data (measured at sf0.01,
    warm session: registered-query times 12.2 -> 5.3 s
    (pq_encode_embeddings) and 13.0 -> 4.2 s (ann_pq_adc_topk))."""
    _, books = _snapped_fit(emb, m, k, iters, id_col, vec_col, scale)
    return books


def pq_encode_snapped(
    emb: DataFrame,
    books: "np.ndarray",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SNAP_SCALE,
) -> DataFrame:
    """PQ codes + integer squared reconstruction error over the
    int64-quantized vectors: per subspace, the argmin centroid of the
    snapped codebook (ties toward the lower code — np.argmin and the
    oracle's (dist, cid) ROW_NUMBER agree), with ``ss`` the exact
    integer Σ(x - recon)² in quantized units. Map-only; the codebook
    ships inside the Arrow UDF."""
    m = books.shape[0]
    b = books.astype(np.int64)

    @pandas_udf(
        T.StructType(
            [
                T.StructField("codes", T.ArrayType(T.IntegerType())),
                T.StructField("ss", T.LongType()),
            ]
        )
    )
    def enc(vecs: pd.Series) -> pd.DataFrame:
        x = np.stack(vecs.to_numpy()).astype(np.int64)
        codes = _argmin_codes(x, b)
        recon = b[np.arange(m), codes].reshape(x.shape)
        ss = ((x - recon) ** 2).sum(axis=1)
        return pd.DataFrame({"codes": list(codes), "ss": ss})

    quant = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * scale).cast("long")
    )
    out = emb.select(id_col, enc(quant).alias("_pq"))
    return out.select(id_col, "_pq.codes", "_pq.ss")


def pq_oracle_sql(
    final: str,
    *,
    m: int,
    k: int,
    iters: int,
    dim: int,
    scale: int = SNAP_SCALE,
) -> str:
    """DuckDB twin of pq_train_snapped + pq_encode_snapped: one
    unrolled integer-Lloyd's CTE chain PER SUBSPACE (names suffixed
    _m{j}), closed over by two union CTEs the ``final`` clause builds
    on — ``assign(vec_id, j, cid)`` (codes under the final books) and
    ``cfin(j, cid, pos, val)`` (the final codebooks); ``pu`` and ``p``
    stay in scope for error/query arithmetic."""
    sub = dim // m
    parts = [
        f"""
    WITH p AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT))
               AS v
      FROM embeddings
    ),
    pu AS (
      SELECT vec_id, i AS pos, v[i + 1] AS qv
      FROM p CROSS JOIN (SELECT UNNEST(range(0, {dim})) AS i) idx
    )"""
    ]
    for j in range(m):
        lo, hi = j * sub, (j + 1) * sub
        parts.append(
            f""",
    pu_m{j} AS (SELECT vec_id, pos, qv FROM pu
                WHERE pos >= {lo} AND pos < {hi}),
    c0_m{j} AS (
      SELECT CAST(ROW_NUMBER() OVER (PARTITION BY pos ORDER BY vec_id) - 1
                  AS INTEGER) AS cid,
             pos, qv AS val
      FROM pu_m{j}
      WHERE vec_id IN (SELECT vec_id FROM p ORDER BY vec_id LIMIT {k})
    )"""
        )
        for i in range(1, iters + 2):  # last pass assigns only
            parts.append(
                """,
    d%(i)d_m%(j)d AS (
      SELECT pu.vec_id, c.cid,
             SUM((pu.qv - c.val) * (pu.qv - c.val)) AS dist
      FROM pu_m%(j)d pu JOIN c%(prev)d_m%(j)d c ON pu.pos = c.pos
      GROUP BY pu.vec_id, c.cid
    ),
    a%(i)d_m%(j)d AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cid) AS rn
        FROM d%(i)d_m%(j)d) WHERE rn = 1
    )"""
                % {"i": i, "prev": i - 1, "j": j}
            )
            if i <= iters:
                parts.append(
                    """,
    s%(i)d_m%(j)d AS (
      SELECT a.cid, pu.pos, SUM(pu.qv) AS s, COUNT(*) AS n
      FROM a%(i)d_m%(j)d a JOIN pu_m%(j)d pu ON pu.vec_id = a.vec_id
      GROUP BY a.cid, pu.pos
    ),
    c%(i)d_m%(j)d AS (
      SELECT c.cid, c.pos, COALESCE(s.s // s.n, c.val) AS val
      FROM c%(prev)d_m%(j)d c
      LEFT JOIN s%(i)d_m%(j)d s ON s.cid = c.cid AND s.pos = c.pos
    )"""
                    % {"i": i, "prev": i - 1, "j": j}
                )
    a_fin = " UNION ALL ".join(
        f"SELECT vec_id, {j} AS j, cid FROM a{iters + 1}_m{j}"
        for j in range(m)
    )
    c_fin = " UNION ALL ".join(
        f"SELECT {j} AS j, cid, pos, val FROM c{iters}_m{j}" for j in range(m)
    )
    parts.append(
        f""",
    assign AS ({a_fin}),
    cfin AS ({c_fin})"""
    )
    parts.append(final)
    return "".join(parts)


# ---------------------------------------------------------------------------
# Snapped PCA: integer repeated-squaring power iteration with exact deflation
# ---------------------------------------------------------------------------

PCA_VS = SNAP_SCALE  # iteration-vector component scale
PCA_MS = 1_000_000_000  # matrix rescale target after each squaring
PCA_J = 9  # squarings: the powered matrix is M^(2^J) direction-wise
_GRAM_BATCH_MAX = 4_000_000  # int64 overflow guard: rows·scale² < 2^63


def _partial_int_gram_factory(dim: int):
    """Per-Arrow-batch exact int64 partial moments over the QUANTIZED
    vector column ``v``: Gram cells g_ij = Σ q_i·q_j, column sums s_i
    (riding along in the j = 0 cells), and the row count n (in every
    cell, so any (i, j) group's SUM recovers it once). Each batch emits
    dim² rows; the global aggregate sums them in DECIMAL(38,0) so the
    total stays exact past int64 at full scale."""

    def partial(batches):
        i_idx, j_idx = np.meshgrid(
            range(dim), range(dim), indexing="ij"
        )
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if len(pdf) > _GRAM_BATCH_MAX:
                raise ValueError(
                    f"Arrow batch of {len(pdf)} rows would overflow the "
                    f"int64 partial Gram (guard: {_GRAM_BATCH_MAX}); lower "
                    "spark.sql.execution.arrow.maxRecordsPerBatch"
                )
            x = np.stack(pdf["v"].to_numpy()).astype(np.int64)
            g = x.T @ x  # exact: rows·scale² below 2^63 by the guard
            s = x.sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": i_idx.ravel().astype(np.int32),
                    "j": j_idx.ravel().astype(np.int32),
                    "g": g.ravel(),
                    "si": np.where(j_idx.ravel() == 0, s[i_idx.ravel()], 0),
                    "n": np.int64(len(pdf)),
                }
            )

    return partial


def _pca_int_moments(
    emb: DataFrame, dim: int, vec_col: str, scale: int
) -> tuple[int, list[int], list[list[int]]]:
    """Exact integer (n, s, G) of the scale-quantized vectors — ONE
    distributed pass, dim² + dim driver-side cells, order-independent
    by integer associativity."""
    src = emb.select(
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * scale).cast("long"),
        ).alias("v")
    )
    cells = (
        src.mapInPandas(
            _partial_int_gram_factory(dim),
            schema="i int, j int, g long, si long, n long",
        )
        .groupBy("i", "j")
        .agg(
            F.sum(F.col("g").cast("decimal(38,0)")).alias("g"),
            F.sum(F.col("si").cast("decimal(38,0)")).alias("si"),
            F.sum(F.col("n").cast("decimal(38,0)")).alias("n"),
        )
        .collect()
    )  # bounded: dim² rows
    s = [0] * dim
    G = [[0] * dim for _ in range(dim)]
    n = 0
    for r in cells:
        G[r["i"]][r["j"]] = int(r["g"])
        if r["j"] == 0:
            s[r["i"]] = int(r["si"])
            n = int(r["n"])
    return n, s, G


def _pca_snapped_vectors(
    n: int, s: list[int], G: list[list[int]], dim: int,
    vs: int = PCA_VS, ms: int = PCA_MS, j_sq: int = PCA_J,
) -> tuple[list[int], list[int]]:
    """Deterministic integer top-2 eigenvectors of the covariance
    numerator M = n·G − s·sᵀ (pure Python ints — exact, unbounded):

    - v1: rescale M to |·| ≤ ms, square it ``j_sq`` times (rescaling
      after each — the gap ratio SQUARES per step, so near-flat spectra
      converge where plain power iteration cannot), then two matvecs
      from the all-ones start.
    - v2: deflate at the MATRIX level in exact arithmetic —
      B = (d1·I − v1·v1ᵀ)·M·(d1·I − v1·v1ᵀ) has λ2 as its TOP
      eigenvalue, so the same squaring chain converges regardless of
      how dominant λ1 was (vector-level deflation after powering
      underflows integer resolution when (λ2/λ1)^2^j < 1/ms); a final
      exact vector deflation t = w·d1 − (w·v1)·v1 makes v2 ⊥ v1 exact
      in integers before the last truncating rescale.

    Every operation (truncating division, max-abs rescale,
    largest-|component|-positive sign fix with lowest-index ties) is
    replayed term-for-term by ``pca_oracle_sql``.
    """
    rng = range(dim)

    def rmat(A):
        md = max(abs(A[i][j]) for i in rng for j in rng)
        d = _trunc_div(md, ms) + 1
        return [[_trunc_div(A[i][j], d) for j in rng] for i in rng]

    def mm(A, B):
        return [
            [sum(A[i][k] * B[k][j] for k in rng) for j in rng] for i in rng
        ]

    def mv(A, x):
        return [sum(A[i][j] * x[j] for j in rng) for i in rng]

    def rs(w):
        m = max(abs(c) for c in w)
        if m == 0:
            raise ValueError("degenerate covariance: zero iteration vector")
        return [_trunc_div(c * vs, m) for c in w]

    def sfx(v):
        mi = max(rng, key=lambda i: (abs(v[i]), -i))
        return [-c for c in v] if v[mi] < 0 else list(v)

    M0 = rmat([[n * G[i][j] - s[i] * s[j] for j in rng] for i in rng])
    P = M0
    for _ in range(j_sq):
        P = rmat(mm(P, P))
    v1 = sfx(rs(mv(P, rs(mv(P, [vs] * dim)))))
    d1 = sum(c * c for c in v1)
    Q = [
        [(d1 if i == j else 0) - v1[i] * v1[j] for j in rng] for i in rng
    ]
    B = rmat(mm(Q, M0))
    B = rmat(mm(B, Q))
    for _ in range(j_sq):
        B = rmat(mm(B, B))
    w = rs(mv(B, rs(mv(B, [vs] * dim))))
    nm = sum(w[i] * v1[i] for i in rng)
    t = [w[i] * d1 - nm * v1[i] for i in rng]
    v2 = sfx(rs(t))
    return v1, v2


def pca_snapped_project(
    emb: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = SNAP_SCALE,
    digits: int = 4,
) -> DataFrame:
    """Top-2 PCA projection with a full value-hash DuckDB twin
    (``pca_oracle_sql``) — the rows-only eigh variant re-expressed as
    exact integer arithmetic plus IEEE-deterministic float finishing.

    One mapInPandas pass emits per-batch int64 partial Grams, one
    aggregate sums the dim² cells (DECIMAL(38,0) — exact past int64),
    and the repeated-squaring eigensolve runs driver-side on Python
    ints (``_pca_snapped_vectors``). The finishing floats are
    engine-portable: components x/√(Σx²) and means s/(n·scale) are
    single correctly-rounded IEEE ops on identical exact integers, and
    the per-row projection folds (q/scale − mean)·comp in index order
    (zip_with + aggregate ≡ DuckDB list_transform + list_sum), snapped
    through the proven decimal ROUND route. Same 100 TB shape as the
    float PCA: dim² collect, map-only projection."""
    from market_pulse_data_pipeline_spark.queries.common import (  # noqa: PLC0415
        round_div,
    )

    n, s, G = _pca_int_moments(emb, dim, vec_col, scale)
    v1, v2 = _pca_snapped_vectors(n, s, G, dim)

    import math  # noqa: PLC0415

    def unit(v):
        nrm = math.sqrt(float(sum(c * c for c in v)))
        return [float(c) / nrm for c in v]

    c1, c2 = unit(v1), unit(v2)
    mean = [float(s[i]) / float(n * scale) for i in range(dim)]

    vq = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * scale).cast("long"),
    )
    mean_arr = F.array(*[F.lit(m) for m in mean])
    cen = F.zip_with(
        vq, mean_arr, lambda x, mn: x.cast("double") / F.lit(float(scale)) - mn
    )

    def proj(comp):
        comp_arr = F.array(*[F.lit(c) for c in comp])
        p = F.aggregate(
            F.zip_with(cen, comp_arr, lambda c, w: c * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return round_div(p, F.lit(1.0), digits)

    return emb.select(
        id_col, proj(c1).alias("pc1"), proj(c2).alias("pc2")
    )


def pca_oracle_sql(
    *,
    dim: int,
    scale: int = SNAP_SCALE,
    vs: int = PCA_VS,
    ms: int = PCA_MS,
    j_sq: int = PCA_J,
    digits: int = 4,
    src: str = "embeddings",
) -> str:
    """DuckDB twin of ``pca_snapped_project``: quantization, exact
    integer moments, the rescaled squaring chains for M and the
    deflated B, matvecs, sign fixes, and the float finishing — all as
    chained CTEs. CTEs are MATERIALIZED: DuckDB re-expands plain CTEs
    per reference, and each squaring references its predecessor three
    times (self-join + max-abs), which would make the expansion
    exponential in ``j_sq``. Intermediates ride DuckDB's HUGEINT (SUM
    output), mirroring the driver loop's unbounded Python ints; every
    truncating ``//`` matches Spark-side ``_trunc_div``."""

    def sq(prev: str, cur: str) -> str:
        return f""",
{cur}r AS MATERIALIZED (
  SELECT a.i, b.j, SUM(a.m * b.m) AS m
  FROM {prev} a JOIN {prev} b ON a.j = b.i GROUP BY a.i, b.j
),
{cur} AS MATERIALIZED (
  SELECT i, j, m // ((SELECT MAX(ABS(m)) FROM {cur}r) // {ms} + 1) AS m
  FROM {cur}r
)"""

    parts = [
        f"""
WITH p AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS v
  FROM {src}
),
pu AS MATERIALIZED (
  SELECT vec_id, i AS pos, v[i + 1] AS qv
  FROM p CROSS JOIN (SELECT UNNEST(range(0, {dim})) AS i) idx
),
mom AS MATERIALIZED (SELECT pos, SUM(qv) AS s FROM pu GROUP BY pos),
nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM p),
gr AS MATERIALIZED (
  SELECT a.pos AS i, b.pos AS j, SUM(a.qv * b.qv) AS g
  FROM pu a JOIN pu b ON a.vec_id = b.vec_id GROUP BY a.pos, b.pos
),
m0r AS MATERIALIZED (
  SELECT g.i, g.j, nn.n * g.g - si.s * sj.s AS m
  FROM gr g, nn, mom si, mom sj WHERE si.pos = g.i AND sj.pos = g.j
),
m0 AS MATERIALIZED (
  SELECT i, j, m // ((SELECT MAX(ABS(m)) FROM m0r) // {ms} + 1) AS m
  FROM m0r
)"""
    ]
    prev = "m0"
    for t in range(1, j_sq + 1):
        parts.append(sq(prev, f"p{t}"))
        prev = f"p{t}"
    pt = prev
    parts.append(f""",
w1a AS MATERIALIZED (SELECT i AS pos, SUM(m * {vs}) AS w FROM {pt} GROUP BY i),
v1a AS MATERIALIZED (
  SELECT pos, (w * {vs}) // (SELECT MAX(ABS(w)) FROM w1a) AS x FROM w1a),
w1b AS MATERIALIZED (
  SELECT mm.i AS pos, SUM(mm.m * v.x) AS w
  FROM {pt} mm JOIN v1a v ON v.pos = mm.j GROUP BY mm.i),
v1b AS MATERIALIZED (
  SELECT pos, (w * {vs}) // (SELECT MAX(ABS(w)) FROM w1b) AS x FROM w1b),
sg1 AS MATERIALIZED (
  SELECT CASE WHEN (SELECT x FROM v1b
                    ORDER BY ABS(x) DESC, pos LIMIT 1) < 0
         THEN -1 ELSE 1 END AS s),
vf1 AS MATERIALIZED (SELECT pos, x * sg1.s AS x FROM v1b, sg1),
d1 AS MATERIALIZED (SELECT SUM(x * x) AS d FROM vf1),
qm AS MATERIALIZED (
  SELECT a.pos AS i, b.pos AS j,
         (CASE WHEN a.pos = b.pos THEN d1.d ELSE 0 END) - a.x * b.x AS m
  FROM vf1 a, vf1 b, d1
),
b0ar AS MATERIALIZED (
  SELECT q.i, m.j, SUM(q.m * m.m) AS m
  FROM qm q JOIN m0 m ON q.j = m.i GROUP BY q.i, m.j
),
b0a AS MATERIALIZED (
  SELECT i, j, m // ((SELECT MAX(ABS(m)) FROM b0ar) // {ms} + 1) AS m
  FROM b0ar),
b0r AS MATERIALIZED (
  SELECT a.i, q.j, SUM(a.m * q.m) AS m
  FROM b0a a JOIN qm q ON a.j = q.i GROUP BY a.i, q.j
),
b0 AS MATERIALIZED (
  SELECT i, j, m // ((SELECT MAX(ABS(m)) FROM b0r) // {ms} + 1) AS m
  FROM b0r)""")
    prev = "b0"
    for t in range(1, j_sq + 1):
        parts.append(sq(prev, f"b{t}"))
        prev = f"b{t}"
    bt = prev
    parts.append(f""",
w2a AS MATERIALIZED (SELECT i AS pos, SUM(m * {vs}) AS w FROM {bt} GROUP BY i),
v2a AS MATERIALIZED (
  SELECT pos, (w * {vs}) // (SELECT MAX(ABS(w)) FROM w2a) AS x FROM w2a),
w2b AS MATERIALIZED (
  SELECT mm.i AS pos, SUM(mm.m * v.x) AS w
  FROM {bt} mm JOIN v2a v ON v.pos = mm.j GROUP BY mm.i),
v2b AS MATERIALIZED (
  SELECT pos, (w * {vs}) // (SELECT MAX(ABS(w)) FROM w2b) AS x FROM w2b),
nm AS MATERIALIZED (
  SELECT SUM(w.x * v1.x) AS nm FROM v2b w JOIN vf1 v1 ON v1.pos = w.pos),
tv AS MATERIALIZED (
  SELECT w.pos, w.x * d1.d - nm.nm * v1.x AS x
  FROM v2b w JOIN vf1 v1 ON v1.pos = w.pos, d1, nm),
v2r AS MATERIALIZED (
  SELECT pos, (x * {vs}) // (SELECT MAX(ABS(x)) FROM tv) AS x FROM tv),
sg2 AS MATERIALIZED (
  SELECT CASE WHEN (SELECT x FROM v2r
                    ORDER BY ABS(x) DESC, pos LIMIT 1) < 0
         THEN -1 ELSE 1 END AS s),
vf2 AS MATERIALIZED (SELECT pos, x * sg2.s AS x FROM v2r, sg2),
d2 AS MATERIALIZED (SELECT SUM(x * x) AS d FROM vf2),
mean_l AS MATERIALIZED (
  SELECT list(CAST(s AS DOUBLE) / CAST(nn.n * {scale} AS DOUBLE)
              ORDER BY pos) AS m
  FROM mom, nn GROUP BY nn.n
),
c1_l AS MATERIALIZED (
  SELECT list(CAST(x AS DOUBLE) / sqrt(CAST(d1.d AS DOUBLE))
              ORDER BY pos) AS c
  FROM vf1, d1 GROUP BY d1.d
),
c2_l AS MATERIALIZED (
  SELECT list(CAST(x AS DOUBLE) / sqrt(CAST(d2.d AS DOUBLE))
              ORDER BY pos) AS c
  FROM vf2, d2 GROUP BY d2.d
)
SELECT p.vec_id,
  CAST(ROUND(CAST((list_sum(list_transform(range(1, {dim + 1}),
    i -> (CAST(p.v[i] AS DOUBLE) / {scale}.0 - m.m[i]) * c1.c[i]))) / (1)
    AS DECIMAL(28,{digits + 4})), {digits}) AS DOUBLE) AS pc1,
  CAST(ROUND(CAST((list_sum(list_transform(range(1, {dim + 1}),
    i -> (CAST(p.v[i] AS DOUBLE) / {scale}.0 - m.m[i]) * c2.c[i]))) / (1)
    AS DECIMAL(28,{digits + 4})), {digits}) AS DOUBLE) AS pc2
FROM p, mean_l m, c1_l c1, c2_l c2
ORDER BY vec_id""")
    return "".join(parts)
