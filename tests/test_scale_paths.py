"""Semantics tests for the scale-path operators: MinHash-LSH vs exact
Jaccard, LSH-ANN recall vs brute force, multimodal plumbing."""

import os

import pytest
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.functions.dedup import (
    minhash_near_duplicates,
    shingle_hashes,
)
from market_pulse_data_pipeline_spark.functions.multimodal import (
    decode_media,
    documents_to_media,
)
from market_pulse_data_pipeline_spark.functions.similarity import (
    cosine_topk,
    lsh_ann_topk,
)
from market_pulse_data_pipeline_spark.sources.tables import load_table

PLANT = 1_000_000


@pytest.fixture(scope="module")
def planted_docs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + PLANT).alias("doc_id"),
        F.concat("text", F.lit(" planted")).alias("text"),
    )
    return docs.unionByName(mutated).cache()


@pytest.mark.parametrize("portable", [False, True])
def test_minhash_finds_planted_dups(planted_docs, portable):
    pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_near_duplicates(
            planted_docs, threshold=0.5, portable=portable
        ).collect()
    }
    planted = {
        (r.doc_id, r.doc_id + PLANT)
        for r in planted_docs.filter(
            (F.col("doc_id") % 11 == 0) & (F.col("doc_id") < PLANT)
        ).collect()
    }
    # high estimated-Jaccard pairs: every planted pair must be found
    missed = planted - pairs
    assert len(missed) <= max(1, len(planted) // 10), f"missed {missed}"
    # and nothing wildly dissimilar sneaks in: verify against exact Jaccard
    shing = {
        r.doc_id: set(r.hs)
        for r in shingle_hashes(planted_docs, portable=portable).collect()
    }
    for a, b in pairs:
        inter = len(shing[a] & shing[b])
        jac = inter / (len(shing[a]) + len(shing[b]) - inter)
        assert jac >= 0.3, f"false positive pair ({a},{b}) exact jaccard={jac}"


MINHASH_QUERIES = (
    "minhash_lsh_near_dups",
    "minhash_lsh_portable",
    "incremental_near_dup_lsh",
    "eval_decontaminate_fuzzy_minhash",
    "lsh_recall_curve",
)


def test_minhash_queries_release_their_caches(spark, sf_dir):
    # every MinHash query caches corpus-sized hash or signature tables
    # for its multi-consumer plan; once the result is consumed, the
    # only block it may leave behind is the result's own eager
    # localCheckpoint
    from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY

    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    jsc = spark.sparkContext._jsc

    def persisted() -> dict:
        return dict(jsc.getPersistentRDDs())

    before = persisted()
    try:
        for name in MINHASH_QUERIES:
            df = QUERY_REGISTRY[name].spark(spark, sf001)
            df.collect()
            plan = df._jdf.queryExecution().logical()
            own = (
                plan.rdd().id()
                if plan.getClass().getSimpleName() == "LogicalRDD"
                else None
            )
            left = {
                k: v.toDebugString().splitlines()[0]
                for k, v in persisted().items()
                if k not in before and k != own
            }
            assert not left, f"{name} left persisted: {left}"
            if own is not None:
                persisted()[own].unpersist(True)
    finally:
        for k, v in persisted().items():
            if k not in before:
                v.unpersist(True)


def test_lsh_ann_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    others = emb.filter("vec_id <> 0")
    exact = [r.vec_id for r in cosine_topk(others, q, k=10).collect()]
    approx = [
        r.vec_id
        for r in lsh_ann_topk(others, q, dim=len(q), k=10, max_hamming=8).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"ANN recall {recall} too low (exact={exact}, ann={approx})"


def test_multimodal_decode_plumbing(spark, sf_dir):
    media = documents_to_media(load_table(spark, sf_dir, "documents"))
    decoded = decode_media(media, feat_dim=16)
    rows = decoded.collect()
    assert len(rows) == media.count()
    for r in rows[:20]:
        assert len(r.feature) == 16
        assert all(0.0 <= x <= 1.0 for x in r.feature)
        if r.media_type == "image":
            assert r.width is not None and r.n_frames == 1
        if r.media_type == "audio":
            assert r.width is None and r.n_frames >= 1
    # deterministic: same input → same features
    again = decode_media(media, feat_dim=16).collect()
    assert {(r.media_id, tuple(r.feature)) for r in rows} == {
        (r.media_id, tuple(r.feature)) for r in again
    }


def test_multimodal_real_decode_is_gated(spark, sf_dir):
    media = documents_to_media(load_table(spark, sf_dir, "documents"))
    with pytest.raises(NotImplementedError):
        decode_media(media, real=True)


def test_ann_recall_at_10_registered(spark, sf_dir):
    """The registry's recall@10 row: ≥ 0.8 at the registered radius."""
    from market_pulse_data_pipeline_spark.queries import all_queries

    row = all_queries()["ann_recall_at_10"].spark(spark, sf_dir).collect()[0]
    assert row.k == 10
    assert row.recall_ok, "registered ANN recall < 0.8"
    assert row.candidates_bounded


def test_ivf_full_probe_equals_brute_force(spark, sf_dir):
    """Probing every cluster must reproduce brute force EXACTLY — the
    partition-into-clusters step loses nothing, only the probe prunes."""
    from market_pulse_data_pipeline_spark.functions.similarity import ivf_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    others = emb.filter("vec_id <> 0")
    exact = [(r.vec_id, r.cosine) for r in cosine_topk(others, q, k=10).collect()]
    full = [
        (r.vec_id, r.cosine)
        for r in ivf_ann_topk(
            others, q, k=10, n_centroids=8, nprobe=8
        ).collect()
    ]
    assert full == exact


def test_ivf_probe_recall(spark, sf_dir):
    from market_pulse_data_pipeline_spark.functions.similarity import ivf_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter("vec_id = 0").head()["embedding"]]
    others = emb.filter("vec_id <> 0")
    exact = {r.vec_id for r in cosine_topk(others, q, k=10).collect()}
    approx = {
        r.vec_id
        for r in ivf_ann_topk(
            others, q, k=10, n_centroids=16, nprobe=6
        ).collect()
    }
    recall = len(exact & approx) / 10
    # isotropic random embeddings: coarse clusters carry weak signal, so
    # probing 6/16 clusters finds a solid majority, not everything
    assert recall >= 0.5, f"IVF recall {recall}"


def test_lsh_query_sig_matches_executor_sigs(spark, sf_dir):
    # the driver-side pure-Python signature (Decimal HALF_UP
    # quantization) must equal the executor-side Arrow path
    # (F.round quantization + int64 matmul) for EVERY vector — this is
    # the exactness contract ann_lsh_topk's SQL oracle rests on
    from market_pulse_data_pipeline_spark.functions.similarity import (
        add_lsh_signature,
        query_sig,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    rows = add_lsh_signature(emb, dim=64).select(
        "vec_id", "embedding", "lsh_sig"
    ).collect()
    assert len(rows) > 0
    for r in rows:
        assert query_sig([float(x) for x in r.embedding]) == r.lsh_sig, (
            f"driver/executor sig divergence at vec_id={r.vec_id}"
        )


def test_signature_kernel_matches_jvm_expression(spark, monkeypatch):
    # the Arrow-batched permutation-min kernel replaced a JVM
    # per-permutation array_min(transform(...)) projection on the
    # bit-identical-arithmetic argument (products < 2^62 with
    # M = 2^31 - 1); this pins the equivalence on fuzzed hash arrays —
    # including null rows, empty arrays, singletons, and rows larger
    # than a kernel chunk — under BOTH chunking extremes
    import random as pyrandom

    from market_pulse_data_pipeline_spark.functions import dedup as dd

    rng = pyrandom.Random(20260816)
    rows = [(0, None), (1, []), (2, [rng.randrange(dd._MERSENNE)])]
    rows += [
        (i, [rng.randrange(dd._MERSENNE) for _ in range(rng.randrange(1, 9))])
        for i in range(3, 40)
    ]
    rows.append((40, [rng.randrange(dd._MERSENNE) for _ in range(300)]))
    df = spark.createDataFrame(rows, "doc_id long, hs array<long>")

    jvm_sig = F.array(
        *[
            F.array_min(
                F.transform(
                    "hs",
                    lambda h: F.pmod(
                        F.lit(a) * h + F.lit(b), F.lit(dd._MERSENNE)
                    ),
                )
            )
            for (a, b) in dd._perm_params(64, 42)
        ]
    )
    expected = {
        r["doc_id"]: r["sig"]
        for r in df.select("doc_id", jvm_sig.alias("sig")).collect()
    }
    # JVM array_min([]) is null per element; the kernel yields a null
    # SIGNATURE for empty/null inputs — normalize the all-null case
    expected = {
        k: (None if v is not None and all(x is None for x in v) else v)
        for k, v in expected.items()
    }

    for chunk_elems in (1, 1 << 23):
        monkeypatch.setattr(dd, "_SIG_CHUNK_ELEMS", chunk_elems)
        got = {
            r["doc_id"]: (None if r["sig"] is None else list(r["sig"]))
            for r in dd.minhash_signatures(df, 64, 42)
            .collect()
        }
        assert got == expected, f"divergence at chunk_elems={chunk_elems}"
