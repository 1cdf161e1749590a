"""Scale-stress harness: run headline operator shapes on an N×
key-remapped multiplication of the sf0.1 fixtures and report wall-clock
per stage, to catch scale cliffs (quadratic candidate sets, skewed
shuffles, driver-side loops) that sf0.1 alone can hide.

Each copy i offsets every join/group key by i × span, so join fan-out
and group cardinality scale LINEARLY with the multiplier — a plain
self-union would multiply join pair counts by N² and measure the wrong
thing. Document text is per-copy character-translated so the dedup
workload sees N× distinct documents, not N perfect copies of each.

Usage:
    python tools/stress_check.py [--mult 10] [--sf DIR]

Prints one JSON line: {"mult": N, "rows": {...}, "seconds": {...}}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F


_KEY_SPAN = 10_000_000


def multiplied(df: DataFrame, mult: int, key_cols: list[str]) -> DataFrame:
    """N copies with every key column offset per copy (linear scale-up)."""
    out = None
    for i in range(mult):
        c = df
        for k in key_cols:
            c = c.withColumn(k, F.col(k) + F.lit(i * _KEY_SPAN))
        out = c if out is None else out.unionByName(c)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated stage names to run (default: all)",
    )
    ap.add_argument(
        "--materialize",
        action="store_true",
        help="write each multiplied input to /tmp parquet once and scan "
        "that back, instead of an N-branch union plan. At mult=100 the "
        "union plan itself (100 scan branches through codegen) is a "
        "harness artifact a real 100× dataset would not have; this "
        "mode measures the operator against a plain N×-sized scan.",
    )
    args = ap.parse_args()
    only = set(args.only.split(",")) if args.only else None

    from market_pulse_data_pipeline_spark.functions.dedup import (
        fan_out,
        minhash_near_duplicates,
    )
    from market_pulse_data_pipeline_spark.session import get_spark
    from market_pulse_data_pipeline_spark.sources.tables import load_table

    spark = get_spark(app_name="stress-check")
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}

    cache_root = f"/tmp/stress_cache_mult{args.mult}"

    def mat(df: DataFrame, name: str) -> DataFrame:
        """--materialize: replace the N-branch union plan with a plain
        scan of the same rows written once to local parquet."""
        if not args.materialize:
            return df
        path = os.path.join(cache_root, name)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def run(name: str, df: DataFrame | Callable[[], DataFrame]) -> None:
        if only is not None and name not in only:
            return
        t0 = time.time()
        if callable(df):  # an eagerly-materializing builder: time it too
            df = df()
        # NOT df.count(): count references no columns, so Catalyst's
        # column pruning deletes any window/projection the output
        # doesn't feed into the count — a bare count() over the
        # serial-window prefix sum measures a scan, not the window
        # (found round 4: 10M windowed rows "in 0.55s"). Hashing every
        # output column per row forces full evaluation while adding
        # only a cheap map-side fold.
        dfx = df.toDF(*[f"_c{i}" for i in range(len(df.columns))])
        row = dfx.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.pmod(
                    F.xxhash64(*[F.col(c) for c in dfx.columns]),
                    F.lit(1_000_000_007),
                )
            ).alias("_h"),
        ).collect()[0]
        n = row["n"]
        timings[name] = round(time.time() - t0, 2)
        rows[name] = n
        print(f"  {name:28s} rows={n:>10} [{timings[name]:.1f}s]", file=sys.stderr)

    li = mat(multiplied(
        load_table(spark, args.sf, "lineitem"), args.mult, ["l_orderkey"]
    ), "lineitem")
    orders = mat(multiplied(
        load_table(spark, args.sf, "orders"), args.mult, ["o_orderkey", "o_custkey"]
    ), "orders")
    cust = mat(multiplied(
        load_table(spark, args.sf, "customer"), args.mult, ["c_custkey"]
    ), "customer")

    # q1 shape: full-scan partial+final agg — should scale linearly
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    run(
        "q1_scan_agg",
        li.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum("l_quantity"), F.sum(revenue), F.count(F.lit(1))
        ),
    )

    # q3 shape: fact joins fact-sized orders + broadcast-sized customer
    run(
        "q3_join_agg",
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.sum(revenue)),
    )

    # sessionization shape: window over multiplied users
    ev = mat(multiplied(
        load_table(spark, args.sf, "events"), args.mult, ["event_id", "user_id"]
    ), "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    flagged = ev.withColumn(
        "is_new", F.when(prev.isNull() | ((us - prev) > 1800000000), 1).otherwise(0)
    )
    running = w.rowsBetween(Window.unboundedPreceding, 0)
    run(
        "sessionization",
        flagged.withColumn("sid", F.sum("is_new").over(running))
        .groupBy("user_id", "sid")
        .agg(F.count(F.lit(1))),
    )

    # as-of join shape: every event picks up the latest per-user anchor —
    # union + one window pass per key (operators/asof.py); linear if the
    # single-shuffle claim holds, quadratic if it ever degrades to a
    # per-key pairwise compare
    from market_pulse_data_pipeline_spark.operators.asof import asof_join

    anchors = (
        ev.filter(F.col("event_id") % 50 == 0)
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("anchor_value"))
    )
    run(
        "asof_join",
        asof_join(
            ev.select("event_id", "user_id", "ts"),
            anchors,
            key="user_id",
            left_time="ts",
            right_time="ts",
            payload_cols=["ts", "anchor_value"],
        ),
    )

    # minhash dedup: per-copy character-translated docs (distinct corpus)
    docs = None
    base_docs = load_table(spark, args.sf, "documents").select("doc_id", "text")
    for i in range(args.mult):
        rot = "abcdefghij"[i:] + "abcdefghij"[:i]
        c = base_docs.select(
            (F.col("doc_id") + F.lit(i * _KEY_SPAN)).alias("doc_id"),
            F.translate("text", "abcdefghij", rot).alias("text"),
        )
        docs = c if docs is None else docs.unionByName(c)
    docs = mat(docs, "documents_rot")
    run(
        "minhash_near_dups",
        lambda: minhash_near_duplicates(fan_out(docs), threshold=0.5),
    )

    # sentence-level dedup shape: explode to 10-token windows, digest
    # groupBy + digest join-back (queries/quality.py). Shuffles key on
    # md5(sentence) — uniform; linear if the digest-join claim holds.
    toks = F.split("text", " ")
    sents = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size(toks), F.lit(10))).alias("start"),
        toks.alias("tk"),
    ).select(
        "doc_id",
        ((F.col("start") - 1) / 10).cast("int").alias("sent_id"),
        F.md5(
            F.array_join(F.slice(F.col("tk"), F.col("start"), 10), " ").cast(
                "binary"
            )
        ).alias("h"),
    )
    pos = F.col("doc_id") * 1_000_000 + F.col("sent_id")
    firsts = sents.groupBy("h").agg(
        F.min(pos).alias("first_pos"), F.count(F.lit(1)).alias("n")
    )
    run(
        "sentence_dedup",
        sents.join(firsts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sents"),
            F.sum(F.when(F.col("first_pos") < pos, 1).otherwise(0)).alias(
                "n_dup"
            ),
        ),
    )

    # k-means shape: 2 Lloyd iterations over multiplied embeddings —
    # linear in rows (assignment map-only, update merges k×dim cells).
    # kmeans_snapped runs the fit eagerly, so the stage time spans the
    # call (fit) plus run()'s pass (final assignment).
    if only is None or "kmeans_2iter" in only:
        from market_pulse_data_pipeline_spark.functions.clustering import (
            kmeans_snapped,
        )

        emb = mat(multiplied(
            load_table(spark, args.sf, "embeddings"), args.mult, ["vec_id"]
        ), "embeddings")
        t0_km = time.time()
        run("kmeans_2iter", kmeans_snapped(emb, k=8, iters=2))
        timings["kmeans_2iter"] = round(time.time() - t0_km, 2)

    # prefix-filtered exact similarity join (queries/dedup.py): only
    # each doc's rarest shingles enter the self-join, so boilerplate
    # shingles (whose df grows with mult) must NOT blow up candidates —
    # the skew-proof claim, measured. Exact duplicates are removed
    # FIRST (the production ordering: no similarity join can bound
    # candidates between byte-identical docs, whose shingle sets — and
    # prefixes — coincide entirely; the stress corpus is 1/3 exact
    # cross-copy dupes at mult>10 because the mutation alphabet wraps).
    from pyspark.sql import Window as W2

    t_pf = 0.4
    docs_distinct = (
        docs.withColumn(
            "_rn",
            F.row_number().over(
                W2.partitionBy(F.md5(F.encode("text", "utf-8"))).orderBy(
                    "doc_id"
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    sh = (
        docs_distinct.select("doc_id", F.split("text", " ").alias("ws"))
        .filter(F.size("ws") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("ws") - 3),
                    lambda i: F.concat_ws(
                        " ", F.col("ws")[i], F.col("ws")[i + 1], F.col("ws")[i + 2]
                    ),
                )
            ).alias("sh"),
        )
        .distinct()
        .cache()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    dfc = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        sh.join(dfc, "sh")
        .withColumn(
            "pos",
            F.row_number().over(W2.partitionBy("doc_id").orderBy("df", "sh")),
        )
        .join(sizes, "doc_id")
    )
    prefix = ranked.filter(
        F.col("pos") <= F.col("n") - F.ceil(F.lit(t_pf) * F.col("n")) + 1
    ).select("doc_id", "sh")
    run(
        "prefix_filter_candidates",
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct(),
    )
    sh.unpersist()

    # sketch shapes (queries/sketches.py): cost must stay ~linear in
    # rows while the RESULT stays constant-size whatever the mult —
    # that's the mergeability claim measured
    from market_pulse_data_pipeline_spark.functions.dedup import portable_hash60

    # KMV: distinct hash (partial+final) then TakeOrdered(k) merge
    li_pk = mat(multiplied(
        load_table(spark, args.sf, "lineitem").select("l_partkey"),
        args.mult,
        ["l_partkey"],
    ), "lineitem_pk")
    run(
        "kmv_sketch",
        li_pk.select(
            portable_hash60(F.col("l_partkey").cast("string")).alias("h")
        )
        .distinct()
        .orderBy("h")
        .limit(256),
    )

    # count-min: one aggregation collapsing to a fixed 4x64 counter
    # matrix via map-side combine, independent of input rows
    cm_cells = F.array(
        *[
            F.struct(
                F.lit(str(i)).alias("ri"),
                F.pmod(
                    portable_hash60(
                        F.concat(F.lit(f"{i}:"), F.col("user_id").cast("string"))
                    ),
                    F.lit(64),
                ).alias("bucket"),
            )
            for i in range(4)
        ]
    )
    run(
        "countmin_build",
        ev.select(F.explode(cm_cells).alias("c"))
        .groupBy("c.ri", "c.bucket")
        .count(),
    )

    # audio windowing (functions/multimodal.py::audio_window_stats):
    # map-only mapInPandas — the embarrassingly-parallel shape. Must be
    # exactly linear in clips: zero shuffles, output ~n/hop rows/clip.
    from market_pulse_data_pipeline_spark.functions.multimodal import (
        audio_window_stats,
        documents_to_media,
    )

    media_docs = mat(multiplied(
        load_table(spark, args.sf, "documents"), args.mult, ["doc_id"]
    ), "documents_plain")
    run(
        "audio_window_stats",
        audio_window_stats(documents_to_media(media_docs)),
    )

    # salted two-phase aggregation (operators/skew.py): grouping-key
    # count stays constant while rows multiply — exactly the hot-key
    # profile salting exists for. Linear iff both phases stay
    # partial-aggregated (phase-1 key space = keys x salt).
    from market_pulse_data_pipeline_spark.operators.skew import salted_aggregate

    run(
        "salted_agg",
        salted_aggregate(
            ev,
            ["event_type"],
            {
                "n": (F.count(F.lit(1)), F.sum("n")),
                "total": (
                    F.sum(F.col("value").cast("decimal(20,6)")),
                    F.sum("total"),
                ),
            },
            salt_buckets=16,
        ),
    )

    # basket pair generation (queries/mining.py): per-basket self-join —
    # fan-out C(k,2) per basket, baskets x mult, so candidates scale
    # linearly; a corpus-quadratic pair generator would scale x mult^2.
    items = li.select("l_orderkey", (F.col("l_partkey") % 25).alias("brand"))
    items = items.distinct()
    run(
        "basket_pairs",
        items.alias("a")
        .join(
            items.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(F.col("a.brand"), F.col("b.brand"))
        .count(),
    )

    # triangle closure (queries/mining.py): pair generation is linear
    # (per-basket), and the closure join is bounded by the node domain
    # (<= C(500,2) edges whatever the mult) — cost must flatten, not
    # grow, as the co-purchase graph saturates.
    io_t = li.select(
        "l_orderkey", (F.col("l_partkey") % 500).alias("node")
    ).distinct()
    edges_t = (
        io_t.alias("a")
        .join(
            io_t.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.node") < F.col("b.node")),
        )
        .groupBy(F.col("a.node").alias("u"), F.col("b.node").alias("v"))
        .count()
        .filter(F.col("count") >= 2)
        .select("u", "v")
        .localCheckpoint()
    )
    run(
        "triangle_closure",
        edges_t.alias("e1")
        .join(edges_t.alias("e2"), F.col("e2.u") == F.col("e1.v"))
        .join(
            edges_t.alias("e3"),
            (F.col("e3.u") == F.col("e1.u"))
            & (F.col("e3.v") == F.col("e2.v")),
        ),
    )

    # bloom pre-join pruning (queries/shuffle_ops.py): bit-position
    # table is capped at m rows however large the build side gets, so
    # probe cost is one broadcast hash probe per row — linear. (In
    # production m scales with build cardinality; here saturation just
    # raises fp_rate, never cost.)
    bloom_m = 8192
    bld_s = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    bits_s = (
        bld_s.select(
            F.explode(
                F.array(
                    *[
                        F.pmod(
                            portable_hash60(
                                F.concat(
                                    F.lit(s), F.col("c_custkey").cast("string")
                                )
                            ),
                            F.lit(bloom_m),
                        )
                        for s in ("b0:", "b1:", "b2:")
                    ]
                )
            ).alias("pos")
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    ppos_s = orders.select(
        "o_orderkey",
        F.explode(
            F.array(
                *[
                    F.pmod(
                        portable_hash60(
                            F.concat(F.lit(s), F.col("o_custkey").cast("string"))
                        ),
                        F.lit(bloom_m),
                    )
                    for s in ("b0:", "b1:", "b2:")
                ]
            )
        ).alias("pos"),
    )
    run(
        "bloom_prejoin_probe",
        ppos_s.join(F.broadcast(bits_s), "pos", "left")
        .groupBy("o_orderkey")
        .agg(
            F.countDistinct("pos").alias("n_req"),
            F.countDistinct(
                F.when(F.col("hit").isNotNull(), F.col("pos"))
            ).alias("n_hit"),
        )
        .filter(F.col("n_hit") == F.col("n_req")),
    )

    # global prefix sum: serial single-partition window vs the
    # two-phase range-partitioned form (functions/prefix.py) on the
    # SAME input — the direct measurement of the one-task bottleneck
    # and its fix. Same result bit-for-bit (tests/test_prefix_sum.py).
    from market_pulse_data_pipeline_spark.functions.prefix import (
        partitioned_prefix_sum,
    )
    from pyspark.sql import Window as W3

    serial_w = W3.orderBy("ts", "event_id").rowsBetween(
        W3.unboundedPreceding, 0
    )
    run(
        "prefix_sum_serial",
        ev.select(
            "event_id",
            F.sum(F.col("value").cast("decimal(38,6)")).over(serial_w),
        ),
    )
    run(
        "prefix_sum_two_phase",
        partitioned_prefix_sum(
            ev, ["ts", "event_id"], F.col("value"), n_ranges=32
        ).select("event_id", "running_total"),
    )

    # Misra-Gries heavy hitters (functions/heavyhitters.py): the
    # sketch pass is map-only with O(k) state per partition and the
    # verify pass aggregates only candidate-token occurrences — both
    # must scale linearly in tokens; documents are per-copy
    # char-translated upstream only in the dedup stages, but token
    # MASS (what MG scans) still multiplies with the copies here.
    from market_pulse_data_pipeline_spark.functions.heavyhitters import (
        misra_gries_candidates,
    )

    mg_tok = media_docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    mg_cand = misra_gries_candidates(mg_tok, "token", 40)
    mg_tot = mg_tok.agg(F.count(F.lit(1)).alias("n_total"))
    run(
        "mg_heavy_hitters",
        mg_tok.join(F.broadcast(mg_cand), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(mg_tot))
        .filter(F.col("n") * 40 > F.col("n_total"))
        .select("token", "n"),
    )

    # snapped PQ training + encode (functions/clustering.py): m=8
    # subspace integer-Lloyd fits (bounded k×sub driver collects per
    # round) followed by the map-only Arrow encode — cost must be
    # linear in vectors with the driver state constant.
    from market_pulse_data_pipeline_spark.functions.clustering import (
        pq_encode_snapped,
        pq_train_snapped,
    )

    if only is None or {"pq_snapped_train", "pq_snapped_encode"} & only:
        emb_s = mat(multiplied(
            load_table(spark, args.sf, "embeddings"), args.mult, ["vec_id"]
        ), "embeddings_pq")
        t0_pq = time.time()
        pq_books = pq_train_snapped(emb_s, m=8, k=16, iters=1)
        timings["pq_snapped_train"] = round(time.time() - t0_pq, 2)
        rows["pq_snapped_train"] = int(pq_books.size)
        run(
            "pq_snapped_encode",
            pq_encode_snapped(emb_s, pq_books).select(
                "vec_id", F.col("codes").cast("string"), "ss"
            ),
        )

    # snapped PCA (functions/clustering.py::pca_snapped_project): one
    # mapInPandas partial-Gram pass + a dim² aggregate (driver state
    # constant in corpus size), the integer eigensolve on the driver
    # (corpus-independent), then the map-only projection — the moments
    # pass must scale linearly in vectors and the projection with it.
    if only is None or "pca_snapped_project" in only:
        from market_pulse_data_pipeline_spark.functions.clustering import (
            pca_snapped_project,
        )

        emb_p = mat(multiplied(
            load_table(spark, args.sf, "embeddings"), args.mult, ["vec_id"]
        ), "embeddings_pca")
        run("pca_snapped_project", pca_snapped_project(emb_p, dim=64))

    # portable-integer LSH-ANN (functions/similarity.py::lsh_ann_topk,
    # the round-5 final form: md5-integer planes, int64-quantized sign
    # bits): map-only signature pass + Hamming-radius probe + exact
    # re-rank of survivors — must be linear in vectors, with the probe
    # keeping the re-rank fraction roughly constant.
    if only is None or "ann_lsh_probe" in only:
        from market_pulse_data_pipeline_spark.functions.similarity import (
            lsh_ann_topk,
        )

        emb_base = load_table(spark, args.sf, "embeddings")
        qrow = emb_base.filter(F.col("vec_id") == 0).select("embedding").head()
        qvec = [float(x) for x in qrow["embedding"]]
        emb_l = mat(multiplied(
            emb_base.filter(F.col("vec_id") != 0), args.mult, ["vec_id"]
        ), "embeddings_lsh")
        run("ann_lsh_probe", lsh_ann_topk(emb_l, qvec, dim=len(qvec), k=10))

    # integer-snapped IVF-ANN (the round-5 final form of ann_ivf_topk):
    # k×dim codebook fit (bounded driver collects per Lloyd round),
    # map-only Arrow assignment, probe 6 cells, exact re-rank inside —
    # fit and assignment must be linear in vectors with driver state
    # constant.
    if only is None or "ann_ivf_probe" in only:
        from market_pulse_data_pipeline_spark.functions.clustering import (
            kmeans_snapped_fit,
        )
        from market_pulse_data_pipeline_spark.functions.similarity import (
            IVF_ITERS,
            ivf_probe,
        )

        emb_base = load_table(spark, args.sf, "embeddings")
        qrow = emb_base.filter(F.col("vec_id") == 0).select("embedding").head()
        qvec = [float(x) for x in qrow["embedding"]]
        emb_i = mat(multiplied(
            emb_base.filter(F.col("vec_id") != 0), args.mult, ["vec_id"]
        ), "embeddings_ivf").cache()
        t0_ivf = time.time()
        assigned, centroids = kmeans_snapped_fit(emb_i, k=16, iters=IVF_ITERS)
        timings["ann_ivf_fit"] = round(time.time() - t0_ivf, 2)
        rows["ann_ivf_fit"] = len(centroids)
        run(
            "ann_ivf_probe",
            ivf_probe(emb_i, assigned, centroids, qvec, k=10, nprobe=6),
        )
        emb_i.unpersist(blocking=False)

    # U-shaped attribution (queries/events.py): per-user interval join
    # of conversions to their preceding touches + per-conversion
    # window. Users multiply with the mult (key-offset), so paths per
    # user stay constant — join fan-out and window work must scale
    # linearly, never user² .
    conv_s = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("conv_id"),
        F.col("ts").alias("cts"),
    )
    touch_s = ev.filter(
        F.col("event_type").isin("click", "view", "signup")
    ).select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("touch_id"),
        F.col("ts").alias("tts"),
        F.col("event_type").alias("channel"),
    )
    aw = Window.partitionBy("conv_id").orderBy("tts", "touch_id")
    awk = Window.partitionBy("conv_id")
    attr_path = (
        conv_s.join(
            touch_s,
            (F.col("c_user") == F.col("t_user"))
            & (F.col("tts") < F.col("cts"))
            & (F.col("tts") >= F.col("cts") - F.expr("interval 7 days")),
        )
        .select(
            "channel",
            F.row_number().over(aw).alias("rn"),
            F.count(F.lit(1)).over(awk).alias("k"),
        )
    )
    attr_credit = (
        F.when(F.col("k") == 1, 1000)
        .when(F.col("k") == 2, 500)
        .when(F.col("rn") == 1, 400)
        .when(F.col("rn") == F.col("k"), 400)
        .otherwise(F.expr("200 DIV (k - 2)"))
    )
    run(
        "attribution_credit",
        attr_path.select("channel", attr_credit.alias("credit"))
        .groupBy("channel")
        .agg(F.count(F.lit(1)), F.sum("credit")),
    )

    # 2-D skyline (operators/pareto.py): since round 12 the scan
    # EXECUTES two-phase (range-partition on cost, per-range local
    # running-max scans in parallel, O(ranges) carry-in maxima) — no
    # single-partition window. Must stay linear (parallel local sorts
    # + one bounded collect); the quadratic NOT-EXISTS oracle form it
    # replaces would scale ×mult².
    from market_pulse_data_pipeline_spark.operators.pareto import skyline_2d

    part_s = mat(multiplied(
        load_table(spark, args.sf, "part"), args.mult, ["p_partkey"]
    ), "part_sky")
    sky_pts = part_s.select(
        "p_partkey",
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_c"),
        "p_size",
    )
    run(
        "skyline_frontier",
        skyline_2d(sky_pts, "price_c", "p_size").select(
            "p_partkey", "price_c", "p_size"
        ),
    )

    # SemDeDup pair stage (queries/r7_staging.py::semdedup_prune,
    # staged for round 7): the scale discipline under test is that k
    # grows with the corpus so CLUSTER SIZE stays fixed (~50 vectors)
    # and the within-cluster quadratic stays flat per doc — the paper's
    # own deployment argument. Driver state is k×dim int64 (1200×64 at
    # 30×), assignment is the Arrow int64 matmul, and the pair join
    # shuffles once on cluster id.
    if only is None or {"semdedup_pairs", "semdedup_popbound"} & only:
        from market_pulse_data_pipeline_spark.functions.clustering import (
            kmeans_snapped_fit,
        )

        emb_sd = mat(multiplied(
            load_table(spark, args.sf, "embeddings"), args.mult, ["vec_id"]
        ), "emb_semdedup")
        planted_sd = emb_sd.filter(F.col("vec_id") % 13 == 0).select(
            (F.col("vec_id") + 1_000_000_000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x * 1.001).cast("float")
            ).alias("embedding"),
        )
        both_sd = emb_sd.select("vec_id", "embedding").unionByName(
            planted_sd
        )
        n_sd = both_sd.count()
        k_sd = max(10, n_sd // 50)
        assigned_sd, _ = kmeans_snapped_fit(both_sd, k=k_sd, iters=2)
        qv_sd = assigned_sd.withColumn(
            "n2",
            F.aggregate(
                F.transform("v", lambda x: x * x),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        ).localCheckpoint()  # price the fit once, measure the pair stage
        a_sd = qv_sd.select(
            F.col("vec_id").alias("id_a"), F.col("cluster").alias("cl_a"),
            F.col("v").alias("v_a"), F.col("n2").alias("na"),
        )
        b_sd = qv_sd.select(
            F.col("vec_id").alias("id_b"), F.col("cluster").alias("cl_b"),
            F.col("v").alias("v_b"), F.col("n2").alias("nb"),
        )
        dot_sd = F.aggregate(
            F.zip_with("v_a", "v_b", lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        dec = "decimal(38,0)"
        d_sd = F.col("dot").cast(dec)
        run(
            "semdedup_pairs",
            a_sd.join(
                b_sd,
                (F.col("cl_a") == F.col("cl_b"))
                & (F.col("id_a") > F.col("id_b")),
            )
            .withColumn("dot", dot_sd)
            .filter(
                (F.col("dot") >= 0)
                & (
                    d_sd * d_sd * F.lit(400).cast(dec)
                    >= F.col("na").cast(dec)
                    * F.col("nb").cast(dec)
                    * F.lit(361).cast(dec)
                )
            )
            .select("id_a", "id_b"),
        )
        # VERDICT r10 item 4 evidence: under k ∝ N the per-cluster
        # POPULATION (the bound on the within-cluster quadratic) must
        # stay flat as the corpus multiplies — report the distribution,
        # not just the pair-stage time. Target is ~50; the quadratic
        # cost rides max_pop², so that is the number that must not
        # scale with mult.
        if only is None or "semdedup_popbound" in only:
            t0_pop = time.time()
            pop_row = (
                qv_sd.groupBy("cluster")
                .agg(F.count(F.lit(1)).alias("pop"))
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_clusters"),
                    F.max("pop").cast("long").alias("max_pop"),
                    (F.sum("pop") / F.count(F.lit(1)))
                    .cast("long")
                    .alias("mean_pop"),
                )
                .collect()[0]
            )
            # real work: the population aggregate scans the cluster
            # assignment — time it like every other stage (ADVICE r11)
            timings["semdedup_popbound"] = round(time.time() - t0_pop, 2)
            rows["semdedup_popbound"] = int(pop_row["n_clusters"])
            print(
                f"  semdedup_popbound k={k_sd} "
                f"n_clusters={pop_row['n_clusters']} "
                f"mean_pop={pop_row['mean_pop']} "
                f"max_pop={pop_row['max_pop']}"
            )

    # n-gram novelty (queries/r7_staging.py::ngram_novelty_profile,
    # staged for round 7): two shuffles both keyed on the shingle —
    # min-doc aggregate + join-back. Per-shingle state is one bigint,
    # so the stage must scale linearly in total shingle count.
    if only is None or "ngram_novelty" in only:
        docs_nv = mat(multiplied(
            load_table(spark, args.sf, "documents"), args.mult, ["doc_id"]
        ), "docs_novelty")
        tk_nv = F.split("text", " ")
        with_tk = docs_nv.select("doc_id", tk_nv.alias("tk")).filter(
            F.size("tk") >= 3
        )
        sh_nv = with_tk.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("tk") - 2),
                    lambda s: F.concat_ws(
                        " ", F.slice(F.col("tk"), s, 3)
                    ),
                )
            ).alias("sh"),
        ).distinct()
        fo_nv = sh_nv.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
        run(
            "ngram_novelty",
            sh_nv.join(fo_nv, "sh")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_shingles"),
                F.sum(
                    F.when(
                        F.col("first_doc") == F.col("doc_id"), 1
                    ).otherwise(0)
                ).alias("n_novel"),
            ),
        )

    # Incremental batch-vs-corpus near-dup
    # (queries/r7_staging.py::incremental_near_dup_lsh, staged for
    # round 7): corpus grows with mult, the incoming batch stays
    # FIXED-size (one day's crawl) — the claim under test is that
    # candidate cost tracks per-bucket collisions, never
    # |corpus| x |batch|, so a growing corpus costs the batch join
    # only its own band lookups plus corpus signature build.
    if only is None or "incremental_neardup" in only:
        from market_pulse_data_pipeline_spark.queries.r7_staging import (
            _INC_BANDS,
            _INC_PERM,
        )
        from market_pulse_data_pipeline_spark.functions.dedup import (
            band_entries,
            minhash_signatures,
            shingle_hashes,
        )

        docs_all = mat(multiplied(
            load_table(spark, args.sf, "documents"), args.mult, ["doc_id"]
        ), "docs_incdup")
        corpus_in = docs_all.select("doc_id", "text")  # grows with mult
        batch_in = (
            load_table(spark, args.sf, "documents")
            .filter(F.col("doc_id") % 26 == 0)
            .select(
                (F.col("doc_id") + 2_000_000_000).alias("doc_id"),
                F.concat("text", F.lit(" planted")).alias("text"),
            )
        )  # fixed-size incoming day

        def _bands(side):
            return band_entries(
                minhash_signatures(
                    shingle_hashes(side, portable=True), _INC_PERM
                ),
                _INC_BANDS,
            )

        run(
            "incremental_neardup",
            _bands(batch_in)
            .select(F.col("doc_id").alias("inc_id"), "band", "bh")
            .join(
                _bands(corpus_in).select(
                    F.col("doc_id").alias("corpus_id"), "band", "bh"
                ),
                ["band", "bh"],
            )
            .select("inc_id", "corpus_id")
            .distinct(),
        )

    # ColBERT MaxSim re-rank (queries/r7_staging.py::colbert_maxsim_topk,
    # staged for round 7): the scored pass is map-only — 8 broadcast
    # query tokens folded per doc token row — plus two hash aggregates
    # (per-(doc, q_tok) max, per-doc sum), so it must scale linearly in
    # corpus token count. TakeOrdered keeps the top-k driver-bounded.
    if only is None or "maxsim_rerank" in only:
        emb_ms = mat(multiplied(
            load_table(spark, args.sf, "embeddings"), args.mult, ["vec_id"]
        ), "emb_maxsim")
        grouped = emb_ms.select(
            "vec_id",
            (F.col("vec_id") / 8).cast("long").alias("grp"),
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * 1_000_000).cast(
                    "long"
                ),
            ).alias("v"),
        )
        q_ms = grouped.filter(F.col("grp") == 0).orderBy("vec_id").collect()
        docs_ms = grouped.filter(F.col("grp") > 0).select(
            F.col("grp").alias("doc_id"), F.col("v").alias("dv")
        )
        def _dot_ms(qvec):
            return F.aggregate(
                F.zip_with(
                    "dv",
                    F.array(*[F.lit(int(c)) for c in qvec]),
                    lambda x, y: x * y,
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
        scored_ms = docs_ms.select(
            "doc_id", *[_dot_ms(r["v"]).alias(f"q{i}")
                        for i, r in enumerate(q_ms)]
        )
        run(
            "maxsim_rerank",
            scored_ms.groupBy("doc_id")
            .agg(*[F.max(f"q{i}").alias(f"m{i}") for i in range(len(q_ms))])
            .select(
                "doc_id",
                sum(
                    (F.col(f"m{i}") for i in range(1, len(q_ms))),
                    F.col("m0"),
                ).alias("maxsim"),
            )
            .orderBy(F.desc("maxsim"), F.asc("doc_id"))
            .limit(10),
        )

    # BPE encode (queries/corpus.py::bpe_encode_corpus, round-7
    # addition): training is vocab-bounded (one pair-count hash
    # aggregate + a 1-row argmax per merge round, independent of corpus
    # size in state), and the ENCODE is one map-only higher-order
    # aggregate pass per merge rank — the whole stage must scale
    # linearly in corpus token count with zero post-training shuffles.
    if only is None or "bpe_encode" in only:
        from market_pulse_data_pipeline_spark.functions.bpe import (
            bpe_train_encode,
        )

        docs_bpe = mat(multiplied(
            load_table(spark, args.sf, "documents"), args.mult, ["doc_id"]
        ), "docs_bpe")
        _, enc_bpe = bpe_train_encode(docs_bpe, n_merges=8, id_col="doc_id")
        run(
            "bpe_encode",
            enc_bpe.select(
                "doc_id",
                F.size("ws").alias("n_tokens"),
                F.md5(F.concat_ws("|", "ws")).alias("encoding_hash"),
            ),
        )

    # Quality threshold sweep (queries/quality.py::quality_threshold_sweep,
    # round-7 addition): the corpus-touching work is one explode +
    # doc-level hash aggregate; the PR curve itself is suffix sums over
    # a <=41-row histogram, so the stage must track the scoring
    # aggregate linearly and never rescan per threshold.
    if only is None or "quality_sweep" in only:
        from market_pulse_data_pipeline_spark.functions.dedup import (
            portable_hash60,
        )

        docs_qs = mat(multiplied(
            load_table(spark, args.sf, "documents"), args.mult, ["doc_id"]
        ), "docs_qsweep")
        toks_qs = docs_qs.select(
            "doc_id", "n_chars",
            F.explode(F.split(F.col("text"), " ")).alias("tok"),
        )
        feat_qs = toks_qs.select(
            "doc_id", "n_chars",
            F.pmod(
                portable_hash60(F.concat(F.lit("f:"), F.col("tok"))),
                F.lit(256),
            ).alias("bucket"),
        )
        w_qs = (
            F.pmod(
                portable_hash60(
                    F.concat(F.lit("w:"), F.col("bucket").cast("string"))
                ),
                F.lit(2001),
            )
            - 1000
        )
        scored_qs = feat_qs.groupBy("doc_id").agg(
            (F.min("n_chars") >= 300).alias("label"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(w_qs).cast("long").alias("raw_milli"),
        )
        d_qs = F.lit(50) * F.col("n_tokens")
        b_qs = (
            (F.col("raw_milli") - F.pmod(F.col("raw_milli"), d_qs)) / d_qs
        ).cast("long")
        from pyspark.sql import Window as _W

        hist_qs = (
            scored_qs.select(b_qs.alias("b"), "label")
            .groupBy("b")
            .agg(
                F.sum(F.when(F.col("label"), 1).otherwise(0)).alias("pos"),
                F.sum(F.when(F.col("label"), 0).otherwise(1)).alias("neg"),
            )
        )
        suffix_qs = _W.orderBy(F.desc("b")).rowsBetween(
            _W.unboundedPreceding, _W.currentRow
        )
        run(
            "quality_sweep",
            hist_qs.select(
                "b",
                F.sum("pos").over(suffix_qs).alias("tp"),
                F.sum("neg").over(suffix_qs).alias("fp"),
            ),
        )

    # CCNet perplexity buckets (queries/r8_staging.py, registered in
    # round 8): the corpus-touching work is the driver-green bigram
    # fluency shape (token-keyed count aggregates + co-partitioned
    # joins); the tercile NTILE is one window partitioned by lang.
    # Must scale linearly in token count.
    if only is None or "ccnet_buckets" in only:
        from pyspark.sql import Window as _W

        docs_cc = mat(multiplied(
            load_table(spark, args.sf, "documents"), args.mult, ["doc_id"]
        ), "docs_ccnet")
        toked_cc = docs_cc.select(
            "doc_id", "lang", F.split(F.col("text"), " ").alias("ws")
        ).filter(F.size("ws") >= 2)
        bg_cc = toked_cc.select(
            "doc_id", "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> concat(ws[i - 1], ' ', ws[i]))"
                )
            ).alias("bigram"),
        ).withColumn("w1", F.substring_index("bigram", " ", 1))
        c2_cc = bg_cc.groupBy("bigram").agg(F.count(F.lit(1)).alias("n2"))
        c1_cc = bg_cc.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
        term_cc = (
            F.col("n1").cast("double") / F.col("n2")
        ).cast("decimal(20,6)")
        scored_cc = (
            bg_cc.join(c2_cc, "bigram")
            .join(c1_cc, "w1")
            .groupBy("doc_id", "lang")
            .agg(F.sum(term_cc).cast("double").alias("s"))
        )
        w_cc = _W.partitionBy("lang").orderBy("s", "doc_id")
        run(
            "ccnet_buckets",
            scored_cc.select(
                "lang", "doc_id", F.ntile(3).over(w_cc).alias("tile")
            ),
        )

    # Winnowing fingerprint pairs (queries/r8_staging.py, registered
    # in round 8): fingerprint selection is map-only higher-order
    # transforms; the pair join is keyed on the selected fingerprint
    # (~2/(w+1) the density of a full shingle join). Candidate pairs
    # grow with true duplication, never quadratically in corpus size.
    if only is None or "winnow_pairs" in only:
        from market_pulse_data_pipeline_spark.functions.dedup import (
            _MERSENNE,
            portable_hash60,
        )
        from market_pulse_data_pipeline_spark.queries.r8_staging import (
            _WN_K,
            _WN_T,
            _WN_W,
        )

        # per-copy TOKEN-tagged corpora: every token carries its copy
        # index, so k-grams never collide across copies and the pair
        # count grows linearly with true duplication (the 10-period
        # char-rotation used by the minhash stage leaves tokens without
        # a-j letters identical across copies, which a k-gram-exact
        # fingerprint join amplifies quadratically — a harness
        # artifact, not an operator property)
        base_wn = load_table(spark, args.sf, "documents").select(
            "doc_id", "text"
        )
        docs_wn = None
        for i in range(args.mult):
            c = base_wn.select(
                (F.col("doc_id") + F.lit(i * _KEY_SPAN)).alias("doc_id"),
                F.array_join(
                    F.transform(
                        F.split("text", " "),
                        lambda tk: F.concat(tk, F.lit(f"_{i}")),
                    ),
                    " ",
                ).alias("text"),
            )
            docs_wn = c if docs_wn is None else docs_wn.unionByName(c)
        docs_wn = mat(docs_wn, "docs_winnow_tagged")
        toks_wn = docs_wn.select(
            "doc_id", F.split("text", " ").alias("ws")
        ).filter(F.size("ws") >= _WN_K + _WN_W - 1)
        kg_wn = toks_wn.select(
            "doc_id",
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - (_WN_K - 1)),
                lambda i: F.pmod(
                    portable_hash60(
                        F.concat_ws(" ", F.slice(F.col("ws"), i, _WN_K))
                    ),
                    F.lit(_MERSENNE),
                ),
            ).alias("hs"),
        )
        fp_wn = (
            kg_wn.select(
                "doc_id",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("hs") - (_WN_W - 1)),
                        lambda j: F.array_min(
                            F.slice(F.col("hs"), j, _WN_W)
                        ),
                    )
                ).alias("fp"),
            )
            .distinct()
        )
        run(
            "winnow_pairs",
            fp_wn.select(F.col("doc_id").alias("doc_a"), "fp")
            .join(
                fp_wn.select(F.col("doc_id").alias("doc_b"), "fp"), "fp"
            )
            .filter(F.col("doc_a") > F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= _WN_T),
        )

    # Eval-set decontamination (queries/r8_staging.py, round-8
    # addition): the eval 13-gram set must collapse to a DISTINCT
    # int64 set small enough to broadcast; the corpus side is a
    # map-only gram scan + broadcast semijoin + one doc-keyed count.
    # The eval set here grows WITH the corpus (doc_id % 53 of the
    # multiplied docs), so the recorded gramset size charts the
    # approach to the broadcast threshold: ~8 B/gram against the
    # default 10 MB autoBroadcastJoinThreshold crosses at ~1.3M
    # distinct grams, where bloom_filter_prejoin's sketch is the
    # documented fallback (queries/r8_staging.py doc).
    if only is None or "eval_decontam" in only:
        from market_pulse_data_pipeline_spark.functions.dedup import (
            _MERSENNE,
            portable_hash60,
        )
        from market_pulse_data_pipeline_spark.queries.r8_staging import (
            _DC_EVAL_MOD,
            _DC_N,
        )

        docs_dc = mat(multiplied(
            load_table(spark, args.sf, "documents"), args.mult, ["doc_id"]
        ), "docs_decontam")

        def _grams_dc(df: DataFrame) -> DataFrame:
            tk = df.select(
                "doc_id", F.split("text", " ").alias("ws")
            ).filter(F.size("ws") >= _DC_N)
            h = lambda i: F.pmod(  # noqa: E731
                portable_hash60(
                    F.concat_ws(" ", F.slice(F.col("ws"), i, _DC_N))
                ),
                F.lit(_MERSENNE),
            )
            return tk.select(
                "doc_id",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("ws") - (_DC_N - 1)), h
                    )
                ).alias("g"),
            )

        eval_grams_dc = (
            _grams_dc(docs_dc.filter(F.col("doc_id") % _DC_EVAL_MOD == 0))
            .select("g")
            .distinct()
        )
        run("eval_decontam_gramset", eval_grams_dc)
        train_dc = docs_dc.filter(F.col("doc_id") % _DC_EVAL_MOD != 0)
        hits_dc = (
            _grams_dc(train_dc)
            .join(F.broadcast(eval_grams_dc), "g")
            .groupBy("doc_id")
            .agg(F.count_distinct("g").alias("n"))
        )
        run(
            "eval_decontam",
            train_dc.join(hits_dc, "doc_id", "left").select(
                "doc_id",
                F.coalesce(F.col("n"), F.lit(0)).alias("n_eval_ngrams"),
            ),
        )

    # Winnowing cluster dedup / connected components (round-8
    # addition): propagation rounds vs cluster DIAMETER. Near-dup
    # clusters are usually shallow stars, but copy-of-copy CHAINS have
    # diameter ∝ length — a planted 16×mult-hop chain measures the
    # path-halving guarantee (rounds O(log D), functions/graph.py).
    # Recorded rows = MISLABELED vertices, which must be 0 at every
    # multiplier; wall-clock grows ~log D + per-round job overhead.
    if only is None or "cluster_chain" in only:
        from market_pulse_data_pipeline_spark.functions.graph import (
            dedup_clusters,
        )

        depth = 16 * args.mult
        chain = spark.range(depth).select(
            F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
        )
        # the propagation loop executes EAGERLY inside dedup_clusters
        # (per-round localCheckpoint + convergence count), so time the
        # construction too, not just the final filter job
        t0_ch = time.time()
        comp_ch = dedup_clusters(chain)
        run("cluster_chain", comp_ch.filter(F.col("cluster_id") != 0))
        timings["cluster_chain"] = round(time.time() - t0_ch, 2)

    # Boilerplate sentence removal (round-8 addition) under a SKEWED
    # boilerplate corpus: every 3rd doc carries the same global banner
    # (banner df ∝ corpus size — the hot-key case), bodies are
    # per-copy token-tagged so cross-copy identical text never
    # inflates the df-gate artificially (same harness caveat as
    # winnow_pairs). Watches: the df-gated boilerplate set stays
    # bounded by true furniture (per-copy base-corpus repeats + the
    # banner), and the flag-join + doc-keyed reassembly stay linear.
    if only is None or "boilerplate_skew" in only:
        from market_pulse_data_pipeline_spark.queries.r8_staging import (
            _BP_BANNER,
            _BP_DF,
            _BP_W,
        )

        base_bp = load_table(spark, args.sf, "documents").select(
            "doc_id", "text"
        )
        docs_bp = None
        for i in range(args.mult):
            c = base_bp.select(
                (F.col("doc_id") + F.lit(i * _KEY_SPAN)).alias("doc_id"),
                F.array_join(
                    F.transform(
                        F.split("text", " "),
                        lambda tk: F.concat(tk, F.lit(f"_{i}")),
                    ),
                    " ",
                ).alias("text"),
            )
            docs_bp = c if docs_bp is None else docs_bp.unionByName(c)
        docs_bp = mat(docs_bp, "docs_boilerplate_tagged")
        src_bp = docs_bp.select(
            "doc_id",
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(_BP_BANNER + " "), F.col("text")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        toks_bp = F.split("text", " ")
        sents_bp = src_bp.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.size(toks_bp), F.lit(_BP_W))
            ).alias("start"),
            toks_bp.alias("tk"),
        ).select(
            "doc_id",
            ((F.col("start") - 1) / _BP_W).cast("int").alias("sent_id"),
            F.array_join(
                F.slice(F.col("tk"), F.col("start"), _BP_W), " "
            ).alias("sent_text"),
        ).withColumn("h", F.md5(F.col("sent_text").cast("binary")))
        bp_set = (
            sents_bp.groupBy("h")
            .agg(F.count_distinct("doc_id").alias("df"))
            .filter(F.col("df") > _BP_DF)
            .select("h", F.lit(True).alias("is_bp"))
        )
        run("boilerplate_bpset", bp_set)
        flagged_bp = sents_bp.join(F.broadcast(bp_set), "h", "left").select(
            "doc_id",
            F.coalesce(F.col("is_bp"), F.lit(False)).alias("is_bp"),
            F.size(F.split("sent_text", " ")).alias("n_toks"),
        )
        run(
            "boilerplate_skew",
            flagged_bp.groupBy("doc_id").agg(
                F.count(F.lit(1)).alias("n_sents"),
                F.sum(F.when(F.col("is_bp"), 1).otherwise(0)).alias(
                    "n_removed"
                ),
                F.sum(
                    F.when(F.col("is_bp"), 0).otherwise(F.col("n_toks"))
                ).alias("n_tokens_clean"),
            ),
        )

    # helper for the staged text operators: per-copy token-tagged
    # multiplication (cross-copy identical text would otherwise read
    # as true duplication to any EXACT-match stage — same caveat as
    # winnow_pairs / boilerplate_skew)
    def tagged_docs(cache_name: str) -> DataFrame:
        base = load_table(spark, args.sf, "documents").select(
            "doc_id", "lang", "source", "text", "n_chars"
        )
        out = None
        for i in range(args.mult):
            c = base.select(
                (F.col("doc_id") + F.lit(i * _KEY_SPAN)).alias("doc_id"),
                "lang",
                "source",
                F.array_join(
                    F.transform(
                        F.split("text", " "),
                        lambda tk: F.concat(tk, F.lit(f"_{i}")),
                    ),
                    " ",
                ).alias("text"),
                "n_chars",
            )
            out = c if out is None else out.unionByName(c)
        return mat(out, cache_name)

    # Gopher repetition filters (staged round 9): line/paragraph dup
    # fractions are pure map-side array expressions; the ONLY shuffle
    # is the (doc, n, gram) mode aggregate with map-side combine.
    # Within-doc semantics — plain key-remapped multiplication is
    # honest here (no cross-doc matching at all). Must scale linearly
    # in token count.
    if only is None or "gopher_filters" in only:
        import market_pulse_data_pipeline_spark.queries.r9_staging as _r9_mod

        docs_gr = mat(multiplied(
            load_table(spark, args.sf, "documents"), args.mult, ["doc_id"]
        ), "docs_gopher")
        # the shipping shape is FULLY map-only (line stats are array
        # expressions; each n-gram mode is a per-doc array_sort + one
        # aggregate() fold — nothing to shuffle): inline it verbatim
        toks_gr = docs_gr.select("doc_id", F.split("text", " ").alias("ws"))
        lines_gr = F.expr(
            "transform(sequence(0, (size(ws) + 9) div 10 - 1),"
            " i -> concat_ws(' ', slice(ws, i * 10 + 1, 10)))"
        )

        def _top_run_gr(gl: int):
            return F.expr(
                f"""
                CASE WHEN size(ws) >= {gl} THEN
                  aggregate(
                    array_sort(transform(sequence(0, size(ws) - {gl}),
                               i -> concat_ws(' ', slice(ws, i + 1, {gl})))),
                    named_struct('prev', CAST(NULL AS STRING),
                                 'run', 0, 'best', 0),
                    (acc, x) -> named_struct(
                      'prev', x,
                      'run', IF(x <=> acc.prev, acc.run + 1, 1),
                      'best', GREATEST(acc.best,
                                       IF(x <=> acc.prev, acc.run + 1, 1))),
                    acc -> acc.best)
                END
                """
            )

        run(
            "gopher_filters",
            toks_gr.select(
                "doc_id",
                F.size("ws").alias("n_tokens"),
                F.size(lines_gr).alias("n_lines"),
                F.size(F.array_distinct(lines_gr)).alias("d_lines"),
                _top_run_gr(2).alias("c2"),
                _top_run_gr(3).alias("c3"),
                _top_run_gr(4).alias("c4"),
            ),
        )
        _ = _r9_mod  # imported to assert the registered module loads

    # Fuzzy eval decontamination (staged round 9): eval side tiny and
    # broadcast (band entries + shingle arrays); corpus side one
    # map-only signature pass + band-keyed broadcast join; exact
    # verification on candidates only. Token-tagged corpus so
    # cross-copy identical text never fabricates candidates.
    if only is None or "fuzzy_decontam" in only:
        from market_pulse_data_pipeline_spark.functions.dedup import (
            band_entries,
            minhash_signatures,
            shingle_hashes,
        )
        from market_pulse_data_pipeline_spark.queries.r9_staging import (
            _FZ_BANDS,
            _FZ_EVAL_MOD,
            _FZ_N,
            _FZ_PERM,
        )

        docs_fz = tagged_docs("docs_fuzzy_tagged")
        evald_fz = docs_fz.filter(F.col("doc_id") % _FZ_EVAL_MOD == 0)
        train_fz = docs_fz.filter(F.col("doc_id") % _FZ_EVAL_MOD != 0)

        def _bands_fz(side):
            return band_entries(
                minhash_signatures(shingle_hashes(side, _FZ_N), _FZ_PERM),
                _FZ_BANDS,
            )

        cand_fz = (
            _bands_fz(train_fz)
            .join(
                F.broadcast(
                    _bands_fz(evald_fz).withColumnRenamed(
                        "doc_id", "eval_doc_id"
                    )
                ),
                ["band", "bh"],
            )
            .select("doc_id", "eval_doc_id")
            .distinct()
        )
        run("fuzzy_decontam", cand_fz)

    # Exact-substring trim (staged round 9 for round 11): duplicated
    # windows via ONE digest aggregate, cut positions fan out ONLY
    # from duplicated shingles (bounded by true duplication), doc-
    # keyed reassembly. Token-tagged corpus: the only duplication is
    # each copy's own fixture near-dup structure, so removals scale
    # linearly with the multiplier.
    if only is None or "substr_trim" in only:
        from market_pulse_data_pipeline_spark.queries.r10_staging import (
            _TR_W,
        )

        docs_tr = tagged_docs("docs_trim_tagged")
        tokd_tr = docs_tr.select(
            "doc_id", F.split(F.lower("text"), " ").alias("toks")
        )
        sh_tr = tokd_tr.filter(F.size("toks") >= _TR_W).select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - _TR_W),
                    lambda i: F.md5(
                        F.encode(
                            F.concat_ws(
                                " ", F.slice("toks", i + 1, _TR_W)
                            ),
                            "utf-8",
                        )
                    ),
                )
            ).alias("i", "h"),
        )
        own_tr = sh_tr.groupBy("h").agg(
            F.count_distinct("doc_id").alias("nd"),
            F.min("doc_id").alias("owner"),
        )
        cuts_tr = (
            sh_tr.join(own_tr.filter(F.col("nd") >= 2), "h")
            .filter(F.col("doc_id") != F.col("owner"))
            .select(
                "doc_id",
                F.explode(
                    F.sequence(F.col("i"), F.col("i") + (_TR_W - 1))
                ).alias("p"),
            )
            .distinct()
        )
        run(
            "substr_trim",
            cuts_tr.groupBy("doc_id").agg(
                F.count(F.lit(1)).alias("n_removed")
            ),
        )

    # Rank-profile lang-ID (staged round 9): per-lang profiles are
    # bounded (|langs| x K) and broadcast; doc side is one gram-count
    # shuffle + a doc-keyed top-K window + a bounded x|langs|
    # multiplier. Plain multiplication is honest (per-lang counts just
    # scale). Must be linear in characters.
    if only is None or "langid_profile" in only:
        from pyspark.sql import Window as _W

        docs_li = mat(multiplied(
            load_table(spark, args.sf, "documents"), args.mult, ["doc_id"]
        ), "docs_langid")
        grams_li = F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 2),"
                " i -> substring(text, i, 3))"
            )
        ).alias("g")
        doc_rank_li = (
            docs_li.filter(F.length("text") >= 3)
            .select("doc_id", grams_li)
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn(
                "dr",
                F.row_number().over(
                    _W.partitionBy("doc_id").orderBy(
                        F.col("c").desc(), F.col("g")
                    )
                ),
            )
            .filter(F.col("dr") <= 20)
        )
        lang_rank_li = (
            docs_li.filter(
                (F.col("doc_id") % 10 < 3) & (F.length("text") >= 3)
            )
            .select("lang", grams_li)
            .groupBy("lang", "g")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn(
                "lr",
                F.row_number().over(
                    _W.partitionBy("lang").orderBy(
                        F.col("c").desc(), F.col("g")
                    )
                ),
            )
            .filter(F.col("lr") <= 20)
            .select("lang", "g", "lr")
        )
        langs_li = lang_rank_li.select("lang").distinct()
        scored_li = (
            doc_rank_li.crossJoin(F.broadcast(langs_li))
            .join(F.broadcast(lang_rank_li), ["lang", "g"], "left")
            .groupBy("doc_id", "lang")
            .agg(
                F.sum(
                    F.coalesce(F.abs(F.col("dr") - F.col("lr")), F.lit(20))
                ).alias("dist")
            )
        )
        best_li = scored_li.withColumn(
            "rn",
            F.row_number().over(
                _W.partitionBy("doc_id").orderBy("dist", "lang")
            ),
        ).filter(F.col("rn") == 1)
        run("langid_profile", best_li.select("doc_id", "lang", "dist"))

    # Paragraph SimHash near-dups (staged round 9 for round 12):
    # signatures are per-paragraph map-side folds; the only shuffle is
    # the (chunk, value) candidate join over 4 x 15-bit chunks. Token-
    # tagged corpus so cross-copy identical paragraphs never fabricate
    # O(copies^2) pairs; candidates then track each copy's own
    # near-dup structure linearly.
    if only is None or "para_simhash" in only:
        from market_pulse_data_pipeline_spark.functions.dedup import (
            portable_hash60,
        )
        from market_pulse_data_pipeline_spark.queries.r11_staging import (
            _PH_BITS,
            _PH_CHUNKS,
            _PH_MAX_HAMMING,
            _PH_W,
        )

        docs_ph = tagged_docs("docs_parasim_tagged")
        tk_ph = F.split("text", " ")
        paras_ph = docs_ph.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.size(tk_ph), F.lit(_PH_W))
            ).alias("start"),
            tk_ph.alias("tk"),
        ).select(
            "doc_id",
            ((F.col("start") - 1) / _PH_W).cast("long").alias("para_id"),
            F.array_join(
                F.slice(F.col("tk"), F.col("start"), _PH_W), " "
            ).alias("ptext"),
        )
        hs_ph = F.transform(
            F.split("ptext", " "),
            lambda w: portable_hash60(F.concat(F.lit("pp:"), w)),
        )
        bits_ph = None
        for k in range(_PH_BITS):
            vote = F.aggregate(
                F.col("hs"),
                F.lit(0).cast("long"),
                lambda acc, h: acc
                + (
                    F.shiftright(h, k).bitwiseAND(F.lit(1)) * 2 - 1
                ).cast("long"),
            )
            term = F.when(vote > 0, F.lit(1 << k).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            bits_ph = term if bits_ph is None else bits_ph + term
        sig_ph = paras_ph.select(
            "doc_id", "para_id", hs_ph.alias("hs")
        ).select(
            "doc_id",
            "para_id",
            (F.col("doc_id") * 1000 + F.col("para_id")).alias("pkey"),
            bits_ph.alias("sim"),
        )
        cw_ph = _PH_BITS // _PH_CHUNKS
        chunks_ph = sig_ph.select(
            "pkey",
            "sim",
            F.explode(
                F.sequence(F.lit(0), F.lit(_PH_CHUNKS - 1))
            ).alias("c"),
        ).withColumn(
            "cv",
            F.expr(f"shiftright(sim, c * {cw_ph}) & {(1 << cw_ph) - 1}"),
        )
        pa = chunks_ph.alias("a")
        pb = chunks_ph.alias("b")
        ham_ph = F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim")))
        run(
            "para_simhash",
            pa.join(
                pb,
                (F.col("a.c") == F.col("b.c"))
                & (F.col("a.cv") == F.col("b.cv"))
                & (F.col("a.pkey") < F.col("b.pkey")),
            )
            .select(
                F.col("a.pkey").alias("pa"),
                F.col("b.pkey").alias("pb"),
                ham_ph.alias("hamming"),
            )
            .distinct()
            .filter(F.col("hamming") <= _PH_MAX_HAMMING),
        )

    # C4 line filters (staged round 10, queries/r12_staging.py):
    # within-doc map-only array expressions — plain key-remapped
    # multiplication is honest (no cross-doc matching). Must scale
    # linearly in token count with ZERO exchanges.
    if only is None or "c4_lines" in only:
        from market_pulse_data_pipeline_spark.queries.r12_staging import (
            _C4_BAD_TOKEN,
            _C4_LINE_W,
            _C4_MIN_KEPT_LINES,
            _C4_MIN_LINE_WORDS,
            _C4_PHRASE,
        )

        docs_c4 = mat(
            multiplied(
                load_table(spark, args.sf, "documents").select(
                    "doc_id", "text"
                ),
                args.mult,
                ["doc_id"],
            ),
            "docs_c4",
        )
        wc4 = _C4_LINE_W
        lined_c4 = docs_c4.select(
            "doc_id",
            "text",
            F.expr(
                f"transform(sequence(0, (size(split(text, ' ')) + {wc4 - 1})"
                f" div {wc4} - 1),"
                f" i -> slice(split(text, ' '), i * {wc4} + 1, {wc4}))"
            ).alias("lines"),
        )
        short_c4 = f"size(l) < {_C4_MIN_LINE_WORDS}"
        js_c4 = f"exists(l, t -> t = '{_C4_BAD_TOKEN}')"
        classed_c4 = lined_c4.select(
            "doc_id",
            "text",
            "lines",
            F.expr(
                f"filter(lines, l -> NOT ({short_c4}) AND NOT ({js_c4}))"
            ).alias("kept"),
        )
        keep_c4 = (
            ~F.col("text").contains("{")
            & ~F.col("text").contains(_C4_PHRASE)
            & (F.size("kept") >= _C4_MIN_KEPT_LINES)
        )
        run(
            "c4_lines",
            classed_c4.select(
                "doc_id",
                F.size("lines").alias("n_lines"),
                F.size("kept").alias("kept_lines"),
                keep_c4.alias("doc_keep"),
                F.when(
                    keep_c4,
                    F.md5(
                        F.encode(F.concat_ws(" ", F.flatten("kept")), "utf-8")
                    ),
                ).alias("clean_md5"),
            ),
        )

    # Hot-n-gram blocklist coverage (staged round 10): the count is
    # one gram-keyed shuffle with map-side combine, the blocklist a
    # K-bounded TakeOrdered, the coverage a broadcast join + doc-keyed
    # aggregate. Per-copy token tags make the gram vocabulary grow N×
    # (the honest shuffle volume a real N× corpus would have).
    if only is None or "hot_ngrams" in only:
        from market_pulse_data_pipeline_spark.queries.r12_staging import (
            _HB_FLAG_PCT,
            _HB_K,
            _HB_N,
        )

        docs_hb = tagged_docs("docs_hotngram")
        nhb = _HB_N
        grams_hb = (
            docs_hb.select("doc_id", F.split("text", " ").alias("ws"))
            .filter(F.size("ws") >= nhb)
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        f"transform(sequence(1, size(ws) - {nhb - 1}),"
                        f" i -> concat_ws(' ', slice(ws, i, {nhb})))"
                    )
                ).alias("gram"),
            )
        )
        top_hb = (
            grams_hb.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.desc("c"), F.asc("gram"))
            .limit(_HB_K)
            .select("gram", F.lit(True).alias("hot"))
        )
        run(
            "hot_ngrams",
            grams_hb.join(F.broadcast(top_hb), "gram", "left")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_grams"),
                F.sum(F.when(F.col("hot"), 1).otherwise(0)).alias("n_hits"),
            )
            .select(
                "doc_id",
                "n_grams",
                "n_hits",
                (
                    F.col("n_hits") * 100 >= F.col("n_grams") * _HB_FLAG_PCT
                ).alias("flagged"),
            ),
        )

    # Semantic eval decontamination (staged round 10,
    # queries/r13_staging.py): the eval side is bounded and ships as a
    # literal; the corpus side is one map-only explode + zip_with fold.
    # Must scale linearly in corpus size with ZERO shuffle.
    if only is None or "esem_screen" in only:
        from market_pulse_data_pipeline_spark.queries.r13_staging import (
            _ES_DEN,
            _ES_EVAL_MOD,
            _ES_NUM,
            _ES_SCALE,
        )

        emb_es = load_table(spark, args.sf, "embeddings").select(
            "vec_id", "embedding"
        )
        evs_es = emb_es.filter(F.col("vec_id") % _ES_EVAL_MOD == 0)
        train_es = mat(
            multiplied(
                emb_es.filter(F.col("vec_id") % _ES_EVAL_MOD != 0),
                args.mult,
                ["vec_id"],
            ),
            "emb_esem",
        )
        quant_es = lambda col: F.transform(  # noqa: E731
            col,
            lambda x: F.round(x.cast("double") * _ES_SCALE).cast("long"),
        )
        ev_rows_es = sorted(
            evs_es.select(
                "vec_id", quant_es(F.col("embedding")).alias("q")
            ).collect(),
            key=lambda r: r["vec_id"],
        )
        ev_lit_es = F.array(
            *[
                F.struct(
                    F.lit(int(r["vec_id"])).alias("eid"),
                    F.array(*[F.lit(int(c)) for c in r["q"]]).alias("ev"),
                    F.lit(int(sum(c * c for c in r["q"]))).alias("en2"),
                )
                for r in ev_rows_es
            ]
        )
        tq_es = train_es.select(
            "vec_id", quant_es(F.col("embedding")).alias("tv")
        ).withColumn(
            "tn2",
            F.aggregate(
                F.transform("tv", lambda x: x * x),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        dec_es = "decimal(38,0)"
        pairs_es = tq_es.select(
            "vec_id", "tv", "tn2", F.explode(ev_lit_es).alias("e")
        ).select(
            "vec_id",
            F.col("e.eid").alias("eval_vec_id"),
            F.aggregate(
                F.zip_with("tv", F.col("e.ev"), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dot"),
            "tn2",
            F.col("e.en2").alias("en2"),
        )
        run(
            "esem_screen",
            pairs_es.filter(
                (F.col("dot") >= 0)
                & (
                    F.col("dot").cast(dec_es)
                    * F.col("dot").cast(dec_es)
                    * _ES_DEN
                    >= F.col("tn2").cast(dec_es)
                    * F.col("en2").cast(dec_es)
                    * _ES_NUM
                )
            ).select("vec_id", "eval_vec_id", "dot"),
        )

    # LSH recall curve (staged round 10): truth = inverted-index pair
    # join, candidates = banded join. Token-tagged multiplication so
    # cross-copy text never pairs — both pair sets must scale ∝ mult.
    if only is None or "recall_curve" in only:
        from market_pulse_data_pipeline_spark.functions.dedup import (
            lsh_candidate_pairs,
            minhash_signatures,
            shingle_hashes,
        )
        from market_pulse_data_pipeline_spark.queries.r13_staging import (
            _RC_BANDS,
            _RC_PERM,
        )

        docs_rc = tagged_docs("docs_recall")
        hsets_rc = (
            shingle_hashes(docs_rc, portable=True)
            .select("doc_id", F.array_distinct("hs").alias("hs"))
            .cache()
        )
        inv_rc = hsets_rc.select("doc_id", F.explode("hs").alias("h"))
        ta, tb = inv_rc.alias("a"), inv_rc.alias("b")
        truth_rc = (
            ta.join(
                tb,
                (F.col("a.h") == F.col("b.h"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        cand_rc = lsh_candidate_pairs(
            minhash_signatures(hsets_rc, _RC_PERM), _RC_BANDS
        ).withColumn("is_cand", F.lit(True))
        run(
            "recall_curve",
            truth_rc.join(cand_rc, ["doc_a", "doc_b"], "left").select(
                "doc_a",
                "doc_b",
                F.coalesce(F.col("is_cand"), F.lit(False)).alias("hit"),
            ),
        )

    # DSIR importance resampling (staged round 11,
    # queries/r14_staging.py): one B-bounded bucket aggregate with
    # map-side combine, the 128-row ratio table broadcast back, one
    # doc-keyed aggregate, map-only accept. Per-copy token tags grow
    # the bigram vocabulary N× (honest shuffle volume); cost must stay
    # linear in corpus bigrams.
    if only is None or "dsir_resample" in only:
        from market_pulse_data_pipeline_spark.queries.r14_staging import (
            _DS_B,
            _DS_CAP_MICRO,
            _DS_KEEP_DEN,
            _DS_TARGET_LANG,
            _DS_U_MAX,
            _h60,
        )

        docs_ds = tagged_docs("docs_dsir")
        tokd_ds = docs_ds.select(
            "doc_id", "lang", F.split("text", " ").alias("ws")
        ).filter(F.size("ws") >= 2)
        big_ds = tokd_ds.select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 2),"
                    " i -> concat_ws(' ', ws[i], ws[i + 1]))"
                )
            ).alias("bg"),
        ).select(
            "doc_id",
            "lang",
            F.pmod(_h60(F.col("bg")), F.lit(_DS_B)).alias("bucket"),
        )
        bstats_ds = big_ds.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("cr"),
            F.sum(
                F.when(F.col("lang") == _DS_TARGET_LANG, 1).otherwise(0)
            ).alias("ct"),
        )
        tot_ds = bstats_ds.agg(
            F.sum("cr").alias("tr"), F.sum("ct").alias("tt")
        )
        ratio_ds = bstats_ds.crossJoin(F.broadcast(tot_ds)).select(
            "bucket",
            F.least(
                F.round(
                    (
                        ((F.col("ct") + 1) * (F.col("tr") + _DS_B)) * 1.0
                        / ((F.col("cr") + 1) * (F.col("tt") + _DS_B))
                    ).cast("decimal(28,10)")
                    * 1000000,
                    0,
                ).cast("long"),
                F.lit(_DS_CAP_MICRO).cast("long"),
            ).alias("micro"),
        )
        dsc_ds = (
            big_ds.join(F.broadcast(ratio_ds), "bucket")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                F.sum("micro").cast("long").alias("score_micro"),
            )
        )
        u_ds = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("dsir:"), F.col("doc_id").cast("string")
                    ).cast("binary")
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        run(
            "dsir_resample",
            dsc_ds.select(
                "doc_id",
                "n_bigrams",
                "score_micro",
                (
                    u_ds * F.col("n_bigrams") * _DS_KEEP_DEN
                    < F.col("score_micro") * _DS_U_MAX
                ).alias("kept"),
            ),
        )

    # Containment excerpt dedup (staged round 11): df-capped
    # inverted-index pair generation. Per-copy token tags keep copies'
    # shingle universes disjoint, so candidate pairs grow LINEARLY
    # with the multiplier (a plain self-union would square them); the
    # recorded row count is the flagged pair count.
    if only is None or "containment" in only:
        from market_pulse_data_pipeline_spark.queries.r14_staging import (
            _CE_MAX_DF,
            _CE_MIN_PLANT_TOKS,
            _CE_MIN_SH,
            _CE_N,
            _CE_OFFSET,
            _CE_PCT,
            _CE_PLANT_MOD,
        )

        docs_ce = tagged_docs("docs_containment")
        src_ce = docs_ce.select(
            "doc_id", F.split(F.lower("text"), " ").alias("ws")
        ).filter(F.size("ws") >= _CE_N)
        exlen_ce = F.greatest(
            F.lit(_CE_N + 2), F.floor(F.size("ws") * 2 / 5).cast("int")
        )
        plants_ce = src_ce.filter(
            (F.col("doc_id") % _CE_PLANT_MOD == 0)
            & (F.size("ws") >= _CE_MIN_PLANT_TOKS)
        ).select(
            (F.col("doc_id") + _CE_OFFSET * args.mult).alias("doc_id"),
            F.slice("ws", F.lit(1), exlen_ce).alias("ws"),
        )
        corpus_ce = src_ce.unionByName(plants_ce)
        sh_ce = corpus_ce.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(ws) - {_CE_N - 1}),"
                    f" i -> md5(cast(concat_ws(' ', slice(ws, i, {_CE_N}))"
                    f" as binary)))"
                )
            ).alias("h"),
        ).distinct()
        # mirrors the registered r12 shape: window df-cap + one
        # materialization feeding all three consumers. The (eager)
        # checkpoint IS the expensive pass, so it gets its own timing
        # entry — the pair stage below times only the post-
        # materialization join + score work.
        from pyspark.sql import Window as WCE

        t0_cemat = time.time()
        kept_ce = (
            sh_ce.withColumn(
                "_df", F.count(F.lit(1)).over(WCE.partitionBy("h"))
            )
            .filter(F.col("_df") <= _CE_MAX_DF)
            .drop("_df")
            .localCheckpoint()
        )
        timings["containment_mat"] = round(time.time() - t0_cemat, 2)
        rows["containment_mat"] = 0
        sizes_ce = kept_ce.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_sh")
        )
        pa_ce, pb_ce = kept_ce.alias("a"), kept_ce.alias("b")
        pairs_ce = (
            pa_ce.join(
                pb_ce,
                (F.col("a.h") == F.col("b.h"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        run(
            "containment",
            pairs_ce.join(
                sizes_ce.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("n_sh").alias("n_a"),
                ),
                "doc_a",
            )
            .join(
                sizes_ce.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("n_sh").alias("n_b"),
                ),
                "doc_b",
            )
            .filter(
                (F.least("n_a", "n_b") >= _CE_MIN_SH)
                & (
                    10 * F.col("inter")
                    >= _CE_PCT * F.least("n_a", "n_b")
                )
            ),
        )

    # SoftDeDup commonness reweighting (staged round 11): distinct
    # shingles -> df hash aggregate -> ONE digest-keyed equi-join back
    # -> doc aggregate. No self-join, so cost must be LINEAR in corpus
    # shingles; per-copy token tags keep copies' shingle universes
    # disjoint so the df distribution (and output weights) is
    # preserved per copy instead of inflating df by the multiplier.
    if only is None or "softdedup" in only:
        from market_pulse_data_pipeline_spark.queries.r15_staging import (
            _SW_MIN_PLANT_TOKS,
            _SW_N,
            _SW_OFFSET,
            _SW_PLANT_MOD,
        )

        docs_sw = tagged_docs("docs_softdedup")
        src_sw = docs_sw.select(
            "doc_id", F.split(F.lower("text"), " ").alias("ws")
        ).filter(F.size("ws") >= _SW_N)
        plants_sw = src_sw.filter(
            (F.col("doc_id") % _SW_PLANT_MOD == 0)
            & (F.size("ws") >= _SW_MIN_PLANT_TOKS)
        ).select(
            (F.col("doc_id") + _SW_OFFSET * args.mult).alias("doc_id"),
            "ws",
        )
        corpus_sw = src_sw.unionByName(plants_sw)
        sh_sw = corpus_sw.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(ws) - {_SW_N - 1}),"
                    f" i -> md5(cast(concat_ws(' ', slice(ws, i, {_SW_N}))"
                    f" as binary)))"
                )
            ).alias("h"),
        ).distinct()
        # mirrors the registered r12 shape: per-digest df via one
        # shingle-partitioned window — join-free single chain
        from pyspark.sql import Window as WSW

        run(
            "softdedup",
            sh_sw.withColumn(
                "df", F.count(F.lit(1)).over(WSW.partitionBy("h"))
            )
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_sh"),
                F.sum("df").cast("long").alias("sum_df"),
            ),
        )

    # URL canonicalize + exact dedup (registered round 12): a map-only
    # regex chain over doc_id-derived URL variants, then ONE hash
    # aggregate on the canonical form (the registered query's ORDER BY
    # is presentation for the oracle, not part of the operator). The
    # variant families are doc_id-derived, so the key-remapped
    # multiplication scales canonical-group count linearly — cost must
    # be linear in docs with a single exchange.
    if only is None or "url_canon" in only:
        from market_pulse_data_pipeline_spark.queries.r15_staging import (
            _UC_FAM,
            _UC_FRAG,
            _UC_PORT,
            _UC_PREFIX,
            _UC_SLASH,
            _UC_TRACK,
        )

        docs_uc = mat(
            multiplied(
                load_table(spark, args.sf, "documents").select("doc_id"),
                args.mult,
                ["doc_id"],
            ),
            "docs_urlcanon",
        )
        fam_uc = (
            F.floor(F.col("doc_id") / _UC_FAM).cast("long").cast("string")
        )
        host_uc = F.concat(F.lit("www.site"), fam_uc, F.lit(".com"))
        v_uc = F.col("doc_id") % _UC_FAM
        url_uc = (
            F.when(
                v_uc == 0, F.concat(F.lit("https://"), host_uc, F.lit("/a/b"))
            )
            .when(
                v_uc == 1,
                F.concat(
                    F.lit("HTTPS://"), F.upper(host_uc), F.lit("/a/b#frag")
                ),
            )
            .when(
                v_uc == 2,
                F.concat(
                    F.lit("https://"),
                    host_uc,
                    F.lit(":443/a/b?utm_source=feed&utm_medium=rss"),
                ),
            )
            .when(
                v_uc == 3,
                F.concat(F.lit("https://"), host_uc, F.lit("/a/b/")),
            )
            .otherwise(F.concat(F.lit("https://"), host_uc, F.lit("/other")))
        )
        st_uc = docs_uc.select(
            "doc_id",
            F.regexp_replace(
                F.regexp_replace(url_uc, _UC_FRAG, ""), _UC_TRACK, ""
            ).alias("u2"),
        )
        sp_uc = st_uc.select(
            "doc_id",
            "u2",
            F.regexp_extract("u2", _UC_PREFIX, 1).alias("prefix"),
        )
        rest_uc = F.col("u2").substr(
            F.length("prefix") + 1, F.length("u2")
        )
        canonical_uc = F.concat(
            F.regexp_replace(F.lower("prefix"), _UC_PORT, ""),
            F.regexp_replace(rest_uc, _UC_SLASH, ""),
        )
        run(
            "url_canon",
            sp_uc.select("doc_id", canonical_uc.alias("canonical_url"))
            .groupBy("canonical_url")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.min("doc_id").alias("keep_doc_id"),
            ),
        )

    # TV-distance source drift (registered round 13, one-pass fold):
    # ONE tagged corpus pass — each doc emits old/new bucket structs
    # via a 2-element explode — then a (source, bucket) hash aggregate
    # and a model-sized per-source fold. Sources don't multiply, so
    # histogram state is CONSTANT while counts grow: cost must be
    # linear in docs with one corpus-side exchange.
    if only is None or "tv_drift" in only:
        # the SHIPPING one-pass fold, not a copy: tv_bucket_histogram is
        # the same code path the registered query executes, so this
        # stress row always measures the operator as it ships
        from market_pulse_data_pipeline_spark.queries.r17_staging import (
            tv_bucket_histogram,
        )

        docs_tv = mat(
            multiplied(
                load_table(spark, args.sf, "documents").select(
                    "doc_id", "source", "n_chars"
                ),
                args.mult,
                ["doc_id"],
            ),
            "docs_tvdrift",
        )
        hist_tv = tv_bucket_histogram(docs_tv)
        run(
            "tv_drift",
            hist_tv.groupBy("source").agg(
                F.sum("a").alias("n"),
                F.sum("b").alias("m"),
                F.count(F.lit(1)).cast("long").alias("n_buckets"),
            ),
        )

    # Span-preserving tokenization (registered round 13): posexplode to
    # tokens then a doc-PARTITIONED running-sum window for character
    # offsets — the window shuffle is keyed on doc_id, so partitions
    # stay doc-sized however many docs there are. Output rows = token
    # count: cost must be linear in tokens.
    if only is None or "token_spans" in only:
        docs_ts = mat(
            multiplied(
                load_table(spark, args.sf, "documents").select(
                    "doc_id", "text"
                ),
                args.mult,
                ["doc_id"],
            ),
            "docs_tokspans",
        )
        tk_ts = docs_ts.select(
            "doc_id",
            "text",
            F.posexplode(F.split("text", " ")).alias("pos", "token"),
        )
        from pyspark.sql import Window as WTS

        w_ts = (
            WTS.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(WTS.unboundedPreceding, -1)
        )
        sp_ts = tk_ts.select(
            "doc_id",
            "text",
            F.col("pos").cast("long").alias("pos"),
            "token",
            F.coalesce(
                F.sum(F.length("token") + 1).over(w_ts), F.lit(0)
            )
            .cast("long")
            .alias("start_off"),
        ).select(
            "doc_id",
            "pos",
            "token",
            "start_off",
            (
                F.expr(
                    "substring(text, cast(start_off as int) + 1, "
                    "length(token))"
                )
                == F.col("token")
            ).alias("ok"),
        )
        run("token_spans", sp_ts)

    # Four-quadrant incremental view maintenance (registered round 13):
    # the bootstrap quadrant is the one big-big shuffle join; the three
    # delta quadrants broadcast their delta side. Both fact sides
    # multiply with co-offset keys, so join fan-out stays linear and
    # the nation-grouped state is CONSTANT; cost must track the
    # bootstrap join.
    if only is None or "delta_ivm" in only:
        from market_pulse_data_pipeline_spark.queries.r16_staging import (
            _DV_CUST_MOD,
            _DV_ORD_MOD,
        )

        ord_dv = mat(
            multiplied(
                load_table(spark, args.sf, "orders").select(
                    "o_orderkey", "o_custkey", "o_totalprice"
                ),
                args.mult,
                ["o_orderkey", "o_custkey"],
            ),
            "orders_deltaivm",
        )
        cust_dv = mat(
            multiplied(
                load_table(spark, args.sf, "customer").select(
                    "c_custkey", "c_nationkey"
                ),
                args.mult,
                ["c_custkey"],
            ),
            "cust_deltaivm",
        )
        nat_dv = load_table(spark, args.sf, "nation").select(
            "n_nationkey", "n_name"
        )
        a0_dv = ord_dv.filter(F.col("o_orderkey") % _DV_ORD_MOD != 0)
        da_dv = ord_dv.filter(F.col("o_orderkey") % _DV_ORD_MOD == 0)
        b0_dv = cust_dv.filter(F.col("c_custkey") % _DV_CUST_MOD != 0)
        db_dv = cust_dv.filter(F.col("c_custkey") % _DV_CUST_MOD == 0)

        def partial_dv(o, c, bcast):
            if bcast == "orders":
                j = F.broadcast(o).join(
                    c, o["o_custkey"] == c["c_custkey"]
                )
            elif bcast == "customer":
                j = o.join(
                    F.broadcast(c), o["o_custkey"] == c["c_custkey"]
                )
            else:
                j = o.join(c, o["o_custkey"] == c["c_custkey"])
            return (
                j.join(
                    F.broadcast(nat_dv),
                    F.col("c_nationkey") == F.col("n_nationkey"),
                )
                .groupBy("n_name")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        F.col("o_totalprice").cast("decimal(20,2)")
                    ).alias("s"),
                )
            )

        state_dv = (
            partial_dv(a0_dv, b0_dv, "none")
            .unionByName(partial_dv(da_dv, b0_dv, "orders"))
            .unionByName(partial_dv(a0_dv, db_dv, "customer"))
            .unionByName(partial_dv(da_dv, db_dv, "customer"))
        )
        run(
            "delta_ivm",
            state_dv.groupBy("n_name").agg(
                F.sum("n").cast("long").alias("n_orders"),
                F.round(F.sum("s"), 2).cast("double").alias("revenue"),
            ),
        )

    # t-closeness audit (staged r13 for round 15): fact and dim
    # multiply with co-offset custkeys; the QI grain (nation, segment,
    # balance bucket) does NOT multiply, so group count is constant
    # while per-group counts grow — everything after the one corpus
    # join+aggregate is QI-domain bounded and cost must be linear.
    if only is None or "t_closeness" in only:
        from market_pulse_data_pipeline_spark.queries.r23_staging import (
            t_closeness_check_from,
        )

        ord_tc = mat(
            multiplied(
                load_table(spark, args.sf, "orders").select(
                    "o_custkey", "o_orderpriority"
                ),
                args.mult,
                ["o_custkey"],
            ),
            "orders_tclose",
        )
        cust_tc = mat(
            multiplied(
                load_table(spark, args.sf, "customer").select(
                    "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
                ),
                args.mult,
                ["c_custkey"],
            ),
            "cust_tclose",
        )
        run("t_closeness", t_closeness_check_from(ord_tc, cust_tc))

    # Per-lang AUC (staged r13 for round 15): langs and the score
    # domain do not multiply, so the histogram and the lang-partitioned
    # cumulative window stay bounded while the one corpus aggregate
    # scales — cost must be linear in docs.
    if only is None or "auc_per_lang" in only:
        from market_pulse_data_pipeline_spark.queries.r23_staging import (
            auc_quality_classifier_from,
        )

        run(
            "auc_per_lang",
            auc_quality_classifier_from(
                mat(
                    multiplied(
                        load_table(spark, args.sf, "documents").select(
                            "doc_id", "lang", "n_chars"
                        ),
                        args.mult,
                        ["doc_id"],
                    ),
                    "docs_auc",
                )
            ),
        )

    # UniMax waterfill (staged r13 for round 15): sources do not
    # multiply, so the K-row self-join frame is constant; only the one
    # per-source token aggregate scales — cost must be linear in docs.
    if only is None or "unimax_alloc" in only:
        from market_pulse_data_pipeline_spark.queries.r23_staging import (
            unimax_epoch_cap_allocation_from,
        )

        run(
            "unimax_alloc",
            unimax_epoch_cap_allocation_from(
                mat(
                    multiplied(
                        load_table(spark, args.sf, "documents").select(
                            "doc_id", "source", "text"
                        ),
                        args.mult,
                        ["doc_id"],
                    ).select("source", "text"),
                    "docs_unimax",
                )
            ),
        )

    # Portable-bloom decontamination probe (staged round 11 for round
    # 16): the eval set (and hence the bloom array) is FIXED while the
    # corpus multiplies — the real decontamination asymmetry. The probe
    # is a map-side expression against a bounded array plus one
    # doc-keyed aggregate, so cost must be LINEAR in corpus grams.
    if only is None or "bloom_probe" in only:
        from market_pulse_data_pipeline_spark.functions.dedup import (
            portable_hash60,
        )
        from market_pulse_data_pipeline_spark.queries.r16_staging import (
            _BL_EVAL_MOD,
            _BL_K,
            _BL_M,
            _BL_N,
            _BL_NWORDS,
            _BL_WORD,
            _bl_positions_col,
        )

        docs_bl = load_table(spark, args.sf, "documents").select(
            "doc_id", "text"
        )

        def _grams_bl(df: DataFrame) -> DataFrame:
            toks = df.select(
                "doc_id", F.split("text", " ").alias("ws")
            ).filter(F.size("ws") >= _BL_N)
            return toks.select(
                "doc_id",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("ws") - (_BL_N - 1)),
                        lambda i: portable_hash60(
                            F.concat_ws(" ", F.slice(F.col("ws"), i, _BL_N))
                        ),
                    )
                ).alias("g"),
            )

        eg_bl = (
            _grams_bl(docs_bl.filter(F.col("doc_id") % _BL_EVAL_MOD == 0))
            .select("g")
            .distinct()
        )
        words_bl = (
            eg_bl.select(
                F.explode(
                    F.array(*_bl_positions_col(F.col("g")))
                ).alias("pos")
            )
            .select(
                F.floor(F.col("pos") / _BL_WORD).cast("int").alias("widx"),
                F.expr(
                    f"shiftleft(1L, cast(pos % {_BL_WORD} as int))"
                ).alias("mask"),
            )
            .groupBy("widx")
            .agg(F.bit_or("mask").alias("w"))
        )
        arr_bl = [0] * _BL_NWORDS
        for wrow in words_bl.collect():  # bounded: _BL_NWORDS longs
            arr_bl[wrow["widx"]] = wrow["w"]
        ba_bl = F.lit(arr_bl)
        corpus_bl = mat(
            multiplied(docs_bl, args.mult, ["doc_id"]), "docs_bloom"
        )
        tg_bl = _grams_bl(corpus_bl).select(
            "doc_id",
            *[
                pos.alias(f"pos_{j}")
                for j, pos in enumerate(_bl_positions_col(F.col("g")))
            ],
        )
        hit_bl = None
        for j in range(_BL_K):
            mask_j = F.expr(
                f"shiftleft(1L, cast(pos_{j} % {_BL_WORD} as int))"
            )
            word_j = F.get(
                ba_bl, F.floor(F.col(f"pos_{j}") / _BL_WORD).cast("int")
            )
            cond = word_j.bitwiseAND(mask_j) == mask_j
            hit_bl = cond if hit_bl is None else (hit_bl & cond)
        run(
            "bloom_probe",
            tg_bl.select("doc_id", hit_bl.alias("hit"))
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_grams"),
                F.sum(F.col("hit").cast("int")).cast("long").alias(
                    "n_bloom"
                ),
            ),
        )

    # HTML tag-strip extraction (staged round 11 for round 16): a
    # 6-pattern regex chain per document, zero joins, zero shuffles —
    # the embarrassingly-parallel WET step. Must scale linearly in
    # corpus bytes.
    if only is None or "html_extract" in only:
        from market_pulse_data_pipeline_spark.queries.r16_staging import (
            _HT_COMMENT,
            _HT_COMMENT_BLOCK,
            _HT_ENTITIES,
            _HT_FOOTER,
            _HT_SCRIPT,
            _HT_SCRIPT_BLOCK,
            _HT_STYLE,
            _HT_STYLE_BLOCK,
            _HT_TAG,
            _HT_WS,
        )

        docs_ht = mat(
            multiplied(
                load_table(spark, args.sf, "documents").select(
                    "doc_id", "text"
                ),
                args.mult,
                ["doc_id"],
            ),
            "docs_html",
        )
        html_ht = F.concat(
            F.lit("<html><body>"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit(_HT_SCRIPT_BLOCK)
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 4 == 0, F.lit(_HT_STYLE_BLOCK)
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0, F.lit(_HT_COMMENT_BLOCK)
            ).otherwise(F.lit("")),
            F.lit("<p>"),
            F.regexp_replace(F.col("text"), " ", "</p> <p>"),
            F.lit("</p>"),
            F.lit(_HT_FOOTER),
            F.lit("</body></html>"),
        )
        u_ht = html_ht
        for pat in (_HT_COMMENT, _HT_SCRIPT, _HT_STYLE, _HT_TAG):
            u_ht = F.regexp_replace(u_ht, pat, " ")
        for src_e, dst_e in _HT_ENTITIES:
            u_ht = F.replace(u_ht, F.lit(src_e), F.lit(dst_e))
        ex_ht = F.trim(F.regexp_replace(u_ht, _HT_WS, " "))
        run(
            "html_extract",
            docs_ht.select(
                "doc_id",
                F.length(ex_ht).cast("long").alias("n_chars"),
                F.md5(F.encode(ex_ht, "utf-8")).alias("extract_md5"),
            ),
        )

    # Trigram substring-index probe (registered round 14):
    # the doc-side trigram stream is filtered MAP-SIDE to the query
    # trigram set before the distinct/coverage join, so the shuffled
    # volume is (query-relevant trigram, doc) pairs only — cost must
    # be linear in corpus characters.
    if only is None or "trigram_probe" in only:
        from market_pulse_data_pipeline_spark.queries.r20_staging import (
            _TG_PATTERNS,
            _trigrams,
        )

        docs_tg = mat(
            multiplied(
                load_table(spark, args.sf, "documents").select(
                    "doc_id", "text"
                ),
                args.mult,
                ["doc_id"],
            ),
            "docs_trigram",
        )
        pat_tris_st = {p: _trigrams(p) for p in _TG_PATTERNS}
        all_tris_st = sorted(
            {g for ts_ in pat_tris_st.values() for g in ts_}
        )
        ptri_st = spark.createDataFrame(
            [(p, g) for p, ts_ in pat_tris_st.items() for g in set(ts_)],
            ["pattern", "tri"],
        )
        pn_st = {p: len(set(ts_)) for p, ts_ in pat_tris_st.items()}
        tri_expr_st = F.transform(
            F.sequence(F.lit(1), F.length("text") - 2),
            lambda i: F.substring(F.col("text"), i, F.lit(3)),
        )
        dtri_st = (
            docs_tg.select("doc_id", F.explode(tri_expr_st).alias("tri"))
            .filter(F.col("tri").isin(all_tris_st))
            .distinct()
        )
        n_tri_col_st = F.coalesce(
            *[
                F.when(F.col("pattern") == p, F.lit(n))
                for p, n in pn_st.items()
            ]
        )
        run(
            "trigram_probe",
            dtri_st.join(F.broadcast(ptri_st), "tri")
            .groupBy("pattern", "doc_id")
            .agg(F.count(F.lit(1)).alias("n_cov"))
            .filter(F.col("n_cov") == n_tri_col_st)
            .select("pattern", "doc_id"),
        )

    # Incremental sessionization (registered round 14):
    # per-batch sessionize + boundary stitch. Windows are per-user
    # (key-remapped multiplication grows the user domain, not the
    # per-user history), so the stage must scale linearly in events.
    if only is None or "inc_session" in only:
        from market_pulse_data_pipeline_spark.queries import (
            QUERY_REGISTRY as _REG_IS,
        )

        ev_is = mat(
            multiplied(
                load_table(spark, args.sf, "events").select(
                    "user_id", "event_id", "ts"
                ),
                args.mult,
                ["user_id", "event_id"],
            ),
            "events_incsess",
        )
        path_is = os.path.join(cache_root, "events_incsess_src")
        if not os.path.exists(os.path.join(path_is, "_SUCCESS")):
            ev_is.write.mode("overwrite").parquet(path_is)
        # reuse the staged implementation verbatim against the
        # multiplied events (its t() loads <dir>/events.parquet)
        import glob as _glob
        import shutil as _shutil

        stage_dir = os.path.join(cache_root, "events_incsess_tbl")
        os.makedirs(stage_dir, exist_ok=True)
        tbl = os.path.join(stage_dir, "events.parquet")
        if not os.path.exists(tbl):
            parts = _glob.glob(os.path.join(path_is, "part-*.parquet"))
            if len(parts) == 1:
                _shutil.copy(parts[0], tbl)
            else:
                spark.read.parquet(path_is).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(tbl + ".dir")
                part = _glob.glob(
                    os.path.join(tbl + ".dir", "part-*.parquet")
                )[0]
                _shutil.copy(part, tbl)
        run(
            "inc_session",
            _REG_IS["incremental_sessionization"].spark(
                spark, stage_dir
            ),
        )

    print(json.dumps({"mult": args.mult, "rows": rows, "seconds": timings}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
