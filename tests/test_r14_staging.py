"""Semantic pins for the round-12 registrations, third batch
(queries/r14_staging.py — staged in round 11, flipped to @register in
round 12 under VERDICT round-11 item 7's accelerated drain). Oracle
parity is covered by the registry-wide tools/check_oracle.py sweep;
this file keeps the invariants the value-hash can't
express: an engine-free pure-python replay of the whole DSIR scoring
chain, the target-tilt property DSIR exists for, the excerpt-plant
containment-vs-Jaccard gap, and the reliability-diagram algebra."""

import hashlib
from decimal import ROUND_HALF_UP, Decimal

import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.r14_staging import (
    _CE_MIN_SH,
    _CE_OFFSET,
    _CE_PCT,
    _DS_B,
    _DS_CAP_MICRO,
    _DS_KEEP_DEN,
    _DS_TARGET_LANG,
    _DS_U_MAX,
    _EC_BINS,
)

R14_NAMES = [
    "dsir_importance_resample",
    "containment_excerpt_dups",
    "quality_calibration_ece",
]

STAGED = {n: QUERY_REGISTRY[n] for n in R14_NAMES if n in QUERY_REGISTRY}


def test_r14_registration_composition():
    from market_pulse_data_pipeline_spark.queries import _DRIVER_GREEN

    # registered in round 12 (the third batch of the accelerated drain),
    # first driver witness green in CORRECTNESS_r12 (the ledger records it)
    assert set(R14_NAMES) <= set(QUERY_REGISTRY)
    assert all(_DRIVER_GREEN.get(x) == 12 for x in R14_NAMES)
    assert all(d.oracle is not None for d in STAGED.values())


@pytest.mark.parametrize("name", R14_NAMES)
def test_r14_plan_antipatterns(spark, sf_dir, name):
    df = STAGED[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


# --------------------------------------------------------------------
# dsir_importance_resample
# --------------------------------------------------------------------


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def _dsir_replay(sf_dir: str):
    """Engine-free replay of the full DSIR chain: bucket counts,
    decimal-route ratio quantization, per-doc integer scores, and the
    cross-multiplied keep rule."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT doc_id, lang, text "
        f"FROM read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    cr: dict[int, int] = {}
    ct: dict[int, int] = {}
    doc_buckets: dict[int, list[int]] = {}
    for doc_id, lang, text in rows:
        ws = text.split(" ")
        if len(ws) < 2:
            continue
        bks = [
            _h60(ws[i] + " " + ws[i + 1]) % _DS_B
            for i in range(len(ws) - 1)
        ]
        doc_buckets[doc_id] = bks
        for b in bks:
            cr[b] = cr.get(b, 0) + 1
            if lang == _DS_TARGET_LANG:
                ct[b] = ct.get(b, 0) + 1
    tr, tt = sum(cr.values()), sum(ct.values())
    micro = {}
    for b, c_raw in cr.items():
        # replicate: CAST((num/den) AS DECIMAL(28,10)) * 1e6, ROUND(.,0)
        q = ((ct.get(b, 0) + 1) * (tr + _DS_B)) / ((c_raw + 1) * (tt + _DS_B))
        d = Decimal(q).quantize(Decimal("1e-10"), rounding=ROUND_HALF_UP)
        m = int((d * 1_000_000).quantize(Decimal("1"), rounding=ROUND_HALF_UP))
        micro[b] = min(m, _DS_CAP_MICRO)
    out = {}
    for doc_id, bks in doc_buckets.items():
        score = sum(micro[b] for b in bks)
        u = int(
            hashlib.md5(f"dsir:{doc_id}".encode()).hexdigest()[:6], 16
        )
        kept = u * len(bks) * _DS_KEEP_DEN < score * _DS_U_MAX
        out[doc_id] = (len(bks), score, kept)
    return out


@pytest.fixture(scope="module")
def dsir_rows(spark, sf_dir):
    return {
        r.doc_id: r
        for r in STAGED["dsir_importance_resample"].spark(spark, sf_dir).collect()
    }


def test_dsir_pure_python_replay(dsir_rows, sf_dir):
    replay = _dsir_replay(sf_dir)
    assert set(replay) == set(dsir_rows)
    for doc_id, (nb, score, kept) in replay.items():
        r = dsir_rows[doc_id]
        assert r.n_bigrams == nb, doc_id
        assert r.score_micro == score, doc_id
        assert r.kept == kept, doc_id


def test_dsir_tilts_toward_the_target(dsir_rows):
    # the point of DSIR: target-language docs carry higher importance
    # on average. The fixture's languages share one synthetic
    # vocabulary (the reason lang_id_rank_profile needed a
    # distinct-charset pin), so the tilt is small — the MEAN moves,
    # while per-lang keep RATES stay noise-dominated because the
    # md5-uniform draw is independent of the ~1% ratio spread; the
    # keep rule itself is pinned bit-for-bit by the replay above.
    en = [r for r in dsir_rows.values() if r.lang == _DS_TARGET_LANG]
    rest = [r for r in dsir_rows.values() if r.lang != _DS_TARGET_LANG]
    assert en and rest
    mean_en = sum(r.avg_ratio for r in en) / len(en)
    mean_rest = sum(r.avg_ratio for r in rest) / len(rest)
    assert mean_en > mean_rest
    # resampling actually samples: neither everything nor nothing
    kept_total = sum(r.kept for r in dsir_rows.values())
    assert 0 < kept_total < len(dsir_rows)


# --------------------------------------------------------------------
# containment_excerpt_dups
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def ce_rows(spark, sf_dir):
    return STAGED["containment_excerpt_dups"].spark(spark, sf_dir).collect()


def test_containment_flags_planted_excerpts(ce_rows):
    # planted excerpt twins (id = source + offset) must surface with
    # containment exactly 1.0: the excerpt's df-capped shingle set is a
    # subset of its source's (the cap removes a shingle from BOTH docs
    # or neither), so inter == n_small identically
    planted = [
        r
        for r in ce_rows
        if r.doc_small >= _CE_OFFSET
        and r.doc_big == r.doc_small - _CE_OFFSET
        or r.doc_big >= _CE_OFFSET
        and r.doc_small == r.doc_big - _CE_OFFSET
    ]
    assert planted, "no planted excerpt pair was flagged"
    for r in planted:
        assert r.containment == 1.0
        # the operator's reason to exist: these pairs sit BELOW the
        # symmetric near-dup threshold the Jaccard family uses
        assert r.jaccard < 0.8


def test_containment_threshold_is_integer_exact(ce_rows):
    for r in ce_rows:
        assert r.n_small >= _CE_MIN_SH
        assert 10 * r.inter >= _CE_PCT * r.n_small
        assert r.inter <= r.n_small <= r.n_big
        assert 0.0 < r.jaccard <= r.containment <= 1.0


def test_containment_pair_gen_matches_self_join(spark, sf_dir):
    # r17 equivalence pin: the bounded per-shingle doc-set pair
    # generator (window df-cap -> collect_set -> map-side C(k,2)) must
    # produce exactly the (doc_a, doc_b, inter) and (doc_id, n_sh)
    # multisets of the verbatim r14 keptsh self-join it replaced.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from market_pulse_data_pipeline_spark.queries.common import t
    from market_pulse_data_pipeline_spark.queries.r14_staging import (
        _CE_MAX_DF,
        _CE_MIN_PLANT_TOKS,
        _CE_N,
        _CE_PLANT_MOD,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    src = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("ws")
    ).filter(F.size("ws") >= _CE_N)
    ex_len = F.greatest(
        F.lit(_CE_N + 2), F.floor(F.size("ws") * 2 / 5).cast("int")
    )
    plants = src.filter(
        (F.col("doc_id") % _CE_PLANT_MOD == 0)
        & (F.size("ws") >= _CE_MIN_PLANT_TOKS)
    ).select(
        (F.col("doc_id") + _CE_OFFSET).alias("doc_id"),
        F.slice("ws", F.lit(1), ex_len).alias("ws"),
    )
    corpus = src.unionByName(plants)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("ws") - _CE_N),
        lambda i: F.md5(
            F.encode(F.concat_ws(" ", F.slice("ws", i + 1, _CE_N)), "utf-8")
        ),
    )
    sh = corpus.select("doc_id", F.explode(grams).alias("h")).distinct()
    df_w = Window.partitionBy("h")
    keptsh = (
        sh.withColumn("_df", F.count(F.lit(1)).over(df_w))
        .filter(F.col("_df") <= _CE_MAX_DF)
        .drop("_df")
        .localCheckpoint()
    )
    legacy_sizes = sorted(
        (r.doc_id, r["count"])
        for r in keptsh.groupBy("doc_id").count().collect()
    )
    a, b = keptsh.alias("a"), keptsh.alias("b")
    legacy_pairs = sorted(
        (r.doc_a, r.doc_b, r.inter)
        for r in a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
        .collect()
    )

    grp = (
        sh.withColumn("_df", F.count(F.lit(1)).over(df_w))
        .filter(F.col("_df") <= _CE_MAX_DF)
        .groupBy("h")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .localCheckpoint()
    )
    ds = F.col("ds")
    pair_arr = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + F.lit(2), F.size(ds)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    new_sizes = sorted(
        (r.doc_id, r["count"])
        for r in grp.select(F.explode(ds).alias("doc_id"))
        .groupBy("doc_id")
        .count()
        .collect()
    )
    new_pairs = sorted(
        (r.doc_a, r.doc_b, r.inter)
        for r in grp.select(F.explode(pair_arr).alias("pr"))
        .groupBy(
            F.col("pr.a").alias("doc_a"),
            F.col("pr.b").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
        .collect()
    )
    assert new_sizes == legacy_sizes
    assert new_pairs == legacy_pairs
    # every per-shingle buffer is bounded by the df-cap
    assert grp.agg(F.max(F.size("ds"))).first()[0] <= _CE_MAX_DF


# --------------------------------------------------------------------
# quality_calibration_ece
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def ece_rows(spark, sf_dir):
    return STAGED["quality_calibration_ece"].spark(spark, sf_dir).collect()


def test_ece_bins_cover_the_corpus(ece_rows, sf_dir):
    import duckdb

    n_docs = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchone()[0]
    assert sum(r.n_docs for r in ece_rows) == n_docs
    bins = [r.bin for r in ece_rows]
    assert bins == sorted(bins)
    assert all(0 <= b <= _EC_BINS - 1 for b in bins)


def test_ece_bin_algebra(ece_rows):
    # mean confidence sits inside its bin's span (bin 9 absorbs 1.0),
    # accuracy is a fraction, and the ECE statistic is computable from
    # exactly these rows
    for r in ece_rows:
        lo, hi = r.bin / 10.0, (r.bin + 1) / 10.0
        slack = 1e-4  # round_div rounds mean_conf to 4 digits
        assert lo - slack <= r.mean_conf <= (
            1.0 if r.bin == _EC_BINS - 1 else hi
        ) + slack
        assert 0.0 <= r.accuracy <= 1.0
    n = sum(r.n_docs for r in ece_rows)
    ece = sum(r.n_docs * abs(r.accuracy - r.mean_conf) for r in ece_rows) / n
    assert 0.0 <= ece <= 1.0
