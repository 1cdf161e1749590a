"""Semantic pins for the round-13 registrations, second batch
(queries/r17_staging.py — staged in round 11, flipped to @register in
round 13 under VERDICT round-12 item 2's accelerated drain). Oracle
parity is covered by the registry-wide tools/check_oracle.py sweep;
this file keeps the invariants the value-hash can't
express: the k ∝ N scaling rule and population bound for scaled
SemDeDup (plus dropped == planted), an exact-Fraction replay of the
total-variation drift arithmetic, and the l-diversity homogeneity
witness (groups that PASS k-anonymity yet violate l)."""

from fractions import Fraction

import duckdb
import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.r17_staging import (
    _LD_BAL_BUCKET,
    _LD_L,
    _SS_PLANT_OFFSET,
    _SS_POP,
    _TV_ALERT_DEN,
    _TV_ALERT_NUM,
    _TV_BUCKET,
    _TV_DROP_MOD,
    _TV_GROW,
    _TV_GROW_MOD,
)

R17_NAMES = [
    "semdedup_scaled_prune",
    "tv_distance_source_drift",
    "l_diversity_check",
]

STAGED = {n: QUERY_REGISTRY[n] for n in R17_NAMES if n in QUERY_REGISTRY}


def test_r17_registration_composition():
    from market_pulse_data_pipeline_spark.queries import _DRIVER_GREEN

    # registered in round 13 (the second accelerated drain), first
    # driver witness green in CORRECTNESS_r13 (the ledger records it)
    assert set(R17_NAMES) <= set(QUERY_REGISTRY)
    assert all(_DRIVER_GREEN.get(x) == 13 for x in R17_NAMES)
    assert all(d.oracle is not None for d in STAGED.values())


@pytest.mark.parametrize("name", R17_NAMES)
def test_r17_plan_antipatterns(spark, sf_dir, name):
    df = STAGED[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    # semdedup's Lloyd assignment is the repo's sanctioned Arrow-batched
    # pandas_udf (ArrowEvalPython) — row-at-a-time Python stays banned
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


# --------------------------------------------------------------------
# semdedup_scaled_prune
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def ss_rows(spark, sf_dir):
    return STAGED["semdedup_scaled_prune"].spark(spark, sf_dir).collect()


def _expected_k(sf_dir: str) -> tuple[int, int]:
    n = duckdb.sql(
        f"SELECT COUNT(*) FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchone()[0]
    plants = duckdb.sql(
        f"SELECT COUNT(*) FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') WHERE vec_id % 13 = 0"
    ).fetchone()[0]
    total = n + plants
    return total, (total + _SS_POP - 1) // _SS_POP


def test_scaled_k_rule_and_population_bound(ss_rows, sf_dir):
    """THE scaling contract (VERDICT r10 item 4): k = ceil(N / 50), so
    mean cluster population <= 50 BY CONSTRUCTION at every corpus
    size; the observed max stays within 2x of target on the fixture
    (k-means balance, not a guarantee — the mean is the guarantee)."""
    total, k = _expected_k(sf_dir)
    assert len(ss_rows) == total
    clusters = {}
    for r in ss_rows:
        assert 0 <= r.cluster < k, r.vec_id
        clusters[r.cluster] = clusters.get(r.cluster, 0) + 1
    assert len(clusters) <= k
    assert total / k <= _SS_POP  # the construction guarantee
    assert max(clusters.values()) <= 2 * _SS_POP  # fixture balance
    # k actually tracks N: with the fixture's 539 vectors the constant
    # k=10 of semdedup_prune would already be wrong here
    assert k == (total + _SS_POP - 1) // _SS_POP and k > 10


def test_scaled_drops_exactly_the_planted_copies(ss_rows):
    dropped = {r.vec_id for r in ss_rows if r.dropped}
    planted = {r.vec_id for r in ss_rows if r.vec_id >= _SS_PLANT_OFFSET}
    assert planted, "fixture lost its planted copies"
    # every planted copy has cosine ~1 with its original, both land in
    # the same cluster, and the higher id (the plant) drops
    assert dropped == planted


# --------------------------------------------------------------------
# tv_distance_source_drift
# --------------------------------------------------------------------


def _tv_replay(sf_dir: str) -> dict[str, tuple[int, int, int, Fraction]]:
    """Engine-free replay: source -> (n_old, n_new, n_buckets, TV as an
    exact Fraction)."""
    rows = duckdb.sql(
        f"SELECT doc_id, source, n_chars FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    old_h: dict[tuple[str, int], int] = {}
    new_h: dict[tuple[str, int], int] = {}
    for doc_id, source, n_chars in rows:
        old_h[(source, n_chars // _TV_BUCKET)] = (
            old_h.get((source, n_chars // _TV_BUCKET), 0) + 1
        )
        if doc_id % _TV_DROP_MOD != 0:
            nc = (
                n_chars + _TV_GROW
                if doc_id % _TV_GROW_MOD == 0
                else n_chars
            )
            new_h[(source, nc // _TV_BUCKET)] = (
                new_h.get((source, nc // _TV_BUCKET), 0) + 1
            )
    out = {}
    sources = {s for s, _ in old_h} | {s for s, _ in new_h}
    for s in sources:
        buckets = {b for s2, b in old_h if s2 == s} | {
            b for s2, b in new_h if s2 == s
        }
        n = sum(old_h.get((s, b), 0) for b in buckets)
        m = sum(new_h.get((s, b), 0) for b in buckets)
        num = sum(
            abs(old_h.get((s, b), 0) * m - new_h.get((s, b), 0) * n)
            for b in buckets
        )
        out[s] = (n, m, len(buckets), Fraction(num, 2 * n * m))
    return out


@pytest.fixture(scope="module")
def tv_rows(spark, sf_dir):
    return STAGED["tv_distance_source_drift"].spark(spark, sf_dir).collect()


def test_tv_replay_exact(tv_rows, sf_dir):
    expect = _tv_replay(sf_dir)
    assert {r.source for r in tv_rows} == set(expect)
    for r in tv_rows:
        n, m, n_buckets, tv = expect[r.source]
        assert (r.n_old, r.n_new, r.n_buckets) == (n, m, n_buckets)
        # the alert is the EXACT cross-multiplied comparison — replay it
        # on the unrounded Fraction, never on the displayed double
        assert r.drift_alert == (
            tv > Fraction(_TV_ALERT_NUM, _TV_ALERT_DEN)
        ), r.source
        assert abs(r.tv_distance - float(tv)) < 5e-5, r.source
        assert 0 <= r.tv_distance <= 1


def test_tv_snapshot_edit_honored(tv_rows, sf_dir):
    """The synthetic new snapshot drops every 31st doc: per-source
    totals must reflect exactly that removal."""
    drops = dict(
        duckdb.sql(
            f"SELECT source, COUNT(*) FILTER (doc_id % {_TV_DROP_MOD} = 0) "
            f"FROM read_parquet('{sf_dir}/documents.parquet') GROUP BY 1"
        ).fetchall()
    )
    for r in tv_rows:
        assert r.n_new == r.n_old - drops[r.source], r.source


# --------------------------------------------------------------------
# l_diversity_check
# --------------------------------------------------------------------


def _ldiv_replay(sf_dir: str) -> dict[tuple, tuple[int, int]]:
    rows = duckdb.sql(
        f"""
        SELECT c.c_nationkey, c.c_mktsegment,
               CAST(floor(c.c_acctbal / {_LD_BAL_BUCKET}) AS BIGINT),
               o.o_orderpriority
        FROM read_parquet('{sf_dir}/customer.parquet') c
        JOIN read_parquet('{sf_dir}/orders.parquet') o
          ON o.o_custkey = c.c_custkey
        """
    ).fetchall()
    counts: dict[tuple, int] = {}
    sens: dict[tuple, set] = {}
    for nk, seg, bb, prio in rows:
        key = (nk, seg, bb)
        counts[key] = counts.get(key, 0) + 1
        sens.setdefault(key, set()).add(prio)
    return {k: (counts[k], len(sens[k])) for k in counts}


def test_ldiv_replay_exact(spark, sf_dir):
    rows = STAGED["l_diversity_check"].spark(spark, sf_dir).collect()
    expect = _ldiv_replay(sf_dir)
    got = {
        (r.c_nationkey, r.c_mktsegment, r.bal_bucket): (
            r.n_orders,
            r.n_sensitive,
        )
        for r in rows
    }
    assert got == expect
    for r in rows:
        assert r.violates_l == (r.n_sensitive < _LD_L)


def test_ldiv_homogeneity_attack_witness(spark, sf_dir):
    """The reason l-diversity exists: groups that PASS the registered
    k-anonymity size check (n >= 5) yet expose their members through
    sensitive-value homogeneity MUST appear in the fixture — otherwise
    this query witnesses nothing k_anonymity_check doesn't."""
    rows = STAGED["l_diversity_check"].spark(spark, sf_dir).collect()
    violating = [r for r in rows if r.violates_l]
    assert violating, "fixture has no l-diversity violations"
    assert any(r.n_orders >= 5 for r in violating), (
        "no k-anonymous group violates l — the homogeneity witness "
        "is gone"
    )
