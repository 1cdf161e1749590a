"""Semantic pins for the round-15 registrations
(queries/r23_staging.py — staged in round 13 as NEW capability,
flipped to @register in round 15 on its named flip round under
VERDICT round-14 item 2). Oracle parity is covered by the
registry-wide tools/check_oracle.py sweep; this file keeps the
invariants the value-hash can't express: a pure-python EMD replay
with the violating-AND-compliant non-vacuousness pin, a pure-python
sort-based tie-aware AUC replay against the histogram-form result
(plus the non-degenerate 0.5 < AUC < 1 band), and the UniMax
waterfill's exact-budget / cap-respect / max-min-fairness contracts
against a sequential-fill replay."""

from decimal import ROUND_HALF_UP, Decimal
from fractions import Fraction

import duckdb
import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.r23_staging import (
    _AUC_NOISE,
    _AUC_SBUCKET,
    _AUC_TH,
    _TC_BAL_BUCKET,
    _TC_DEN,
    _TC_NUM,
    _UX_B_DEN,
    _UX_B_NUM,
    _UX_CAP_DEN,
)

R23_NAMES = [
    "t_closeness_check",
    "auc_quality_classifier",
    "unimax_epoch_cap_allocation",
]

STAGED = {n: QUERY_REGISTRY[n] for n in R23_NAMES if n in QUERY_REGISTRY}


def test_r23_registration_composition():
    from market_pulse_data_pipeline_spark.queries import _R15_FIRST_WITNESS

    # registered in round 15 (the named flip round), heading the
    # correctness window for their first driver witness
    assert set(R23_NAMES) <= set(QUERY_REGISTRY)
    assert set(R23_NAMES) <= set(_R15_FIRST_WITNESS)
    assert all(d.oracle is not None for d in STAGED.values())


@pytest.mark.parametrize("name", R23_NAMES)
def test_r23_plan_antipatterns(spark, sf_dir, name):
    df = STAGED[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


# --------------------------------------------------------------------
# t_closeness_check
# --------------------------------------------------------------------


def _tcl_replay(sf_dir: str):
    """Engine-free EMD replay: group -> (gsize, emd Fraction)."""
    rows = duckdb.sql(
        f"""
        SELECT c.c_nationkey, c.c_mktsegment,
               CAST(floor(c.c_acctbal / {_TC_BAL_BUCKET}) AS BIGINT),
               o.o_orderpriority
        FROM read_parquet('{sf_dir}/customer.parquet') c
        JOIN read_parquet('{sf_dir}/orders.parquet') o
          ON o.o_custkey = c.c_custkey
        """
    ).fetchall()
    glob: dict[str, int] = {}
    grp: dict[tuple, dict[str, int]] = {}
    for nat, seg, bb, pr in rows:
        glob[pr] = glob.get(pr, 0) + 1
        g = grp.setdefault((nat, seg, bb), {})
        g[pr] = g.get(pr, 0) + 1
    n_total = sum(glob.values())
    prs = sorted(glob)
    m = len(prs)
    out = {}
    for key, g in grp.items():
        gsize = sum(g.values())
        cum = 0
        num = 0
        for pr in prs:
            cum += g.get(pr, 0) * n_total - glob[pr] * gsize
            num += abs(cum)
        out[key] = (gsize, num, Fraction(num, (m - 1) * gsize * n_total))
    return out


@pytest.fixture(scope="module")
def tcl_rows(spark, sf_dir):
    return STAGED["t_closeness_check"].spark(spark, sf_dir).collect()


def test_tcl_replay_exact(tcl_rows, sf_dir):
    expect = _tcl_replay(sf_dir)
    assert len(tcl_rows) == len(expect)
    for r in tcl_rows:
        gsize, num, emd = expect[
            (r.c_nationkey, r.c_mktsegment, r.bal_bucket)
        ]
        assert r.n_orders == gsize
        assert r.emd_num == num
        # the alert is the exact cross-multiplied comparison
        assert r.violates_t == (Fraction(_TC_NUM, _TC_DEN) < emd)
        # the reported double goes through the shared decimal route
        want = float(
            Decimal(emd.numerator)
            .scaleb(0)
            .__truediv__(Decimal(emd.denominator))
            .quantize(Decimal("0.00000001"), rounding=ROUND_HALF_UP)
            .quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        )
        assert r.emd == pytest.approx(want, abs=0)


def test_tcl_nonvacuous_and_bounded(tcl_rows):
    flags = [r.violates_t for r in tcl_rows]
    # skewness attack witnessed AND compliant groups present
    assert any(flags) and not all(flags)
    # EMD is a normalized distance
    assert all(0.0 <= r.emd <= 1.0 for r in tcl_rows)


def test_tcl_same_grain_as_l_diversity(spark, sf_dir, tcl_rows):
    # the two audits compose into one release gate: identical group keys
    from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY

    ldiv = QUERY_REGISTRY["l_diversity_check"].spark(spark, sf_dir)
    ld_keys = {
        (r.c_nationkey, r.c_mktsegment, r.bal_bucket)
        for r in ldiv.collect()
    }
    tc_keys = {
        (r.c_nationkey, r.c_mktsegment, r.bal_bucket) for r in tcl_rows
    }
    assert tc_keys == ld_keys


# --------------------------------------------------------------------
# auc_quality_classifier
# --------------------------------------------------------------------


def _auc_replay(sf_dir: str):
    """Sort-based tie-aware AUC per lang (the classic rank-statistic
    route — deliberately a DIFFERENT algorithm than the histogram form
    under test)."""
    rows = duckdb.sql(
        f"SELECT lang, doc_id, n_chars FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    by_lang: dict[str, list[tuple[int, int]]] = {}
    for lang, doc_id, n_chars in rows:
        s = n_chars // _AUC_SBUCKET
        y = 1 if s + doc_id % _AUC_NOISE >= _AUC_TH else 0
        by_lang.setdefault(lang, []).append((s, y))
    out = {}
    for lang, sy in by_lang.items():
        pos = [s for s, y in sy if y]
        neg = [s for s, y in sy if not y]
        num2 = 0  # 2 * (wins + ties/2) = 2*wins + ties
        for p in pos:
            for n in neg:
                if p > n:
                    num2 += 2
                elif p == n:
                    num2 += 1
        out[lang] = (len(pos), len(neg), num2)
    return out


def test_auc_replay_exact(spark, sf_dir):
    got = STAGED["auc_quality_classifier"].spark(spark, sf_dir).collect()
    expect = _auc_replay(sf_dir)
    assert {r.lang for r in got} == set(expect)
    for r in got:
        n_pos, n_neg, num2 = expect[r.lang]
        assert (r.n_pos, r.n_neg, r.auc_num2) == (n_pos, n_neg, num2)
        # non-degenerate: the planted labels correlate but imperfectly
        assert n_pos > 0 and n_neg > 0
        assert 0.5 < r.auc < 1.0
        want = float(
            (Decimal(num2) / Decimal(2 * n_pos * n_neg))
            .quantize(Decimal("0.00000001"), rounding=ROUND_HALF_UP)
            .quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        )
        assert r.auc == pytest.approx(want, abs=0)


# --------------------------------------------------------------------
# unimax_epoch_cap_allocation
# --------------------------------------------------------------------


def _unimax_replay(sf_dir: str):
    """Sequential waterfill replay (loop form — the closed-form
    predicate under test must agree exactly)."""
    rows = duckdb.sql(
        f"""
        SELECT source,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
        FROM read_parquet('{sf_dir}/documents.parquet') GROUP BY 1
        """
    ).fetchall()
    toks = dict(rows)
    cap = {
        s: (n * (1 + int(s[3:]) % 3)) // _UX_CAP_DEN
        for s, n in toks.items()
    }
    total = sum(toks.values())
    budget = (total * _UX_B_NUM) // _UX_B_DEN
    order = sorted(cap, key=lambda s: (cap[s], s))
    k = len(order)
    alloc: dict[str, int] = {}
    prefix = 0
    n_capped = 0
    for i, s in enumerate(order, 1):
        if prefix + cap[s] * (k - i + 1) <= budget:
            alloc[s] = cap[s]
            prefix += cap[s]
            n_capped += 1
        else:
            break
    spare, u = budget - prefix, k - n_capped
    base, rem = divmod(spare, u) if u else (0, 0)
    for j, s in enumerate(order[n_capped:]):
        alloc[s] = base + (1 if j < rem else 0)
    return toks, cap, alloc, budget, set(order[:n_capped])


def test_unimax_replay_exact(spark, sf_dir):
    got = (
        STAGED["unimax_epoch_cap_allocation"].spark(spark, sf_dir).collect()
    )
    toks, cap, alloc, budget, capped = _unimax_replay(sf_dir)
    assert {r.source for r in got} == set(toks)
    for r in got:
        assert r.n_tokens == toks[r.source]
        assert r.cap_tokens == cap[r.source]
        assert r.alloc_tokens == alloc[r.source]
        assert r.is_capped == (r.source in capped)
    # the exact-budget contract
    assert sum(r.alloc_tokens for r in got) == budget


def test_unimax_contracts(spark, sf_dir):
    got = (
        STAGED["unimax_epoch_cap_allocation"].spark(spark, sf_dir).collect()
    )
    # non-vacuous: both classes present at every checked SF
    assert any(r.is_capped for r in got)
    assert any(not r.is_capped for r in got)
    for r in got:
        # nobody exceeds their repetition cap
        assert r.alloc_tokens <= r.cap_tokens
        if r.is_capped:
            assert r.alloc_tokens == r.cap_tokens
    # max-min fairness: uncapped sources differ by at most one token
    un = sorted(r.alloc_tokens for r in got if not r.is_capped)
    assert un[-1] - un[0] <= 1
    # every capped source's cap is below the uncapped share (that is
    # WHY it was capped)
    assert all(
        r.cap_tokens <= un[-1] for r in got if r.is_capped
    )
