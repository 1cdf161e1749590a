"""Semantic pins for the round-12 registrations, fourth batch
(queries/r15_staging.py — staged in round 11, flipped to @register in
round 12 under VERDICT round-11 item 7's accelerated drain). Oracle
parity is covered by the registry-wide tools/check_oracle.py sweep;
this file keeps
the invariants the value-hash can't express: full engine-free pure-
python replays of all three operators (hashlib + decimal + re), the
SoftDeDup plant-weight property, the per-rule URL canonicalization
witnesses, and the exact-vs-suffix wildcard distinction."""

import hashlib
import re
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.r15_staging import (
    _OO_RULES,
    _SW_MIN_PLANT_TOKS,
    _SW_N,
    _SW_OFFSET,
    _SW_PLANT_MOD,
    _UC_FAM,
    _UC_FRAG,
    _UC_PORT,
    _UC_PREFIX,
    _UC_SLASH,
    _UC_TRACK,
)

R15_NAMES = [
    "softdedup_commonness_reweight",
    "url_canonicalize_dedup",
    "domain_suffix_optout_filter",
]

STAGED = {n: QUERY_REGISTRY[n] for n in R15_NAMES if n in QUERY_REGISTRY}


def _round_div(n: int, d: int) -> float:
    """round_div's decimal half-away-from-zero route (NOT builtin
    round(), which is banker's — ADVICE r10)."""
    return float(
        (Decimal(n) / Decimal(d))
        .quantize(Decimal("0.00000001"), rounding=ROUND_HALF_UP)
        .quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    )


def _doc_ids(sf_dir: str) -> list[int]:
    return [
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM "
            f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
        ).fetchall()
    ]


def test_r15_registration_composition():
    from market_pulse_data_pipeline_spark.queries import _DRIVER_GREEN

    # registered in round 12 (the fourth batch of the accelerated drain),
    # first driver witness green in CORRECTNESS_r12 (the ledger records it)
    assert set(R15_NAMES) <= set(QUERY_REGISTRY)
    assert all(_DRIVER_GREEN.get(x) == 12 for x in R15_NAMES)
    assert all(d.oracle is not None for d in STAGED.values())


@pytest.mark.parametrize("name", R15_NAMES)
def test_r15_plan_antipatterns(spark, sf_dir, name):
    df = STAGED[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


# --------------------------------------------------------------------
# softdedup_commonness_reweight
# --------------------------------------------------------------------


def _softdedup_replay(sf_dir: str) -> dict[int, tuple[int, int]]:
    """Engine-free replay: doc_id -> (n_sh, sum_df) over the planted
    corpus, distinct md5 word-4-gram shingles."""
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    shingles: dict[int, set[str]] = {}
    for doc_id, text in rows:
        ws = text.lower().split(" ")
        if len(ws) < _SW_N:
            continue
        sh = {
            hashlib.md5(
                " ".join(ws[i : i + _SW_N]).encode("utf-8")
            ).hexdigest()
            for i in range(len(ws) - _SW_N + 1)
        }
        shingles[doc_id] = sh
        if doc_id % _SW_PLANT_MOD == 0 and len(ws) >= _SW_MIN_PLANT_TOKS:
            shingles[doc_id + _SW_OFFSET] = sh
    df: dict[str, int] = {}
    for sh in shingles.values():
        for h in sh:
            df[h] = df.get(h, 0) + 1
    return {
        d: (len(sh), sum(df[h] for h in sh)) for d, sh in shingles.items()
    }


@pytest.fixture(scope="module")
def sw_rows(spark, sf_dir):
    return (
        STAGED["softdedup_commonness_reweight"]
        .spark(spark, sf_dir)
        .collect()
    )


def test_softdedup_replay_exact(sw_rows, sf_dir):
    expect = _softdedup_replay(sf_dir)
    assert {r.doc_id for r in sw_rows} == set(expect)
    for r in sw_rows:
        n_sh, sum_df = expect[r.doc_id]
        assert (r.n_sh, r.sum_df) == (n_sh, sum_df), r.doc_id
        assert abs(r.commonness - _round_div(sum_df, n_sh)) < 1e-9
        assert abs(r.soft_weight - _round_div(n_sh, sum_df)) < 1e-9


def test_softdedup_plant_weights(sw_rows):
    """A verbatim twin shares EVERY shingle with its source, so both
    carry df >= 2 on every shingle: soft_weight <= 0.5 for the pair —
    the SoftDeDup down-weighting semantics, machine-checked."""
    by_id = {r.doc_id: r for r in sw_rows}
    plants = [r for r in sw_rows if r.doc_id >= _SW_OFFSET]
    assert plants, "no planted twins in fixture"
    for p in plants:
        src = by_id[p.doc_id - _SW_OFFSET]
        assert p.soft_weight <= 0.5, p.doc_id
        assert src.soft_weight <= 0.5, src.doc_id
        # the twin is verbatim: identical shingle set, identical row
        assert (p.n_sh, p.sum_df) == (src.n_sh, src.sum_df)


def test_softdedup_weight_bounds(sw_rows):
    # df >= 1 always, so commonness >= 1 and 0 < soft_weight <= 1
    for r in sw_rows:
        assert r.commonness >= 1.0
        assert 0.0 < r.soft_weight <= 1.0
        assert r.sum_df >= r.n_sh


# --------------------------------------------------------------------
# url_canonicalize_dedup
# --------------------------------------------------------------------


def _canon(url: str) -> str:
    """Pure-python replay of the shared pattern chain (Java regex, RE2
    and python re agree on this subset)."""
    u2 = re.sub(_UC_FRAG, "", url)
    u2 = re.sub(_UC_TRACK, "", u2)
    prefix = re.match(_UC_PREFIX, u2).group(1)
    rest = u2[len(prefix) :]
    return re.sub(_UC_PORT, "", prefix.lower()) + re.sub(
        _UC_SLASH, "", rest
    )


def _url_for(doc_id: int) -> str:
    g = doc_id // _UC_FAM
    host = f"www.site{g}.com"
    v = doc_id % _UC_FAM
    return {
        0: f"https://{host}/a/b",
        1: f"HTTPS://{host.upper()}/a/b#frag",
        2: f"https://{host}:443/a/b?utm_source=feed&utm_medium=rss",
        3: f"https://{host}/a/b/",
        4: f"https://{host}/other",
    }[v]


@pytest.fixture(scope="module")
def uc_rows(spark, sf_dir):
    return STAGED["url_canonicalize_dedup"].spark(spark, sf_dir).collect()


def test_url_replay_exact(uc_rows, sf_dir):
    groups: dict[str, list[int]] = {}
    for doc_id in _doc_ids(sf_dir):
        groups.setdefault(_canon(_url_for(doc_id)), []).append(doc_id)
    expect = {c: (len(ids), min(ids)) for c, ids in groups.items()}
    got = {r.canonical_url: (r.n_docs, r.keep_doc_id) for r in uc_rows}
    assert got == expect


def test_url_family_collapse(uc_rows, sf_dir):
    """Per complete 5-doc family: variants 0-3 (plain / upper-host+
    fragment / :443+utm / trailing slash) collapse into ONE 4-doc
    canonical group; variant 4 stays its own 1-doc group."""
    ids = set(_doc_ids(sf_dir))
    by_canon = {r.canonical_url: r for r in uc_rows}
    complete = [
        g
        for g in {i // _UC_FAM for i in ids}
        if all(g * _UC_FAM + v in ids for v in range(_UC_FAM))
    ]
    assert complete, "no complete URL family in fixture"
    for g in complete:
        merged = by_canon[f"https://www.site{g}.com/a/b"]
        assert merged.n_docs == 4
        assert merged.keep_doc_id == g * _UC_FAM
        assert by_canon[f"https://www.site{g}.com/other"].n_docs == 1


def test_url_canonical_forms(uc_rows):
    # every rule's residue is gone from every canonical form
    for r in uc_rows:
        c = r.canonical_url
        assert "#" not in c and "utm_" not in c and ":443" not in c
        assert not c.endswith("/")
        prefix = re.match(_UC_PREFIX, c).group(1)
        assert prefix == prefix.lower(), "host not case-folded"


# --------------------------------------------------------------------
# domain_suffix_optout_filter
# --------------------------------------------------------------------


def _domain_for(doc_id: int) -> str:
    sub = ["www", "cdn.ads", "api"][doc_id % 3]
    tld = "com" if doc_id % 2 == 0 else "org"
    return f"{sub}.site{doc_id % 11}.{tld}"


def _optout_replay(sf_dir: str) -> dict[int, tuple[int, str]]:
    out = {}
    for doc_id in _doc_ids(sf_dir):
        dom = _domain_for(doc_id)
        labels = dom.split(".")
        hits = []
        for rule, kind in _OO_RULES:
            for pos in range(len(labels)):
                if ".".join(labels[pos:]) == rule and (
                    kind == "suffix" or pos == 0
                ):
                    hits.append(rule)
        if hits:
            out[doc_id] = (len(hits), min(hits))
    return out


@pytest.fixture(scope="module")
def oo_rows(spark, sf_dir):
    return (
        STAGED["domain_suffix_optout_filter"].spark(spark, sf_dir).collect()
    )


def test_optout_replay_exact(oo_rows, sf_dir):
    expect = _optout_replay(sf_dir)
    ids = _doc_ids(sf_dir)
    assert [r.doc_id for r in oo_rows] == ids
    for r in oo_rows:
        assert r.domain == _domain_for(r.doc_id)
        if r.doc_id in expect:
            n, first = expect[r.doc_id]
            assert (r.blocked, r.n_rules, r.first_rule) == (True, n, first)
        else:
            assert (r.blocked, r.n_rules, r.first_rule) == (False, 0, "")


def test_optout_every_positive_rule_fires(oo_rows):
    """The four positive rules each block at least one doc (smallest
    hits 14 / 7 / 38 / 4, all inside the 500-doc fixture); the
    suffix rule 'ads.site7.org' fires on cdn.ads.site7.org — a PROPER
    suffix — witnessing wildcard binding beyond exact equality."""
    fired = {r.first_rule for r in oo_rows if r.blocked}
    assert fired == {
        "site3.com",
        "ads.site7.org",
        "api.site5.com",
        "cdn.ads.site4.com",
    }
    wild = [r for r in oo_rows if r.first_rule == "ads.site7.org"]
    assert all(r.domain == "cdn.ads.site7.org" for r in wild) and wild


def test_optout_exact_kind_never_suffix_matches(oo_rows):
    """'site8.org' (kind=exact) is a proper suffix of every m=8/org
    domain but never a full domain, so it must block NOTHING — the
    negative witness separating exact from suffix semantics."""
    assert ("site8.org", "exact") in _OO_RULES
    victims = [
        r
        for r in oo_rows
        if r.domain.endswith(".site8.org") and r.blocked
    ]
    assert victims == []
