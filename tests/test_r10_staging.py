"""Semantic pins for the round-11 registrations, first batch
(queries/r10_staging.py — staged and triple-gated in round 9, flipped
to @register in round 11 per VERDICT round-10 item 1). Oracle parity
is covered by the registry-wide tools/check_oracle.py sweep; this file
keeps the invariants the value-hash compare can't express: the
planted-quote cut contract, the nested-sample property, the
domain-gate witnesses, and plan anti-patterns."""

import hashlib

import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.r10_staging import (
    _DG_MIN_AVG_CHARS,
    _PS_MIDDLE_HEX,
    _PS_TAIL_HEX,
    _TR_PLANT_MOD,
    _TR_QUOTE,
    _TR_W,
)

R10_NAMES = [
    "exact_substring_trim",
    "perplexity_stratified_sample",
    "domain_dedup_quality_gate",
]

STAGED = {n: QUERY_REGISTRY[n] for n in R10_NAMES if n in QUERY_REGISTRY}


def test_r10_registration_composition():
    from market_pulse_data_pipeline_spark.queries import _DRIVER_GREEN

    # registered in round 11 (the first half of the double flip), first
    # driver witness green in CORRECTNESS_r11 (the ledger records it)
    assert set(R10_NAMES) <= set(QUERY_REGISTRY)
    assert all(_DRIVER_GREEN.get(n) == 11 for n in R10_NAMES)
    # no rows-only drift: every registration ships a value-hash oracle
    assert all(d.oracle is not None for d in STAGED.values())


@pytest.mark.parametrize("name", R10_NAMES)
def test_r10_plan_antipatterns(spark, sf_dir, name):
    df = STAGED[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


# --------------------------------------------------------------------
# exact_substring_trim
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def trim_rows(spark, sf_dir):
    return {
        r.doc_id: r
        for r in STAGED["exact_substring_trim"].spark(spark, sf_dir).collect()
    }


def test_trim_quote_owner_keeps_everyone_else_loses_16(trim_rows):
    assert len(_TR_QUOTE.split()) == _TR_W
    planted = sorted(d for d in trim_rows if d % _TR_PLANT_MOD == 0)
    assert len(planted) > 2
    owner = planted[0]  # min doc_id owns the shared quote
    assert trim_rows[owner].n_removed == 0
    for d in planted[1:]:
        assert trim_rows[d].n_removed >= _TR_W, f"doc {d} kept the quote"


def test_trim_unplanted_docs_pass_through_byte_identical(trim_rows, sf_dir):
    import duckdb

    texts = dict(
        duckdb.sql(
            f"SELECT doc_id, lower(text) FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
    )
    unplanted = [d for d in trim_rows if d % _TR_PLANT_MOD != 0]
    assert unplanted
    # the fixture corpus plants its own exact-duplicate documents (the
    # dedup operators' witnesses), so SOME unplanted docs legitimately
    # lose their duplicated runs; the pass-through contract is for the
    # untouched majority: n_removed == 0 must mean byte-identity
    untouched = [d for d in unplanted if trim_rows[d].n_removed == 0]
    assert len(untouched) >= int(0.5 * len(unplanted))
    for d in untouched:
        assert trim_rows[d].clean_md5 == hashlib.md5(
            texts[d].encode("utf-8")
        ).hexdigest()
    # trimmed unplanted docs exist too: the fixture corpus carries
    # its own long shared substrings (the near-dup operators'
    # witnesses, e.g. docs 12/8/120/360 share 60+ consecutive
    # 16-grams at sf0.001) — the trim must cut at least a full
    # window from each of those
    trimmed = [d for d in unplanted if trim_rows[d].n_removed > 0]
    assert trimmed
    assert all(trim_rows[d].n_removed >= _TR_W for d in trimmed)


def test_trim_counts_are_conserved(trim_rows):
    for r in trim_rows.values():
        assert 0 <= r.n_removed <= r.n_tokens


# --------------------------------------------------------------------
# perplexity_stratified_sample
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def sample_rows(spark, sf_dir):
    return (
        STAGED["perplexity_stratified_sample"].spark(spark, sf_dir).collect()
    )


def test_sample_head_keeps_everything(sample_rows):
    heads = [r for r in sample_rows if r.bucket == "head"]
    assert heads and all(r.sampled for r in heads)


def test_sample_gate_is_the_documented_md5_rule(sample_rows):
    # recompute the content-free Bernoulli gate in pure Python: the
    # sampled flag must be exactly the two-hex-digit md5 threshold
    for r in sample_rows:
        hx = hashlib.md5(str(r.doc_id).encode()).hexdigest()[:2]
        expect = (
            True
            if r.bucket == "head"
            else hx <= (_PS_MIDDLE_HEX if r.bucket == "middle" else _PS_TAIL_HEX)
        )
        assert r.sampled == expect, (r.doc_id, r.bucket, hx)


def test_sample_is_nested_and_stratified(sample_rows):
    # one row per doc; the tail threshold is a strict subset of the
    # middle threshold, so rate(tail) < rate(middle) on any corpus
    # slice large enough to see both
    assert len({r.doc_id for r in sample_rows}) == len(sample_rows)
    mids = [r for r in sample_rows if r.bucket == "middle"]
    tails = [r for r in sample_rows if r.bucket == "tail"]
    assert mids and tails
    mid_rate = sum(r.sampled for r in mids) / len(mids)
    tail_rate = sum(r.sampled for r in tails) / len(tails)
    assert tail_rate < mid_rate


# --------------------------------------------------------------------
# domain_dedup_quality_gate
# --------------------------------------------------------------------


@pytest.fixture(scope="module")
def domain_rows(spark, sf_dir):
    return {
        r.source: r
        for r in STAGED["domain_dedup_quality_gate"]
        .spark(spark, sf_dir)
        .collect()
    }


def test_domain_gate_kills_the_spamfarm_on_dup_rate(domain_rows):
    spam = domain_rows["spamfarm"]
    assert spam.keep_domain is False
    # two verbatim copies per seed doc, distinct texts collapse 2:1 ->
    # (n - n_distinct)/n = 1/2 duplicate rate
    assert spam.dup_rate == pytest.approx(0.5, abs=1e-3)
    assert spam.avg_chars >= _DG_MIN_AVG_CHARS  # dies on dedup, not length


def test_domain_gate_kills_the_stubfarm_on_quality(domain_rows):
    stub = domain_rows["stubfarm"]
    assert stub.keep_domain is False
    assert stub.dup_rate == 0.0  # dies on length, not dedup
    assert stub.avg_chars < _DG_MIN_AVG_CHARS


def test_domain_gate_keeps_every_organic_domain(domain_rows):
    organic = {s: r for s, r in domain_rows.items() if s.startswith("src")}
    assert len(organic) == 20
    assert all(r.keep_domain for r in organic.values())
