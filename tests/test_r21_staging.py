"""Semantic pins for the round-14 registrations, second batch
(queries/r21_staging.py — staged in round 11 as the first reserve,
flipped to @register in round 14 under VERDICT round-13 item 1's full
drain). Oracle parity is covered by the registry-wide
tools/check_oracle.py sweep; this file keeps the invariants the
value-hash can't express: the exact dyadic decay algebra replayed in
integers, the planted-shape class table for JSON inference, and the
dictionary's frequency-rank/bijectivity replay."""

import hashlib
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.r21_staging import (
    _DF_CAP,
    _DF_DAY_US,
    _JS_PATHS,
)

R21_NAMES = [
    "decayed_event_frequency",
    "json_schema_infer",
    "categorical_dictionary_encode",
]

STAGED = {n: QUERY_REGISTRY[n] for n in R21_NAMES if n in QUERY_REGISTRY}


def _round_div(n: int, d: int) -> float:
    return float(
        (Decimal(n) / Decimal(d))
        .quantize(Decimal("0.00000001"), rounding=ROUND_HALF_UP)
        .quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    )


def test_r21_registration_composition():
    from market_pulse_data_pipeline_spark.queries import _DRIVER_GREEN

    # registered in round 14 (the full drain), first driver witness
    # green in CORRECTNESS_r14 (the ledger records it)
    assert set(R21_NAMES) <= set(QUERY_REGISTRY)
    assert all(_DRIVER_GREEN.get(x) == 14 for x in R21_NAMES)
    assert all(d.oracle is not None for d in STAGED.values())


@pytest.mark.parametrize("name", R21_NAMES)
def test_r21_plan_antipatterns(spark, sf_dir, name):
    df = STAGED[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


# --------------------------------------------------------------------
# decayed_event_frequency
# --------------------------------------------------------------------


def test_decay_replay_exact(spark, sf_dir):
    rows = {
        r.event_type: r
        for r in STAGED["decayed_event_frequency"]
        .spark(spark, sf_dir)
        .collect()
    }
    ev = duckdb.sql(
        f"SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    ref = max(us // _DF_DAY_US for _, us in ev)
    agg: dict[str, list[int]] = {}
    for et, us in ev:
        age = ref - us // _DF_DAY_US
        num = 1 << (_DF_CAP - min(age, _DF_CAP))
        a = agg.setdefault(et, [0, 0])
        a[0] += 1
        a[1] += num
    assert set(rows) == set(agg)
    for et, (n, num) in agg.items():
        r = rows[et]
        assert (r.n_events, r.decay_num) == (n, num), et
        assert abs(
            r.decayed_count - _round_div(num, 1 << _DF_CAP)
        ) < 1e-9, et
        # decay only shrinks: 0 < decayed <= raw count, and a type with
        # at least one same-day-as-ref event weighs >= 1
        assert 0 < r.decayed_count <= r.n_events


# --------------------------------------------------------------------
# json_schema_infer
# --------------------------------------------------------------------


def _expected_class(residue: int, path: str) -> str:
    if path == "$.extra.v":
        return "int" if residue == 4 else "missing"
    return {
        0: "int",
        1: "string",
        2: "float",
        3: "bool",
        4: "int",
        5: "missing",
    }[residue]


def test_json_infer_replay_exact(spark, sf_dir):
    rows = (
        STAGED["json_schema_infer"].spark(spark, sf_dir).collect()
    )
    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT event_id FROM "
            f"read_parquet('{sf_dir}/events.parquet')"
        ).fetchall()
    ]
    expect: dict[tuple[str, str], int] = {}
    for eid in ids:
        for p in _JS_PATHS:
            k = (p, _expected_class(eid % 6, p))
            expect[k] = expect.get(k, 0) + 1
    got = {(r.path, r.type_class): r.n_values for r in rows}
    assert got == expect
    n = len(ids)
    for r in rows:
        assert abs(r.fraction - _round_div(r.n_values, n)) < 1e-9
    # every class is exercised somewhere, including the nested path's
    # missing/int split
    classes = {r.type_class for r in rows}
    assert classes == {"missing", "int", "float", "bool", "string"}
    assert ("$.extra.v", "int") in got and ("$.extra.v", "missing") in got


# --------------------------------------------------------------------
# categorical_dictionary_encode
# --------------------------------------------------------------------


def test_dictionary_replay_and_bijectivity(spark, sf_dir):
    rows = (
        STAGED["categorical_dictionary_encode"]
        .spark(spark, sf_dir)
        .collect()
    )
    docs = duckdb.sql(
        f"SELECT doc_id, source || '|' || lang FROM "
        f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    counts: dict[str, int] = {}
    for _, cat in docs:
        counts[cat] = counts.get(cat, 0) + 1
    vocab = sorted(counts, key=lambda c: (-counts[c], c))
    assert [r.category for r in sorted(rows, key=lambda r: r.cat_id)] == vocab
    by_cat = {r.category: r for r in rows}
    for cat, r in by_cat.items():
        assert r.n_docs == counts[cat]
        decoded = ",".join(
            c for _, c in docs if c == cat
        )  # doc_id order within the id's group
        assert (
            r.decode_roundtrip_md5
            == hashlib.md5(decoded.encode("utf-8")).hexdigest()
        ), cat
    # frequency-ranked dense ids: 0..|vocab|-1, hot categories first
    ids = sorted(r.cat_id for r in rows)
    assert ids == list(range(len(vocab)))
    ns = [r.n_docs for r in sorted(rows, key=lambda r: r.cat_id)]
    assert ns == sorted(ns, reverse=True)  # counts non-increasing by id
