"""Semantic pins for the round-14 registrations, first batch
(queries/r20_staging.py — staged in round 11, flipped to @register in
round 14 under VERDICT round-13 item 1's full drain). Oracle parity
is covered by the registry-wide tools/check_oracle.py sweep; this
file keeps the invariants the value-hash can't express: a pure-python
replay of the trigram index (no-false-negative containment,
cross-word patterns answered), the NTILE bucket algebra and boundary
monotonicity, and the session stitch actually exercising
boundary-spanning sessions (not vacuously passing on a quiet
split)."""

import duckdb
import pytest

from market_pulse_data_pipeline_spark.queries import QUERY_REGISTRY
from market_pulse_data_pipeline_spark.queries.r20_staging import (
    _EH_BUCKETS,
    _IS_GAP_US,
    _TG_PATTERNS,
    _trigrams,
)

R20_NAMES = [
    "trigram_substring_index",
    "equi_depth_histogram_stats",
    "incremental_sessionization",
]

STAGED = {n: QUERY_REGISTRY[n] for n in R20_NAMES if n in QUERY_REGISTRY}


def test_r20_registration_composition():
    from market_pulse_data_pipeline_spark.queries import _DRIVER_GREEN

    # registered in round 14 (the full drain), first driver witness
    # green in CORRECTNESS_r14 (the ledger records it)
    assert set(R20_NAMES) <= set(QUERY_REGISTRY)
    assert all(_DRIVER_GREEN.get(x) == 14 for x in R20_NAMES)
    assert all(d.oracle is not None for d in STAGED.values())


@pytest.mark.parametrize("name", R20_NAMES)
def test_r20_plan_antipatterns(spark, sf_dir, name):
    df = STAGED[name].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python"


# --------------------------------------------------------------------
# trigram_substring_index
# --------------------------------------------------------------------


def test_trigram_replay_exact(spark, sf_dir):
    rows = {
        r.pattern: r
        for r in STAGED["trigram_substring_index"]
        .spark(spark, sf_dir)
        .collect()
    }
    assert set(rows) == set(_TG_PATTERNS)
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    for p in _TG_PATTERNS:
        ptris = set(_trigrams(p))
        n_cand = n_ver = 0
        for _, text in docs:
            dtris = {text[i : i + 3] for i in range(len(text) - 2)}
            if ptris <= dtris:
                n_cand += 1
                if p in text:
                    n_ver += 1
        r = rows[p]
        assert (r.n_candidates, r.n_verified) == (n_cand, n_ver), p
        # the no-false-negative contract of trigram indexing: every
        # true match survives the candidate filter
        direct = sum(1 for _, text in docs if p in text)
        assert r.n_verified == direct, p
        assert r.n_candidates >= r.n_verified, p


def test_trigram_crossword_patterns_answered(spark, sf_dir):
    """The patterns that FORCE character-granular indexing — cross-word
    substrings no token index can answer — must return real matches."""
    rows = {
        r.pattern: r
        for r in STAGED["trigram_substring_index"]
        .spark(spark, sf_dir)
        .collect()
    }
    for p in ("table sc", "k order"):
        assert " " in p and rows[p].n_verified > 0, p


# --------------------------------------------------------------------
# equi_depth_histogram_stats
# --------------------------------------------------------------------


def test_histogram_replay_and_monotonicity(spark, sf_dir):
    rows = (
        STAGED["equi_depth_histogram_stats"].spark(spark, sf_dir).collect()
    )
    ev = duckdb.sql(
        f"SELECT event_type, event_id, value FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    by_type: dict[str, list] = {}
    for et, eid, v in ev:
        by_type.setdefault(et, []).append((v, eid))
    expect = {}
    for et, vals in by_type.items():
        vals.sort()
        n = len(vals)
        base, extra = divmod(n, _EH_BUCKETS)
        i = 0
        for b in range(1, _EH_BUCKETS + 1):
            size = base + (1 if b <= extra else 0)
            chunk = vals[i : i + size]
            i += size
            if chunk:
                expect[(et, b)] = (
                    len(chunk),
                    chunk[0][0],
                    chunk[-1][0],
                )
    got = {
        (r.event_type, r.bucket): (r.n_rows, r.min_value, r.max_value)
        for r in rows
    }
    assert got == expect
    # equi-depth boundary monotonicity: bucket k's min never precedes
    # bucket k-1's max (ties allowed — equal values can straddle)
    by_et: dict[str, list] = {}
    for r in rows:
        by_et.setdefault(r.event_type, []).append(r)
    for et, rs in by_et.items():
        rs.sort(key=lambda r: r.bucket)
        for a, b in zip(rs, rs[1:]):
            assert a.max_value <= b.min_value, (et, b.bucket)
            assert a.min_value <= a.max_value


# --------------------------------------------------------------------
# incremental_sessionization
# --------------------------------------------------------------------


def _full_sessions(sf_dir: str):
    rows = duckdb.sql(
        f"SELECT user_id, event_id, "
        f"epoch_us(CAST(ts AS TIMESTAMP)) FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    lo = min(r[2] for r in rows)
    hi = max(r[2] for r in rows)
    split = (lo + hi) // 2
    by_user: dict[int, list] = {}
    for u, e, t_ in rows:
        by_user.setdefault(u, []).append((t_, e))
    sessions = []
    for u, evs in by_user.items():
        evs.sort()
        cur = [evs[0]]
        for t_, e in evs[1:]:
            if t_ - cur[-1][0] <= _IS_GAP_US:
                cur.append((t_, e))
            else:
                sessions.append((u, cur))
                cur = [(t_, e)]
        sessions.append((u, cur))
    return sessions, split


def test_incremental_matches_monolithic_replay(spark, sf_dir):
    got = sorted(
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in STAGED["incremental_sessionization"]
        .spark(spark, sf_dir)
        .collect()
    )
    sessions, _ = _full_sessions(sf_dir)
    expect = sorted(
        (u, s[0][0], s[-1][0], len(s)) for u, s in sessions
    )
    assert got == expect


def test_stitch_actually_exercised(spark, sf_dir):
    """The merge path must run on real boundary-spanning sessions —
    a split landing in a quiet gap would make the stitch vacuous and
    the oracle equality meaningless as a stitch witness (the reason
    this operator's gap is 12 h, not the interactive 30 min)."""
    sessions, split = _full_sessions(sf_dir)
    spanning = [
        (u, s)
        for u, s in sessions
        if s[0][0] < split <= s[-1][0]
    ]
    assert spanning, "no session spans the batch boundary"
    # and those sessions appear intact in the output (stitched, not
    # truncated at the boundary)
    got = {
        (r.user_id, r.session_start_us, r.session_end_us)
        for r in STAGED["incremental_sessionization"]
        .spark(spark, sf_dir)
        .collect()
    }
    for u, s in spanning:
        assert (u, s[0][0], s[-1][0]) in got
