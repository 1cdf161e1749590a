"""Tests of the seeded landing generator (no Spark needed).

    python3 -m pytest perfbench/test_landing.py -q
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from landing import Landing, spark_round2  # noqa: E402

from market_pulse_data_pipeline_spark.functions.scalars import (  # noqa: E402
    SYMBOL_NORMALIZATION,
)


def _zone_bytes(tmp_path, seed: int, name: str) -> dict[str, bytes]:
    d = tmp_path / name
    Landing(seed).write(str(d))
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_same_seed_same_bytes(tmp_path):
    assert _zone_bytes(tmp_path, 11, "a") == _zone_bytes(tmp_path, 11, "b")


def test_other_seed_other_bytes(tmp_path):
    assert _zone_bytes(tmp_path, 11, "a") != _zone_bytes(tmp_path, 12, "b")


def test_deltas_repeat_per_seed():
    a, b = Landing(5), Landing(5)
    for new_keys in (True, False, True):
        assert a.deltas(new_keys) == b.deltas(new_keys)
    assert a.docs == b.docs
    assert a.expected() == b.expected()


def test_zone_covers_the_edge_cases():
    zone = Landing(3)
    docs = zone.docs
    lengths = [len(d["Time Series (Daily)"]) for d in docs.values()]
    assert max(lengths) > 5 * min(lengths)  # skewed histories
    bars = [b for d in docs.values() for b in d["Time Series (Daily)"].values()]
    assert all(isinstance(v, str) for b in bars for v in b.values())
    assert sum(b["1. open"] == "0.0" for b in bars) == 1
    symbols = [d["Meta Data"]["2. Symbol"] for d in docs.values()]
    assert "BRK.B" in symbols and SYMBOL_NORMALIZATION["BRK.B"] in symbols
    # the two BRK objects collapse to one bronze row; the fresher wins
    bronze = zone.bronze()
    assert len(bronze) == len(docs) - 1
    assert bronze["BRK-B"] is docs["BRK-B"]
    # a gap: some symbol misses a weekday inside its history
    assert any(_has_gap(d) for d in docs.values())


def _has_gap(doc) -> bool:
    from datetime import date  # noqa: PLC0415

    days = sorted(date.fromisoformat(k) for k in doc["Time Series (Daily)"])
    return any((b - a).days not in (1, 3) for a, b in zip(days, days[1:]))


def test_deltas_add_a_day_and_revise_a_close():
    zone = Landing(9)
    before = zone.expected()
    keys = zone.deltas(new_keys=True)
    assert len(keys) == round(len(zone.bronze()) * 0.1)
    after = zone.expected()
    grown = after["counts"]["stg_alphavantage"] - before["counts"]["stg_alphavantage"]
    assert grown == len(keys)
    assert after["weekly_checksum"] != before["weekly_checksum"]


def test_spark_round_is_half_up_on_the_decimal_string():
    assert spark_round2(2.675) == 2.68  # Python's round() gives 2.67
    assert spark_round2(-1.005) == -1.01
