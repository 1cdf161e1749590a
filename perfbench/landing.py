"""Seeded Alpha Vantage landing zone and its expected marts, in plain Python.

The generator builds one ``TIME_SERIES_DAILY`` document per object key with
string-typed leaves, as the API returns them. A landing zone covers:

- skewed history lengths (most symbols short, a few very long);
- gap dates (weekdays missing from a symbol's series);
- one zero open (the NULLIF branch of ``percent_change``);
- ``BRK.B`` inside a document, which loads as ``BRK-B``;
- two landed objects that normalise to the same symbol (``BRK.B`` and
  ``BRK-B``); the ``BRK-B`` one is fresher, is written later and wins under
  both the batch dedup and the streaming upsert.

``Landing.deltas`` makes the daily re-fetch: for a seeded tenth of the symbols,
the full history plus one new trading day and one revised close (the shape of
``sources.alphavantage.merge_series_doc``).

``Landing.expected`` computes, without Spark, the row count of every
warehouse table and a checksum of ``agg_weekly_prices`` for the documents the
bronze table should hold. Nothing here starts Spark.
"""

from __future__ import annotations

import json
import os
import random
from datetime import date, timedelta
from decimal import ROUND_HALF_UP, Decimal

from market_pulse_data_pipeline_spark.functions.scalars import SYMBOL_NORMALIZATION

N_SYMBOLS = 80
MIN_DAYS = 60
MAX_DAYS = 2000
END = date(2025, 10, 16)
DELTA_SHARE = 0.1
REFERENCE = ["AAPL", "MSFT", "GOOGL", "AMZN", "META", "TSLA", "NVDA", "V", "JPM"]


def _weekdays_back(end: date, n: int) -> list[date]:
    """``n`` weekdays ending at ``end``, oldest first."""
    days: list[date] = []
    cur = end
    while len(days) < n:
        if cur.weekday() < 5:
            days.append(cur)
        cur -= timedelta(days=1)
    return days[::-1]


def _next_weekday(d: date) -> date:
    d += timedelta(days=1)
    while d.weekday() >= 5:
        d += timedelta(days=1)
    return d


def spark_round2(x: float) -> float:
    """Spark's ``round(x, 2)`` on a double: HALF_UP on its decimal string."""
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def _percent_change(o: float, c: float) -> float | None:
    return None if o == 0 else spark_round2((c - o) / o * 100.0)


def _is_tie(o: float, c: float) -> bool:
    """True when the percent change sits exactly on a rounding tie, where a
    JVM and a Python decimal rendering could round apart."""
    if o == 0:
        return False
    scaled = Decimal(repr((c - o) / o * 100.0)) * 100
    return scaled - scaled.to_integral_value(rounding="ROUND_FLOOR") == Decimal("0.5")


def _bar(rng: random.Random, px: float) -> tuple[dict[str, str], float]:
    """One day's OHLCV strings around price ``px``; returns the next price."""
    while True:
        o = round(px * (1 + rng.uniform(-0.01, 0.01)), 2)
        c = round(o * (1 + rng.uniform(-0.03, 0.03)), 2)
        if o > 0 and c > 0 and not _is_tie(o, c):
            break
    h = round(max(o, c) * (1 + rng.uniform(0, 0.02)), 4)
    lo = round(min(o, c) * (1 - rng.uniform(0, 0.02)), 3)
    vol = rng.randrange(100_000, 900_000_000)
    bar = {"1. open": f"{o}", "2. high": f"{h}", "3. low": f"{lo}",
           "4. close": f"{c}", "5. volume": str(vol)}
    return bar, c


def _doc(symbol: str, refreshed: date, series: dict[str, dict[str, str]]) -> dict:
    return {
        "Meta Data": {
            "1. Information": "Daily Prices (open, high, low, close) and Volumes",
            "2. Symbol": symbol,
            "3. Last Refreshed": refreshed.isoformat(),
            "4. Output Size": "Full size",
            "5. Time Zone": "US/Eastern",
        },
        # newest first, as the API orders it
        "Time Series (Daily)": dict(sorted(series.items(), reverse=True)),
    }


def _series(rng: random.Random, days: list[date], gap_share: float) -> dict:
    px = rng.uniform(5.0, 900.0)
    out = {}
    for d in days:
        bar, px = _bar(rng, px)
        if rng.random() >= gap_share:
            out[d.isoformat()] = bar
    return out


def _tickers(rng: random.Random, n: int) -> list[str]:
    taken = set(REFERENCE) | {"BRK-B"}
    out = []
    while len(out) < n:
        t = "".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(rng.choice((3, 4))))
        if t not in taken:
            taken.add(t)
            out.append(t)
    return out


def doc_bytes(doc: dict) -> bytes:
    """The landed file's bytes (pretty-printed, like
    ``sources.landing.write_landing_doc``)."""
    return json.dumps(doc, indent=2).encode()


class Landing:
    """A seeded landing zone: object key -> document, in write order."""

    def __init__(self, seed: int):
        rng = random.Random(seed)
        self.rng = random.Random(rng.getrandbits(64))  # drives deltas
        self.docs: dict[str, dict] = {}
        symbols = REFERENCE + _tickers(rng, N_SYMBOLS - len(REFERENCE) - 1)
        # skewed history lengths, ~70% under 400 days and a few near
        # MAX_DAYS; one fixed profile dealt out by the seed, so every seed
        # lands about the same number of rows
        lengths = [int(MIN_DAYS * (MAX_DAYS / MIN_DAYS) ** (((i + 0.5) / len(symbols)) ** 2.5))
                   for i in range(len(symbols))]
        rng.shuffle(symbols)
        for i, (sym, n) in enumerate(zip(symbols, lengths)):
            gaps = 0.02 if i % 4 == 0 else 0.0
            self.docs[sym] = _doc(sym, END, _series(rng, _weekdays_back(END, n), gaps))
        # one zero open, on a symbol with history
        sym = symbols[0]
        series = self.docs[sym]["Time Series (Daily)"]
        series[next(iter(series))]["1. open"] = "0.0"
        # the pair that normalises to one symbol: the stale BRK.B object is
        # written first, the fresher BRK-B object last
        brk_days = _weekdays_back(END, 600)
        stale = _series(rng, brk_days[:-1], 0.0)
        self.docs = {"BRK.B": _doc("BRK.B", brk_days[-2], stale), **self.docs}
        self.docs["BRK-B"] = _doc("BRK-B", END, _series(rng, brk_days, 0.0))
        self.last_day = END
        self.n_deltas = 0

    def write(self, landing_dir: str, keys: list[str] | None = None) -> int:
        """Write the given keys (default: all) as ``<key>.json``; returns bytes."""
        os.makedirs(landing_dir, exist_ok=True)
        total = 0
        for key in keys if keys is not None else list(self.docs):
            data = doc_bytes(self.docs[key])
            with open(os.path.join(landing_dir, f"{key}.json"), "wb") as f:
                f.write(data)
            total += len(data)
        return total

    def bronze(self) -> dict[str, dict]:
        """Normalised symbol -> the document bronze holds for it: the freshest
        ``Last Refreshed`` (``landing_to_raw``). No two documents of one
        symbol share a ``Last Refreshed``, so the later tie-breaks never run."""
        out: dict[str, dict] = {}
        for doc in self.docs.values():
            sym = doc["Meta Data"]["2. Symbol"]
            sym = SYMBOL_NORMALIZATION.get(sym, sym)
            refreshed = doc["Meta Data"]["3. Last Refreshed"]
            if sym not in out or refreshed > out[sym]["Meta Data"]["3. Last Refreshed"]:
                out[sym] = doc
        return out

    def deltas(self, new_keys: bool) -> list[str]:
        """Re-fetch a seeded tenth of the symbols: merged history + one new
        trading day + one revised close. With ``new_keys`` the documents land
        under fresh object keys (the streaming source only reads new files);
        otherwise they overwrite the symbol's winning key, as the reference's
        ``put_object`` does. Returns the keys to write."""
        self.n_deltas += 1
        self.last_day = _next_weekday(self.last_day)
        bronze = self.bronze()
        winners = {id(doc): key for key, doc in self.docs.items()}
        k = max(1, round(len(bronze) * DELTA_SHARE))
        keys = []
        for sym in self.rng.sample(sorted(bronze), k):
            old = bronze[sym]
            series = {d: dict(bar) for d, bar in old["Time Series (Daily)"].items()}
            revised = series[self.rng.choice(sorted(series))]
            o = float(revised["1. open"])
            while True:
                c = round(float(revised["4. close"]) * (1 + self.rng.uniform(-0.02, 0.02)), 2)
                if c > 0 and not _is_tie(o, c):
                    break
            revised["4. close"] = f"{c}"
            last = series[max(series)]
            bar, _ = _bar(self.rng, float(last["4. close"]))
            series[self.last_day.isoformat()] = bar
            doc = _doc(sym, self.last_day, series)
            key = f"{sym}.d{self.n_deltas:03d}" if new_keys else winners[id(old)]
            self.docs[key] = doc
            keys.append(key)
        return keys

    def expected(self) -> dict:
        """Row counts of every warehouse table and the ``agg_weekly_prices``
        checksum (sum of ``avg_close`` plus sum of ``avg_percent_change``)."""
        bronze = self.bronze()
        stg = 0
        weeks: dict[tuple[str, date], list[tuple[float, float | None]]] = {}
        for sym, doc in bronze.items():
            for d, bar in doc["Time Series (Daily)"].items():
                stg += 1
                day = date.fromisoformat(d)
                o, c = float(bar["1. open"]), float(bar["4. close"])
                weeks.setdefault((sym, day - timedelta(days=day.weekday())), []).append(
                    (c, _percent_change(o, c))
                )
        checksum = 0.0
        for rows in weeks.values():
            checksum += sum(c for c, _ in rows) / len(rows)
            pcs = [p for _, p in rows if p is not None]
            if pcs:
                checksum += sum(pcs) / len(pcs)
        return {
            "counts": {
                "raw_alphavantage": len(bronze),
                "stg_alphavantage": stg,
                "dim_stock": len(bronze),
                "fact_stock_prices": stg,
                "agg_weekly_prices": len(weeks),
                "agg_weekly_ohlc": len(weeks),
            },
            "weekly_checksum": checksum,
            "bronze_json_bytes": sum(len(doc_bytes(d)) for d in bronze.values()),
        }
