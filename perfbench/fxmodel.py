"""FX tick inputs and the expected state of the tables they feed.

``TickSource`` makes Frankfurter-shaped payloads (one base, a ``rates``
map) from a seed: a multiplicative random walk per currency, stamped by a
compressed simulated clock. ``expected_rows`` is the model the benchmark
checks each written table against, one rule per write mode:

- ``append``: every tick row;
- ``merge``: the latest tick per key (latest wins);
- ``idempotent``: the first tick per key (first wins).
"""

from __future__ import annotations

import datetime as dt

import numpy as np

BASE = "EUR"
QUOTES = (
    "USD GBP JPY CHF AUD CAD CNY SEK NOK DKK PLN CZK HUF RON BGN "
    "TRY INR BRL MXN ZAR KRW SGD HKD NZD THB MYR IDR PHP ILS ISK"
).split()
CURRENCIES = (BASE, *QUOTES)
EPOCH = dt.datetime(2030, 1, 1, tzinfo=dt.timezone.utc)
_US = 1_000_000


def to_us(t: dt.datetime) -> int:
    return int((t - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)).total_seconds()) * _US


class TickSource:
    """Seeded payloads; tick ``i`` is stamped ``ticks_per_day`` to a
    simulated day, evenly spaced within it."""

    def __init__(self, seed: int, ticks_per_day: int, start: dt.datetime = EPOCH):
        self.rng = np.random.default_rng(seed)
        self.rates = np.exp(self.rng.normal(0.0, 1.0, len(QUOTES)))
        self.ticks_per_day = ticks_per_day
        self.start = start
        self.i = 0

    def next(self) -> tuple[dict, dt.datetime]:
        """The next payload and its ingest timestamp."""
        day, slot = divmod(self.i, self.ticks_per_day)
        ts = self.start + dt.timedelta(days=day, seconds=slot * 86_400 // self.ticks_per_day)
        self.rates *= np.exp(self.rng.normal(0.0, 0.002, len(QUOTES)))
        payload = {
            "amount": 1.0,
            "base": BASE,
            "date": ts.date().isoformat(),
            "rates": {q: round(float(r), 6) for q, r in zip(QUOTES, self.rates)},
        }
        self.i += 1
        return payload, ts


def tick_rows(payload: dict, ts: dt.datetime) -> list[tuple]:
    """The rows ``run_ingest`` writes for one payload, as
    (timestamp µs, date µs, from_cur, to_cur, rate)."""
    day = dt.datetime.fromisoformat(payload["date"]).replace(tzinfo=dt.timezone.utc)
    return [
        (to_us(ts), to_us(day), payload["base"], q, float(r))
        for q, r in payload["rates"].items()
    ]


def expected_rows(ticks: list[list[tuple]], mode: str) -> list[tuple]:
    """Expected table contents after ``ticks`` (in write order) under
    ``mode``; rows are the ``tick_rows`` tuples."""
    if mode == "append":
        return [r for rows in ticks for r in rows]
    if mode not in ("merge", "idempotent"):
        raise ValueError(f"unknown mode: {mode}")
    state: dict[tuple, tuple] = {}
    for rows in ticks:
        for r in rows:
            key = r[1:4]
            if mode == "merge" or key not in state:
                state[key] = r
    return list(state.values())
