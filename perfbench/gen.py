"""Seeded synthetic Exness-format tick archives.

An archive is one ZIP holding one CSV with the columns Exness publishes
(``Exness,Symbol,Timestamp,Bid,Ask``) for one instrument, variant and span
of days. Every archive is drawn from its own generator, keyed by (seed,
instrument, year, month, variant, first day), so the same seed gives the
same bytes whatever order the archives are built in.

Timestamps have millisecond resolution and are unique within an archive,
apart from every 200th row, which is written twice so the write path's
dedup has work to do. ``MonthTicks.ts`` holds the distinct timestamps:
exactly the rows the store should keep, from which the benchmark computes
every answer it checks.
"""

from __future__ import annotations

import calendar
import datetime as dt
import io
import zipfile
from dataclasses import dataclass

import numpy as np

VARIANTS = ("raw_spread", "standard")
_SYMBOL_SUFFIX = {"raw_spread": "_Raw_Spread", "standard": ""}
_BASE_PRICE = {"EURUSD": 1.08, "GBPUSD": 1.27, "USDJPY": 151.0, "XAUUSD": 2350.0}
#: every DUP_EVERY-th row of an archive is written twice
DUP_EVERY = 200
MS_PER_MIN = 60_000
MS_PER_DAY = 86_400_000


def epoch_ms(d: dt.date) -> int:
    """Midnight UTC of ``d`` in epoch milliseconds."""
    return (d - dt.date(1970, 1, 1)).days * MS_PER_DAY


@dataclass
class MonthTicks:
    """One archive's distinct rows."""

    instrument: str
    variant: str
    ts: np.ndarray  # int64 epoch ms, sorted, unique
    bid: np.ndarray
    ask: np.ndarray

    @property
    def rows_offered(self) -> int:
        """CSV rows in the archive, duplicates included."""
        return len(self.ts) + len(range(0, len(self.ts), DUP_EVERY))

    def to_zip(self) -> bytes:
        sym = self.instrument + _SYMBOL_SUFFIX[self.variant]
        n = len(self.ts)
        idx = np.sort(np.concatenate([np.arange(n), np.arange(0, n, DUP_EVERY)]))
        stamps = np.datetime_as_string(self.ts[idx].astype("datetime64[ms]"), unit="ms")
        lines = [
            f"exness,{sym},{s.replace('T', ' ')}Z,{b:.5f},{a:.5f}"
            for s, b, a in zip(stamps.tolist(), self.bid[idx].tolist(), self.ask[idx].tolist())
        ]
        csv = "Exness,Symbol,Timestamp,Bid,Ask\n" + "\n".join(lines) + "\n"
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
            zf.writestr(f"Exness_{sym}_{stamps[0][:7]}.csv", csv)
        return buf.getvalue()


def make_month(seed: int, instrument: str, year: int, month: int, variant: str,
               n_ticks: int, first_day: int = 1,
               last_day: int | None = None) -> MonthTicks:
    """Draw ``n_ticks`` distinct ticks spread over days ``first_day`` to
    ``last_day`` (default: the month's last) of one month."""
    rng = np.random.default_rng(
        [seed, sum(map(ord, instrument)), year, month, VARIANTS.index(variant), first_day]
    )
    last_day = last_day or calendar.monthrange(year, month)[1]
    lo = epoch_ms(dt.date(year, month, first_day))
    hi = epoch_ms(dt.date(year, month, last_day)) + MS_PER_DAY
    ts = np.unique(rng.integers(lo, hi, size=int(n_ticks * 1.02)))
    ts = np.sort(rng.choice(ts, size=min(n_ticks, len(ts)), replace=False))
    base = _BASE_PRICE[instrument]
    step = base * 2e-5
    bid = np.round(base + np.cumsum(rng.normal(0.0, step, size=len(ts))), 5)
    spread = step * (2.0 if variant == "raw_spread" else 8.0)
    ask = np.round(bid + spread * (1 + rng.random(len(ts))), 5)
    return MonthTicks(instrument, variant, ts, bid, ask)
