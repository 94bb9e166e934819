"""Seeded synthetic Exness tick data and the row counts a correct store
must return for it.

Every month holds ticks on its first ``TRADING_DAYS`` weekdays only, so
each month carries the same work whatever the calendar: no weekend
ticks, and every month keeps at least two weekdays free for the
intraday appends of the ``append_and_read`` workload. About 1% of the
rows are exact duplicates of another row, so write-side dedup has real
work. Within a variant, timestamps are unique once duplicates are
dropped; the standard variant has ``ask > bid``, the raw-spread
variant mostly ``ask == bid``.

The same seed always gives the same rows: each (variant, day) draws
from its own ``numpy`` stream keyed by the seed, so a day's ticks do
not depend on which other days are generated. Prices are an EURUSD-like
random walk at five decimals.
"""

from __future__ import annotations

import datetime as dt
import io
import zipfile

import numpy as np
import pandas as pd

TRADING_DAYS = 18
VARIANTS = ("raw_spread", "standard")
_LEVEL, _DIGITS = 1.08, 5
_DAY_MS = 86_400_000
_MINUTE_MS = 60_000


def weekdays(year: int, month: int) -> list[dt.date]:
    d = dt.date(year, month, 1)
    out = []
    while d.month == month:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def trading_days(year: int, month: int) -> list[dt.date]:
    """The weekdays a generated month holds ticks on."""
    return weekdays(year, month)[:TRADING_DAYS]


def spare_days(year: int, month: int) -> list[dt.date]:
    """Weekdays of the month left empty, in date order, for appends."""
    return weekdays(year, month)[TRADING_DAYS:]


def epoch_ms(d: dt.date) -> int:
    return (d - dt.date(1970, 1, 1)).days * _DAY_MS


def day_ticks(seed: int, variant: str, day: dt.date, per_day: int) -> pd.DataFrame:
    """One day of ticks as (ts_ms, bid, ask), sorted, with ~1% of rows
    repeated exactly."""
    rng = np.random.default_rng([seed, VARIANTS.index(variant), day.toordinal()])
    offs = np.unique(rng.integers(0, _DAY_MS, per_day))
    ts = epoch_ms(day) + offs
    bid = np.round(_LEVEL * (1.0 + np.cumsum(rng.normal(0.0, 2e-5, len(ts)))), _DIGITS)
    pip = 10.0 ** -_DIGITS
    if variant == "standard":
        ask = np.round(bid + pip * rng.integers(6, 20, len(ts)), _DIGITS)
    else:
        ask = np.round(bid + pip * (rng.random(len(ts)) < 0.2), _DIGITS)
    dup = np.sort(rng.choice(len(ts), len(ts) // 100, replace=False))
    idx = np.sort(np.concatenate([np.arange(len(ts)), dup]), kind="stable")
    return pd.DataFrame({"ts_ms": ts[idx], "bid": bid[idx], "ask": ask[idx]})


def days_ticks(seed: int, variant: str, days: list[dt.date], per_day: int) -> pd.DataFrame:
    return pd.concat([day_ticks(seed, variant, d, per_day) for d in days], ignore_index=True)


def to_spark_frame(pdf: pd.DataFrame, instrument: str) -> pd.DataFrame:
    """Generated rows in the package's tick schema (naive UTC
    timestamps; the session time zone is UTC)."""
    return pd.DataFrame(
        {
            "instrument": instrument,
            "timestamp": pd.to_datetime(pdf["ts_ms"].to_numpy(), unit="ms"),
            "bid": pdf["bid"].to_numpy(),
            "ask": pdf["ask"].to_numpy(),
        }
    )


def archive_bytes(pdf: pd.DataFrame, instrument: str, variant: str) -> bytes:
    """A monthly archive in the Exness shape: one CSV inside a ZIP with
    ``"Exness","Symbol","Timestamp","Bid","Ask"`` columns and
    ``...Z``-suffixed UTC timestamps."""
    symbol = f"{instrument}_{'Raw_Spread' if variant == 'raw_spread' else 'Standard'}"
    stamps = np.datetime_as_string(
        pdf["ts_ms"].to_numpy().astype("datetime64[ms]"), unit="ms"
    )
    csv = pd.DataFrame(
        {
            "Exness": "exness",
            "Symbol": symbol,
            "Timestamp": np.char.add(np.char.replace(stamps, "T", " "), "Z"),
            "Bid": pdf["bid"].to_numpy(),
            "Ask": pdf["ask"].to_numpy(),
        }
    ).to_csv(index=False)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(f"{symbol}.csv", csv)
    return buf.getvalue()


class Expected:
    """What the store must hold: the unique tick timestamps per variant
    and the distinct raw-spread minutes (one 1m bar each), updated as the
    benchmark writes."""

    def __init__(self) -> None:
        self.ticks: dict[str, np.ndarray] = {}
        self.minutes = np.empty(0, np.int64)

    def copy(self) -> "Expected":
        out = Expected()
        out.ticks = dict(self.ticks)
        out.minutes = self.minutes
        return out

    def add(self, variant: str, pdf: pd.DataFrame) -> int:
        """Record written rows; returns how many keys are new."""
        old = self.ticks.get(variant, np.empty(0, np.int64))
        new = np.union1d(old, pdf["ts_ms"].to_numpy())
        self.ticks[variant] = new
        if variant == "raw_spread":
            self.minutes = np.unique(new // _MINUTE_MS)
        return len(new) - len(old)

    def tick_count(self, variant: str, lo_ms: int | None = None,
                   hi_ms: int | None = None, after_ms: int | None = None) -> int:
        """Stored ticks with lo <= ts <= hi (both inclusive) and
        ts > after."""
        ts = self.ticks[variant]
        lo = 0 if lo_ms is None else np.searchsorted(ts, lo_ms, "left")
        if after_ms is not None:
            lo = max(lo, np.searchsorted(ts, after_ms, "right"))
        hi = len(ts) if hi_ms is None else np.searchsorted(ts, hi_ms, "right")
        return max(0, int(hi - lo))

    def bar_count(self, bucket_minutes: int, lo_ms: int | None = None,
                  hi_ms: int | None = None) -> int:
        """1m bars with lo <= bar start <= hi, resampled to
        ``bucket_minutes`` epoch-aligned buckets."""
        m = self.minutes
        lo = 0 if lo_ms is None else np.searchsorted(m, -(-lo_ms // _MINUTE_MS), "left")
        hi = len(m) if hi_ms is None else np.searchsorted(m, hi_ms // _MINUTE_MS, "right")
        m = m[lo:hi]
        return len(np.unique(m // bucket_minutes)) if bucket_minutes > 1 else len(m)

    def stored_ms(self, variant: str, index: int) -> int:
        return int(self.ticks[variant][index])

    def window_index(self, variant: str, lo_ms: int) -> int:
        """Index of the first stored tick at or after ``lo_ms``."""
        return int(np.searchsorted(self.ticks[variant], lo_ms))
