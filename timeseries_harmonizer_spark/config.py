"""Retention tiers and the window vocabulary every operator shares.

Analog of the reference's ``FREQ_CONFIG`` (reference launcher_v2.py:22-28):
each tier binds a window width, a lookback window re-read on every run
(the effective watermark), a session gap threshold (7200 s for fine tiers,
None for coarse — reference launcher_v2.py:23-27), and a retention horizon
after which the tier's fine payloads are swept into the next-coarser tier.

A frequency ("freq") is a fixed width in seconds or a calendar name in
``CALENDAR``. The helpers below are the one place that tells the two apart
(the reference's ``isodate_floor``, lib2/calculate_formulas.py:11-17):
the driver-side floor, the Spark window label, the ``sequence`` step and the
comparable width. The retention sweep relies on the driver floor and the
executor label agreeing.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import timedelta

import pandas as pd
from pyspark.sql import Column, functions as F

# calendar frequency -> its date_trunc unit
CALENDAR = {"P1W": "week", "P1M": "month"}


@dataclass(frozen=True)
class TierConfig:
    name: str                 # "1m" | "1h" | "1d" | "P1W" | "P1M"
    seconds: int              # window width; for calendar tiers the
                              # *comparable* width (P1W=7d, P1M=30d) used for
                              # ordering/ratios only (reference
                              # lib2/calculate_formulas.py:20-24)
    lookback: timedelta       # days_to_gather analog: window re-read per run
    gap_seconds: int | None   # session split threshold (R5); None = no split
    retention: timedelta | None  # sweep horizon; None = keep forever
    coarser: str | None       # tier this one downsamples into on expiry

    @property
    def freq(self) -> "int | str":
        """The frequency operators take: seconds, or a ``CALENDAR`` name."""
        return self.name if self.name in CALENDAR else self.seconds


TIERS: dict[str, TierConfig] = {
    "1m": TierConfig(
        name="1m",
        seconds=60,
        lookback=timedelta(days=2),
        gap_seconds=7200,
        retention=timedelta(days=7),
        coarser="1h",
    ),
    "1h": TierConfig(
        name="1h",
        seconds=3600,
        lookback=timedelta(days=7),
        gap_seconds=7200,
        retention=timedelta(days=60),
        coarser="1d",
    ),
    "1d": TierConfig(
        name="1d",
        seconds=86400,
        lookback=timedelta(days=60),
        gap_seconds=None,
        retention=timedelta(days=365),
        coarser="P1M",
    ),
    # Calendar tiers (reference FREQ_CONFIG P1W/P1M, launcher_v2.py:26-27).
    # The reference's raw 1s harmonization cannot express these at all
    # (pd.Timedelta("P1M") raises); they exist as downsample targets
    # (pandas "1MS" resample in calculations) and LAST rollups — same here:
    # date_trunc windows in downsample / rollup_native_last / the formula
    # engine, fed by the 1d tier.
    "P1W": TierConfig(
        name="P1W",
        seconds=7 * 86400,
        lookback=timedelta(days=60),
        gap_seconds=None,
        retention=None,
        coarser=None,
    ),
    "P1M": TierConfig(
        name="P1M",
        seconds=30 * 86400,
        lookback=timedelta(days=180),
        gap_seconds=None,
        retention=None,
        coarser=None,
    ),
}

# Number of hash buckets for explicit bucket repartitioning (the storage
# analog is the reference's bucket = (ts // TS_BUCKETS) % BUCKETS,
# lib/__init__.py:140).
N_BUCKETS = 64

# Values are rounded to 5 decimals before emit (reference
# harmonizers/__init__.py:233).
VALUE_ROUND = 5


def bucket_of(col: Column) -> Column:
    """The storage bucket id of a series key: every writer and every
    bucket-pruning reader computes it here."""
    return F.pmod(F.xxhash64(col), F.lit(N_BUCKETS)).cast("int")


def freq_seconds(freq: "int | str") -> int:
    """Comparable width in seconds (reference :20-24 — P1M compares as 30
    days, P1W as 7)."""
    return TIERS[freq].seconds if freq in CALENDAR else int(freq)


def floor_time(ts, freq: "int | str") -> pd.Timestamp:
    """Driver-side floor of a timestamp to the start of its window: Monday
    / first of the month for calendar frequencies, else the epoch-aligned
    fixed-width window. Agrees with :func:`window_start`."""
    ts = pd.Timestamp(ts)
    unit = CALENDAR.get(freq)
    if unit == "month":
        return ts.normalize().replace(day=1)
    if unit == "week":
        return (ts - pd.Timedelta(days=ts.weekday())).normalize()
    return ts.floor(pd.Timedelta(seconds=int(freq)))


def window_start(col: Column, freq: "int | str") -> Column:
    """Spark-side window label (a timestamp) of a timestamp column."""
    if freq in CALENDAR:
        return F.date_trunc(CALENDAR[freq], col)
    s = int(freq)
    return F.timestamp_seconds(F.floor(F.unix_timestamp(col) / s) * s)


def window_step(freq: "int | str") -> Column:
    """The interval between consecutive window starts, for ``sequence``
    over timestamps."""
    if freq in CALENDAR:
        return F.expr(f"interval 1 {CALENDAR[freq]}")
    return F.expr(f"interval {int(freq)} seconds")
