"""Retention sweep — O6/S10 analog (SURVEY.md §2.9).

Downsamples fine-tier points past their retention horizon into the
next-coarser tier (R6 with the series' aggregation function), appends the
coarse points (reads dedup by last-write-wins), and rewrites the fine tier
without the expired range (the tombstone/delete sink S10, reference
tools/remove_influx_data.py:10-21). Idempotent: re-running the sweep over
the same horizon produces the same coarse rows and the same trimmed fine
table, mirroring the reference's overlap-rerun design
(harmonizers/__init__.py:387-388; launcher.py:40-44).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from timeseries_harmonizer_spark.config import TIERS, TierConfig, floor_time
from timeseries_harmonizer_spark.operators.rollup import downsample


def floor_to_coarse_window(ts: pd.Timestamp, coarse: TierConfig) -> pd.Timestamp:
    """Floor a timestamp to the start of the coarse tier's window containing
    it — the same boundary the executors' ``window_start`` labels use."""
    return floor_time(ts, coarse.freq)


def split_expired(
    points: DataFrame, tier: TierConfig, now: pd.Timestamp
) -> tuple[DataFrame, DataFrame]:
    """(expired, retained) by the tier's retention horizon.

    The cutoff is floored to the COARSE tier's window boundary so only
    complete coarse windows are ever swept. A raw `now - retention` cutoff
    is never month-aligned, so the boundary window would be swept as a
    partial slice — and because expired rows leave the fine tier, the next
    sweep would emit a DIFFERENT partial SUM/AVG for the same (key, start),
    and the last-write-wins read dedup would silently keep only the final
    ~1-slice fragment. Flooring makes every emitted coarse point final."""
    if tier.retention is None:
        return points.where(F.lit(False)), points
    cutoff = pd.Timestamp(now) - tier.retention
    if tier.coarser is not None:
        cutoff = floor_to_coarse_window(cutoff, TIERS[tier.coarser])
    cutoff = cutoff.to_pydatetime()
    expired = points.where(F.col("start") < F.lit(cutoff).cast("timestamp"))
    retained = points.where(F.col("start") >= F.lit(cutoff).cast("timestamp"))
    return expired, retained


def sweep_tier(
    points: DataFrame,
    tier_name: str,
    now,
    registry: DataFrame | None = None,
    key: str = "url",
) -> tuple[DataFrame, DataFrame]:
    """Returns (coarse_points, retained_fine_points) for one tier.

    ``points``: (key, start, value, agg_func?) rows of the fine tier.
    If ``registry`` given, agg funcs come from a broadcast join on key.
    """
    tier = TIERS[tier_name]
    if tier.coarser is None or tier.retention is None:
        return points.where(F.lit(False)), points
    coarse = TIERS[tier.coarser]
    # Cascade guard: the retention cutoff must never outrun what this tier
    # actually HOLDS. The tier above swept into us with ITS window
    # alignment (e.g. the 1m tier's hour-aligned boundary), so our newest
    # rows generally end mid-coarse-window; after a long outage (or a
    # jumped clock) the aligned `now - retention` cutoff can pass that
    # point, and sweeping it would emit a data-incomplete coarse window —
    # which a later run would re-emit differently once the upstream sweep
    # catches up, and last-write-wins would keep only the fragment.
    # Capping at floor_coarse(data_end) sweeps only windows this table can
    # fully cover. (One tiny agg action; empty tables sweep nothing.)
    row = points.agg(F.max("start").alias("mx")).first()
    if row is None or row["mx"] is None:
        return points.where(F.lit(False)), points
    data_end = pd.Timestamp(row["mx"]) + pd.Timedelta(seconds=tier.seconds)
    capped_now = min(
        pd.Timestamp(now),
        floor_to_coarse_window(data_end, coarse) + tier.retention,
    )
    expired, retained = split_expired(points, tier, capped_now)
    if "agg_func" not in expired.columns and registry is not None:
        expired = expired.join(F.broadcast(registry.select(key, "agg_func")), key)
    parts = []
    for agg_name, agg in (("SUM", "sum"), ("AVG", "avg"), ("LAST", "last")):
        sub = expired.where(F.col("agg_func") == agg_name)
        parts.append(
            downsample(
                sub,
                key=key,
                agg=agg,
                from_seconds=tier.seconds,
                to_seconds=coarse.freq,
            ).withColumn("tier", F.lit(coarse.name))
        )
    coarse_points = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return coarse_points, retained
