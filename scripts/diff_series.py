"""Recompute-and-diff debug CLI — the operator-facing analog of the
reference's debug tool (reference tools/debug_tool/debug_tool.py:186-209,
debug_raw.py:71-116): recompute one url's series from the raw pages with
the vendored pandas oracle, independently of Spark's engine paths, and
diff it against the points actually stored in a warehouse.

Usage:
    python scripts/diff_series.py --warehouse WH --input PAGES.parquet \
        --url URL --tier 1h [--registry REG.parquet] [--ts-end TS] \
        [--seed 42] [--tol 2e-5] [--master local[4]]

Exit code 0 = stored == recomputed (within --tol), 1 = any drift, with a
row-level report of missing / extra / mismatching windows.
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402
from timeseries_harmonizer_spark.config import TIERS  # noqa: E402
from timeseries_harmonizer_spark.operators.dedup import last_write_wins  # noqa: E402
from timeseries_harmonizer_spark.session import get_spark  # noqa: E402
from timeseries_harmonizer_spark.sources.tables import Catalog  # noqa: E402
from timeseries_harmonizer_spark.sources.webpages import registry  # noqa: E402


def recompute(spark, args, tier) -> pd.DataFrame:
    """One url's series from the raw pages via the pandas oracle, over the
    same lookback window a run_tier invocation would have read."""
    pages = spark.read.parquet(args.input).where(F.col("url") == args.url)
    ts_end = (
        pd.Timestamp(args.ts_end)
        if args.ts_end
        else pd.Timestamp(
            spark.read.parquet(args.input).agg(F.max("warc_ts")).first()[0]
        )
    )
    ts_ini = ts_end - tier.lookback
    pages = pages.where(
        (F.col("warc_ts") > F.lit(ts_ini.to_pydatetime()))
        & (F.col("warc_ts") <= F.lit(ts_end.to_pydatetime()))
    )
    pages_pdf = pages.toPandas()
    if args.registry:
        reg_pdf = (
            spark.read.parquet(args.registry)
            .where(F.col("url") == args.url)
            .toPandas()
        )
    else:
        reg_pdf = registry(
            spark, spark.read.parquet(args.input), seed=args.seed
        ).where(F.col("url") == args.url).toPandas()
    return oracle.harmonize_pages(
        pages_pdf, reg_pdf, tier.seconds, tier.gap_seconds
    )


def stored(spark, args, tier) -> pd.DataFrame:
    from timeseries_harmonizer_spark.config import bucket_of

    pts = Catalog(args.warehouse).read(spark, f"points_{tier.name}")
    if "bucket" in pts.columns:
        # constant-foldable bucket predicate -> directory-level partition
        # pruning on bucket-partitioned tables (touch 1/N_BUCKETS of files)
        pts = pts.where(F.col("bucket") == bucket_of(F.lit(args.url)))
    pts = last_write_wins(pts, keys=("url", "start"), write_order_col="snapshot_id")
    return (
        pts.where(F.col("url") == args.url)
        .select("url", "start", F.round("value", 5).alias("value"))
        .toPandas()
    )


def diff(got: pd.DataFrame, exp: pd.DataFrame, tol: float) -> int:
    """Print a row-level drift report; return the number of drifting rows."""
    g = got.set_index(pd.DatetimeIndex(got["start"]))["value"]
    e = exp.set_index(pd.DatetimeIndex(exp["start"]))["value"]
    only_stored = g.index.difference(e.index)
    only_recomputed = e.index.difference(g.index)
    common = g.index.intersection(e.index)
    gv, ev = g.loc[common].to_numpy(float), e.loc[common].to_numpy(float)
    both_nan = np.isnan(gv) & np.isnan(ev)
    bad = ~(both_nan | (np.abs(gv - ev) <= tol))
    n_drift = len(only_stored) + len(only_recomputed) + int(bad.sum())
    print(f"stored windows:     {len(g)}")
    print(f"recomputed windows: {len(e)}")
    print(f"value mismatches (> {tol}): {int(bad.sum())} of {len(common)} common")
    for ts in only_stored[:10]:
        print(f"  ONLY-STORED     {ts}  value={g.loc[ts]}")
    for ts in only_recomputed[:10]:
        print(f"  ONLY-RECOMPUTED {ts}  value={e.loc[ts]}")
    shown = 0
    for i, ts in enumerate(common):
        if bad[i] and shown < 10:
            print(f"  MISMATCH        {ts}  stored={gv[i]}  recomputed={ev[i]}")
            shown += 1
    print("DRIFT" if n_drift else "MATCH")
    return n_drift


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--input", required=True, help="raw web_pages parquet")
    ap.add_argument("--url", required=True)
    ap.add_argument("--tier", default="1h", choices=list(TIERS))
    ap.add_argument("--registry", default=None)
    ap.add_argument("--ts-end", default=None,
                    help="end of the recompute window (default: max warc_ts)")
    ap.add_argument("--seed", type=int, default=42,
                    help="registry derivation seed when --registry is absent")
    ap.add_argument("--tol", type=float, default=2e-5)
    ap.add_argument("--master", default="local[4]")
    args = ap.parse_args(argv)
    tier = TIERS[args.tier]
    spark = get_spark(
        app_name="diff-series", master=args.master, shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    got = stored(spark, args, tier)
    exp = recompute(spark, args, tier)
    return 1 if diff(got, exp, args.tol) else 0


if __name__ == "__main__":
    sys.exit(main())
