"""Historic backfill driver — O6 analog (reference tools/historic_process.py).

Chunks [start, stop] into per-tier lookback windows and runs one
checkpointed tier job per chunk over ``--input``: the chunk starting at
``c`` reads the input's lookback window ending at ``min(c + lookback, stop)``
(chunk id = run id, so a killed backfill resumes at the first incomplete
chunk). Re-processing overlap is safe: points appends dedup last-write-wins
on read (D3/D4 semantics).

Usage:
  spark-submit --py-files timeseries_harmonizer_spark.zip jobs/backfill.py \
      --tier 1h --warehouse /path/wh --input /path/web_pages.parquet \
      [--registry /path/registry.parquet] --start 2024-01-01 --stop 2024-03-01
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402

from timeseries_harmonizer_spark.config import TIERS  # noqa: E402
from jobs.run_tier import main as run_tier_main  # noqa: E402


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--tier", default="1h", choices=list(TIERS))
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--input", required=True,
                    help="existing web_pages parquet/table")
    ap.add_argument("--registry", default=None,
                    help="existing registry parquet (default: derive from input)")
    ap.add_argument("--start", required=True)
    ap.add_argument("--stop", required=True)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    tier = TIERS[args.tier]
    t0, t1 = pd.Timestamp(args.start), pd.Timestamp(args.stop)
    chunk = tier.lookback
    cur = t0
    n = 0
    while cur < t1:
        run_id = f"backfill-{args.tier}-{cur.isoformat()}"
        sub = [
            "--tier", args.tier, "--warehouse", args.warehouse,
            "--run-id", run_id, "--input", args.input,
            "--ts-end", min(cur + chunk, t1).isoformat(),
        ]
        if args.registry:
            sub += ["--registry", args.registry]
        if args.master:
            sub += ["--master", args.master]
        run_tier_main(sub)
        cur += chunk
        n += 1
    print(f"backfill complete: {n} chunks")


if __name__ == "__main__":
    main()
