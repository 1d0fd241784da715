"""Copy / migrate / delete tool for stored points tables — the S11 analog
of the reference's table surgery workflow (reference
tools/copy_tables/copy_tables.py:16-72: download a device's rows to a
backup file, delete them from the store, re-key and re-save), re-expressed
over the Catalog's snapshot-logged parquet tables.

Subcommands (all scoped to one url and an optional [--ts-ini, --ts-end)
window, mirroring the reference's per-device, per-period actions):

  export   back the rows up to a standalone parquet (ALWAYS do this first,
           like the reference's "store all data to a file" step)
  delete   rewrite the table without the rows (staged-swap rewrite — a new
           snapshot, never an in-place mutation Spark can't do safely)
  migrate  re-key the rows to a new url (bucket recomputed; optional
           --series-hash) and append them as a new snapshot; combine with
           `delete` for a move

Usage:
    python scripts/copy_table.py export  --warehouse WH --table points_1h \
        --url U --out /tmp/backup.parquet [--ts-ini T0] [--ts-end T1]
    python scripts/copy_table.py delete  --warehouse WH --table points_1h \
        --url U [--ts-ini T0] [--ts-end T1]
    python scripts/copy_table.py migrate --warehouse WH --table points_1h \
        --url U --to-url V [--series-hash H] [--ts-ini T0] [--ts-end T1]
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from timeseries_harmonizer_spark.config import bucket_of  # noqa: E402
from timeseries_harmonizer_spark.session import get_spark  # noqa: E402
from timeseries_harmonizer_spark.sources.tables import Catalog  # noqa: E402


def _selector(args, with_bucket: bool = False):
    cond = F.col("url") == args.url
    if with_bucket:
        # constant-foldable bucket predicate -> partition pruning on
        # bucket-partitioned tables (export/migrate read 1/N_BUCKETS of
        # files; delete reads everything anyway to rewrite the complement)
        cond = cond & (F.col("bucket") == bucket_of(F.lit(args.url)))
    if args.ts_ini:
        cond = cond & (F.col("start") >= F.lit(args.ts_ini).cast("timestamp"))
    if args.ts_end:
        cond = cond & (F.col("start") < F.lit(args.ts_end).cast("timestamp"))
    return cond


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("action", choices=["export", "delete", "migrate"])
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--table", required=True, help="e.g. points_1h")
    ap.add_argument("--url", required=True)
    ap.add_argument("--ts-ini", default=None)
    ap.add_argument("--ts-end", default=None)
    ap.add_argument("--out", default=None, help="export: backup parquet path")
    ap.add_argument("--to-url", default=None, help="migrate: new series key")
    ap.add_argument("--series-hash", default=None,
                    help="migrate: override the series_hash column if present")
    ap.add_argument("--engine-buckets", action="store_true",
                    help="prune by bucket partition (ONLY for engine points "
                         "tables where bucket = pmod(xxhash64(url), N_BUCKETS))")
    ap.add_argument("--master", default="local[4]")
    args = ap.parse_args(argv)

    spark = get_spark(
        app_name=f"copy-table-{args.action}", master=args.master,
        shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    cat = Catalog(args.warehouse)
    df = cat.read(spark, args.table)
    sel = _selector(args)
    # preserve the live table's physical layout across rewrites/appends (a
    # mixed partitioned/flat layout breaks partition discovery)
    import glob
    import os

    live = os.path.join(args.warehouse, args.table, "data")
    part = (
        ["bucket"]
        if glob.glob(os.path.join(live, "bucket=*")) and "bucket" in df.columns
        else None
    )
    # bucket pruning is OPT-IN: it is only correct when the table's bucket
    # column is config.bucket_of(url) (true for engine points
    # tables written by shape_points, NOT for arbitrary bucket columns —
    # a wrong assumption would silently select zero rows)
    sel_pruned = _selector(
        args, with_bucket=args.engine_buckets and part is not None
    )

    if args.action == "export":
        if not args.out:
            ap.error("export requires --out")
        picked = df.where(sel_pruned)
        n = picked.count()
        picked.write.mode("overwrite").parquet(args.out)
        print(f"exported {n} rows of {args.url} to {args.out}")
        return 0

    if args.action == "delete":
        # null-safe complement: rows where the selector is NULL (e.g. NULL
        # start with a --ts window, NULL url) must be KEPT — `~NULL` is NULL
        # and where() drops it, silently deleting out-of-scope rows
        kept = df.where(~F.coalesce(sel, F.lit(False)))
        snap = cat.rewrite(args.table, kept, partition_by=part)
        print(f"rewrote {args.table} without {args.url} rows (snapshot {snap})")
        return 0

    # migrate: re-key and append as a new snapshot
    if not args.to_url:
        ap.error("migrate requires --to-url")
    moved = df.where(sel_pruned).withColumn("url", F.lit(args.to_url))
    if "bucket" in moved.columns:
        moved = moved.withColumn("bucket", bucket_of(F.col("url")))
    if args.series_hash and "series_hash" in moved.columns:
        moved = moved.withColumn("series_hash", F.lit(args.series_hash))
    if "snapshot_id" in moved.columns:
        moved = moved.withColumn(
            "snapshot_id", F.lit((cat.last_snapshot_id(args.table) or 0) + 1)
        )
    n = moved.count()
    snap = cat.write(args.table, moved, mode="append", partition_by=part)
    print(f"migrated {n} rows {args.url} -> {args.to_url} (snapshot {snap})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
