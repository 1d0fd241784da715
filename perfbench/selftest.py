"""Self-test of the benchmark at toy size, in one Spark session:

    python3 perfbench/selftest.py

1. every workload in BENCHMARK.json, untraced and traced, prints every
   end-to-end and every per-layer metric the file names, with its unit,
   and the metrics of the layers a workload exercises are non-zero;
2. every operation of those runs passes its output check;
3. a deliberately corrupted blob makes the tier workload's output check
   fail.

Prints one line per case and exits 1 if any case fails.
"""

from __future__ import annotations

import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import run as R  # noqa: E402

TOY = 0.05

# per-layer metrics that must be non-zero on each workload's traced run
EXERCISED = {
    "tier": [
        "scan.s", "scan.rows", "scan.mb", "extract.s", "extract.null_rows",
        "prepare.s", "prepare.exchange_mb", "dedup.s", "dedup.rows_in",
        "dedup.rows_out", "sessionize.s", "sessionize.sessions", "persist.s",
        "persist.mb", "rollup.sum_avg.s", "rollup.sum_avg.rows_out",
        "rollup.last.s", "rollup.last.rows_out", "rollup.last.locf_share",
        "payloads.s", "payloads.rows", "shape.s", "compress.s",
        "compress.arrow_mb", "compress.python_rows", "compress.groups",
        "compress.blob_mb", "catalog.write.s", "catalog.commit.s",
        "catalog.files_written", "manifest.commit_ms", "bytes_per_point",
        "cache_mb", "spark.jobs", "spark.tasks", "host.probe_ratio",
    ],
    "sweep_readback": [
        "lww.s", "lww.rows_in", "lww.rows_out", "sweep.s",
        "sweep.expired_points", "sweep.spark_jobs", "downsample.s",
        "downsample.rows_out", "decode.s", "decode.points", "catalog.write.s",
        "catalog.commit.s", "catalog.files_written", "catalog.read.files_scanned",
        "catalog.read.files_pruned", "bytes_per_point", "spark.jobs",
    ],
    "query_suite": ["spark.jobs"] + [
        f"{q}.{m}" for q in R.query_names() for m in ("s", "jobs")
    ],
}


def run_workload(spark, spec: dict, name: str, trace: bool) -> list[str]:
    """Returns the failed assertions of one toy run."""
    buf = io.StringIO()
    res = R.Runner(name, seed=7, seconds=0.1, trace=trace, size=TOY, out=buf).run(spark)
    printed = buf.getvalue()
    problems = []
    section = "per_layer" if trace else "end_to_end"
    for m in spec[section]:
        got = res["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            problems.append(f"{m['name']} missing or not in {m['unit']}: {got}")
        elif not trace and not (got["value"] > 0 and m["name"] in printed):
            problems.append(f"{m['name']} not printed or not positive: {got}")
    if trace:
        kind = "tier" if name.startswith("tier_") else name
        problems += [f"{m} is 0 on a workload that exercises it"
                     for m in EXERCISED[kind] if not res["metrics"][m]["value"]]
    if not res["correct"]:
        problems.append(f"{res['failed']} of {res['attempted']} operations failed "
                        "their output check (reasons on stderr)")
    return problems


def corrupted_blob_fails(spark) -> list[str]:
    from perfbench.harness import WorkDir
    from perfbench.workloads import TierWorkload

    work = WorkDir(os.path.join(HERE, "_work"), "selftest-corrupt")
    try:
        wl = TierWorkload(spark, work, seed=3, tier_name="1h", size=TOY)
        wl.build(0)
        wl.prepare()
        res = wl.op()
        if wl.check(res):
            return ["the clean blobs already fail their check"]
        table = "blobs_1h"
        blobs = wl.cat.read(spark, table, version=res.info["snapshot"])
        pdf = blobs.toPandas()
        blob = bytearray(pdf.at[0, "val_blob"])
        blob[len(blob) // 2] ^= 0x5A
        pdf.at[0, "val_blob"] = bytes(blob)
        res.info["snapshot"] = wl.cat.write(table, spark.createDataFrame(pdf, blobs.schema))
        failed = wl.check(res)
        wl.release()
        return [] if failed else ["a corrupted blob passed the output check"]
    finally:
        work.close()


def main() -> int:
    from perfbench.harness import WorkDir, host_cpus, start_spark

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    R.BUILDS, R.WARMUPS, R.MIN_OPS, R.PAIRS = 1, 1, 1, 1
    work = WorkDir(os.path.join(HERE, "_work"), "selftest")
    spark = start_spark(R.ROOT, work.path, host_cpus())
    cases = [(f"{w['name']} trace={int(t)}",
              lambda w=w, t=t: run_workload(spark, spec, w["name"], t))
             for w in spec["workloads"] for t in (False, True)]
    cases.append(("corrupted blob fails its check", lambda: corrupted_blob_fails(spark)))
    failed = 0
    try:
        for label, case in cases:
            problems = case()
            failed += bool(problems)
            print(f"{'FAIL' if problems else 'ok'} {label}", flush=True)
            for p in problems:
                print(f"    {p}", flush=True)
    finally:
        R.stop_spark(spark)
        work.close()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
