"""Benchmark of the timeseries_harmonizer_spark engine.

    python3 perfbench/run.py --workload tier_1m --seed 1 --seconds 6 --trace 0

Runs one workload in one process on local[n] (n = the available cores less
one, at most three; shuffle partitions = n), from the root of a checkout:

1. set-up: start the session, build the seeded input twice (the
   median build counts in ``setup_s``), derive the workload's tables and
   references, then run one checked warm-up operation (none for
   query_suite, whose DuckDB oracle pass at set-up runs every query once);
2. ``--trace 0``: closed-loop operations for ``--seconds`` seconds (at
   least three), each preceded by an all-core host probe and followed by its
   output check; prints the end-to-end metrics;
3. ``--trace 1``: two untraced operations (for Spark's per-operation
   counters and the untraced time), each followed by the operation traced,
   split at every layer boundary; prints the per-layer metrics and writes
   the spans to ``perfbench/_trace/<workload>-seed<seed>.json``.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
A failed output check or an operation that raised makes ``correct`` false
and the exit code 1.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)
os.environ["TZ"] = "UTC"  # collected timestamps are naive UTC, as Spark's session
time.tzset()

WORKLOADS = ("tier_1m", "sweep_readback", "query_suite")
# input builds per run; setup_s counts them once, at their median
BUILDS = 2
# Untimed, checked operations before the timed ones. op_s keeps falling for
# five or six operations while the JVM compiles the hot paths, more than the
# time budget of a run affords (the first operation takes about twice the
# second, the later ones a few percent less each); a fixed count puts every
# run's timed operations at the same point of that curve.
WARMUPS = 1
# at least this many timed operations, however long they take, so the
# median sits at the same point of the curve and ignores one burst
MIN_OPS = 3
PAIRS = 2  # untraced + traced operations of a traced run
COVERAGE = 0.9  # layer self times must cover this share of a traced op

END_TO_END = {"setup_s": "s", "op_s": "s", "rows_per_s": "rows/s"}

# per-layer self time = sum of the self times of these spans
SELF_TIME = {
    "scan.s": ["sources.webpages.scan"],
    "extract.s": ["functions.extract"],
    "prepare.s": ["plans.pipeline.prepare", "plans.pipeline.exchange",
                  "plans.pipeline.enrich"],
    "dedup.s": ["operators.dedup"],
    "lww.s": ["operators.dedup.lww"],
    "sessionize.s": ["operators.sessionize"],
    "persist.s": ["plans.pipeline.persist"],
    "rollup.sum_avg.s": ["operators.rollup.sum_avg"],
    "rollup.last.s": ["operators.rollup.last"],
    "payloads.s": ["plans.pipeline.payloads"],
    "downsample.s": ["operators.rollup.downsample"],
    "shape.s": ["plans.pipeline.shape"],
    "compress.s": ["operators.compress"],
    "decode.s": ["functions.compression.decode"],
    "sweep.s": ["operators.retention.sweep"],
    "catalog.write.s": ["sources.tables.write", "sources.tables.stage"],
    "catalog.commit.s": ["sources.tables.commit"],
    "catalog.read.s": ["sources.tables.read"],
}
COUNTS = {
    "scan.rows": "count", "scan.mb": "MB", "extract.null_rows": "count",
    "prepare.exchange_mb": "MB", "dedup.rows_in": "count",
    "dedup.rows_out": "count", "lww.rows_in": "count", "lww.rows_out": "count",
    "sessionize.sessions": "count", "persist.mb": "MB",
    "rollup.sum_avg.rows_out": "count", "rollup.last.rows_out": "count",
    "rollup.last.locf_share": "ratio", "payloads.rows": "count",
    "downsample.rows_out": "count", "compress.arrow_mb": "MB",
    "compress.python_rows": "count", "compress.groups": "count",
    "compress.blob_mb": "MB", "decode.points": "count",
    "sweep.expired_points": "count", "sweep.spark_jobs": "count",
    "catalog.files_written": "count", "catalog.read.files_scanned": "count",
    "catalog.read.files_pruned": "count", "manifest.commit_ms": "ms",
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.gc_s": "s",
    "bytes_per_point": "B", "cache_mb": "MB",
    "host.probe_ratio": "ratio", "trace.overhead_share": "ratio",
}


def query_names() -> list[str]:
    from bench import HEADLINERS

    return list(HEADLINERS)


def per_layer_units() -> dict[str, str]:
    units = {name: "s" for name in SELF_TIME}
    units.update(COUNTS)
    for q in query_names():
        units[f"{q}.s"] = "s"
        units[f"{q}.jobs"] = "count"
    return units


def make_workload(name: str, spark, work, seed: int, size: float):
    from perfbench import workloads as W

    if name == "tier_1m":
        return W.TierWorkload(spark, work, seed, "1m", size)
    if name == "sweep_readback":
        return W.SweepWorkload(spark, work, seed, size)
    return W.QuerySuiteWorkload(spark, work, seed, size)


class Runner:
    """One workload in one session: set-up, then the timed or the traced
    operations. ``size`` scales the inputs (the self-test runs at toy size)."""

    def __init__(self, name: str, seed: int, seconds: float, trace: bool,
                 size: float = 1.0, out=sys.stdout):
        self.name, self.seed, self.seconds, self.trace = name, seed, seconds, trace
        self.size, self.out = size, out
        self.attempted = self.failed = 0
        self.checks: list[float] = []  # seconds of each output check

    def say(self, line: str) -> None:
        print(line, file=self.out, flush=True)

    def fail(self, problems: list[str]) -> None:
        """Count one failed operation (or set-up check) and report why."""
        self.failed += 1
        for p in problems:
            print(f"CHECK FAILED [{self.name}]: {p}", file=sys.stderr, flush=True)

    def run_op(self, fn):
        """Run, time and check one operation; a raise or a failed check
        counts as a failure. Returns (seconds, result or None)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            res = fn()
            dt = time.perf_counter() - t0
            problems = self.wl.check(res["_result"] if isinstance(res, dict) else res)
        except Exception:  # noqa: BLE001 - an operation's failure is a result
            dt = time.perf_counter() - t0
            res, problems = None, [traceback.format_exc(limit=3)]
        self.checks.append(time.perf_counter() - t0 - dt)
        if problems:
            self.fail(problems)
        self.wl.release()
        return dt, res

    # phases ----------------------------------------------------------------
    def setup(self, spark, work) -> float:
        """Returns setup_s: process start to the first timed operation, with
        the repeated input builds counted once, at their median."""
        from perfbench.harness import median

        self.wl = make_workload(self.name, spark, work, self.seed, self.size)
        self.builds = []
        for i in range(BUILDS):
            t0 = time.perf_counter()
            self.wl.build(i)
            self.builds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.wl.prepare()
        self.prepare_s = time.perf_counter() - t0
        if hasattr(self.wl, "oracle_check"):
            self.attempted += 1
            problems = self.wl.oracle_check()
            if problems:
                self.fail(problems)
        # a traced run warms every workload: its overhead is the difference
        # of two small samples, which a falling op_s would bias
        n = WARMUPS if self.trace else getattr(self.wl, "warmup_ops", WARMUPS)
        self.warmups = [self.run_op(self.wl.op)[0] for _ in range(n)]
        return time.perf_counter() - T0 - sum(self.builds) + median(self.builds)

    def measure(self, probe, setup_s: float) -> dict:
        from perfbench.harness import median

        samples, results = [], []
        t_start = time.perf_counter()
        while len(samples) < MIN_OPS or time.perf_counter() - t_start < self.seconds:
            probe()
            dt, res = self.run_op(self.wl.op)
            samples.append(dt)
            if res is not None:
                results.append(res)
        op_s = median(samples)
        rows_per_s = results[0].rows / op_s if results else 0.0
        na = self.name == "query_suite"  # no points, nothing persisted
        self.say(f"# {self.name} seed={self.seed} builds={_fmt(self.builds)} "
                 f"prepare={self.prepare_s:.2f} warm-ups={_fmt(self.warmups)} "
                 f"ops={_fmt(samples)} checks={_fmt(self.checks)} "
                 f"probe_ratio={max(probe.ratios):.2f} probe_best={probe.best:.3f}s")
        for key, val, unit in (
            ("setup_s", setup_s, "s"), ("op_s", op_s, "s"),
            ("rows_per_s", rows_per_s, "rows/s"),
            ("bytes_per_point",
             None if na else median([r.bytes_per_point for r in results]), "B"),
            ("cache_mb", None if na else median([r.cache_mb for r in results]), "MB"),
            ("error_rate", self.failed / max(self.attempted, 1), "ratio"),
        ):
            self.say(f"{key:>16} {'n/a' if val is None else f'{val:.6g}'} {unit}")
        values = {"setup_s": setup_s, "op_s": op_s, "rows_per_s": rows_per_s}
        return {m: {"value": values[m], "unit": unit} for m, unit in END_TO_END.items()}

    def traced(self, spark, probe) -> dict:
        from perfbench.harness import SparkMetrics, Tracer, label, median, unlabel

        sm, tr = SparkMetrics(spark), Tracer(spark)
        sc = spark.sparkContext
        # untraced and traced operations alternate, so the JIT's speed-up
        # over successive operations does not land on one side of the
        # overhead. An untraced operation is labelled as a whole: Spark's
        # counters per operation come from it.
        untraced, untraced_res, per_op = [], [], []
        for k in range(PAIRS):
            probe()

            def op(k=k):
                label(sc, f"untraced-{k}", f"op @untraced-{k}")
                try:
                    return self.wl.op()
                finally:
                    unlabel(sc)

            dt, res = self.run_op(op)
            untraced.append(dt)
            if res is not None:
                untraced_res.append(res)
            probe()
            op_id = f"traced-{k}"
            tr.begin_op(op_id)
            _, c = self.run_op(lambda: self.wl.traced_op(tr, sm))
            if c is not None:
                per_op.append(self.layer_values(op_id, c, tr, sm))
        groups = sm.jobs_by_group()
        spark_tot = [sm.stage_totals(groups.get(f"untraced-{k}", [])) for k in range(PAIRS)]

        units = per_layer_units()
        metrics = {m: median([o["metrics"].get(m, 0.0) for o in per_op]) for m in units}
        for key in ("jobs", "tasks", "shuffle_write_mb", "spill_mb", "gc_s"):
            metrics[f"spark.{key}"] = median([t[key] for t in spark_tot])
        untraced_s = median(untraced)
        traced_s = median([o["wall_s"] for o in per_op])
        metrics["trace.overhead_share"] = (traced_s - untraced_s) / untraced_s
        metrics["host.probe_ratio"] = median(probe.ratios)
        # what one untraced operation commits and pins
        metrics["bytes_per_point"] = median([r.bytes_per_point for r in untraced_res])
        metrics["cache_mb"] = median([r.cache_mb for r in untraced_res])
        os.makedirs(os.path.join(HERE, "_trace"), exist_ok=True)
        path = os.path.join(HERE, "_trace", f"{self.name}-seed{self.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": self.name, "seed": self.seed,
                       "untraced_op_s": untraced, "traced_op_s": traced_s,
                       "operations": per_op, "metrics": metrics,
                       "spans": tr.to_json()}, f, indent=1, default=str)
        self.say(f"# trace written to {os.path.relpath(path, ROOT)}")
        return {m: {"value": float(metrics[m]), "unit": units[m]} for m in units}

    def layer_values(self, op_id: str, c: dict, tr, sm) -> dict:
        """Per-layer metrics of one traced operation: span self times, the
        workload's own counts, and Spark's metrics of each span's jobs."""
        from perfbench.harness import MB, group_id

        groups = sm.jobs_by_group()

        def jobs(span_name):
            return [j for s in tr.spans if s.op_id == op_id and s.name == span_name
                    for j in groups.get(group_id(s), [])]

        selfs = tr.self_times(op_id)
        vals = {m: sum(selfs.get(s, 0.0) for s in spans) for m, spans in SELF_TIME.items()}
        vals.update({k: v for k, v in c.items() if not k.startswith("_")})
        scan = sm.stage_totals(jobs("sources.webpages.scan"))
        vals["scan.rows"], vals["scan.mb"] = scan["input_rows"], scan["input_mb"]
        vals["prepare.exchange_mb"] = sm.stage_totals(
            jobs("plans.pipeline.exchange"))["shuffle_write_mb"]
        vals["compress.arrow_mb"] = sm.python_bytes_sent(f"operators.compress @{op_id}") / MB
        vals["sweep.spark_jobs"] = len(jobs("operators.retention.sweep"))
        commits = vals.pop("manifest.commits", 0)
        vals["manifest.commit_ms"] = (
            1000.0 * selfs.get("plans.checkpoint.commit", 0.0) / commits if commits else 0.0)
        for q in query_names():
            vals[f"{q}.s"], vals[f"{q}.jobs"] = selfs.get(q, 0.0), len(jobs(q))

        root = c["_result"].info["root"]
        coverage = 1.0 - selfs.get("op", 0.0) / root.dur
        if coverage < COVERAGE:
            self.fail([f"{op_id}: layer self times cover {coverage:.1%} of the operation"])
        drift = c["_result"].info.get("prepare_drift_rows", 0)
        if drift:
            self.fail([f"composed prepare differs from pipeline.prepare by {drift} rows"])
        return {"op_id": op_id, "wall_s": root.dur, "coverage": coverage,
                "self_s": selfs, "metrics": vals}

    def run(self, spark=None) -> dict:
        """Run the workload; starts (and stops) its own session unless one
        is passed in."""
        from perfbench.harness import HostProbe, WorkDir, host_cpus, start_spark

        own = spark is None
        work = WorkDir(os.path.join(HERE, "_work"), self.name)
        try:
            if own:
                spark = start_spark(ROOT, work.path, host_cpus())
            setup_s = self.setup(spark, work)
            probe = HostProbe(spark)
            metrics = self.traced(spark, probe) if self.trace else self.measure(probe, setup_s)
        finally:
            if own:
                stop_spark(spark)
            work.close()
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}


def _fmt(xs) -> str:
    return "[" + ",".join(f"{x:.2f}" for x in xs) + "]"


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it started, and wait for it to end
    (its Python workers exit with it)."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:  # the package under test must be in the checkout
        import __spark_entry__  # noqa: F401
        import bench  # noqa: F401
        import oracle  # noqa: F401
        import timeseries_harmonizer_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package under test is missing: {e}", file=sys.stderr)
        return 2
    result = Runner(args.workload, args.seed, args.seconds, bool(args.trace)).run()
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
