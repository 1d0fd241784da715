"""Shared machinery of the benchmark: the Spark session, the host probe,
spans for the traced run, and readers for Spark's own job/stage/SQL
metrics (the live status store, so no event log has to be parsed).

Nothing here starts a session or touches the disk at import time.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass

MB = 1024.0 * 1024.0


def median(xs):
    return float(statistics.median(xs)) if xs else 0.0


# --------------------------------------------------------------------------
# session
# --------------------------------------------------------------------------

def start_spark(root: str, work: str, cpus: int):
    """One local[n] session: n <= nproc, shuffle partitions = n, a 3g driver
    heap (the package default of 16g does not fit a 15 GB host), and every
    scratch file inside ``work``.

    The Python workers import the package from ``root``: PYTHONPATH is set
    before the JVM starts, because the JVM hands its own environment to the
    workers it forks (without it the codec's mapInPandas worker fails with
    ModuleNotFoundError when the benchmark runs from another directory)."""
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    # scratch files of Python, the JVMs (launcher and driver) and Spark
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")))
    from timeseries_harmonizer_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def host_cpus() -> int:
    """Task slots: the available cores less one (at most three), which is
    left to the JIT compiler, the garbage collector and the Python workers;
    on a 4-core host that cut the run-to-run spread of op_s (15% -> 11%
    over five seeds) at the same op_s."""
    return max(1, min(3, len(os.sched_getaffinity(0)) - 1))


class WorkDir:
    """A private scratch directory under the checkout, removed on close."""

    def __init__(self, base: str, name: str):
        self.path = os.path.join(base, f"{name}-{os.getpid()}-{uuid.uuid4().hex[:6]}")
        os.makedirs(self.path)

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


# --------------------------------------------------------------------------
# host probe (diagnostic only)
# --------------------------------------------------------------------------

class HostProbe:
    """A tiny all-core Spark job timed before each operation, the way
    ``bench.wait_idle`` measures host contention: a single-threaded busy
    loop misses bursts that starve the JVM's task threads. The ratio to the
    fastest probe seen in this process is recorded as a diagnostic; no
    operation is dropped, delayed or retimed because of it."""

    def __init__(self, spark):
        self.spark = spark
        self.best: float | None = None
        self.ratios: list[float] = []

    def __call__(self) -> float:
        n = self.spark.sparkContext.defaultParallelism
        t0 = time.perf_counter()
        (
            self.spark.range(1 << 22, numPartitions=n)
            .selectExpr("sum(cast(id as double) * id) as s")
            .first()
        )
        dt = time.perf_counter() - t0
        self.best = dt if self.best is None else min(self.best, dt)
        self.ratios.append(dt / self.best)
        return self.ratios[-1]


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    op_id: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans around the benchmark's calls into each layer. Each
    span labels the Spark jobs started inside it (job group and description)
    so Spark's own metrics can be attributed to it afterwards."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op_id = ""

    def begin_op(self, op_id: str) -> None:
        self._op_id = op_id

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(name, self._op_id, len(self.spans), parent, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._label(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self._label(self._stack[-1])
            else:
                unlabel(self.sc)

    def _label(self, s: Span) -> None:
        label(self.sc, group_id(s), f"{s.name} @{s.op_id}")

    def self_times(self, op_id: str) -> dict[str, float]:
        """Span duration minus the part covered by its child spans, summed
        per span name within one operation."""
        spans = [s for s in self.spans if s.op_id == op_id]
        child = {s.span_id: 0.0 for s in spans}
        for s in spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        out: dict[str, float] = {}
        for s in spans:
            out[s.name] = out.get(s.name, 0.0) + s.dur - child[s.span_id]
        return out

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def group_id(s: Span) -> str:
    return f"{s.op_id}/{s.span_id}/{s.name}"


def label(sc, group: str, description: str) -> None:
    """Tag the Spark jobs (and SQL executions) this thread starts next."""
    sc.setJobGroup(group, description, interruptOnCancel=False)
    sc.setJobDescription(description)


def unlabel(sc) -> None:
    for key in ("spark.jobGroup.id", "spark.job.description"):
        sc.setLocalProperty(key, None)


# --------------------------------------------------------------------------
# Spark's own metrics
# --------------------------------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def _parse_size_total(s: str) -> float:
    """Total of a formatted SQL size metric, e.g. 'total (min, med, max ...)
    \\n595.6 KiB (71.7 KiB, ...)' -> bytes. Spark formats the total with four
    significant digits, so the value is approximate to that precision."""
    lines = s.strip().splitlines()
    m = re.match(r"\s*([0-9.,]+)\s*(B|KiB|MiB|GiB|TiB)", lines[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]


class SparkMetrics:
    """Reads job, stage and SQL metrics of labelled jobs from the live
    status store (kept by Spark whether or not the UI is enabled)."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty(30_000)

    def jobs_by_group(self) -> dict[str, list]:
        self.drain()
        jobs = self.jsc.statusStore().jobsList(None)
        out: dict[str, list] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if g.isDefined():
                out.setdefault(g.get(), []).append(j)
        return out

    def stage_totals(self, jobs) -> dict[str, float]:
        st = self.jsc.statusStore()
        seen = set()
        tot = {"jobs": len(jobs), "tasks": 0, "shuffle_write_mb": 0.0,
               "spill_mb": 0.0, "gc_s": 0.0, "input_rows": 0, "input_mb": 0.0}
        for j in jobs:
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    s = st.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stages have no attempt
                    continue
                if str(s.status().toString()) == "SKIPPED":
                    continue
                tot["tasks"] += s.numCompleteTasks()
                tot["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
                tot["spill_mb"] += s.diskBytesSpilled() / MB
                tot["gc_s"] += s.jvmGcTime() / 1000.0
                tot["input_rows"] += s.inputRecords()
                tot["input_mb"] += s.inputBytes() / MB
        return tot

    def python_bytes_sent(self, description_prefix: str) -> float:
        """'data sent to Python workers' summed over the SQL executions whose
        description starts with the given span label."""
        self.drain()
        sq = self.spark._jsparkSession.sharedState().statusStore()
        ex = sq.executionsList()
        total = 0.0
        for i in range(ex.size()):
            e = ex.apply(i)
            if not str(e.description()).startswith(description_prefix):
                continue
            values = sq.executionMetrics(e.executionId())
            nodes = sq.planGraph(e.executionId()).allNodes()
            for k in range(nodes.size()):
                ms = nodes.apply(k).metrics()
                for q in range(ms.size()):
                    m = ms.apply(q)
                    if m.name() == "data sent to Python workers":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            total += _parse_size_total(v.get())
        return total

    def cached_mb(self) -> float:
        """Block-manager bytes (memory + disk) held by persisted frames."""
        return sum(
            (r.memSize() + r.diskSize()) for r in self.jsc.getRDDStorageInfo()
        ) / MB
