"""The benchmark's workloads. Each one is closed-loop with one client and
one operation in flight, and drives the package only through its public
functions. A workload has five parts:

- ``build(i)``: generate and materialize the seeded input (repeated by the
  runner so set-up time is a median);
- ``prepare()``: derived tables and the references the checks compare to;
- ``op()``: one operation as a user runs it, returning an :class:`OpResult`;
- ``check(res)``: the operation's output check, a list of problems;
- ``traced_op(tr, sm)``: the same operation split at each layer boundary
  (cached input in, a persist out), one span per public call, returning the
  per-layer counts.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Observation, functions as F

import __spark_entry__ as entry
from perfbench.harness import MB
from perfbench.inputs import (
    build_registry, build_suite_tables, fine_points_frame, pages_table, write_parquet,
)

SAMPLE_URLS = 3
VALUE_TOL = 2e-5  # the rollup parity suite's tolerance after round(5)


@dataclass
class OpResult:
    rows: int                       # input rows the operation consumed
    points: int = 0                 # output points (0: not a points workload)
    bytes_per_point: float = 0.0
    cache_mb: float = 0.0
    info: dict = field(default_factory=dict)


def _fingerprint(df, obs: Observation):
    """Row count and an order-free checksum of (url, start, value), observed
    on the frame as it flows (no extra Spark job)."""
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("url", "start", "value").cast("decimal(38,0)")).alias("h"),
    )


def _compare_points(got: pd.DataFrame, exp: pd.DataFrame, tol: float) -> list[str]:
    got = got.sort_values(["url", "start"]).reset_index(drop=True)
    exp = exp.sort_values(["url", "start"]).reset_index(drop=True)
    if len(got) != len(exp):
        return [f"points: {len(got)} rows, reference {len(exp)}"]
    if not (got["url"].to_numpy() == exp["url"].to_numpy()).all():
        return ["points: url sequence differs from reference"]
    if not (pd.DatetimeIndex(got["start"]) == pd.DatetimeIndex(exp["start"])).all():
        return ["points: window starts differ from reference"]
    g = got["value"].to_numpy(dtype="float64")
    e = exp["value"].to_numpy(dtype="float64")
    bad = ~((np.isnan(g) & np.isnan(e)) | (np.abs(g - e) <= tol + 1e-9 * np.abs(e)))
    if bad.any():
        i = int(np.flatnonzero(bad)[0])
        return [f"points: {int(bad.sum())} values off, e.g. {got.iloc[i].to_dict()} vs {e[i]}"]
    return []


def _files_bytes(cat, table: str, files) -> int:
    return sum(os.path.getsize(os.path.join(cat._data_dir(table), f)) for f in files)


def _added_files(cat, table: str, version: int) -> list[str]:
    now = cat.tracked_files(table, version)
    before = set(cat.tracked_files(table, version - 1)) if version > 1 else set()
    return [f for f in now if f not in before]


def _persist(df):
    df = df.persist()
    df.count()
    return df


class _TracedCatalog:
    """Spans around the Catalog's staging (the Spark write) and its commit
    (driver-side footer stats + the put-if-absent publish), wrapped on one
    instance only."""

    def __init__(self, cat, tr):
        self.cat = cat
        self.files = 0
        stage, stats, commit = cat._stage, cat._collect_file_stats, cat._commit_files

        def _stage(*a, **k):
            with tr.span("sources.tables.stage"):
                out = stage(*a, **k)
            self.files += len(out)
            return out

        def _stats(*a, **k):
            with tr.span("sources.tables.commit"):
                return stats(*a, **k)

        def _commit(*a, **k):
            with tr.span("sources.tables.commit"):
                return commit(*a, **k)

        cat._stage, cat._collect_file_stats, cat._commit_files = _stage, _stats, _commit
        self._orig = (stage, stats, commit)

    def close(self):
        self.cat._stage, self.cat._collect_file_stats, self.cat._commit_files = self._orig


# --------------------------------------------------------------------------
# tier and sweep workloads
# --------------------------------------------------------------------------

class _CatalogWorkload:
    """Shared by the workloads that commit to a catalog in the private work
    dir."""

    def __init__(self, spark, work, seed: int, size: float = 1.0):
        from timeseries_harmonizer_spark.sources.tables import Catalog

        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.cat = Catalog(work.sub("warehouse", "catalog"))

    def release(self) -> None:
        """Drop the frames an operation persisted (between operations)."""
        self.spark.catalog.clearCache()


class TierWorkload(_CatalogWorkload):
    """``pipeline.run_tier`` at one tier, then the production job's output
    set: codec blobs and tier payloads committed to the catalog, one
    manifest record per table."""

    def __init__(self, spark, work, seed, tier_name: str, size: float = 1.0):
        from timeseries_harmonizer_spark.plans.checkpoint import Manifest

        super().__init__(spark, work, seed, size)
        self.tier_name = tier_name
        self.man = Manifest(work.sub("warehouse", "_manifest.json"))
        self.ops = 0

    def build(self, i: int) -> None:
        per_cell = max(1, round(7 * self.size))  # 63 urls at full size
        ppu = max(20, int(200 * min(1.0, self.size * 4)))
        paths = self.work.sub(f"pages{i}"), self.work.sub(f"registry{i}")
        self.pages_pdf, self.reg_pdf = pages_table(self.spark, per_cell, ppu,
                                                   self.seed, *paths)
        self.pages, self.reg = (self.spark.read.parquet(p) for p in paths)
        self.raw_rows = len(self.pages_pdf)

    def prepare(self) -> None:
        """The reference points of every url, from the pandas oracle: each
        operation's point count and values are checked against them."""
        import oracle
        from timeseries_harmonizer_spark.config import TIERS

        tier = TIERS[self.tier_name]
        self.oracle_ref = oracle.harmonize_pages(
            self.pages_pdf, self.reg_pdf, tier.seconds, tier.gap_seconds)
        self.ref_points = len(self.oracle_ref)

    def op(self) -> OpResult:
        from timeseries_harmonizer_spark.operators.compress import compress_points
        from timeseries_harmonizer_spark.plans import pipeline
        from timeseries_harmonizer_spark.plans.checkpoint import StageRecord

        t = self.tier_name
        self.ops += 1
        pts, payloads = pipeline.run_tier(self.pages, self.reg, t)
        obs = Observation()
        pts = _fingerprint(pts.select("url", "start", "value"), obs)
        s_blobs = self.cat.write(f"blobs_{t}", compress_points(pts, t))
        s_pay = self.cat.write(f"payloads_{t}", payloads)
        for stage, snap in (("blobs", s_blobs), ("payloads", s_pay)):
            self.man.commit(StageRecord(run_id=f"op{self.ops}", stage=stage,
                                        tier=t, snapshot_id=snap))
        return self._result(obs, s_blobs)

    def _result(self, obs, s_blobs) -> OpResult:
        from perfbench.harness import SparkMetrics

        m = obs.get
        n = int(m["n"])
        blob_files = self.cat.tracked_files(f"blobs_{self.tier_name}", s_blobs)
        blob_bytes = _files_bytes(self.cat, f"blobs_{self.tier_name}", blob_files)
        return OpResult(
            rows=self.raw_rows, points=n,
            bytes_per_point=blob_bytes / max(n, 1),
            cache_mb=SparkMetrics(self.spark).cached_mb(),
            info={"fp": int(m["h"] or 0), "snapshot": s_blobs},
        )

    def check(self, res: OpResult) -> list[str]:
        from timeseries_harmonizer_spark.operators.compress import decompress_points

        problems = []
        if res.points != self.ref_points:
            problems.append(f"point count {res.points} != oracle {self.ref_points}")
        blobs = self.cat.read(self.spark, f"blobs_{self.tier_name}",
                              version=res.info["snapshot"])
        # one pass over the decoded blobs: their checksum must equal the
        # shaped points' (the codec is lossless), and their values the
        # oracle's (the rollup is right)
        obs = Observation()
        decoded = _fingerprint(
            decompress_points(blobs).select("url", "start", "value"), obs).toPandas()
        got = (int(obs.get["n"]), int(obs.get["h"] or 0))
        if got != (res.points, res.info["fp"]):
            problems.append(f"blob round trip {got} != shaped points "
                            f"{(res.points, res.info['fp'])}")
        return problems + _compare_points(decoded, self.oracle_ref, VALUE_TOL)

    def traced_op(self, tr, sm) -> dict:
        """run_tier + compress + commits, one span per public call."""
        from timeseries_harmonizer_spark.config import TIERS
        from timeseries_harmonizer_spark.functions.extract import extract_text
        from timeseries_harmonizer_spark.operators.cleaning import unit_convert
        from timeseries_harmonizer_spark.operators.compress import compress_points
        from timeseries_harmonizer_spark.operators.dedup import keep_last_sorted
        from timeseries_harmonizer_spark.operators.rollup import (
            rollup_native_last,
            rollup_native_sum_avg,
        )
        from timeseries_harmonizer_spark.operators.sessionize import sessionize
        from timeseries_harmonizer_spark.plans import pipeline
        from timeseries_harmonizer_spark.plans.checkpoint import StageRecord

        tier, t = TIERS[self.tier_name], self.tier_name
        width = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        self.ops += 1
        o_ex, o_last, o_blob = Observation(), Observation(), Observation()
        tcat = _TracedCatalog(self.cat, tr)
        c = {}
        try:
            with tr.span("op") as root:
                with tr.span("sources.webpages.scan"):
                    scan = _persist(self.pages.select(
                        "url", "warc_ts", "html", "ingest_pos", "lang"))
                with tr.span("plans.pipeline.prepare"):
                    with tr.span("functions.extract"):
                        ex = scan.withColumn("text", extract_text(F.col("html")))
                        ex = ex.withColumn("value", F.length("text").cast("double"))
                        ex = _persist(ex.select(
                            "url", "warc_ts", "ingest_pos", "value", "lang"
                        ).observe(o_ex, F.count(F.lit(1)).alias("n"),
                                  F.sum(F.col("value").isNull().cast("long")).alias("nulls")))
                    with tr.span("plans.pipeline.exchange"):
                        xch = _persist(ex.repartition(width, "url"))
                    with tr.span("operators.dedup"):
                        dd = _persist(keep_last_sorted(
                            xch, key="url", ts_col="warc_ts", order_col="ingest_pos"))
                    with tr.span("plans.pipeline.enrich"):
                        en = unit_convert(dd.join(F.broadcast(self.reg), "url", "inner"))
                        en = _persist(en.where(F.col("value").isNotNull()))
                    with tr.span("operators.sessionize"):
                        se = _persist(sessionize(en, key="url", ts_col="warc_ts",
                                                 gap_seconds=tier.gap_seconds))
                before = sm.cached_mb()
                with tr.span("plans.pipeline.persist"):
                    prepared = _persist(se.select(
                        "url", "warc_ts", "value", "lang", "agg_func", "session_id"))
                c["persist.mb"] = sm.cached_mb() - before
                with tr.span("operators.rollup.sum_avg"):
                    sa = _persist(rollup_native_sum_avg(
                        prepared.where(F.col("agg_func").isin("SUM", "AVG")),
                        freq_seconds=tier.seconds, session_col="session_id",
                    ).withColumn("is_real", F.lit(True)))
                with tr.span("operators.rollup.last"):
                    la = _persist(rollup_native_last(
                        prepared.where(F.col("agg_func") == "LAST"),
                        freq_seconds=tier.seconds, session_col="session_id",
                    ).observe(o_last, F.count(F.lit(1)).alias("n"),
                              F.sum((~F.col("is_real")).cast("long")).alias("locf")))
                with tr.span("plans.pipeline.shape"):
                    pts = _persist(pipeline.shape_points(sa.unionByName(la), self.reg, tier))
                with tr.span("plans.pipeline.payloads"):
                    pay = _persist(pipeline.tier_payloads(prepared, tier))
                obs = Observation()
                with tr.span("operators.compress"):
                    blobs = _persist(compress_points(
                        _fingerprint(pts.select("url", "start", "value"), obs), t
                    ).observe(o_blob, F.count(F.lit(1)).alias("groups"), F.sum(
                        F.length("ts_blob") + F.length("val_blob")).alias("bytes")))
                with tr.span("sources.tables.write"):
                    s_blobs = self.cat.write(f"blobs_{t}", blobs)
                    s_pay = self.cat.write(f"payloads_{t}", pay)
                stages = (("blobs", s_blobs), ("payloads", s_pay))
                with tr.span("plans.checkpoint.commit"):
                    for stage, snap in stages:
                        self.man.commit(StageRecord(run_id=f"op{self.ops}", stage=stage,
                                                    tier=t, snapshot_id=snap))
        finally:
            tcat.close()
        res = self._result(obs, s_blobs)
        res.info["root"] = root
        if not getattr(self, "_prepare_checked", False):
            # the traced run composes prepare from its public steps: it must
            # stay equal to pipeline.prepare, or the spans measure another plan
            ref = pipeline.prepare(self.pages, self.reg, tier).select(se.columns)
            diff = se.exceptAll(ref).count() + ref.exceptAll(se).count()
            res.info["prepare_drift_rows"] = diff
            self._prepare_checked = True
        c.update({
            "extract.null_rows": o_ex.get["nulls"],
            "dedup.rows_in": o_ex.get["n"],
            "dedup.rows_out": dd.count(),
            "sessionize.sessions": se.select("url", "session_id").distinct().count(),
            "rollup.sum_avg.rows_out": sa.count(),
            "rollup.last.rows_out": o_last.get["n"],
            "rollup.last.locf_share": o_last.get["locf"] / max(o_last.get["n"], 1),
            "payloads.rows": pay.count(),
            "compress.python_rows": res.points,
            "compress.groups": o_blob.get["groups"],
            "compress.blob_mb": o_blob.get["bytes"] / MB,
            "catalog.files_written": tcat.files,
            "manifest.commits": len(stages),
        })
        c["_result"] = res
        return c


class SweepWorkload(_CatalogWorkload):
    """The maintenance and reader path: read a pinned 1m points snapshot,
    resolve overlapping writes (last-write-wins), sweep expired points into
    the 1h tier, commit both sides, then a range read of the 1m blobs with
    manifest pruning and a decode. Its input is generated fine points, so
    the pipeline's code does not change what this workload reads."""

    def build(self, i: int) -> None:
        n_urls = max(4, int(60 * self.size))
        ppu = max(60, int(2400 * min(1.0, self.size * 4)))
        self.fine_raw = fine_points_frame(n_urls, ppu, self.seed)
        path = self.work.sub(f"fine{i}")
        write_parquet(self.fine_raw, path, "url", files=8)
        self.fine_src = self.spark.read.parquet(path)

    def prepare(self) -> None:
        from timeseries_harmonizer_spark.config import TIERS
        from timeseries_harmonizer_spark.operators.compress import compress_points
        from timeseries_harmonizer_spark.operators.retention import (
            floor_to_coarse_window,
        )
        from timeseries_harmonizer_spark.plans import pipeline

        self.reg, self.reg_pdf = build_registry(
            self.spark, self.fine_raw["url"].unique(), self.work.sub("registry"))
        # the registered series only, as a tier run's shape step keeps them
        self.fine_pdf = self.fine_raw.merge(self.reg_pdf[["url", "agg_func"]], on="url")
        cat, tier, coarse = self.cat, TIERS["1m"], TIERS["1h"]
        fine = _persist(pipeline.shape_points(self.fine_src, self.reg, tier))
        # a full write, then an overlapping re-run of a quarter of the
        # buckets: the read must resolve each (series, start) to the newer
        cat.write("points_1m", fine.withColumn("snapshot_id", F.lit(1)))
        self.pinned = cat.write(
            "points_1m",
            fine.where(F.col("bucket") < 16).withColumn("snapshot_id", F.lit(2)),
            mode="append",
        )
        # blobs land as one append per third of the days, the way successive
        # tier runs write them, so a range read can prune files by chunk_start;
        # the range read covers the middle third
        ref = self.fine_pdf
        day = ref["start"].dt.floor("D")
        groups = [g for g in np.array_split(np.sort(day.unique()), 3) if len(g)]
        blobs = _persist(compress_points(fine.select("url", "start", "value"), "1m"))
        for g in groups:
            lo, hi = pd.Timestamp(g[0]).to_pydatetime(), pd.Timestamp(g[-1]).to_pydatetime()
            cat.write("blobs_1m", blobs.where(F.col("chunk_start").between(lo, hi)),
                      mode="append")
        mid = groups[len(groups) // 2]
        self.range = lo, hi = (pd.Timestamp(mid[0]).to_pydatetime(),
                               pd.Timestamp(mid[-1]).to_pydatetime())

        # references, from the generated points (pandas)
        self.source_points = len(ref)
        self.now = ref["start"].median().floor("s") + tier.retention
        data_end = ref["start"].max() + pd.Timedelta(seconds=tier.seconds)
        capped = min(self.now, floor_to_coarse_window(data_end, coarse) + tier.retention)
        cutoff = floor_to_coarse_window(capped - tier.retention, coarse)
        self.ref_expired = int((ref["start"] < cutoff).sum())
        in_range = (day >= pd.Timestamp(lo)) & (day <= pd.Timestamp(hi))
        self.ref_range_points = int(in_range.sum())
        rng = np.random.default_rng(self.seed)
        self.sample = sorted(rng.choice(sorted(self.reg_pdf["url"]), min(
            SAMPLE_URLS, len(self.reg_pdf)), replace=False).tolist())
        smp = ref["url"].isin(self.sample)
        self.ref_range_sample = ref[smp & in_range][["url", "start", "value"]]
        self.ref_coarse = _pandas_downsample(ref[smp & (ref["start"] < cutoff)])
        self.release()

    def op(self) -> OpResult:
        from timeseries_harmonizer_spark.operators.compress import decompress_points
        from timeseries_harmonizer_spark.operators.dedup import last_write_wins
        from timeseries_harmonizer_spark.operators.retention import sweep_tier

        spark, cat = self.spark, self.cat
        fine = cat.read(spark, "points_1m", version=self.pinned)
        src = last_write_wins(fine, keys=("series_hash", "start"),
                              write_order_col="snapshot_id")
        coarse, retained = sweep_tier(src, "1m", self.now, registry=self.reg)
        o_c, o_r = Observation(), Observation()
        s_c = cat.write("points_1h", coarse.observe(o_c, F.count(F.lit(1)).alias("n")),
                        mode="append")
        cat.write("points_1m_swept",
                  retained.observe(o_r, F.count(F.lit(1)).alias("n")))
        lo, hi = self.range
        rb = cat.read(spark, "blobs_1m", where=("chunk_start", lo, hi))
        rb = rb.where(F.col("chunk_start").between(lo, hi))
        n_dec = decompress_points(rb).count()
        return self._result(o_c, o_r, n_dec, s_c, rb)

    def _result(self, o_c, o_r, n_dec, s_c, rb) -> OpResult:
        from perfbench.harness import SparkMetrics

        scanned = [os.path.relpath(f.removeprefix("file:"), self.cat._data_dir("blobs_1m"))
                   for f in rb.inputFiles()]
        scanned_bytes = _files_bytes(self.cat, "blobs_1m", scanned)
        return OpResult(
            rows=self.source_points, points=n_dec,
            bytes_per_point=scanned_bytes / max(n_dec, 1),
            cache_mb=SparkMetrics(self.spark).cached_mb(),
            info={"coarse": int(o_c.get["n"]), "retained": int(o_r.get["n"]),
                  "coarse_snapshot": s_c, "files_scanned": len(scanned),
                  "files_tracked": len(self.cat.tracked_files("blobs_1m"))},
        )

    def check(self, res: OpResult) -> list[str]:
        from timeseries_harmonizer_spark.operators.compress import decompress_points

        problems = []
        if self.ref_expired + res.info["retained"] != self.source_points:
            problems.append(f"expired {self.ref_expired} + retained "
                            f"{res.info['retained']} != source {self.source_points}")
        if res.points != self.ref_range_points:
            problems.append(f"range decode {res.points} points != "
                            f"reference {self.ref_range_points}")
        files = _added_files(self.cat, "points_1h", res.info["coarse_snapshot"])
        got = self.spark.read.parquet(
            *(os.path.join(self.cat._data_dir("points_1h"), f) for f in files)
        ).where(F.col("url").isin(self.sample)).select("url", "start", "value").toPandas()
        problems += ["coarse " + p for p in _compare_points(got, self.ref_coarse, 1e-6)]
        lo, hi = self.range
        rb = self.cat.read(self.spark, "blobs_1m", where=("chunk_start", lo, hi))
        rb = rb.where(F.col("chunk_start").between(lo, hi) & F.col("url").isin(self.sample))
        dec = decompress_points(rb).select("url", "start", "value").toPandas()
        problems += ["decode " + p for p in _compare_points(dec, self.ref_range_sample, 0.0)]
        return problems

    def traced_op(self, tr, sm) -> dict:
        from timeseries_harmonizer_spark.operators.compress import decompress_points
        from timeseries_harmonizer_spark.operators.dedup import last_write_wins
        from timeseries_harmonizer_spark.operators.retention import sweep_tier

        spark, cat = self.spark, self.cat
        o_in, o_c, o_r, o_d = Observation(), Observation(), Observation(), Observation()
        tcat = _TracedCatalog(cat, tr)
        c = {}
        try:
            with tr.span("op") as root:
                with tr.span("sources.tables.read"):
                    fine = cat.read(spark, "points_1m", version=self.pinned)
                with tr.span("operators.dedup.lww"):
                    src = _persist(last_write_wins(
                        fine.observe(o_in, F.count(F.lit(1)).alias("n")),
                        keys=("series_hash", "start"), write_order_col="snapshot_id"))
                with tr.span("operators.retention.sweep"):
                    coarse, retained = sweep_tier(src, "1m", self.now, registry=self.reg)
                with tr.span("operators.rollup.downsample"):
                    coarse = _persist(coarse.observe(o_c, F.count(F.lit(1)).alias("n")))
                with tr.span("sources.tables.write"):
                    s_c = cat.write("points_1h", coarse, mode="append")
                    cat.write("points_1m_swept",
                              retained.observe(o_r, F.count(F.lit(1)).alias("n")))
                lo, hi = self.range
                with tr.span("sources.tables.read"):
                    rb = cat.read(spark, "blobs_1m", where=("chunk_start", lo, hi))
                    rb = rb.where(F.col("chunk_start").between(lo, hi))
                with tr.span("functions.compression.decode"):
                    _persist(decompress_points(rb).observe(o_d, F.count(F.lit(1)).alias("n")))
        finally:
            tcat.close()
        res = self._result(o_c, o_r, int(o_d.get["n"]), s_c, rb)
        res.info["root"] = root
        c.update({
            "lww.rows_in": o_in.get["n"],
            "lww.rows_out": src.count(),
            "sweep.expired_points": self.source_points - res.info["retained"],
            "downsample.rows_out": o_c.get["n"],
            "decode.points": o_d.get["n"],
            "catalog.files_written": tcat.files,
            "catalog.read.files_scanned": res.info["files_scanned"],
            "catalog.read.files_pruned": res.info["files_tracked"] - res.info["files_scanned"],
        })
        c["_result"] = res
        return c


def _pandas_downsample(fine: pd.DataFrame) -> pd.DataFrame:
    """1m -> 1h with each series' aggregation function, in pandas."""
    if fine.empty:
        return pd.DataFrame(columns=["url", "start", "value"])
    f = fine.sort_values(["url", "start"]).copy()
    f["hour"] = f["start"].dt.floor("h")
    out = []
    for (url, hour), g in f.groupby(["url", "hour"], sort=True):
        agg = g["agg_func"].iloc[0]
        v = g["value"].dropna()
        if agg == "SUM":
            val = v.sum() if len(v) else np.nan
        elif agg == "AVG":
            val = v.mean() if len(v) else np.nan
        else:
            val = v.iloc[-1] if len(v) else np.nan
        out.append((url, hour, val))
    return pd.DataFrame(out, columns=["url", "start", "value"])


# --------------------------------------------------------------------------
# query suite
# --------------------------------------------------------------------------

def _summation_order_only(a: np.ndarray, b: np.ndarray) -> bool:
    """Whether two float columns (same NaN pattern) differ only as two
    engines' summation orders make them: by 1e-9, or, in a column rounded to
    d decimals, by one unit of the d-th decimal on at most one row in a
    hundred, where the unrounded value sat on a tie (an average of values
    with two decimals often does) and the orders break it either way."""
    keep = ~np.isnan(a)
    a, b = a[keep], b[keep]
    off = ~np.isclose(a, b, rtol=1e-9, atol=1e-9)
    if not off.any():
        return True
    both = np.concatenate([a, b])
    digits = next((d for d in range(9) if np.allclose(
        both, np.round(both, d), rtol=1e-12, atol=1e-9)), None)
    return (digits is not None and off.sum() <= max(1, len(a) // 100)
            and bool((np.abs(a - b)[off] <= 1.000001 * 10.0 ** -digits).all()))


class QuerySuiteWorkload:
    """The ten headline queries, each ending in ``.count()``. Each result is
    checked once at set-up against its DuckDB oracle SQL; every later
    operation must return the same row counts."""

    def __init__(self, spark, work, seed: int, size: float = 1.0):
        from bench import HEADLINERS

        self.spark, self.work, self.seed = spark, work, seed
        self.scale = size  # 1.0: the sf0.1 row counts
        # the DuckDB oracle pass at set-up runs every query once, and op_s
        # is flat after it: that pass is this workload's warm-up
        self.warmup_ops = 0
        self.names = list(HEADLINERS)
        self.ref_rows: dict[str, int] = {}

    def build(self, i: int) -> None:
        self.dir = self.work.sub(f"suite{i}")
        self.table_rows = build_suite_tables(self.dir, self.seed, self.scale)
        # rows the suite scans: the tables each query's oracle SQL reads
        oracles = entry.oracle_sql()
        self.rows = sum(n for q in self.names for t, n in self.table_rows.items()
                        if re.search(rf"\b{t}\b", oracles[q]))

    def prepare(self) -> None:
        pass

    def release(self) -> None:
        pass

    def oracle_check(self) -> list[str]:
        """Each headliner against its oracle SQL in DuckDB (scripts/
        validate_contract.compare); float columns may differ by summation
        order only (:func:`_summation_order_only`)."""
        import duckdb

        from scripts.validate_contract import compare, dtype_class, normalize

        qs, oracles = entry.queries(), entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in self.table_rows:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.dir, t)}.parquet'")
            problems = []
            for q in self.names:
                got = qs[q](self.spark, self.dir).toPandas()
                self.ref_rows[q] = len(got)
                exp = con.sql(oracles[q]).df()
                a, b = normalize(got), normalize(exp)
                for p in compare(q, a, b,
                                 {c: dtype_class(got[c]) for c in got.columns},
                                 {c: dtype_class(exp[c]) for c in exp.columns}):
                    col = p.split(":", 1)[0]
                    if "max abs diff" in p and _summation_order_only(
                            a[col].to_numpy(float), b[col].to_numpy(float)):
                        continue
                    problems.append(f"{q}: {p}")
            return problems
        finally:
            con.close()

    def op(self) -> OpResult:
        qs = entry.queries()
        counts = {q: qs[q](self.spark, self.dir).count() for q in self.names}
        return OpResult(rows=self.rows, info={"counts": counts})

    def check(self, res: OpResult) -> list[str]:
        return [f"{q}: {n} rows, reference {self.ref_rows[q]}"
                for q, n in res.info["counts"].items() if n != self.ref_rows.get(q)]

    def traced_op(self, tr, sm) -> dict:
        qs = entry.queries()
        counts = {}
        with tr.span("op") as root:
            for q in self.names:
                with tr.span(q):
                    counts[q] = qs[q](self.spark, self.dir).count()
        res = OpResult(rows=self.rows, info={"counts": counts, "root": root})
        return {"_result": res}
