"""Structured Streaming rollup == batch rollup on the same input, plus
watermark late-row handling across incremental triggers."""

import pandas as pd
from pyspark.sql import functions as F

from timeseries_harmonizer_spark.streaming.rollup_stream import (
    read_pages_stream,
    run_available_now,
    streaming_continuous_aggregate,
)


def test_stream_matches_batch(spark, pages, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    batch_input = pages.where(F.col("value").isNotNull()).select(
        "url", "warc_ts", "value"
    )
    batch_input.write.parquet(src)

    stream = read_pages_stream(spark, src)
    agg = streaming_continuous_aggregate(stream, watermark="0 seconds")
    run_available_now(agg, out, ckpt)

    got = spark.read.parquet(out).toPandas()
    # append mode only emits windows the watermark has passed: the window
    # containing the global max event time is withheld in state
    max_ts = batch_input.agg(F.max("warc_ts")).first()[0]
    exp = (
        batch_input.groupBy(
            "url", F.window("warc_ts", "3600 seconds").alias("w")
        )
        .agg(
            F.count("*").alias("crawl_count"),
            F.min("value").alias("len_min"),
            F.max("value").alias("len_max"),
            F.avg("value").alias("len_avg"),
            F.sum("value").alias("len_sum"),
        )
        .where(F.col("w.end") <= F.lit(max_ts))
        .select("url", F.col("w.start").alias("start"), "crawl_count",
                "len_min", "len_max", "len_avg", "len_sum")
        .toPandas()
    )
    g = got.sort_values(["url", "start"]).reset_index(drop=True)
    e = exp.sort_values(["url", "start"]).reset_index(drop=True)
    assert len(g) == len(e)
    pd.testing.assert_frame_equal(g, e, check_like=True, rtol=1e-12)


def test_incremental_trigger_appends_new_windows(spark, tmp_path):
    src = str(tmp_path / "src2")
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    idx1 = pd.date_range("2024-01-01 00:00", periods=60, freq="1min")
    batch1 = pd.DataFrame({"url": "u", "warc_ts": idx1, "value": 1.0})
    spark.createDataFrame(batch1).write.mode("append").parquet(src)
    stream = read_pages_stream(spark, src)
    agg = streaming_continuous_aggregate(stream, watermark="30 minutes")
    run_available_now(agg, out, ckpt)
    n1 = spark.read.parquet(out).count()

    # second cron-equivalent run: next hour's data arrives
    idx2 = pd.date_range("2024-01-01 01:00", periods=60, freq="1min")
    batch2 = pd.DataFrame({"url": "u", "warc_ts": idx2, "value": 2.0})
    spark.createDataFrame(batch2).write.mode("append").parquet(src)
    stream2 = read_pages_stream(spark, src)
    agg2 = streaming_continuous_aggregate(stream2, watermark="30 minutes")
    run_available_now(agg2, out, ckpt)
    got = spark.read.parquet(out).toPandas().sort_values("start")
    # first window finalized by watermark advance in run 2
    assert len(got) >= 1
    assert got.iloc[0]["crawl_count"] == 60
    assert got.iloc[0]["len_sum"] == 60.0


def test_streaming_dedup_matches_batch(spark, tmp_path):
    from timeseries_harmonizer_spark.streaming.rollup_stream import streaming_keep_last

    src = str(tmp_path / "src3")
    out = str(tmp_path / "out3")
    ckpt = str(tmp_path / "ckpt3")
    idx = pd.date_range("2024-01-01 00:00", periods=120, freq="1min")
    base = pd.DataFrame({"url": "u", "warc_ts": idx, "value": 1.0})
    dups = base.head(40)  # re-sent rows (same url, same ts)
    spark.createDataFrame(pd.concat([base, dups])).write.parquet(src)

    stream = read_pages_stream(spark, src)
    deduped = streaming_keep_last(stream, watermark="0 seconds")
    # watermark=None: the dedup stage already set it (redefining is disallowed)
    agg = streaming_continuous_aggregate(deduped, watermark=None)
    run_available_now(agg, out, ckpt)
    got = spark.read.parquet(out).toPandas().sort_values("start")
    # duplicates removed before aggregation: each finalized hour counts 60
    assert (got["crawl_count"] == 60).all()
    assert (got["len_sum"] == 60.0).all()


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """Stateful streaming sessionizer (applyInPandasWithState) == batch
    sessionize + per-session aggregate, for every session whose gap window
    has provably elapsed; the trailing open session stays in state. Also
    exercises cross-trigger state carry: the second file extends the last
    session of the first."""
    from timeseries_harmonizer_spark.operators.sessionize import sessionize
    from timeseries_harmonizer_spark.streaming.rollup_stream import (
        streaming_sessionize,
    )

    src = str(tmp_path / "src5")
    out = str(tmp_path / "out5")
    ckpt = str(tmp_path / "ckpt5")
    # url u: session A (10 pts), 3h gap, session B begun in file 1 and
    # EXTENDED in file 2 (30 min later), then a 3h gap and session C
    t0 = pd.Timestamp("2024-01-01 00:00")
    a = pd.date_range(t0, periods=10, freq="1min")
    b1 = pd.date_range(t0 + pd.Timedelta(hours=4), periods=5, freq="1min")
    b2 = pd.date_range(b1[-1] + pd.Timedelta(minutes=30), periods=5, freq="1min")
    c = pd.date_range(b2[-1] + pd.Timedelta(hours=3), periods=4, freq="1min")
    f1 = pd.DataFrame({"url": "u", "warc_ts": list(a) + list(b1), "value": 1.0})
    f2 = pd.DataFrame({"url": "u", "warc_ts": list(b2) + list(c), "value": 2.0})
    spark.createDataFrame(f1).write.mode("append").parquet(src)

    def drain():
        stream = read_pages_stream(spark, src)
        q = streaming_sessionize(stream, gap_seconds=7200, watermark="0 seconds")
        run_available_now(q, out, ckpt)

    drain()
    spark.createDataFrame(f2).write.mode("append").parquet(src)
    drain()
    got = (
        spark.read.parquet(out).toPandas().sort_values("session_start").reset_index(drop=True)
    )
    all_rows = pd.concat([f1, f2])
    batch = (
        sessionize(spark.createDataFrame(all_rows), gap_seconds=7200)
        .groupBy("url", "session_id")
        .agg(
            F.min("warc_ts").alias("session_start"),
            F.max("warc_ts").alias("session_end"),
            F.count("*").alias("n_points"),
            F.sum("value").alias("value_sum"),
        )
        .orderBy("session_start")
        .toPandas()
    )
    # the final session (C) is still open in state — everything before it
    # must match batch exactly, including B assembled across two triggers
    exp = batch.iloc[:-1].reset_index(drop=True)
    assert len(got) == len(exp) == 2
    for col in ("session_start", "session_end", "n_points", "value_sum"):
        assert (got[col].to_numpy() == exp[col].to_numpy()).all(), col
    # session B spans both files: 5 pts @1.0 + 5 pts @2.0
    assert got.iloc[1]["n_points"] == 10 and got.iloc[1]["value_sum"] == 15.0


def test_streaming_sessionize_out_of_order_across_triggers(spark, tmp_path):
    """Cross-trigger disorder: a later trigger delivers a row OLDER than
    the carried session's end, and a further row whose in-batch gap is too
    wide but which the carried summary bridges — both must merge into one
    session, exactly as batch sessionize over the full sorted data."""
    from timeseries_harmonizer_spark.streaming.rollup_stream import (
        streaming_sessionize,
    )

    src = str(tmp_path / "src8")
    out = str(tmp_path / "out8")
    ckpt = str(tmp_path / "ckpt8")
    t0 = pd.Timestamp("2024-01-01 00:00")
    f1 = pd.DataFrame(
        {"url": "u", "warc_ts": pd.date_range(t0, periods=60, freq="1min"),
         "value": 1.0}
    )
    f2 = pd.DataFrame(
        {"url": "u",
         "warc_ts": [t0 + pd.Timedelta(minutes=30),    # older than carried end
                     t0 + pd.Timedelta(minutes=105)],  # bridged only via carried
         "value": 2.0}
    )
    f3 = pd.DataFrame(
        {"url": "u", "warc_ts": [t0 + pd.Timedelta(hours=5)], "value": 3.0}
    )

    def drain():
        q = streaming_sessionize(
            read_pages_stream(spark, src), gap_seconds=3600, watermark="6 hours"
        )
        run_available_now(q, out, ckpt)

    for f in (f1, f2, f3):
        spark.createDataFrame(f).write.mode("append").parquet(src)
        drain()
    got = spark.read.parquet(out).toPandas()
    assert len(got) == 1  # ONE merged session closed by f3's wide gap
    r = got.iloc[0]
    assert r["session_start"] == t0
    assert r["session_end"] == t0 + pd.Timedelta(minutes=105)
    assert r["n_points"] == 62 and r["value_sum"] == 64.0


def test_streaming_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream time-bounded join == the batch interval_join pair set
    on the same drained input."""
    from timeseries_harmonizer_spark.operators.joins import interval_join
    from timeseries_harmonizer_spark.streaming.rollup_stream import (
        streaming_interval_join,
    )

    psrc = str(tmp_path / "pts6")
    isrc = str(tmp_path / "iv6")
    out = str(tmp_path / "out6")
    ckpt = str(tmp_path / "ckpt6")
    t0 = pd.Timestamp("2024-01-01")
    import numpy as np

    rng = np.random.default_rng(4)
    pts = pd.DataFrame(
        {
            "key": rng.choice(["a", "b"], 200),
            "ts": t0 + pd.to_timedelta(rng.integers(0, 40000, 200), unit="s"),
            "pval": np.arange(200),
        }
    )
    s = np.sort(rng.integers(0, 36000, 30))
    iv = pd.DataFrame(
        {
            "key": rng.choice(["a", "b"], 30),
            "start": t0 + pd.to_timedelta(s, unit="s"),
            "end": t0 + pd.to_timedelta(s + rng.integers(300, 6000, 30), unit="s"),
            "iv_id": np.arange(30),
        }
    )
    spark.createDataFrame(pts).write.parquet(psrc)
    spark.createDataFrame(iv).write.parquet(isrc)
    j = streaming_interval_join(
        read_pages_stream(spark, psrc),
        read_pages_stream(spark, isrc),
        watermark="0 seconds",
        max_interval="2 hours",
    ).select("pval", "iv_id")
    run_available_now(j, out, ckpt)
    got = set(map(tuple, spark.read.parquet(out).toPandas().to_numpy().tolist()))
    exp = set(
        map(
            tuple,
            interval_join(
                spark.createDataFrame(pts), spark.createDataFrame(iv),
                by="key", bucket_seconds=3600,
            )
            .select("pval", "iv_id")
            .toPandas()
            .to_numpy()
            .tolist(),
        )
    )
    assert got == exp and len(got) > 20


def test_streaming_keep_last_amended_replays(spark, tmp_path):
    """order_col mode: replays that AMEND the payload — the last write (by
    ingest_pos) must win, exactly like batch keep_last. The default
    first-arrival mode would keep value=1.0 here."""
    from timeseries_harmonizer_spark.operators.dedup import keep_last
    from timeseries_harmonizer_spark.streaming.rollup_stream import streaming_keep_last

    src = str(tmp_path / "src4")
    out = str(tmp_path / "out4")
    ckpt = str(tmp_path / "ckpt4")
    idx = pd.date_range("2024-01-01 00:00", periods=120, freq="1min")
    base = pd.DataFrame(
        {"url": "u", "warc_ts": idx, "value": 1.0, "ingest_pos": range(120)}
    )
    amended = base.head(40).assign(value=5.0, ingest_pos=lambda d: d.ingest_pos + 1000)
    both = pd.concat([base, amended])
    spark.createDataFrame(both).write.parquet(src)

    stream = read_pages_stream(spark, src)
    deduped = streaming_keep_last(stream, watermark="0 seconds", order_col="ingest_pos")
    run_available_now(deduped, out, ckpt)
    got = spark.read.parquet(out).toPandas()
    exp = (
        keep_last(spark.createDataFrame(both))
        .select("url", "warc_ts", "value")
        .toPandas()
    )
    # append mode withholds rows the watermark hasn't passed (the max event
    # time row stays in state) — compare on the emitted range
    max_emitted = got["warc_ts"].max()
    exp = exp[exp["warc_ts"] <= max_emitted]
    g = got.sort_values("warc_ts").reset_index(drop=True)
    e = exp.sort_values("warc_ts").reset_index(drop=True)
    assert len(g) == len(e) and len(g) >= 100
    assert (g["value"].to_numpy() == e["value"].to_numpy()).all()
    # the amended rows specifically carry the replayed payload
    assert (g["value"].to_numpy()[:40] == 5.0).all()


def test_streaming_compressed_sink_through_catalog(spark, tmp_path):
    """The catalog-backed streaming sink: one overwrite_partitions snapshot
    per micro-batch (commit lineage), a simulated at-least-once REPLAY of a
    batch replaces its partition instead of duplicating rows, and the
    decompressed blobs reproduce the finalized windows (start and value) of
    the plain streaming sink — the same codec/at-rest format as the batch
    job."""
    from timeseries_harmonizer_spark.operators.compress import decompress_points
    from timeseries_harmonizer_spark.sources.tables import Catalog
    from timeseries_harmonizer_spark.streaming.rollup_stream import (
        run_compressed_sink_catalog,
    )

    src = str(tmp_path / "src8")
    plain = str(tmp_path / "plain8")
    idx = pd.date_range("2024-01-01 00:00", periods=600, freq="1min")
    pdf = pd.DataFrame({"url": "u", "warc_ts": idx, "value": 1.0})
    spark.createDataFrame(pdf).write.parquet(src)

    def agg_stream():
        return streaming_continuous_aggregate(
            read_pages_stream(spark, src), watermark="0 seconds"
        ).select("url", "start", F.col("len_sum").alias("value"))

    run_available_now(agg_stream(), plain, str(tmp_path / "ck_c"))
    cat = Catalog(str(tmp_path / "wh8"))
    run_compressed_sink_catalog(
        agg_stream(), cat, "blobs_1h", str(tmp_path / "ck_d"), tier_name="1h"
    )
    snaps = cat.snapshots("blobs_1h")
    assert len(snaps) >= 1
    assert all(s.mode == "overwrite_partitions" for s in snaps)
    assert all(s.watermark.startswith("batch_id=") for s in snaps)

    got = (
        decompress_points(cat.read(spark, "blobs_1h"))
        .select("url", "start", "value").toPandas()
        .sort_values("start").reset_index(drop=True)
    )
    exp = (
        spark.read.parquet(plain).toPandas()
        .sort_values("start").reset_index(drop=True)
    )
    assert len(got) == len(exp) >= 9
    assert (got["start"].to_numpy() == exp["start"].to_numpy()).all()
    assert (got["value"].to_numpy() == exp["value"].to_numpy()).all()

    # simulate the at-least-once replay of a data-carrying batch: re-commit
    # that batch_id partition with its own content -> row count unchanged
    # (the partition is REPLACED in the manifest, not appended to)
    blobs = cat.read(spark, "blobs_1h")
    bid = blobs.agg(F.max("batch_id")).first()[0]  # a batch that wrote data
    replay = blobs.where(F.col("batch_id") == bid)
    cat.write("blobs_1h", replay, mode="overwrite_partitions",
              partition_by=["batch_id"], watermark=f"batch_id={bid}")
    assert len(cat.snapshots("blobs_1h")) == len(snaps) + 1  # lineage grows
    again = decompress_points(cat.read(spark, "blobs_1h")).count()
    assert again == len(exp)  # ...but the data does not
