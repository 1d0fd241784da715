"""Structured Streaming tier rollup (SURVEY.md §2.10).

The reference is micro-batch by cron: each run re-reads a trailing
``days_to_gather`` window and the store dedups last-write-wins — an
*effective* watermark of now - lookback (reference launcher_v2.py:22-28,
launcher.py:40-44). The streaming mode makes that native: file-source
readStream -> withWatermark(lookback) -> windowed continuous aggregate in
append mode -> parquet sink with checkpointing. Late rows inside the
watermark update their window before it finalizes; rows later than the
watermark are dropped instead of silently corrupting closed windows.

``trigger(availableNow=True)`` gives the cron-equivalent batch semantics
with exactly-once sink checkpoints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def read_pages_stream(spark: SparkSession, path: str, schema=None) -> DataFrame:
    if schema is None:
        schema = spark.read.parquet(path).schema
    return spark.readStream.format("parquet").schema(schema).load(path)


def streaming_continuous_aggregate(
    stream: DataFrame,
    key: str = "url",
    ts_col: str = "warc_ts",
    value: str = "value",
    freq_seconds: int = 3600,
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Per-(key, tumbling window) crawl_count + value stats, watermarked.
    Pass watermark=None when the input stream already carries one (e.g.
    after streaming_keep_last) — Spark disallows redefining it."""
    win = F.window(F.col(ts_col), f"{freq_seconds} seconds")
    if watermark is not None:
        stream = stream.withWatermark(ts_col, watermark)
    return (
        stream.groupBy(F.col(key), win)
        .agg(
            F.count("*").alias("crawl_count"),
            F.min(value).alias("len_min"),
            F.max(value).alias("len_max"),
            F.avg(value).alias("len_avg"),
            F.sum(value).alias("len_sum"),
        )
        .select(
            key,
            F.col("window.start").alias("start"),
            "crawl_count",
            "len_min",
            "len_max",
            "len_avg",
            "len_sum",
        )
    )


def streaming_keep_last(
    stream: DataFrame,
    key: str = "url",
    ts_col: str = "warc_ts",
    watermark: str = "2 hours",
    order_col: str | None = None,
) -> DataFrame:
    """Streaming D1 analog with two modes, chosen by ``order_col``:

    - ``order_col=None`` (default): drop duplicate (key, ts) observations
      as they arrive (dropDuplicatesWithinWatermark — bounded state).
      CAUTION — this keeps the FIRST arrival, which DIVERGES from the batch
      D1 semantics where the scan-order LAST payload wins: if replays carry
      AMENDED payloads, batch and streaming outputs disagree. It is correct
      (and cheapest) when re-sends are byte-identical, which is the
      reference's store-level idempotency model (launcher.py:40-44 re-read
      + overwrite of the same rows).
    - ``order_col='ingest_pos'``: true last-wins — a watermarked aggregate
      taking max_by(payload, order_col) per (key, ts). Matches batch
      keep_last exactly, at the cost of withholding each row until the
      watermark passes its event time (append-mode finalization). Use this
      when replays may amend payloads.
    """
    wm = stream.withWatermark(ts_col, watermark)
    if order_col is None:
        return wm.dropDuplicatesWithinWatermark([key, ts_col])
    payload = [c for c in stream.columns if c not in (key, ts_col, order_col)]
    return wm.groupBy(key, ts_col).agg(
        *[F.max_by(c, order_col).alias(c) for c in payload]
    )


SESSION_OUT_SCHEMA = (
    "url string, session_start timestamp, session_end timestamp, "
    "n_points long, value_sum double"
)
_SESSION_STATE_SCHEMA = "start long, last long, n long, vsum double"


def streaming_sessionize(
    stream: DataFrame,
    key: str = "url",
    ts_col: str = "warc_ts",
    value: str = "value",
    gap_seconds: int = 7200,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming R5: the custom stateful operator the built-ins can't
    express — gap-based sessions per key, emitted as one row per CLOSED
    session (start, end, n_points, value_sum). A session closes when a
    later point arrives more than ``gap_seconds`` after it, or when event
    time (the watermark) passes its deadline with no successor
    (EventTimeTimeout), so state is bounded: at most one open session per
    key. Batch-parity: the emitted rows equal the batch ``sessionize`` +
    per-session aggregate for every session whose gap window has provably
    elapsed.

    applyInPandasWithState: Arrow-batched per-key state machine — the batch
    math inside is vectorized numpy over the sorted batch."""
    import numpy as np
    import pandas as pd

    gap_ms = gap_seconds * 1000

    def fn(key_tuple, pdf_iter, state):
        if state.hasTimedOut:
            start, last, n, vsum = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "url": [key_tuple[0]],
                    "session_start": [pd.Timestamp(start, unit="s")],
                    "session_end": [pd.Timestamp(last, unit="s")],
                    "n_points": [n],
                    "value_sum": [vsum],
                }
            )
            return
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        if not len(pdf):
            return
        pdf = pdf.sort_values(ts_col)
        ts = (pdf[ts_col].astype("int64") // 10**9).to_numpy()
        vals = pdf[value].to_numpy(dtype="float64")
        # in-batch session boundaries (sorted order)
        brk = np.flatnonzero(np.diff(ts) > gap_seconds) + 1
        starts = np.concatenate(([0], brk))
        ends = np.concatenate((brk, [len(ts)]))
        # Merge the carried summary with the batch's groups in ONE pass over
        # all of them sorted by start time (the carried session is not
        # necessarily the oldest: a late-but-within-watermark batch group can
        # predate it, and must become its own EARLIER session when it ends
        # more than gap before the carried start — merging it would break the
        # gap invariant). Sorted-adjacent merging handles every arrangement:
        # overlap (negative gap), bridge-by-carried-span, and disjoint-early.
        groups = [
            (int(ts[a]), int(ts[b - 1]), int(b - a), float(np.nansum(vals[a:b])))
            for a, b in zip(starts, ends)
        ]
        if state.exists:
            groups.append(tuple(state.get))
            groups.sort(key=lambda g: (g[0], g[1]))
        merged = [groups[0]]
        for g in groups[1:]:
            last = merged[-1]
            if g[0] - last[1] <= gap_seconds:
                merged[-1] = (
                    min(last[0], g[0]),
                    max(last[1], g[1]),
                    last[2] + g[2],
                    last[3] + g[3],
                )
            else:
                merged.append(g)
        out = merged[:-1]
        c_start, c_last, c_n, c_vsum = merged[-1]
        # keep the trailing session open; close it NOW if the watermark has
        # already passed its deadline (EventTimeTimeout must be > watermark)
        deadline_ms = c_last * 1000 + gap_ms
        wm = state.getCurrentWatermarkMs()
        if deadline_ms <= wm:
            out.append((c_start, c_last, c_n, c_vsum))
            if state.exists:
                state.remove()
        else:
            state.update((int(c_start), int(c_last), int(c_n), float(c_vsum)))
            state.setTimeoutTimestamp(deadline_ms)
        if out:
            yield pd.DataFrame(
                {
                    "url": key_tuple[0],
                    "session_start": pd.to_datetime([r[0] for r in out], unit="s"),
                    "session_end": pd.to_datetime([r[1] for r in out], unit="s"),
                    "n_points": [int(r[2]) for r in out],
                    "value_sum": [float(r[3]) for r in out],
                }
            )

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )


def streaming_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    by: str = "key",
    watermark: str = "2 hours",
    max_interval: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: every (point, interval) pair with
    ``start <= point_ts <= end`` and equal ``by`` keys, both sides live
    streams. This is the one range join Structured Streaming supports
    natively — an equi-join on the key plus a time-range condition, with
    watermarks on BOTH sides so the join state is evictable: a buffered
    point can only match intervals starting within ``max_interval`` before
    it, which bounds how long either side is retained. (The batch twin is
    operators/joins.interval_join, which explodes buckets instead — in
    streaming the range condition itself is the state-cleanup contract, so
    no explode is needed.)"""
    p = points.withWatermark(point_ts, watermark).alias("p")
    iv = intervals.withWatermark(start_col, watermark).alias("i")
    cond = (
        (F.col(f"p.{by}") == F.col(f"i.{by}"))
        & (F.col(f"p.{point_ts}") >= F.col(f"i.{start_col}"))
        & (F.col(f"p.{point_ts}") <= F.col(f"i.{end_col}"))
        & (
            F.col(f"i.{start_col}")
            >= F.col(f"p.{point_ts}") - F.expr(f"INTERVAL {max_interval}")
        )
    )
    return p.join(iv, cond)


def run_compressed_sink_catalog(
    points: DataFrame,
    catalog,
    table: str,
    checkpoint: str,
    tier_name: str = "1h",
    key: str = "url",
    start_col: str = "start",
    value: str = "value",
) -> None:
    """Stream finalized tier points into Gorilla/delta-of-delta payload
    blobs through the snapshot catalog: each micro-batch runs the batch
    compress operator via foreachBatch, so streaming lands the SAME at-rest
    format as the batch job — one codec, one reader. Append-mode upstream
    means only watermark-finalized windows reach a blob, so blobs never
    rewrite for late data.

    foreachBatch is at-least-once (a crash between the data write and the
    stream checkpoint replays the batch), so each micro-batch CAS-commits
    one ``overwrite_partitions`` snapshot on its own ``batch_id``
    partition: a replay REPLACES that partition's files instead of
    appending duplicates — idempotent, hence effectively exactly-once at
    rest — and the table gains one snapshot per micro-batch (batch id in
    the watermark field). ``decompress_points`` ignores ``batch_id``."""
    from timeseries_harmonizer_spark.operators.compress import compress_points

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        blobs = compress_points(
            batch_df, tier_name, key=key, start_col=start_col, value=value,
            partitions=batch_df.sparkSession.sparkContext.defaultParallelism,
        ).withColumn("batch_id", F.lit(int(batch_id)))
        catalog.write(
            table,
            blobs,
            mode="overwrite_partitions",
            partition_by=["batch_id"],
            watermark=f"batch_id={int(batch_id)}",
        )

    q = (
        points.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_available_now(
    agg: DataFrame, out_path: str, checkpoint: str, output_mode: str = "append"
) -> None:
    """Drain everything currently available (cron-run equivalent), then stop."""
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
