"""Seeded inputs, written as parquet so every operation starts from a real
scan: the package's ``web_pages`` table and its registry, fine-tier points
for the retention sweep (generated with numpy), and the star-schema tables
of the query suite at the sf0.1 row counts (whose reference tables live
outside the repository)."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

CADENCES = (30, 300, 3600)  # crawl cadences of sources.webpages.web_pages
AGG_FUNCS = ("SUM", "AVG", "LAST")


def pages_table(spark, per_cell: int, points_per_url: int, seed: int,
                pages_path: str, registry_path: str):
    """The package's seeded ``web_pages`` table and ``registry`` dimension,
    cut to a fixed layout: the first ``per_cell`` registered urls of each
    (crawl cadence, aggregation function) pair, written as parquet.

    Left uncut, the generator draws each url's cadence and the registry its
    aggregation function from the seed, and a 1m tier run's output is
    dominated by the LOCF fill of the hourly LAST series: on 60 urls x 200
    crawls, seeds 1-6 gave 161k-225k points. The cut keeps that mix the same
    for every seed, so op_s moves with the code and not with the seed; the
    rows themselves (jitter, gaps, re-crawls, malformed html, text, ingest
    order) are the generator's. Returns the pages the oracle needs and the
    registry, as pandas."""
    from timeseries_harmonizer_spark.sources.webpages import registry, web_pages

    # ~29 urls to choose from per cell at full size (7 kept), so none runs short
    pool = web_pages(spark, n_urls=60 + 30 * per_cell,
                     points_per_url=points_per_url, seed=seed).persist()
    try:
        reg = registry(spark, pool, seed=seed).toPandas()
        ts = pool.select("url", "warc_ts").toPandas()
        step = (ts.sort_values(["url", "warc_ts"]).groupby("url")["warc_ts"].diff()
                .dt.total_seconds())
        cadence = step[step > 0].groupby(ts["url"]).median()
        reg["cadence"] = [min(CADENCES, key=lambda c: abs(np.log(c / cadence[u])))
                          for u in reg["url"]]
        reg = reg.sort_values("url")
        chosen = []
        for c in CADENCES:
            for agg in AGG_FUNCS:
                cell = reg[(reg["cadence"] == c) & (reg["agg_func"] == agg)]["url"]
                if len(cell) < per_cell:
                    raise ValueError(f"seed {seed}: {len(cell)} urls of cadence {c}s "
                                     f"with {agg}, {per_cell} wanted")
                chosen += cell.head(per_cell).tolist()
        pool.where(F.col("url").isin(chosen)).write.parquet(pages_path)
    finally:
        pool.unpersist()
    reg = reg[reg["url"].isin(chosen)].drop(columns="cadence")
    spark.createDataFrame(reg).coalesce(1).write.parquet(registry_path)
    pages = pd.read_parquet(pages_path, columns=["url", "warc_ts", "text", "ingest_pos"])
    if pages["warc_ts"].dt.tz is not None:  # naive UTC, as Spark collects it
        pages["warc_ts"] = pages["warc_ts"].dt.tz_localize(None)
    return pages, reg.reset_index(drop=True)


def fine_points_frame(n_urls: int, points_per_url: int, seed: int) -> pd.DataFrame:
    """1m-tier points (url, start, value, is_real) as a tier run leaves
    them: per url one to three sessions of consecutive minutes, separated by
    multi-hour gaps and spread over several days; a third of the windows
    observed, the rest LOCF-filled."""
    rng = np.random.default_rng(seed)
    parts = []
    t0 = np.datetime64("2024-01-01T00:00", "m")
    for i in range(n_urls):
        start = int(rng.integers(0, 3 * 1440))
        cuts = np.sort(rng.choice(np.arange(1, points_per_url), int(rng.integers(0, 3)),
                                  replace=False))
        for length in np.diff(np.concatenate([[0], cuts, [points_per_url]])):
            minutes = start + np.arange(length)
            vals = np.round(np.cumsum(rng.normal(0.0, 1.0, length)) + 100.0, 5)
            parts.append(pd.DataFrame({
                "url": f"https://d{i % 8}.example.com/p{i}",
                "start": (t0 + minutes.astype("timedelta64[m]")).astype("datetime64[us]"),
                "value": vals,
                "is_real": rng.random(length) < 0.33,
            }))
            start += int(length) + int(rng.integers(180, 1440))
    return pd.concat(parts, ignore_index=True)


def write_parquet(pdf: pd.DataFrame, path: str, key: str, files: int) -> None:
    """One parquet file per hash slice of ``key``, so scans run in parallel."""
    os.makedirs(path, exist_ok=True)
    slot = pd.util.hash_array(pdf[key].to_numpy()) % files
    for i in range(files):
        part = pdf[slot == i]
        if len(part):
            pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                           os.path.join(path, f"part-{i:03d}.parquet"))


def build_registry(spark, urls, path: str):
    """The package's registry dimension for these urls, materialized like a
    dimension table and read back from parquet. Its seed is fixed, so each
    url keeps its aggregation function whatever the workload seed."""
    from timeseries_harmonizer_spark.sources.webpages import registry

    url_df = spark.createDataFrame([(u,) for u in urls], "url string")
    registry(spark, url_df, seed=0).coalesce(1).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path), pd.read_parquet(path)


# --------------------------------------------------------------------------
# query-suite tables
# --------------------------------------------------------------------------

WORDS = (
    "a the big small fast slow spark batch stream window merge sort hash key "
    "row column table part data line value scan filter group agg join query "
    "order customer vector"
).split()

def build_suite_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write lineitem/events/documents/embeddings parquet files with the
    schemas the headliners read. ``scale`` 1.0 ~ the sf0.1 row counts
    (600k lineitem, 100k events, 5k documents, 2k embeddings).
    Returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = {
        "lineitem": max(60, int(600_000 * scale)),
        "events": max(60, int(100_000 * scale)),
        "documents": max(160, int(5_000 * scale)),
        "embeddings": max(20, int(2_000 * scale)),
    }

    n = rows["lineitem"]
    day0 = np.datetime64("1995-01-02", "D")
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, max(1, n // 4), n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(1, n // 30), n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["R", "A", "N"]), n),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n),
        "l_shipdate": pa.array(
            (day0 + rng.integers(0, 2499, n).astype("timedelta64[D]")).astype(
                "datetime64[us]"
            ),
            pa.timestamp("us"),
        ),
    })

    n = rows["events"]
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    events = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(
            np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, max(10, n // 66), n), pa.int64()),
        "event_type": rng.choice(
            np.array(["view", "click", "purchase", "signup", "error"]), n
        ),
        "value": np.round(rng.exponential(60.0, n), 2) + 0.01,
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })

    n = rows["documents"]
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:  # exact duplicates for dedup
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(np.array(["en", "zh", "es", "de", "fr"]), n),
        "source": np.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n = rows["embeddings"]
    vecs = rng.normal(0.0, 1.0, (n, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })

    for name, tbl in (("lineitem", lineitem), ("events", events),
                      ("documents", documents), ("embeddings", embeddings)):
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return rows
