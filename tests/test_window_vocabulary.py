"""The one window vocabulary (``config``): the driver-side floor and the
executors' window label must agree on every boundary, for fixed and
calendar frequencies alike — the retention sweep's cutoff and the
``date_trunc`` labels of the rows it splits depend on it."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from timeseries_harmonizer_spark.config import (
    TIERS,
    floor_time,
    freq_seconds,
    window_start,
)
from timeseries_harmonizer_spark.operators.rollup import rollup_native_last

BOUNDARIES = [
    "2024-01-01 00:00:00",  # Monday, month, day, hour and minute start
    "2023-12-31 23:59:59",  # Sunday 23:59:59, Dec 31, one second before
    "2024-01-01 00:00:59",
    "2024-01-01 00:01:00",
    "2024-01-01 00:59:59",
    "2024-01-01 01:00:00",
    "2024-02-28 23:59:59",
    "2024-02-29 00:00:00",  # leap day
    "2024-02-29 13:37:42",
    "2024-02-29 23:59:59",
    "2024-03-01 00:00:00",
    "2024-03-03 23:59:59",  # Sunday 23:59:59
    "2024-03-04 00:00:00",  # Monday
    "2024-12-31 23:59:59",  # Dec 31 23:59:59
    "2025-01-01 00:00:00",
    "1969-12-31 23:59:59",  # one second before the epoch
]

# the comparable widths the formula engine used before the vocabulary moved
# into config (P1W compares as 7 days, P1M as 30)
COMPARABLE = {"1m": 60, "1h": 3600, "1d": 86400, "P1W": 7 * 86400, "P1M": 30 * 86400}


@pytest.mark.parametrize("tier", ["1m", "1h", "1d", "P1W", "P1M"])
def test_floor_time_matches_window_start(spark, tier):
    freq = TIERS[tier].freq
    assert freq_seconds(freq) == COMPARABLE[tier]
    fmt = "yyyy-MM-dd HH:mm:ss"
    row = spark.range(1).select(
        *[
            F.date_format(window_start(F.lit(ts).cast("timestamp"), freq), fmt)
            for ts in BOUNDARIES
        ]
    ).first()
    for ts, label in zip(BOUNDARIES, row):
        assert floor_time(ts, freq) == pd.Timestamp(label), (ts, freq, label)


@pytest.mark.parametrize("tier,rule", [("P1W", "W-MON"), ("P1M", "1MS")])
def test_calendar_last_claim_span_matches_pandas(spark, tier, rule):
    """Calendar LAST takes the same claim-span path as fixed grids: each
    observed window claims the slots up to the next one, LOCF-filled.
    Sparse series with multi-window gaps and a null final row must match
    pandas' last().ffill() over the observed span, with is_real marking
    exactly the windows that hold a raw row."""
    rows = {
        "a": [
            ("2024-01-03 10:00:00", 1.0),
            ("2024-01-04 11:00:00", 2.0),
            ("2024-03-20 00:00:00", 3.0),
            ("2024-06-02 23:59:59", None),
        ],
        "b": [
            ("2023-12-31 23:59:59", 5.0),
            ("2024-02-29 12:00:00", None),
            ("2024-05-06 00:00:00", 7.0),
        ],
    }
    pdf = pd.DataFrame(
        [(u, pd.Timestamp(t), v) for u, rs in rows.items() for t, v in rs],
        columns=["url", "warc_ts", "value"],
    )
    # null values stay null (not NaN) and timestamps parse in the session zone
    sdf = spark.createDataFrame(
        [(u, t, v) for u, rs in rows.items() for t, v in rs],
        "url string, warc_ts string, value double",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    out = (
        rollup_native_last(sdf, freq_seconds=TIERS[tier].freq)
        .orderBy("url", "start")
        .toPandas()
    )
    for url, grp in pdf.groupby("url"):
        s = grp.set_index("warc_ts")["value"]
        r = s.resample(rule, label="left", closed="left")
        exp = r.last().ffill()
        got = out[out["url"] == url]
        assert (pd.DatetimeIndex(got["start"]) == exp.index).all(), url
        np.testing.assert_allclose(got["value"].to_numpy(), exp.to_numpy())
        assert got["is_real"].tolist() == (r.size() > 0).tolist(), url
