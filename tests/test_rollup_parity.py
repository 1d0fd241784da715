"""The BASELINE parity suite: Spark engine rollups (native closed form AND
the chunked Arrow exact replay) vs the pandas oracle, at every retention tier —
values compared after the reference's round(5)
(reference harmonizers/__init__.py:233)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import oracle
from timeseries_harmonizer_spark.config import TIERS
from timeseries_harmonizer_spark.operators.rollup import rollup_exact_chunked
from timeseries_harmonizer_spark.plans import pipeline


@pytest.fixture(scope="module")
def inputs_pdf(pages, reg):
    return pages.toPandas(), reg.toPandas()


def _compare(got: pd.DataFrame, expected: pd.DataFrame, tol=2e-5):
    got = got.sort_values(["url", "start"]).reset_index(drop=True)
    expected = expected.sort_values(["url", "start"]).reset_index(drop=True)
    assert len(got) == len(expected), (len(got), len(expected))
    assert (got["url"].to_numpy() == expected["url"].to_numpy()).all()
    assert (
        pd.DatetimeIndex(got["start"]) == pd.DatetimeIndex(expected["start"])
    ).all()
    g = got["value"].to_numpy(dtype="float64")
    e = expected["value"].to_numpy(dtype="float64")
    both_nan = np.isnan(g) & np.isnan(e)
    diff = np.abs(g - e)
    bad = ~(both_nan | (diff <= tol))
    assert not bad.any(), got[bad].head(10).to_string() + "\n---\n" + expected[bad].head(10).to_string()


@pytest.mark.parametrize("tier_name", ["1m", "1h", "1d"])
def test_native_rollup_matches_oracle(spark, pages, reg, inputs_pdf, tier_name):
    tier = TIERS[tier_name]
    prepared = pipeline.prepare(pages, reg, tier)
    pts = pipeline.rollup_points(prepared, tier)
    got = (
        pts.select("url", "start", F.round("value", 5).alias("value"))
        .toPandas()
    )
    pages_pdf, reg_pdf = inputs_pdf
    expected = oracle.harmonize_pages(
        pages_pdf, reg_pdf, tier.seconds, tier.gap_seconds
    )
    _compare(got, expected)


def _exact_sum_avg(prepared, tier) -> pd.DataFrame:
    """rollup_exact_chunked over the SUM and AVG series of ``prepared``."""
    parts = [
        rollup_exact_chunked(
            prepared.where(F.col("agg_func") == agg),
            agg_func=agg,
            freq_seconds=tier.seconds,
            session_col="session_id",
        )
        for agg in ("SUM", "AVG")
    ]
    pts = parts[0].unionByName(parts[1])
    return pts.select("url", "start", F.round("value", 5).alias("value")).toPandas()


def _oracle_sum_avg(inputs_pdf, tier) -> pd.DataFrame:
    pages_pdf, reg_pdf = inputs_pdf
    expected = oracle.harmonize_pages(pages_pdf, reg_pdf, tier.seconds, tier.gap_seconds)
    sum_avg = reg_pdf.loc[reg_pdf["agg_func"].isin(["SUM", "AVG"]), "url"]
    return expected[expected["url"].isin(sum_avg)]


def test_exact_replay_matches_oracle(spark, pages, reg, inputs_pdf):
    """The Arrow replay (chunked: bounded group memory) matches the oracle
    kernels on the SUM and AVG series; chunk-partial merging reorders float
    addition, so the tolerance is ULP-level rather than 0."""
    tier = TIERS["1h"]
    prepared = pipeline.prepare(pages, reg, tier)
    _compare(_exact_sum_avg(prepared, tier), _oracle_sum_avg(inputs_pdf, tier), tol=1e-9)


def test_exact_path_gapless_1d_tier(spark, pages, reg, inputs_pdf):
    """The 1d tier has gap_seconds=None (one session per url) — the chunked
    replay must still run with bounded Arrow groups (time chunking) and
    match the oracle."""
    tier = TIERS["1d"]
    prepared = pipeline.prepare(pages, reg, tier)
    _compare(_exact_sum_avg(prepared, tier), _oracle_sum_avg(inputs_pdf, tier), tol=1e-9)


def test_twa_matches_numpy_trapezoid(spark):
    """rollup_native_twa vs a numpy trapezoid oracle on irregular data, and
    the analytic check: a pure linear ramp's TWA is the window midpoint."""
    from timeseries_harmonizer_spark.operators.rollup import rollup_native_twa

    rng = np.random.default_rng(11)
    t0 = 1704067200
    ts = np.sort(rng.choice(np.arange(0, 6 * 3600, 7), size=400, replace=False)) + t0
    vals = rng.normal(50, 10, size=400).round(3)
    pdf = pd.DataFrame(
        {"url": "u", "warc_ts": pd.to_datetime(ts, unit="s"), "value": vals}
    )
    got = (
        rollup_native_twa(spark.createDataFrame(pdf), session_col=None)
        .orderBy("start")
        .toPandas()
    )
    # numpy oracle: per fully-covered hour, trapezoid integral of the
    # piecewise-linear interpolant over [w, w+3600] / 3600
    f = lambda x: np.interp(x, ts.astype(float), vals)
    exp = []
    for w in range(t0, t0 + 6 * 3600, 3600):
        if ts[0] <= w and ts[-1] >= w + 3600:
            xs = np.unique(np.concatenate(
                [[w, w + 3600], ts[(ts >= w) & (ts <= w + 3600)].astype(float)]))
            integ = np.trapz(f(xs), xs)
            exp.append((w, np.floor(integ / 3600 * 1e6) / 1e6))
    assert len(got) == len(exp) >= 3
    np.testing.assert_allclose(
        got["value"].to_numpy(), [v for _, v in exp], rtol=0, atol=2e-6
    )
    # analytic: ramp v(t) = t - t0 over [t0, t0+2h] -> hour k TWA = k*3600+1800
    ramp = pd.DataFrame(
        {
            "url": "r",
            "warc_ts": pd.to_datetime([t0, t0 + 7200], unit="s"),
            "value": [0.0, 7200.0],
        }
    )
    r = (
        rollup_native_twa(spark.createDataFrame(ramp), session_col=None)
        .orderBy("start")
        .toPandas()
    )
    np.testing.assert_allclose(r["value"].to_numpy(), [1800.0, 5400.0])


@pytest.mark.parametrize("tier_name", ["1m", "1h", "1d"])
def test_sum_avg_native_matches_replay(spark, pages, reg, tier_name):
    """The single-pass SUM/AVG closed form vs the pandas 1s-grid replay
    (rollup_exact) on the same prepared frame: identical (url, start)
    windows and unrounded values within float-reordering noise."""
    from timeseries_harmonizer_spark.operators.rollup import (
        rollup_exact,
        rollup_native_sum_avg,
    )

    tier = TIERS[tier_name]
    sum_avg = pipeline.prepare(pages, reg, tier).where(
        F.col("agg_func").isin("SUM", "AVG")
    )

    def collect(df):
        return df.toPandas().sort_values(["url", "start"]).reset_index(drop=True)

    native = collect(
        rollup_native_sum_avg(sum_avg, freq_seconds=tier.seconds, session_col="session_id")
    )
    replay = collect(
        rollup_exact(sum_avg, freq_seconds=tier.seconds, session_col="session_id")
    )
    assert len(native) == len(replay) > 0
    assert (native["url"].to_numpy() == replay["url"].to_numpy()).all()
    assert (native["start"].to_numpy() == replay["start"].to_numpy()).all()
    np.testing.assert_allclose(
        native["value"].to_numpy(), replay["value"].to_numpy(), rtol=0, atol=1e-9
    )
