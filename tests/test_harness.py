"""Grouped-map forecasting harness Spark tests."""

from __future__ import annotations

import datetime as dt

import numpy as np

from anofox_forecast_spark.models import fitted_values, forecast
from anofox_forecast_spark.models import kernels as K

T0 = dt.datetime(2024, 1, 1)


def _series_df(spark, sids=("a", "b"), n=30):
    rows = []
    for si, sid in enumerate(sids):
        for i in range(n):
            rows.append((sid, T0 + dt.timedelta(hours=i), float(10 * (si + 1) + i % 12)))
    return spark.createDataFrame(rows, "sid string, ts timestamp, y double")


def test_forecast_matches_kernel(spark):
    df = _series_df(spark)
    out = forecast(
        df, ["sid"], "ts", "y",
        models=["seasonal_naive", "naive"],
        horizon=6, freq="1h", season_length=12,
    )
    pdf = out.toPandas()
    assert set(pdf["model"]) == {"seasonal_naive", "naive"}
    assert len(pdf) == 2 * 2 * 6

    # cross-check one series against the kernel directly
    y = np.array([10.0 + i % 12 for i in range(30)])
    expected = K.seasonal_naive(y, 6, m=12)
    got = (
        pdf[(pdf.sid == "a") & (pdf.model == "seasonal_naive")]
        .sort_values("step")["yhat"]
        .to_numpy()
    )
    assert np.allclose(got, expected.yhat)

    # ds continues hourly from the last point
    ds = pdf[(pdf.sid == "a") & (pdf.model == "naive")].sort_values("step")["ds"]
    assert ds.iloc[0] == T0 + dt.timedelta(hours=30)
    assert ds.iloc[-1] == T0 + dt.timedelta(hours=35)


def test_forecast_skips_too_short_series(spark):
    rows = [("tiny", T0, 1.0), ("tiny", T0 + dt.timedelta(hours=1), 2.0)]
    df = spark.createDataFrame(rows, "sid string, ts timestamp, y double")
    out = forecast(
        df, ["sid"], "ts", "y", models=["seasonal_naive"],
        horizon=3, freq="1h", season_length=12,
    )
    assert out.count() == 0  # insufficient data -> no rows, no job failure


def test_fitted_values_nulls_through_arrow(spark):
    df = _series_df(spark, sids=("a",), n=20)
    out = fitted_values(df, ["sid"], "ts", "y", ["seasonal_naive"], season_length=12)
    pdf = out.toPandas().sort_values("ts")
    assert len(pdf) == 20
    assert pdf["fitted"].isna().sum() == 12  # first season -> NULL
    tail = pdf["fitted"].to_numpy()[12:]
    assert np.allclose(tail.astype(float), [10.0 + i % 12 for i in range(8)])


def test_forecast_keeps_null_key_series(spark):
    """NULL keys (e.g. parse_url host on malformed URLs) are real series:
    they must forecast, not vanish in pandas groupby dropna."""
    rows = []
    for sid in ("a", None):
        for i in range(20):
            rows.append((sid, T0 + dt.timedelta(hours=i), float(i)))
    df = spark.createDataFrame(rows, "sid string, ts timestamp, y double")
    out = forecast(df, ["sid"], "ts", "y", models=["naive"], horizon=3, freq="1h").toPandas()
    assert len(out) == 2 * 3
    null_rows = out[out.sid.isna()]
    assert len(null_rows) == 3 and (null_rows["yhat"] == 19.0).all()


def test_series_starts_are_null_safe_across_key_columns():
    """A series starts wherever any key column changes; two NULL/NaN keys
    are equal, a NULL and a value are not."""
    import pandas as pd

    from anofox_forecast_spark.models.harness import _series_starts, each_series

    body = pd.DataFrame({
        "lang": [None, None, None, "en", "en", "en", "fr"],
        "n": [np.nan, np.nan, 1.0, 1.0, 1.0, np.nan, np.nan],
        "y": np.arange(7.0),
    })
    starts = _series_starts(body, ["lang", "n"])
    assert starts.tolist() == [0, 2, 3, 5, 6]
    seen = []
    each_series(lambda g, out: seen.append(g["y"].tolist()))(body, starts, {})
    assert seen == [[0.0, 1.0], [2.0], [3.0, 4.0], [5.0], [6.0]]
