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


def test_forecast_body_keeps_other_models_when_one_raises(spark):
    """One body holds a 3-point series, for which ``theta`` raises
    (n < 4): that series still emits its ``seasonal_naive`` and ``ses``
    rows, the other series all three models, and every value equals the
    one-series kernel's bits (``ses`` runs as one body form)."""
    # two keys that the kernel stage's hash partitioning puts in one task
    parts = spark.sparkContext.defaultParallelism
    by_part: dict = {}
    for r in spark.sql(f"select concat('s', id) k, pmod(hash(concat('s', id)), {parts}) p "
                       "from range(20)").collect():
        by_part.setdefault(r.p, []).append(r.k)
    short, long_ = next(ks for ks in by_part.values() if len(ks) > 1)[:2]
    rows = [(short, T0 + dt.timedelta(days=i), float(3 + i)) for i in range(3)]
    rows += [(long_, T0 + dt.timedelta(days=i), float(10 + i % 5 + i * i % 7)) for i in range(20)]
    df = spark.createDataFrame(rows, "sid string, ts timestamp, y double")
    models = ["seasonal_naive", "ses", "theta"]
    pdf = forecast(df, ["sid"], "ts", "y", models=models, horizon=4, freq="1d",
                   season_length=2).toPandas()
    assert sorted(set(zip(pdf.sid, pdf.model))) == sorted(
        [(long_, m) for m in models] + [(short, "seasonal_naive"), (short, "ses")])
    for sid, n in ((short, 3), (long_, 20)):
        y = np.array([r[2] for r in rows if r[0] == sid])
        for name in set(pdf[pdf.sid == sid].model):
            got = pdf[(pdf.sid == sid) & (pdf.model == name)].sort_values("step")
            want = getattr(K, name)(y, 4, 0.95, 2)
            for col in ("yhat", "lo", "hi"):
                assert got[col].to_numpy().tobytes() == want.__dict__[col].tobytes(), (sid, name)
            assert list(got.ds) == [T0 + dt.timedelta(days=n - 1 + k) for k in range(1, 5)]
