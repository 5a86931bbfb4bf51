"""Feature catalog (numpy, reference-semantics) + transform layer tests."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from anofox_forecast_spark.features import np_features as FF


Y = np.array([1.0, 2.0, 3.0, 2.0, 1.0, 2.0, 3.0, 2.0])


def test_basic_features_hand_values():
    assert FF.abs_energy(Y) == float((Y**2).sum())
    assert FF.mean_change(Y) == (Y[-1] - Y[0]) / 7
    assert FF.mean_abs_change(Y) == 1.0
    assert FF.absolute_sum_of_changes(Y) == 7.0
    assert FF.maximum(Y) == 3.0 and FF.minimum(Y) == 1.0
    assert FF.median(Y) == 2.0
    assert FF.mean_n_absolute_max(Y, 2) == 3.0


def test_skewness_kurtosis_match_pandas_convention():
    # reference uses adjusted factor over POPULATION std; pandas uses sample
    # std — compare against the exact reference formula instead
    rng = np.random.default_rng(42)
    y = rng.normal(0, 1, 200)
    n = len(y)
    s = y.std()
    expect = n / ((n - 1) * (n - 2)) * (((y - y.mean()) / s) ** 3).sum()
    assert abs(FF.skewness(y) - expect) < 1e-12
    assert abs(FF.skewness(y)) < 0.5  # near 0 for normal data


def test_counting_features():
    assert FF.count_above_mean(Y) == float((Y > Y.mean()).sum())
    assert FF.number_crossing_m(Y, 1.5) == 3.0  # up, down, up
    assert FF.longest_strike_above_mean(Y) == 1.0  # strictly-above: isolated 3s
    assert FF.first_location_of_maximum(Y) == 2 / 8
    assert FF.last_location_of_maximum(Y) == 1.0 - 1 / 8
    assert FF.has_duplicate(Y) == 1.0
    assert FF.has_duplicate_max(Y) == 1.0
    assert FF.value_count(Y, 2.0) == 4.0
    assert FF.range_count(Y, 1.5, 2.5) == 4.0


def test_number_peaks():
    y = np.array([0.0, 5.0, 0.0, 1.0, 0.0, 6.0, 0.0])
    assert FF.number_peaks(y, 1) == 3.0  # 5, 1, 6 each exceed 1 neighbor
    assert FF.number_peaks(y, 2) == 0.0  # 6 is too close to the edge


def test_autocorrelation_tsfresh_norm():
    y = np.array([1.0, 2.0, 1.0, 2.0, 1.0, 2.0])
    # perfect alternation: lag-2 ACF == 1 under tsfresh norm
    assert abs(FF.autocorrelation(y, 2) - 1.0) < 1e-10
    assert FF.autocorrelation(y, 1) < 0


def test_partial_autocorrelation_ar1():
    rng = np.random.default_rng(42)
    y = np.zeros(500)
    for i in range(1, 500):
        y[i] = 0.7 * y[i - 1] + rng.normal()
    assert abs(FF.partial_autocorrelation(y, 1) - 0.7) < 0.1
    assert abs(FF.partial_autocorrelation(y, 2)) < 0.12  # near zero for AR(1)


def test_entropy_features():
    rng = np.random.default_rng(1)
    noise = rng.normal(0, 1, 120)
    regular = np.sin(np.arange(120) * 0.3)
    assert FF.sample_entropy(noise) > FF.sample_entropy(regular)
    assert FF.binned_entropy(np.full(50, 3.0)) == 0.0
    assert FF.permutation_entropy(regular, 3, 1) < FF.permutation_entropy(noise, 3, 1)
    pe_norm = FF.permutation_entropy(noise, 3, 1, normalized=True)
    assert 0 <= pe_norm <= 1.0001


def test_complexity_features():
    flat = np.full(20, 5.0)
    assert FF.cid_ce(flat, True) == 0.0
    y = np.array([1.0, 2.0, 3.0, 4.0, 5.0, 6.0])
    assert abs(FF.c3(y, 1) - np.mean([1*2*3, 2*3*4, 3*4*5, 4*5*6])) < 1e-10
    assert FF.lempel_ziv_complexity(np.tile([1.0, 2.0], 20), 2) < 0.3


def test_linear_trend_exact():
    y = 3.0 + 2.0 * np.arange(10)
    assert abs(FF.linear_trend(y, "slope") - 2.0) < 1e-10
    assert abs(FF.linear_trend(y, "intercept") - 3.0) < 1e-10
    assert abs(FF.linear_trend(y, "r_squared") - 1.0) < 1e-10


def test_ar_coefficient_recovers():
    rng = np.random.default_rng(42)
    y = np.zeros(2000)
    for i in range(1, 2000):
        y[i] = 0.6 * y[i - 1] + rng.normal()
    assert abs(FF.ar_coefficient_yule_walker(y, 1, 4) - 0.6) < 0.1


def test_adf_stationary_vs_random_walk():
    rng = np.random.default_rng(42)
    stationary = rng.normal(0, 1, 300)
    rw = np.cumsum(rng.normal(0, 1, 300))
    assert FF.augmented_dickey_fuller(stationary) < -5  # strongly rejects unit root
    assert FF.augmented_dickey_fuller(rw) > -3  # fails to reject


def test_change_quantiles_and_reoccurrence():
    y = np.array([1.0, 1.0, 2.0, 3.0, 3.0, 5.0])
    assert FF.percentage_of_reoccurring_datapoints_to_all_datapoints(y) == 4 / 6
    assert FF.percentage_of_reoccurring_values_to_all_values(y) == 2 / 4
    assert FF.sum_of_reoccurring_data_points(y) == 1 + 1 + 3 + 3
    assert FF.sum_of_reoccurring_values(y) == 1 + 3
    assert FF.ratio_value_number_to_time_series_length(y) == 4 / 6


def test_index_mass_quantile():
    y = np.array([1.0, 1.0, 1.0, 1.0])
    assert FF.index_mass_quantile(y, 0.5) == 0.5


def test_extract_features_spark(spark):
    import datetime as dt

    rows = []
    t0 = dt.datetime(2024, 1, 1)
    rng = np.random.default_rng(42)
    for sid in ("a", "b"):
        for i in range(50):
            rows.append((sid, t0 + dt.timedelta(hours=i), float(rng.normal(10, 2))))
    df = spark.createDataFrame(rows, "sid string, ts timestamp, y double")
    out = extract = __import__(
        "anofox_forecast_spark.features.extract", fromlist=["extract_features"]
    ).extract_features(df, ["sid"], "ts", "y", features=[
        "mean", "abs_energy", "linear_trend_slope", "binned_entropy",
        "longest_strike_above_mean", "autocorrelation_1",
    ])
    pdf = out.toPandas().set_index("sid")
    assert len(pdf) == 2
    ya = np.array([r[2] for r in rows if r[0] == "a"])
    assert abs(pdf.loc["a", "mean"] - ya.mean()) < 1e-9
    assert abs(pdf.loc["a", "abs_energy"] - (ya**2).sum()) < 1e-6



def test_null_key_series_survive_batch_splits(spark):
    """A NULL-key series is a real series: with Arrow batches far smaller
    than one series, extract_features still returns exactly one row for it,
    ewm_mean keeps every one of its rows, and every other per-series
    operator gives each series what its numpy function gives."""
    import datetime as dt

    from pyspark.sql import functions as F

    from anofox_forecast_spark.changepoint import pelt_detect, pelt_detect_spark
    from anofox_forecast_spark.evaluation import (
        accuracy_metrics_np,
        bootstrap_intervals,
        cross_validate,
    )
    from anofox_forecast_spark.evaluation.bootstrap import bootstrap_intervals_np
    from anofox_forecast_spark.features import extract_features
    from anofox_forecast_spark.models.harness import fitted_values
    from anofox_forecast_spark.models.registry import get_model
    from anofox_forecast_spark.seasonality import stl_decompose_spark
    from anofox_forecast_spark.seasonality.stl import stl_decompose
    from anofox_forecast_spark.transform import ewm_mean
    from anofox_forecast_spark.transform.boxcox import boxcox_lambda, boxcox_lambda_per_series
    from anofox_forecast_spark.transform.window import ewm_mean_np

    t0 = dt.datetime(2024, 1, 1)
    sids = ("a", None, "b")
    rows = [(sid, t0 + dt.timedelta(hours=i), float(i % 7) + (sid is None) + 5.0 * (i >= 25))
            for sid in sids for i in range(40)]
    df = spark.createDataFrame(rows, "sid string, ts timestamp, y double")
    seeds = dict(df.groupBy("sid").agg(F.first(F.xxhash64("sid"))).collect())
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        feats = extract_features(df, ["sid"], "ts", "y", features=["mean", "length"]).toPandas()
        ewm = ewm_mean(df, ["sid"], "ts", "y", alpha=0.5).toPandas()
        stl = stl_decompose_spark(df, ["sid"], "ts", "y", period=7).toPandas()
        pelt = pelt_detect_spark(df, ["sid"], "ts", "y").toPandas()
        lam = boxcox_lambda_per_series(df, ["sid"], "y").toPandas()
        fit = fitted_values(df, ["sid"], "ts", "y", ["seasonal_naive"], season_length=7).toPandas()
        cv = cross_validate(df, ["sid"], "ts", "y", ["naive"], horizon=5,
                            initial_train=20, step_size=5, season_length=7).toPandas()
        boot = bootstrap_intervals(df, ["sid"], "ts", "y", "ses", horizon=3,
                                   n_samples=20, alpha=0.3).toPandas()
    finally:
        spark.conf.set(key, old)
    assert len(feats) == 3
    null_feats = feats[feats["sid"].isna()]
    y_null = np.array([r[2] for r in rows if r[0] is None])
    assert len(null_feats) == 1
    assert null_feats["length"].iloc[0] == 40
    assert abs(null_feats["mean"].iloc[0] - y_null.mean()) < 1e-12
    assert len(ewm) == len(rows)
    null_ewm = ewm[ewm["sid"].isna()].sort_values("ts")
    assert len(null_ewm) == 40
    assert np.allclose(null_ewm["y_ewm"].to_numpy(), ewm_mean_np(y_null, 0.5))

    def part(pdf: pd.DataFrame, sid, by: list[str]) -> pd.DataFrame:
        mask = pdf["sid"].isna() if sid is None else pdf["sid"] == sid
        return pdf[mask].sort_values(by).reset_index(drop=True)

    ts = np.array([r[1] for r in rows[:40]], dtype="datetime64[ns]")
    for sid in sids:
        y = np.array([r[2] for r in rows if r[0] == sid])
        want = stl_decompose(y, 7)
        got = part(stl, sid, ["ts"])
        assert len(got) == 40
        for c in ("trend", "seasonal", "remainder"):
            np.testing.assert_allclose(got[c].to_numpy(), getattr(want, c), atol=1e-9)
        cps = pelt_detect(y).changepoints
        assert cps, "the level shift at 25 must be a changepoint"
        got = part(pelt, sid, ["changepoint_index"])
        assert got["changepoint_index"].tolist() == cps
        assert (got["ts"].to_numpy() == ts[cps]).all()
        assert abs(part(lam, sid, ["lambda"])["lambda"].item() - boxcox_lambda(y)) < 1e-9
        res = get_model("seasonal_naive")(y, 1, 0.95, 7)
        got = part(fit, sid, ["ts"])
        np.testing.assert_array_equal(got["y"].to_numpy(), y)
        np.testing.assert_allclose(got["fitted"].to_numpy(dtype=float), res.fitted, equal_nan=True)
        np.testing.assert_allclose(got["residual"].to_numpy(dtype=float), res.residuals,
                                   equal_nan=True)
        got = part(cv, sid, ["fold"])
        assert got["origin_index"].tolist() == [20, 25, 30, 35]
        for o, mae in zip(got["origin_index"], got["mae"]):
            yhat = get_model("naive")(y[:o], 5, 0.95, 7).yhat
            assert abs(mae - accuracy_metrics_np(y[o:o + 5], yhat, 7)["mae"]) < 1e-12
        want = bootstrap_intervals_np(y, get_model("ses"), 3, 1, 0.95, 20, None,
                                      seeds[sid] % (2**32), alpha=0.3)
        got = part(boot, sid, ["step"])
        for c in ("yhat", "lo", "hi"):
            np.testing.assert_allclose(got[c].to_numpy(), want[c], atol=1e-12)


def test_rolling_expanding_ewm_spark(spark):
    import datetime as dt

    from anofox_forecast_spark.transform import ewm_mean, expanding, rolling

    t0 = dt.datetime(2024, 1, 1)
    rows = [("a", t0 + dt.timedelta(hours=i), float(i + 1)) for i in range(6)]
    df = spark.createDataFrame(rows, "sid string, ts timestamp, y double")

    r = rolling(df, ["sid"], "ts", "y", window=3, stats=["mean", "sum"])
    pdf = r.toPandas().sort_values("ts")
    assert pdf["y_roll_mean"].isna().sum() == 2  # first w-1 NULL (ref NaN prefix)
    assert pdf["y_roll_mean"].iloc[2] == 2.0
    assert pdf["y_roll_sum"].iloc[5] == 15.0

    e = expanding(df, ["sid"], "ts", "y", stats=["mean", "max"])
    pdfe = e.toPandas().sort_values("ts")
    assert pdfe["y_exp_mean"].iloc[5] == 3.5
    assert pdfe["y_exp_max"].iloc[3] == 4.0

    w = ewm_mean(df, ["sid"], "ts", "y", alpha=0.5)
    pdfw = w.toPandas().sort_values("ts")
    # reference recursion e0=y0: 1, 1.5, 2.25, 3.125, ...
    assert abs(pdfw["y_ewm"].iloc[2] - 2.25) < 1e-12


def test_scale_and_boxcox_spark(spark):
    import datetime as dt

    from anofox_forecast_spark.transform import scale_series
    from anofox_forecast_spark.transform.boxcox import boxcox_col, inv_boxcox_col
    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1)
    rows = [("a", t0 + dt.timedelta(hours=i), float(v))
            for i, v in enumerate([2.0, 4.0, 6.0, 8.0])]
    df = spark.createDataFrame(rows, "sid string, ts timestamp, y double")

    s = scale_series(df, ["sid"], "y", method="standardize").toPandas()
    assert abs(s["y_scaled"].mean()) < 1e-12
    assert abs(s["y_scaled"].std(ddof=1) - 1.0) < 1e-12

    n = scale_series(df, ["sid"], "y", method="normalize").toPandas()
    assert n["y_scaled"].min() == 0.0 and n["y_scaled"].max() == 1.0

    b = df.withColumn("t", boxcox_col(F.col("y"), 0.5)).withColumn(
        "back", inv_boxcox_col(F.col("t"), 0.5)
    ).toPandas()
    assert np.allclose(b["back"], b["y"])
    # λ=0 → log
    b0 = df.withColumn("t", boxcox_col(F.col("y"), 0.0)).toPandas()
    assert np.allclose(b0["t"], np.log(b0["y"]))


def test_boxcox_lambda_per_series(spark):
    import datetime as dt

    from anofox_forecast_spark.transform.boxcox import boxcox_lambda, boxcox_lambda_per_series

    rng = np.random.default_rng(42)
    y = np.exp(rng.normal(2, 0.5, 200))  # lognormal → λ near 0
    lam = boxcox_lambda(y)
    assert -0.5 < lam < 0.5

    t0 = dt.datetime(2024, 1, 1)
    rows = [("a", t0 + dt.timedelta(hours=i), float(v)) for i, v in enumerate(y)]
    df = spark.createDataFrame(rows, "sid string, ts timestamp, y double")
    out = boxcox_lambda_per_series(df, ["sid"], "y").collect()
    assert abs(out[0]["lambda"] - lam) < 1e-9
