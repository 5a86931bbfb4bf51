"""Metrics / CV / bootstrap / stat-tests."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

from anofox_forecast_spark.evaluation import (
    accuracy_metrics,
    accuracy_metrics_np,
    bootstrap_intervals,
    box_pierce,
    cross_validate,
    durbin_watson,
    kpss_test,
    ljung_box,
)

T0 = dt.datetime(2024, 1, 1)


def test_metrics_np_exact():
    a = np.array([10.0, 20.0, 30.0])
    p = np.array([12.0, 18.0, 33.0])
    m = accuracy_metrics_np(a, p, 1)
    assert abs(m["mae"] - 7 / 3) < 1e-12
    assert abs(m["mse"] - (4 + 4 + 9) / 3) < 1e-12
    assert m["mape"] is not None
    # MASE: naive MAE = mean(|20-10|,|30-20|) = 10 → mase = mae/10
    assert abs(m["mase"] - (7 / 3) / 10) < 1e-12
    # zero in actual → MAPE None
    assert accuracy_metrics_np(np.array([0.0, 1.0]), np.array([1.0, 1.0]))["mape"] is None


def test_metrics_smape_reference_formula():
    a = np.array([100.0])
    p = np.array([50.0])
    m = accuracy_metrics_np(a, p)
    assert abs(m["smape"] - 100.0 * (2 * 50 / 150)) < 1e-12


def test_metrics_spark_matches_np(spark):
    rows_a, rows_f = [], []
    rng = np.random.default_rng(42)
    for sid in ("a", "b"):
        y = 50 + rng.normal(0, 5, 20)
        p = y + rng.normal(0, 2, 20)
        for i in range(20):
            ts = T0 + dt.timedelta(days=i)
            rows_a.append((sid, ts, float(y[i])))
            rows_f.append((sid, "m1", ts, float(p[i])))
    actual = spark.createDataFrame(rows_a, "sid string, ds timestamp, y double")
    fc = spark.createDataFrame(rows_f, "sid string, model string, ds timestamp, yhat double")
    out = accuracy_metrics(fc, actual, ["sid"]).toPandas().set_index("sid")

    ya = np.array([r[2] for r in rows_a if r[0] == "a"])
    pa = np.array([r[3] for r in rows_f if r[0] == "a"])
    m = accuracy_metrics_np(ya, pa, 1)
    for c in ("mae", "mse", "rmse", "smape", "r_squared", "mase"):
        assert abs(out.loc["a", c] - m[c]) < 1e-9, c


def test_cross_validate_spark(spark):
    rows = []
    for sid in ("a",):
        for i in range(60):
            rows.append((sid, T0 + dt.timedelta(days=i), float(50 + i * 0.5)))
    df = spark.createDataFrame(rows, "sid string, ts timestamp, y double")
    out = cross_validate(
        df, ["sid"], "ts", "y", ["naive", "random_walk_drift"],
        horizon=5, initial_train=30, step_size=10,
    ).toPandas()
    assert set(out["model"]) == {"naive", "random_walk_drift"}
    folds = out[out.model == "naive"]["fold"].nunique()
    assert folds == 3  # origins 30, 40, 50
    # RWD is exact on a linear series → mae 0; naive lags → mae > 0
    rwd = out[out.model == "random_walk_drift"]["mae"].astype(float)
    nv = out[out.model == "naive"]["mae"].astype(float)
    assert (rwd < 1e-9).all()
    assert (nv > 0.5).all()


def test_bootstrap_intervals_spark(spark):
    rng = np.random.default_rng(42)
    rows = []
    y = 50 + rng.normal(0, 5, 60)
    for i in range(60):
        rows.append(("a", T0 + dt.timedelta(days=i), float(y[i])))
    df = spark.createDataFrame(rows, "sid string, ts timestamp, y double")
    out = bootstrap_intervals(
        df, ["sid"], "ts", "y", "ses", horizon=6, n_samples=50, alpha=0.3,
    ).toPandas().sort_values("step")
    assert len(out) == 6
    assert (out["lo"] <= out["yhat"]).all() and (out["yhat"] <= out["hi"]).all()
    assert (out["hi"] - out["lo"]).mean() > 0.1  # non-degenerate


def test_bootstrap_intervals_deterministic_for_null_keys(spark):
    """The per-series seed comes from the JVM hash of the key columns: a
    NULL bigint key is NaN in pandas, whose Python hash changes from object
    to object, yet its series gets the same intervals on every run."""
    rng = np.random.default_rng(7)
    rows = [(sid, T0 + dt.timedelta(days=i), float(50 + rng.normal(0, 5)))
            for sid in (1, None, 2) for i in range(40)]
    df = spark.createDataFrame(rows, "sid bigint, ts timestamp, y double")

    def run() -> pd.DataFrame:
        out = bootstrap_intervals(df, ["sid"], "ts", "y", "ses", horizon=4,
                                  n_samples=50, alpha=0.3).toPandas()
        return out.sort_values(["sid", "step"], na_position="first").reset_index(drop=True)

    first, second = run(), run()
    assert len(first) == 12 and first["sid"].isna().sum() == 4
    pd.testing.assert_frame_equal(first, second)


def test_ljung_box_white_vs_correlated():
    rng = np.random.default_rng(42)
    white = rng.normal(0, 1, 300)
    ar = np.zeros(300)
    for i in range(1, 300):
        ar[i] = 0.8 * ar[i - 1] + rng.normal()
    assert ljung_box(white)["white_noise"]
    assert not ljung_box(ar)["white_noise"]
    assert not box_pierce(ar)["white_noise"]


def test_durbin_watson():
    rng = np.random.default_rng(42)
    white = rng.normal(0, 1, 500)
    assert 1.7 < durbin_watson(white) < 2.3
    ar = np.zeros(500)
    for i in range(1, 500):
        ar[i] = 0.9 * ar[i - 1] + rng.normal()
    assert durbin_watson(ar) < 1.0  # positive autocorrelation → DW << 2


def test_kpss():
    rng = np.random.default_rng(42)
    stationary = rng.normal(0, 1, 400)
    rw = np.cumsum(rng.normal(0, 1, 400))
    assert kpss_test(stationary)["stationary_5pct"]
    assert not kpss_test(rw)["stationary_5pct"]


def test_interval_calibration_naive():
    from anofox_forecast_spark.evaluation.stat_tests import interval_calibration
    from anofox_forecast_spark.models.kernels import naive

    rng = np.random.default_rng(42)
    y = 50 + rng.normal(0, 3, 150)
    r = interval_calibration(y, naive, horizon=4, level=0.9, step=5)
    assert r["n"] > 0
    # naive CI on iid noise should be roughly calibrated (wide tolerance)
    assert 0.6 < r["coverage"] <= 1.0
    assert r["winkler"] > 0


def test_winkler_score_reference_semantics():
    """winkler_score matches ref tests/interval_calibration.rs:35-60:
    penalizes miscoverage and width, +inf on empty."""
    from anofox_forecast_spark.evaluation import winkler_score

    actual = np.array([10.0, 20.0, 30.0])
    # covering vs missing intervals (ref winkler_score_penalizes_miscoverage)
    good = winkler_score(actual, [5.0, 15.0, 25.0], [15.0, 25.0, 35.0], 0.05)
    bad = winkler_score(actual, [0.0, 0.0, 0.0], [5.0, 10.0, 15.0], 0.05)
    assert bad > good
    # narrow vs wide, both covering (ref winkler_score_penalizes_width)
    narrow = winkler_score(actual, [9.0, 19.0, 29.0], [11.0, 21.0, 31.0], 0.05)
    wide = winkler_score(actual, [0.0, 10.0, 20.0], [20.0, 30.0, 40.0], 0.05)
    assert wide > narrow
    # covering: score == mean width exactly
    assert narrow == 2.0
    assert winkler_score(np.array([]), [], [], 0.05) == float("inf")


def test_winkler_score_col_matches_np(spark):
    from pyspark.sql import functions as F

    from anofox_forecast_spark.evaluation import winkler_score, winkler_score_col

    rng = np.random.default_rng(7)
    a = rng.normal(0, 5, 200)
    lo = a - rng.uniform(0.5, 3, 200) + rng.normal(0, 2, 200)
    hi = lo + rng.uniform(1, 6, 200)
    df = spark.createDataFrame(
        [(float(x), float(l), float(u)) for x, l, u in zip(a, lo, hi)],
        "y double, lo double, hi double",
    )
    got = df.agg(
        F.avg(winkler_score_col(F.col("y"), F.col("lo"), F.col("hi"), 0.2))
    ).collect()[0][0]
    assert abs(got - winkler_score(a, lo, hi, 0.2)) < 1e-9


def _calibration_series(kind: str, n: int = 200) -> np.ndarray:
    """Deterministic series shaped like the ref's calibration fixtures
    (ref tests/interval_calibration.rs:335-470)."""
    i = np.arange(n, dtype=float)
    if kind == "noise":
        rng = np.random.default_rng(42)
        return 50.0 + rng.normal(0, 3, n)
    if kind == "trend":
        return 100.0 + 0.5 * i + 5.0 * np.sin(0.1 * i)
    if kind == "seasonal":
        return 50.0 + 20.0 * np.sin(2.0 * np.pi * i / 12.0) + 0.1 * i
    if kind == "persistent":
        y = np.empty(n)
        y[0] = 100.0
        for t in range(1, n):
            y[t] = y[t - 1] * 0.9 + 10.0 + 3.0 * np.sin(0.2 * t)
        return y
    raise ValueError(kind)


def test_interval_calibration_sweep_exact_tier():
    """Rolling-origin coverage + Winkler across the exact-tier models at
    levels 80/95 (VERDICT r2 next-round #3; ref interval_calibration.rs
    coverage_* tests). Coverage floors are the reference's own tolerance
    bands; Winkler must be finite and positive everywhere."""
    from anofox_forecast_spark.evaluation.stat_tests import interval_calibration
    from anofox_forecast_spark.models import kernels as K

    # (model, fixture, season_length, ref coverage floor at 95%)
    cases = [
        (K.naive, "noise", 1, 0.70),          # ref coverage_naive_95
        (K.historic_average, "noise", 1, 0.70),  # ref coverage_mean_95
        (K.ses, "persistent", 1, 0.30),       # ref coverage_ses_95
        (K.holt, "trend", 1, 0.30),           # ref coverage_holt_95
        (K.theta, "trend", 1, 0.50),          # ref coverage_theta_95
        (K.seasonal_naive, "seasonal", 12, 0.50),  # ref coverage_seasonal_naive
        (K.random_walk_drift, "trend", 1, 0.50),
    ]
    for kernel, fixture, m, floor in cases:
        y = _calibration_series(fixture)
        r80 = interval_calibration(y, kernel, horizon=5, level=0.80,
                                   step=5, season_length=m)
        r95 = interval_calibration(y, kernel, horizon=5, level=0.95,
                                   step=5, season_length=m)
        name = kernel.__name__
        for r in (r80, r95):
            assert r["n"] > 0, name
            assert np.isfinite(r["winkler"]) and r["winkler"] > 0, name
        assert r95["coverage"] >= floor, (name, r95)
        # ref coverage_levels_ordering: higher level ⇒ not-much-lower coverage
        assert r95["coverage"] >= r80["coverage"] - 0.15, (name, r80, r95)
