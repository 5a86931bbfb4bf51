"""Exogenous-regressor support (ARIMAX-style OLS pre-regression).

Reference contract (pattern at ref src/models/baseline/naive.rs:100-141 and
src/models/theta/model.rs:641-650; every exog-capable model does the same):

1. fit OLS y ~ [1, X] on the history (ref src/utils/ols.rs:94-130)
2. model the OLS residual with the base kernel
3. forecast = kernel forecast + OLS prediction on X_future (incl. intercept)

Spark surface: the future regressor rows ride in the SAME long frame as
history, flagged by y IS NULL — one shuffle, one grouped pass; the kernel
never sees per-row Python.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from anofox_forecast_spark.models._numerics import ols_fit, ols_residuals
from anofox_forecast_spark.models.harness import (
    _normalize_models,
    batched_series_apply,
    each_series,
)
from anofox_forecast_spark.models.kernels import KernelResult
from anofox_forecast_spark.models.registry import get_model


def fit_predict_exog(
    kernel,
    y: np.ndarray,
    X: np.ndarray,
    X_future: np.ndarray,
    h: int,
    level: float = 0.95,
    m: int = 1,
    **params,
) -> KernelResult:
    """One series: OLS detrend → kernel on residuals → add back OLS path."""
    coef = ols_fit(y, X)
    resid_y = ols_residuals(y, coef, X)
    res = kernel(resid_y, h, level, m, **params)
    contribution = np.column_stack([np.ones(h), X_future]) @ coef
    res.yhat = res.yhat + contribution
    res.lo = res.lo + contribution
    res.hi = res.hi + contribution
    res.params["exog_coef"] = list(map(float, coef))
    return res


def forecast_exog(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    y_col: str,
    x_cols: Sequence[str],
    future_df: DataFrame,
    models: Mapping | Sequence[str],
    horizon: int,
    season_length: int = 1,
    level: float = 0.95,
) -> DataFrame:
    """Forecast with exogenous regressors.

    ``df``: history (keys…, ts, y, x…); ``future_df``: the next ``horizon``
    rows per series (keys…, ts, x…) with known future regressor values.
    Output: (keys…, model, step, ds, yhat, lo, hi).
    """
    specs = _normalize_models(models)
    resolved = [(name, get_model(name), p) for name, p in specs.items()]
    keys_l = list(keys)
    x_l = list(x_cols)

    hist = df.select(*keys_l, ts_col, F.col(y_col).alias("__y"), *x_l)
    fut = future_df.select(
        *keys_l, ts_col, F.lit(None).cast("double").alias("__y"), *x_l
    )
    combined = hist.unionByName(fut)

    out_schema = StructType(
        [df.schema[k] for k in keys_l]
        + [StructField("model", StringType()),
           StructField("step", IntegerType()),
           df.schema[ts_col],
           StructField("yhat", DoubleType()),
           StructField("lo", DoubleType()),
           StructField("hi", DoubleType())]
    )

    def per_series(g: pd.DataFrame, out: dict) -> None:
        hist_mask = g["__y"].notna().to_numpy()
        gh = g[hist_mask]
        gf = g[~hist_mask]
        if len(gf) == 0 or len(gh) < 4:
            return
        y = gh["__y"].to_numpy(dtype=np.float64)
        X = gh[x_l].to_numpy(dtype=np.float64)
        Xf = gf[x_l].to_numpy(dtype=np.float64)[:horizon]
        h = Xf.shape[0]
        ds = gf[ts_col].to_numpy()[:horizon]
        for name, kernel, params in resolved:
            try:
                res = fit_predict_exog(kernel, y, X, Xf, h, level,
                                       season_length, **params)
            except Exception:
                continue
            for k in keys_l:
                out[k].append(np.repeat(g[k].iloc[0], h))
            out["model"].append(np.repeat(name, h))
            out["step"].append(np.arange(1, h + 1, dtype=np.int32))
            out[ts_col].append(ds)
            out["yhat"].append(res.yhat)
            out["lo"].append(res.lo)
            out["hi"].append(res.hi)

    return batched_series_apply(combined, keys_l, ts_col, each_series(per_series), out_schema)
