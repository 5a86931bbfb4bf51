"""Rolling/expanding-origin cross-validation (ref src/utils/cross_validation.rs).

Strategy (ref :10-43): folds are forecast origins walking forward by
``step_size``; per fold, fit on y[train_start:origin) (train_start = 0 for
expanding, origin − window for rolling), predict ``horizon``, score
against y[origin:origin+horizon). Output: one row per (series, model,
fold) with the fold's metrics (the mean/std aggregation is a trivial
groupBy on top).

Runs the whole fold loop per series inside the harness's batched
per-series stage (``batched_series_apply``) — each fold's fit is a
short-array numpy kernel call, so the fold loop stays in-process (same
reasoning as the AutoETS candidate loop, SURVEY §3.2).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, IntegerType, StringType, StructField, StructType

from anofox_forecast_spark.evaluation.metrics import accuracy_metrics_np
from anofox_forecast_spark.models.harness import _normalize_models, batched_series_apply, each_series
from anofox_forecast_spark.models.registry import get_model

_METRIC_COLS = ("mae", "mse", "rmse", "mape", "smape", "mase", "r_squared")


def cross_validate(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    y_col: str,
    models: Mapping | Sequence[str],
    horizon: int,
    initial_train: int,
    step_size: int = 1,
    strategy: str = "expanding",
    window: int | None = None,
    season_length: int = 1,
    max_folds: int = 50,
) -> DataFrame:
    """Returns (keys…, model, fold, origin_index, mae…r_squared)."""
    if strategy not in ("expanding", "rolling"):
        raise ValueError("strategy must be 'expanding' or 'rolling'")
    specs = _normalize_models(models)
    resolved = [(name, get_model(name), params) for name, params in specs.items()]
    keys_l = list(keys)
    out_schema = StructType(
        [df.schema[k] for k in keys_l]
        + [StructField("model", StringType()),
           StructField("fold", IntegerType()),
           StructField("origin_index", IntegerType())]
        + [StructField(c, DoubleType()) for c in _METRIC_COLS]
    )

    def per_series(g: pd.DataFrame, out: dict) -> None:
        y = g[y_col].to_numpy(dtype=np.float64)
        names, folds, origins, metrics = [], [], [], []
        fold = 0
        origin = initial_train
        while origin + horizon <= y.size and fold < max_folds:
            start = 0 if strategy == "expanding" else max(0, origin - (window or initial_train))
            train = y[start:origin]
            actual = y[origin : origin + horizon]
            for name, kernel, params in resolved:
                try:
                    res = kernel(train, horizon, 0.95, season_length, **params)
                except Exception:
                    continue
                m = accuracy_metrics_np(actual, res.yhat, season_length)
                names.append(name)
                folds.append(fold)
                origins.append(origin)
                metrics.append([np.nan if m[c] is None else m[c] for c in _METRIC_COLS])
            fold += 1
            origin += step_size
        if not names:
            return
        for k in keys_l:
            out[k].append(np.repeat(g[k].iloc[0], len(names)))
        out["model"].append(np.array(names))
        out["fold"].append(np.array(folds, dtype=np.int32))
        out["origin_index"].append(np.array(origins, dtype=np.int32))
        for c, col in zip(_METRIC_COLS, np.array(metrics, dtype=np.float64).T):
            out[c].append(col)

    return batched_series_apply(df, keys_l, ts_col, each_series(per_series), out_schema)
