"""Rolling / expanding / EWM window transforms.

Semantics from ref src/transform/window.rs:

- rolling_*: trailing window of size w over (series, ts)-ordered values;
  the first w−1 positions are undefined (ref NaN → engine NULL, :29-31).
  Centered variant covers [i−w/2, i+w−w/2−1].
- expanding_*: cumulative from the series start (:153-224).
- ewm_mean: recursion e₀=y₀, e_t = α·y_t + (1−α)·e_{t−1} (:227-244) —
  NOT pandas' adjusted EWM; implemented in the same window algebra as SES
  via a per-series pandas iterator (no native Spark EWM).

All rolling/expanding stats are native Spark window functions (JVM,
whole-stage codegen); only EWM drops to Arrow.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_AGGS = {
    "mean": F.avg,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "std": F.stddev_samp,
    "var": F.var_samp,
    "median": lambda c: F.expr(f"percentile({c}, 0.5)") if isinstance(c, str) else F.percentile(c, F.lit(0.5)),
}


def rolling(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    window: int,
    stats: Sequence[str] = ("mean",),
    centered: bool = False,
    min_periods: int | None = None,
) -> DataFrame:
    """Add ``{value_col}_roll_{stat}`` columns; first w−1 rows NULL
    (trailing) unless ``min_periods`` overrides (ref window.rs:14-151)."""
    if centered:
        lo, hi = -(window // 2), window - window // 2 - 1
    else:
        lo, hi = -(window - 1), 0
    w = Window.partitionBy(*keys).orderBy(ts_col).rowsBetween(lo, hi)
    wn = Window.partitionBy(*keys).orderBy(ts_col)
    need = window if min_periods is None else min_periods
    rn = F.row_number().over(wn)
    out = df
    for stat in stats:
        agg = _AGGS[stat]
        expr = agg(value_col).over(w)
        if not centered:
            expr = F.when(rn >= need, expr)
        out = out.withColumn(f"{value_col}_roll_{stat}", expr)
    return out


def expanding(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    stats: Sequence[str] = ("mean",),
) -> DataFrame:
    """Add ``{value_col}_exp_{stat}`` cumulative columns (ref :153-224)."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df
    for stat in stats:
        out = out.withColumn(f"{value_col}_exp_{stat}", _AGGS[stat](value_col).over(w))
    return out


def ewm_mean(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    alpha: float,
    out_col: str | None = None,
) -> DataFrame:
    """Reference EWM recursion per series (ref window.rs:227-244), in the
    shared batched per-series pattern (``models.harness.batched_series_apply``).
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    from anofox_forecast_spark.models.harness import batched_series_apply, each_series

    out_col = out_col or f"{value_col}_ewm"
    cols = df.columns
    out_schema = StructType(list(df.schema.fields) + [StructField(out_col, DoubleType())])

    def per_series(g: pd.DataFrame, out: dict) -> None:
        for c in cols:
            out[c].append(g[c].to_numpy())
        out[out_col].append(ewm_mean_np(g[value_col].to_numpy(dtype=np.float64), alpha))

    return batched_series_apply(df, keys, ts_col, each_series(per_series), out_schema)


def ewm_mean_np(y: np.ndarray, alpha: float) -> np.ndarray:
    """Reference EWM recursion e0=y0 (ref window.rs:227-244)."""
    e = np.empty(y.size)
    if y.size:
        e[0] = y[0]
        for i in range(1, y.size):
            e[i] = alpha * y[i] + (1.0 - alpha) * e[i - 1]
    return e


def ewm_var_np(y: np.ndarray, alpha: float) -> np.ndarray:
    """EWM variance: E[x**2]_ewm - (E[x]_ewm)**2, clamped >= 0; first = 0
    (ref window.rs:252-272)."""
    alpha = min(max(alpha, 0.0), 1.0)
    e = ewm_mean_np(y, alpha)
    out = np.empty(y.size)
    if y.size == 0:
        return out
    out[0] = 0.0
    sq = y[0] * y[0]
    for i in range(1, y.size):
        sq = alpha * y[i] * y[i] + (1.0 - alpha) * sq
        out[i] = max(sq - e[i] * e[i], 0.0)
    return out


def ewm_std_np(y: np.ndarray, alpha: float) -> np.ndarray:
    return np.sqrt(ewm_var_np(y, alpha))
