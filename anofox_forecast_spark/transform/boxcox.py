"""Box-Cox power transform (ref src/transform/boxcox.rs:32-159).

- ``boxcox_col`` / ``inv_boxcox_col``: column expressions (JVM-side) for a
  fixed λ; x ≤ 0 → NULL (ref NaN), |λ| < 1e-10 → ln.
- ``boxcox_lambda_per_series``: per-series MLE λ via the reference's
  two-pass grid search over [-2, 2] (401 coarse + 101 fine points),
  llf = −n/2·ln(var_pop(transformed)) + (λ−1)·Σln(x) (ref :82-147),
  vectorized in numpy inside the harness's batched per-series stage
  (``batched_series_apply``).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType


def boxcox_col(v: Column, lam: float) -> Column:
    if abs(lam) < 1e-10:
        expr = F.log(v)
    else:
        expr = (F.pow(v, F.lit(lam)) - 1.0) / lam
    return F.when(v > 0.0, expr)


def inv_boxcox_col(v: Column, lam: float) -> Column:
    if abs(lam) < 1e-10:
        return F.exp(v)
    inner = lam * v + 1.0
    return F.when(inner > 0.0, F.pow(inner, F.lit(1.0 / lam)))


def _llf_grid(pos: np.ndarray, lambdas: np.ndarray) -> np.ndarray:
    """Vectorized log-likelihood over a λ grid (ref boxcox_llf :122-147)."""
    n = pos.size
    log_x = np.log(pos)
    log_sum = log_x.sum()
    out = np.full(lambdas.size, -np.inf)
    for j, lam in enumerate(lambdas):
        if abs(lam) < 1e-10:
            t = log_x
        else:
            t = (pos**lam - 1.0) / lam
        var = t.var()  # population variance, matching the reference
        if var > 0:
            out[j] = -0.5 * n * np.log(var) + (lam - 1.0) * log_sum
    return out


def boxcox_lambda(y: np.ndarray) -> float:
    pos = y[y > 0.0]
    if pos.size == 0:
        return 1.0
    coarse = np.arange(-200, 201) / 100.0
    llf = _llf_grid(pos, coarse)
    best = coarse[int(np.argmax(llf))]
    lo, hi = max(best - 0.1, -2.0), min(best + 0.1, 2.0)
    fine = lo + (hi - lo) * np.arange(101) / 100.0
    llf2 = _llf_grid(pos, fine)
    if llf2.max() > llf.max():
        return float(fine[int(np.argmax(llf2))])
    return float(best)


def boxcox_lambda_per_series(
    df: DataFrame, keys: Sequence[str], value_col: str
) -> DataFrame:
    """(keys…, lambda) per series."""
    keys_l = list(keys)
    out_schema = StructType(
        [df.schema[k] for k in keys_l] + [StructField("lambda", DoubleType())]
    )

    def per_series(g: pd.DataFrame, out: dict) -> None:
        for k in keys_l:
            out[k].append(np.repeat(g[k].iloc[0], 1))
        out["lambda"].append(np.array([boxcox_lambda(g[value_col].to_numpy(dtype=np.float64))]))

    from anofox_forecast_spark.models.harness import batched_series_apply, each_series

    # λ does not depend on row order: sort by the keys alone
    return batched_series_apply(df, keys_l, None, each_series(per_series), out_schema)


def boxcox_shifted(y: np.ndarray, lam: float) -> tuple[np.ndarray, float]:
    """Shifted Box-Cox for non-positive data: shift = 1 - min when min <= 0
    (ref boxcox.rs:156-167). Returns (transformed, shift)."""
    mn = float(np.min(y)) if y.size else 0.0
    shift = -mn + 1.0 if mn <= 0.0 else 0.0
    z = y + shift
    if abs(lam) < 1e-10:
        out = np.where(z > 0, np.log(np.where(z > 0, z, 1.0)), np.nan)
    else:
        out = np.where(z > 0, (z ** lam - 1.0) / lam, np.nan)
    return out, shift
