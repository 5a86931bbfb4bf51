"""Bootstrap prediction intervals (ref src/utils/bootstrap.rs:15-222).

Residual bootstrap: synthetic series = fitted + resampled residuals
(iid, or block resampling preserving autocorrelation) → refit → collect
the forecast distribution → quantile intervals. Defaults: 1000 samples,
seedable; seed is derived per series from the JVM ``xxhash64`` of the key
columns (mod 2^32), which is the same in every process and for NULL keys,
so the whole job is deterministic yet series-independent (engine addition
— the reference takes an explicit seed per call).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StringType, StructField, StructType

from anofox_forecast_spark.models.harness import batched_series_apply, each_series
from anofox_forecast_spark.models.registry import get_model

_SEED = "__bootstrap_seed"


def bootstrap_intervals_np(
    y: np.ndarray,
    kernel,
    horizon: int,
    season_length: int = 1,
    level: float = 0.95,
    n_samples: int = 200,
    block_size: int | None = None,
    seed: int = 42,
    **params,
) -> dict:
    """One series: returns yhat (point, from the real fit) + lo/hi quantiles."""
    base = kernel(y, horizon, level, season_length, **params)
    fitted, resid = base.fitted, base.residuals
    valid = np.isfinite(fitted) & np.isfinite(resid)
    if valid.sum() < 4:
        return {"yhat": base.yhat, "lo": base.lo, "hi": base.hi, "samples": 0}
    f, r = fitted[valid], resid[valid]
    rng = np.random.default_rng(seed)
    sims = np.empty((n_samples, horizon))
    n = f.size
    for s in range(n_samples):
        if block_size and block_size > 1:
            blocks = []
            while sum(b.size for b in blocks) < n:
                start = rng.integers(0, max(n - block_size, 1))
                blocks.append(r[start : start + block_size])
            res = np.concatenate(blocks)[:n]
        else:
            res = rng.choice(r, size=n, replace=True)
        synth = f + res
        try:
            sims[s] = kernel(synth, horizon, level, season_length, **params).yhat
        except Exception:
            sims[s] = np.nan
    alpha = (1.0 - level) / 2.0
    lo = np.nanquantile(sims, alpha, axis=0)
    hi = np.nanquantile(sims, 1.0 - alpha, axis=0)
    return {"yhat": base.yhat, "lo": lo, "hi": hi, "samples": n_samples}


def bootstrap_intervals(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    y_col: str,
    model: str,
    horizon: int,
    season_length: int = 1,
    level: float = 0.95,
    n_samples: int = 200,
    block_size: int | None = None,
    **params,
) -> DataFrame:
    """Per-series bootstrap intervals: (keys…, model, step, yhat, lo, hi)."""
    kernel = get_model(model)
    keys_l = list(keys)
    out_schema = StructType(
        [df.schema[k] for k in keys_l]
        + [StructField("model", StringType()),
           StructField("step", IntegerType()),
           StructField("yhat", DoubleType()),
           StructField("lo", DoubleType()),
           StructField("hi", DoubleType())]
    )

    def per_series(g: pd.DataFrame, out: dict) -> None:
        y = g[y_col].to_numpy(dtype=np.float64)
        seed = int(g[_SEED].iloc[0]) % (2**32)
        try:
            r = bootstrap_intervals_np(
                y, kernel, horizon, season_length, level,
                n_samples, block_size, seed, **params,
            )
        except Exception:
            return
        for k in keys_l:
            out[k].append(np.repeat(g[k].iloc[0], horizon))
        out["model"].append(np.repeat(model, horizon))
        out["step"].append(np.arange(1, horizon + 1, dtype=np.int32))
        for c in ("yhat", "lo", "hi"):
            out[c].append(np.asarray(r[c], dtype=np.float64))

    seeded = df.select(*keys_l, ts_col, y_col, F.xxhash64(*keys_l).alias(_SEED))
    return batched_series_apply(seeded, keys_l, ts_col, each_series(per_series), out_schema)
