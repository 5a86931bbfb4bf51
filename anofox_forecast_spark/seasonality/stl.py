"""STL / MSTL decomposition (Cleveland et al. 1990, simplified LOESS).

Semantics from ref src/seasonality/stl.rs and mstl.rs (fresh numpy
implementation; the reference's "LOESS" is a tricube-weighted local MEAN,
not a local regression — reproduced as such):

- defaults: ns = m|1, nt = odd(ceil(1.5m/(1−1.5/ns))), nl = odd(m),
  inner=2, outer=0 (robust → 6) (stl.rs:80-95)
- inner loop: detrend → per-cycle-position tricube smoothing → low-pass
  (MA(m), MA(m), MA(3), then LOESS(nl)) → seasonal = smoothed − lowpass →
  deseasonalize → LOESS(nt) trend (stl.rs:134-209)
- robustness: bisquare weights with h = 6·median|remainder| (stl.rs:365-395)
- moving averages / LOESS windows truncate at the edges with max_dist kept
  at half+1 — which is exactly zero-padding, so every smoother here is two
  'same'-mode convolutions: conv(k, w·x)/conv(k, w)
- strengths: 1 − Var(R)/Var(C+R) clamped to [0,1] (stl.rs:22-56)
- MSTL: periods sorted+deduped, default 2 iterations; trend from STL at the
  longest period on the fully deseasonalized series; each seasonal
  re-extracted with the others and the trend removed (mstl.rs:82-199)
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

import numpy as np


def _tricube_kernel(half_span: int) -> np.ndarray:
    d = np.abs(np.arange(-half_span, half_span + 1, dtype=np.float64))
    u = d / (half_span + 1.0)
    k = np.where(u < 1.0, (1.0 - u**3) ** 3, 0.0)
    return k


def _conv_same(x: np.ndarray, k: np.ndarray) -> np.ndarray:
    """'same'-mode convolution that always returns len(x) (np.convolve
    returns the LONGER length when the kernel exceeds the signal)."""
    full = np.convolve(x, k, mode="full")
    start = (k.size - 1) // 2
    return full[start : start + x.size]


def _loess(x: np.ndarray, span: int, weights: np.ndarray) -> np.ndarray:
    """Tricube-weighted local mean (ref loess_smooth, stl.rs:321-363)."""
    half = span // 2
    if half == 0:
        return x.copy()
    k = _tricube_kernel(half)
    num = _conv_same(weights * x, k)
    den = _conv_same(weights, k)
    out = np.where(den > 0, num / np.where(den > 0, den, 1.0), x)
    return out


def _moving_average(x: np.ndarray, window: int) -> np.ndarray:
    """Truncated centered MA (ref stl.rs:306-319)."""
    half = window // 2
    k = np.ones(2 * half + 1)
    num = _conv_same(x, k)
    cnt = _conv_same(np.ones_like(x), k)
    return num / cnt


@dataclass
class STLResult:
    trend: np.ndarray
    seasonal: np.ndarray
    remainder: np.ndarray


def _odd(x: int) -> int:
    return x + 1 if x % 2 == 0 else x


def stl_decompose(
    y: np.ndarray,
    period: int,
    ns: int | None = None,
    nt: int | None = None,
    inner: int = 2,
    outer: int = 0,
    robust: bool = False,
) -> STLResult | None:
    n = y.size
    if n < 2 * period:
        return None
    ns = _odd(ns if ns is not None else max(period, 1))
    if nt is None:
        nt = _odd(int(np.ceil(1.5 * period / (1.0 - 1.5 / ns))))
    else:
        nt = _odd(nt)
    nl = _odd(period)

    seasonal = np.zeros(n)
    trend = np.zeros(n)
    weights = np.ones(n)
    outer_iters = max(outer, 1) if robust else 1
    if robust and outer == 0:
        outer_iters = 6

    for _ in range(outer_iters):
        for _ in range(inner):
            detrended = y - trend
            # cycle-subseries smoothing
            cyc = np.empty(n)
            for pos in range(period):
                idx = np.arange(pos, n, period)
                cyc[idx] = _loess(detrended[idx], ns, weights[idx])
            # low-pass: MA(m), MA(m), MA(3), LOESS(nl)
            lp = _moving_average(cyc, period)
            lp = _moving_average(lp, period)
            lp = _moving_average(lp, 3)
            lp = _loess(lp, nl, np.ones(n))
            seasonal = cyc - lp
            trend = _loess(y - seasonal, nt, weights)
        if robust:
            r = y - seasonal - trend
            med = np.median(np.abs(r))
            h = 6.0 * med
            if h < 1e-10:
                weights = np.ones(n)
            else:
                u = np.abs(r) / h
                weights = np.where(u < 1.0, (1.0 - u * u) ** 2, 0.0)
    return STLResult(trend, seasonal, y - seasonal - trend)


def seasonal_strength(seasonal: np.ndarray, remainder: np.ndarray) -> float:
    vr = remainder.var()
    vsr = (seasonal + remainder).var()
    if vsr < 1e-10:
        return 0.0
    return float(max(1.0 - vr / vsr, 0.0))


def trend_strength(trend: np.ndarray, remainder: np.ndarray) -> float:
    vr = remainder.var()
    vtr = (trend + remainder).var()
    if vtr < 1e-10:
        return 0.0
    return float(max(1.0 - vr / vtr, 0.0))


@dataclass
class MSTLResult:
    trend: np.ndarray
    seasonal_components: list[np.ndarray]
    seasonal_periods: list[int]
    remainder: np.ndarray


def mstl_decompose(
    y: np.ndarray,
    periods: Sequence[int],
    iterations: int = 2,
    robust: bool = False,
) -> MSTLResult | None:
    periods = sorted(set(int(p) for p in periods))
    if not periods:
        return None
    n = y.size
    max_period = periods[-1]
    if n < 2 * max_period:
        return None
    seasonals = [np.zeros(n) for _ in periods]
    trend = np.zeros(n)
    for _ in range(iterations):
        des = y - sum(seasonals)
        r = stl_decompose(des, max_period, robust=robust)
        if r is not None:
            trend = r.trend
        for si, p in enumerate(periods):
            adjusted = y - trend - sum(s for j, s in enumerate(seasonals) if j != si)
            r = stl_decompose(adjusted, p, robust=robust)
            if r is not None:
                seasonals[si] = r.seasonal
    remainder = y - trend - sum(seasonals)
    return MSTLResult(trend, seasonals, list(periods), remainder)


# ------------------------------------------------------------- Spark layer

def stl_decompose_spark(df, keys, ts_col, y_col, period: int, robust: bool = False):
    """Per-series STL: returns input rows + (trend, seasonal, remainder)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    from anofox_forecast_spark.models.harness import batched_series_apply, each_series

    keys_l = list(keys)
    parts = ("trend", "seasonal", "remainder")
    out_schema = StructType(
        [df.schema[k] for k in keys_l]
        + [df.schema[ts_col], df.schema[y_col]]
        + [StructField(c, DoubleType()) for c in parts]
    )

    def per_series(g, out: dict) -> None:
        y = g[y_col].to_numpy(dtype=np.float64)
        r = stl_decompose(y, period, robust=robust)
        for k in keys_l:
            out[k].append(g[k].to_numpy())
        out[ts_col].append(g[ts_col].to_numpy())
        out[y_col].append(y)
        for c in parts:
            out[c].append(np.full(y.size, np.nan) if r is None else getattr(r, c))

    return batched_series_apply(df, keys_l, ts_col, each_series(per_series), out_schema)
