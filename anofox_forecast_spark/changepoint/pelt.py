"""PELT changepoint detection (Killick et al. 2012).

Semantics from ref src/changepoint/pelt.rs and cost.rs (fresh numpy impl):
- dynamic program F[t] = min_s F[s] + C(s,t) + β with candidate pruning
  (retain s iff F[s] + C(s,t) ≤ F[t]) — O(n) average (pelt.rs:114-230)
- F[0] = −β so the first segment isn't double-penalized
- O(1) segment costs via prefix sums (Σx, Σx², Σi·x) (pelt.rs:141-161)
- penalties: BIC = ln n, AIC = 2, default 1.0; min segment length 2
- costs (cost.rs:54-160):
    L2:      Σ(x−x̄)² = Σx² − (Σx)²/n
    L1:      Σ|x−median| (needs a sort per segment — no prefix form)
    Normal:  n·ln(var_pop) (0 if var<1e-10 or n<2)
    Poisson: n·x̄ − Σx·ln(x̄)
    LinearTrend: RSS of y ~ a + b·i (prefix forms incl. Σi·x)
    MeanVariance: n·(1 + ln var_pop) (cost.rs:160-180)
    CUSUM: max |cum deviation from segment mean| (cost.rs:189-207)
    Periodicity: unexplained variance after top-3 frequencies (cost.rs:217)

The Spark surface runs the DP per series inside the harness's batched
per-series stage (``batched_series_apply``) — sequential per series,
parallel across series (SURVEY §2.10).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

import numpy as np


@dataclass
class PeltResult:
    changepoints: list[int]
    segments: list[tuple[int, int]]
    cost: float
    n_changepoints: int


def _make_cost(y: np.ndarray, cost_fn: str):
    n = y.size
    cs = np.concatenate([[0.0], np.cumsum(y)])
    cs2 = np.concatenate([[0.0], np.cumsum(y * y)])
    cix = np.concatenate([[0.0], np.cumsum(np.arange(n) * y)])

    if cost_fn == "l2":
        def cost(s, t):
            m = t - s
            sm = cs[t] - cs[s]
            return (cs2[t] - cs2[s]) - sm * sm / m
        return cost
    if cost_fn == "normal":
        def cost(s, t):
            m = t - s
            if m < 2:
                return 0.0
            sm = cs[t] - cs[s]
            var = ((cs2[t] - cs2[s]) - sm * sm / m) / m
            if var < 1e-10:
                return 0.0
            return m * np.log(var)
        return cost
    if cost_fn == "mean_variance":
        # ref cost.rs:160-180: n * (1 + ln(var_pop))
        def cost(s, t):
            m = t - s
            if m < 2:
                return 0.0
            sm = cs[t] - cs[s]
            var = ((cs2[t] - cs2[s]) - sm * sm / m) / m
            if var < 1e-10:
                return 0.0
            return m * (1.0 + np.log(var))
        return cost
    if cost_fn == "cusum":
        # ref cost.rs:189-207: max |cumulative deviation from segment mean|
        def cost(s, t):
            seg = y[s:t]
            if seg.size < 2:
                return 0.0
            dev = np.cumsum(seg - seg.mean())
            return float(np.abs(dev).max())
        return cost
    if cost_fn == "periodicity":
        # ref cost.rs:217-255: unexplained variance after top-3 frequencies
        def cost(s, t):
            seg = y[s:t]
            m = seg.size
            if m < 8:
                sm = seg.sum()
                return float((seg * seg).sum() - sm * sm / m)
            mean = seg.mean()
            tv = float(((seg - mean) ** 2).sum())
            if tv < 1e-10:
                return 0.0
            spec = np.fft.rfft(seg - mean)
            psd = (spec.real ** 2 + spec.imag ** 2)[1:] / m
            total = psd.sum()
            if total < 1e-10:
                return tv
            top = np.sort(psd)[::-1][: min(3, psd.size)].sum()
            return tv * (1.0 - (top / total) * 0.9)
        return cost
    if cost_fn == "poisson":
        def cost(s, t):
            m = t - s
            sm = cs[t] - cs[s]
            mean = sm / m
            if mean < 1e-10:
                return 0.0
            return m * mean - sm * np.log(mean)
        return cost
    if cost_fn == "linear_trend":
        def cost(s, t):
            m = t - s
            if m < 2:
                return 0.0
            sum_y = cs[t] - cs[s]
            sum_y2 = cs2[t] - cs2[s]
            # Σ(i−s)·y over the segment, local x = 0..m−1
            sum_xy = (cix[t] - cix[s]) - s * sum_y
            sum_x = m * (m - 1) / 2.0
            sum_x2 = (m - 1) * m * (2 * m - 1) / 6.0
            ss_xx = sum_x2 - sum_x * sum_x / m
            ss_xy = sum_xy - sum_x * sum_y / m
            ss_yy = sum_y2 - sum_y * sum_y / m
            if ss_xx < 1e-10:
                return ss_yy
            return max(ss_yy - ss_xy * ss_xy / ss_xx, 0.0)
        return cost
    if cost_fn == "l1":
        def cost(s, t):
            seg = y[s:t]
            return float(np.abs(seg - np.median(seg)).sum())
        return cost
    raise ValueError(f"unknown cost {cost_fn!r}")


def pelt_detect(
    y: np.ndarray,
    penalty: float | str = "bic",
    cost_fn: str = "l2",
    min_segment_length: int = 2,
) -> PeltResult:
    n = y.size
    if penalty == "bic":
        beta = float(np.log(max(n, 2)))
    elif penalty == "aic":
        beta = 2.0
    else:
        beta = float(penalty)
    cost = _make_cost(y.astype(np.float64), cost_fn)

    if n < 2 * min_segment_length:
        total = cost(0, n) if n else 0.0
        return PeltResult([], [(0, n)], float(total), 0)

    f = np.full(n + 1, np.inf)
    f[0] = -beta
    cp = np.zeros(n + 1, dtype=np.int64)
    candidates = [0]

    for t in range(min_segment_length, n + 1):
        best_cost, best_cp = np.inf, 0
        for s in candidates:
            if t - s >= min_segment_length:
                total = f[s] + cost(s, t) + beta
                if total < best_cost:
                    best_cost, best_cp = total, s
        f[t] = best_cost
        cp[t] = best_cp
        candidates = [
            s for s in candidates
            if t - s < min_segment_length or f[s] + cost(s, t) <= f[t]
        ]
        candidates.append(t)

    changepoints = []
    t = n
    while t > 0:
        prev = int(cp[t])
        if prev > 0:
            changepoints.append(prev)
        t = prev
    changepoints.reverse()

    segments = []
    start = 0
    for c in changepoints:
        segments.append((start, c))
        start = c
    segments.append((start, n))
    total = float(sum(cost(s, e) for s, e in segments))
    return PeltResult(changepoints, segments, total, len(changepoints))


def pelt_detect_spark(
    df,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    penalty: float | str = "bic",
    cost_fn: str = "l2",
    min_segment_length: int = 2,
):
    """Per-series PELT: returns (keys…, changepoint_index, changepoint_ts)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from anofox_forecast_spark.models.harness import batched_series_apply, each_series

    keys_l = list(keys)
    out_schema = StructType(
        [df.schema[k] for k in keys_l]
        + [StructField("changepoint_index", IntegerType()), df.schema[ts_col]]
    )

    def per_series(g, out: dict) -> None:
        y = g[value_col].to_numpy(dtype=np.float64)
        cps = np.array(pelt_detect(y, penalty, cost_fn, min_segment_length).changepoints,
                       dtype=np.int32)
        if not cps.size:
            return
        for k in keys_l:
            out[k].append(np.repeat(g[k].iloc[0], cps.size))
        out["changepoint_index"].append(cps)
        out[ts_col].append(g[ts_col].to_numpy()[cps])

    return batched_series_apply(df, keys_l, ts_col, each_series(per_series), out_schema)
