"""Forecasting kernels — pure numpy, one function per model.

Each kernel has the signature::

    kernel(y: np.ndarray, h: int, level: float, m: int, **params) -> KernelResult

where ``y`` is one series' values (float64, already gap-handled), ``h`` the
horizon, ``level`` the confidence level for intervals, ``m`` the seasonal
period. Kernels run *inside* the Arrow-batched per-series stage — cross-series
parallelism comes from Spark partitioning, never from threads here
(SURVEY §3.2: the reference's rayon layer is replaced by data parallelism).

A model may also have a body form (``ses_body``) that fits every series of
one body at once::

    body_form(y, starts, ends, h, level, m, **params) -> BodyResult

with series ``i`` in rows ``starts[i]:ends[i]`` of ``y``; the one-series
kernel is the body form over one series, so each model keeps one
implementation (``registry.BODY_FORMS`` lists them).

Numerical contracts are cited per kernel into /root/reference (semantics
only; this is a fresh numpy implementation).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from anofox_forecast_spark.models._numerics import (
    Z95_EXACT,
    SegmentLevels,
    acf,
    level_fold,
    mean_sq,
    nelder_mead,
    nelder_mead_lockstep,
    z_for_level,
)


@dataclass
class KernelResult:
    yhat: np.ndarray
    lo: np.ndarray
    hi: np.ndarray
    fitted: np.ndarray = field(default_factory=lambda: np.empty(0))
    residuals: np.ndarray = field(default_factory=lambda: np.empty(0))
    params: dict = field(default_factory=dict)


class InsufficientData(ValueError):
    """Series too short for the model (ref ForecastError::InsufficientData)."""


def _interval(yhat: np.ndarray, se: np.ndarray, level: float) -> tuple[np.ndarray, np.ndarray]:
    z = z_for_level(level)
    return yhat - z * se, yhat + z * se


# ---------------------------------------------------------------- baseline

def naive(y: np.ndarray, h: int, level: float = 0.95, m: int = 1) -> KernelResult:
    """ŷ=last ∀h; fitted=shifted history; CI σ√h with σ²=mean(diff²).

    ref src/models/baseline/naive.rs:93-141 (fit), :228-245 (intervals).
    """
    n = y.size
    if n == 0:
        raise InsufficientData("empty series")
    fitted = np.concatenate([[np.nan], y[:-1]])
    resid = np.concatenate([[np.nan], np.diff(y)])
    sigma = np.sqrt(mean_sq(resid[1:])) if n > 1 else 0.0
    hs = np.arange(1, h + 1, dtype=np.float64)
    yhat = np.full(h, y[-1])
    lo, hi = _interval(yhat, sigma * np.sqrt(hs), level)
    return KernelResult(yhat, lo, hi, fitted, resid)


def seasonal_naive(y: np.ndarray, h: int, level: float = 0.95, m: int = 12) -> KernelResult:
    """ŷ(h)=y[n−m+(h mod m)]; CI σ√(⌊h/m⌋+1), σ²=mean(seasonal-diff²).

    ref src/models/baseline/seasonal_naive.rs:47-160.
    """
    n = y.size
    if n < m:
        raise InsufficientData(f"need {m}, got {n}")
    fitted = np.concatenate([np.full(m, np.nan), y[:-m]]) if n > m else np.full(n, np.nan)
    resid = y - fitted
    sigma = np.sqrt(mean_sq(resid[m:])) if n > m else 0.0
    hs = np.arange(h)
    yhat = y[n - m + (hs % m)]
    k = hs // m + 1
    lo, hi = _interval(yhat, sigma * np.sqrt(k.astype(np.float64)), level)
    return KernelResult(yhat, lo, hi, fitted, resid)


def historic_average(y: np.ndarray, h: int, level: float = 0.95, m: int = 1) -> KernelResult:
    """Full-history mean; fitted = expanding mean (first NaN); flat CI σ.

    ref src/models/baseline/sma.rs:77-150 with window=0.
    """
    return window_average(y, h, level, m, window=0)


def window_average(
    y: np.ndarray, h: int, level: float = 0.95, m: int = 1, window: int = 0
) -> KernelResult:
    """Mean of last ``window`` values (0 ⇒ all); fitted = rolling mean.

    ref src/models/baseline/sma.rs:77-230: fitted[i] = mean(y[max(0,i-w):i])
    (trailing, excludes current), fitted[0] = NaN; CI constant σ·z.
    """
    n = y.size
    if n == 0:
        raise InsufficientData("empty series")
    if window > 0 and n < window:
        raise InsufficientData(f"need {window}, got {n}")
    w = n if window == 0 else window
    c = np.concatenate([[0.0], np.cumsum(y)])
    fitted = np.full(n, np.nan)
    for i in range(1, n):
        aw = min(w, i)
        fitted[i] = (c[i] - c[i - aw]) / aw
    resid = y - fitted
    valid = resid[~np.isnan(resid)]
    sigma = np.sqrt(mean_sq(valid))
    yhat = np.full(h, y[n - w :].mean())
    lo, hi = _interval(yhat, np.full(h, sigma), level)
    return KernelResult(yhat, lo, hi, fitted, resid)


def random_walk_drift(y: np.ndarray, h: int, level: float = 0.95, m: int = 1) -> KernelResult:
    """drift=(y[n−1]−y[0])/(n−1); ŷ(h)=last+h·drift; CI σ√h.

    ref src/models/baseline/random_walk.rs:34-135.
    """
    n = y.size
    if n < 2:
        raise InsufficientData(f"need 2, got {n}")
    drift = (y[-1] - y[0]) / (n - 1)
    fitted = np.concatenate([[np.nan], y[:-1] + drift])
    resid = y - fitted
    sigma = np.sqrt(mean_sq(resid[1:]))
    hs = np.arange(1, h + 1, dtype=np.float64)
    yhat = y[-1] + hs * drift
    lo, hi = _interval(yhat, sigma * np.sqrt(hs), level)
    return KernelResult(yhat, lo, hi, fitted, resid, {"drift": drift})


def seasonal_window_average(
    y: np.ndarray, h: int, level: float = 0.95, m: int = 12, window: int = 2
) -> KernelResult:
    """Mean of same-season values over the last ``window`` cycles.

    ref src/models/baseline/seasonal_window.rs:20-185; window=1 ≡
    SeasonalNaive. CI σ√(⌊h/m⌋+1).
    """
    n = y.size
    window = max(window, 1)
    if n < m:
        raise InsufficientData(f"need {m}, got {n}")
    fitted = np.full(n, np.nan)
    for i in range(m, n):
        idxs = [i - k * m for k in range(1, window + 1) if i >= k * m]
        if idxs:
            fitted[i] = y[idxs].mean()
    resid = y - fitted
    valid = resid[~np.isnan(resid)]
    sigma = np.sqrt(mean_sq(valid))
    yhat = np.empty(h)
    for step in range(h):
        pos = n + step
        idxs = [pos - k * m for k in range(1, window + 1) if pos >= k * m and pos - k * m < n]
        yhat[step] = y[idxs].mean() if idxs else y[-1]
    k = np.arange(h) // m + 1
    lo, hi = _interval(yhat, sigma * np.sqrt(k.astype(np.float64)), level)
    return KernelResult(yhat, lo, hi, fitted, resid)


# ------------------------------------------------------------ exponential

def _ses_alphas(scan: SegmentLevels) -> np.ndarray:
    """α per series: NM start 0.5, bounds [1e-4, 0.9999], 500 iters (ref
    ses.rs:115-130), all series of the body in lockstep."""
    pt = nelder_mead_lockstep(scan.sse, scan.starts.size, 0.5, (0.0001, 0.9999), max_iter=500)
    return np.clip(pt, 0.0001, 0.9999)


def _one_series(n: int) -> tuple[np.ndarray, np.ndarray]:
    """(starts, ends) of a body that is one series of ``n`` points."""
    return np.zeros(1, dtype=np.int64), np.array([n])


@dataclass
class BodyResult:
    """A body form's output: row ``i`` of ``yhat``/``lo``/``hi`` (series ×
    horizon) belongs to series ``i``; ``fitted``/``residuals`` run along
    the body's rows; ``params`` hold one value per series."""
    yhat: np.ndarray
    lo: np.ndarray
    hi: np.ndarray
    fitted: np.ndarray
    residuals: np.ndarray
    params: dict


def ses_body(
    y: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    h: int,
    level: float = 0.95,
    m: int = 1,
    alpha: float | None = None,
) -> BodyResult:
    """``ses`` for every series of a body (series ``i`` in rows
    ``starts[i]:ends[i]`` of ``y``): the level scan and α's optimizer run
    once over the body; each series' output has the bits ``ses`` gives it
    alone, because ``ses`` is this function over one series."""
    if (ends <= starts).any():
        raise InsufficientData("empty series")
    y = np.asarray(y, dtype=np.float64)
    scan = SegmentLevels(y, starts, ends)
    a = (_ses_alphas(scan) if alpha is None
         else np.full(starts.size, float(np.clip(alpha, 0.0001, 0.9999))))
    levels = scan.levels(a, np.arange(starts.size))
    # fitted[i] = level after y_{i-1}; fitted[0] = initial level = y[0]
    fitted = np.empty_like(y)
    fitted[1:] = levels[:-1]
    fitted[starts] = y[starts]
    resid = y - fitted
    resid[starts] = 0.0
    hs = np.arange(1, h + 1)
    spread = np.empty((starts.size, h))
    for i, (s, e, ai) in enumerate(zip(starts.tolist(), ends.tolist(), a.tolist())):
        variance = mean_sq(resid[s + 1:e]) if e - s > 1 else 0.0
        beta2 = (1.0 - ai) ** 2
        if abs(1.0 - beta2) < 1e-10:
            factor = hs.astype(np.float64)
        else:
            factor = np.where(
                hs == 1, 1.0, 1.0 + beta2 * (1.0 - beta2 ** (hs - 1)) / (1.0 - beta2)
            )
        spread[i] = variance * factor
    yhat = np.repeat(levels[ends - 1][:, None], h, axis=1)
    lo, hi = _interval(yhat, np.sqrt(spread), level)
    return BodyResult(yhat, lo, hi, fitted, resid, {"alpha": a})


def ses(
    y: np.ndarray, h: int, level: float = 0.95, m: int = 1, alpha: float | None = None
) -> KernelResult:
    """Simple exponential smoothing; flat forecast at final level.

    ref src/models/exponential/ses.rs:139-240: level₀=y[0]; fitted[0]=y[0],
    resid[0]=0; σ²=mean(resid[1:]²); CI factor
    1 + (1−α)²·(1−(1−α)^{2(h−1)})/(1−(1−α)²). ``ses_body`` over one series.
    """
    r = ses_body(y, *_one_series(y.size), h, level, m, alpha)
    return KernelResult(r.yhat[0], r.lo[0], r.hi[0], r.fitted, r.residuals,
                        {"alpha": float(r.params["alpha"][0])})


def _damped_sum(phi: float, h: int) -> float:
    """φ + φ² + … + φ^h (ref holt.rs:225-231)."""
    if abs(phi - 1.0) < 1e-10:
        return float(h)
    return phi * (1.0 - phi**h) / (1.0 - phi)


def holt(
    y: np.ndarray,
    h: int,
    level: float = 0.95,
    m: int = 1,
    alpha: float | None = None,
    beta: float | None = None,
    damped: bool = False,
    phi: float | None = None,
) -> KernelResult:
    """Holt linear trend, optionally damped.

    Optimized path: statsforecast (and the reference's validation harness,
    ref validation/run_statsforecast.py:96) define Holt as ETS(A,A,N) /
    ETS(A,Ad,N) — initial level and trend are optimized JOINTLY with α,β via
    the state-space likelihood, not fixed at l0=y[0], b0=y[1]−y[0]. We
    delegate to the ETS engine (models/ets.py), which reproduces the
    reference's published Holt MAD (0.1658) exactly; the naive fixed-init
    SSE recursion of holt.rs:161-283 cannot reach that optimum (its best
    grid-searched MAD is ~25 on the seasonal series — see VERDICT r1).

    Fixed-params path keeps the classic holt.rs recursion: init l=y[0],
    b=y[1]−y[0] (:178-189); fitted[0]=l, resid[0]=0 (:270-283); forecast
    l + dampedSum(φ,h)·b; CI c(h)=1+Σ_{j<h}(α+αβ·dampedSum(φ,j))².
    """
    n = y.size
    if n < 2:
        raise InsufficientData(f"need 2, got {n}")
    if alpha is None or beta is None:
        from anofox_forecast_spark.models.ets import ets  # local: acyclic

        return ets(y, h, level=level, m=1, spec="AAdN" if damped else "AAN")
    else:
        a = float(np.clip(alpha, 0.0001, 0.9999))
        b_ = float(np.clip(beta, 0.0001, 0.9999))
        ph = float(np.clip(phi, 0.8, 1.0)) if (damped and phi is not None) else (
            0.98 if damped else 1.0
        )
    l, b = y[0], y[1] - y[0]
    fitted = np.empty(n)
    fitted[0] = l
    for i in range(1, n):
        fitted[i] = l + ph * b
        l_prev = l
        l = a * y[i] + (1.0 - a) * (l_prev + ph * b)
        b = b_ * (l - l_prev) + (1.0 - b_) * ph * b
    resid = y - fitted
    resid[0] = 0.0
    variance = mean_sq(resid[1:])
    yhat = np.array([l + _damped_sum(ph, k) * b for k in range(1, h + 1)])
    c = np.empty(h)
    for k in range(1, h + 1):
        if k == 1:
            c[k - 1] = 1.0
        else:
            c[k - 1] = 1.0 + sum(
                (a + a * b_ * _damped_sum(ph, j)) ** 2 for j in range(1, k)
            )
    lo, hi = _interval(yhat, np.sqrt(variance * c), level)
    return KernelResult(yhat, lo, hi, fitted, resid, {"alpha": a, "beta": b_, "phi": ph})


def _hw_init(y: np.ndarray, m: int, multiplicative: bool) -> tuple[float, float, np.ndarray]:
    """Level=mean(first season); trend=avg seasonal diff; normalized seasonals.

    ref src/models/exponential/holt_winters.rs:165-227.
    """
    level = y[:m].mean()
    trend = ((y[m : 2 * m] - y[:m]) / m).sum() / m if y.size >= 2 * m else 0.0
    if multiplicative:
        s = np.where(abs(level) > 1e-10, y[:m] / level, 1.0).astype(np.float64)
        mean = s.mean()
        if abs(mean) > 1e-10:
            s = s / mean
    else:
        s = y[:m] - level
        s = s - s.mean()
    return float(level), float(trend), s


def _hw_run(
    y: np.ndarray,
    m: int,
    alpha: float,
    beta: float,
    gamma: float,
    multiplicative: bool,
    collect: bool,
):
    """One pass of the HW recursion; returns (sse, l, b, s, fitted, resid).

    ref holt_winters.rs:286-283 (SSE) and :354-401 (fit) share this loop.
    """
    level, trend, s = _hw_init(y, m, multiplicative)
    n = y.size
    fitted = np.empty(n) if collect else None
    resid = np.zeros(n) if collect else None
    if collect:
        fitted[:m] = y[:m]
    sse = 0.0
    for t in range(m, n):
        si = t % m
        sv = s[si]
        f = (level + trend) * sv if multiplicative else level + trend + sv
        e = y[t] - f
        sse += e * e
        if collect:
            fitted[t] = f
            resid[t] = e
        l_prev = level
        if multiplicative:
            y_des = y[t] / sv if abs(sv) > 1e-10 else y[t]
            level = alpha * y_des + (1.0 - alpha) * (l_prev + trend)
            trend = beta * (level - l_prev) + (1.0 - beta) * trend
            if abs(level) > 1e-10:
                s[si] = gamma * (y[t] / level) + (1.0 - gamma) * sv
        else:
            level = alpha * (y[t] - sv) + (1.0 - alpha) * (l_prev + trend)
            trend = beta * (level - l_prev) + (1.0 - beta) * trend
            s[si] = gamma * (y[t] - level) + (1.0 - gamma) * sv
    return sse, level, trend, s, fitted, resid


def holt_winters(
    y: np.ndarray,
    h: int,
    level: float = 0.95,
    m: int = 12,
    alpha: float | None = None,
    beta: float | None = None,
    gamma: float | None = None,
    multiplicative: bool = False,
) -> KernelResult:
    """Triple exponential smoothing (additive or multiplicative seasonality).

    ref src/models/exponential/holt_winters.rs. Needs n ≥ 2m. NM start
    (0.3,0.1,0.1) bounds (1e-4,0.9999)³ (:346-368 via :293-338). Forecast
    season index (n+h−1) mod m; CI σ√(⌊(h−1)/m⌋+1) (:470-478).
    """
    n = y.size
    if n < 2 * m:
        raise InsufficientData(f"need {2*m}, got {n}")
    if alpha is None or beta is None or gamma is None:
        pt = nelder_mead(
            lambda p: _hw_run(y, m, p[0], p[1], p[2], multiplicative, False)[0],
            [0.3, 0.1, 0.1],
            [(0.0001, 0.9999)] * 3,
        )
        a, b_, g = (float(np.clip(v, 0.0001, 0.9999)) for v in pt[:3])
    else:
        a, b_, g = (float(np.clip(v, 0.0001, 0.9999)) for v in (alpha, beta, gamma))
    _, l, b, s, fitted, resid = _hw_run(y, m, a, b_, g, multiplicative, True)
    variance = mean_sq(resid[m:])
    hs = np.arange(1, h + 1)
    sidx = (n + hs - 1) % m
    if multiplicative:
        yhat = (l + hs * b) * s[sidx]
    else:
        yhat = l + hs * b + s[sidx]
    k = (hs - 1) // m + 1
    lo, hi = _interval(yhat, np.sqrt(variance * k), level)
    return KernelResult(
        yhat, lo, hi, fitted, resid, {"alpha": a, "beta": b_, "gamma": g}
    )


# ------------------------------------------------------------------ theta

def _theta_seasonal_test(y: np.ndarray, m: int) -> bool:
    """ACF significance test (ref src/models/theta/model.rs:525-548)."""
    if m < 4 or y.size < 2 * m:
        return False
    r = acf(y, m)[1:]
    stat = np.sqrt((1.0 + 2.0 * float((r[:-1] ** 2).sum())) / y.size)
    return abs(r[-1]) / stat > Z95_EXACT


def _theta_decompose(y: np.ndarray, m: int, multiplicative: bool) -> tuple[np.ndarray, np.ndarray]:
    """Classical decomposition → (full_seasonal, last_cycle).

    ref src/models/theta/model.rs:301-397: centered MA trend with even-period
    endpoint weighting; seasonal indices averaged per slot then normalized
    (additive: mean 0; multiplicative: mean 1).
    """
    n = y.size
    if m == 0 or n < 2 * m:
        return np.empty(0), np.empty(0)
    half = m // 2
    trend = np.full(n, np.nan)
    for i in range(half, n - half):
        if m % 2 == 0:
            sm = 0.5 * y[i - half] + 0.5 * y[i + half] + y[i - half + 1 : i + half].sum()
            trend[i] = sm / m
        else:
            trend[i] = y[i - half : i + half + 1].mean()
    if multiplicative:
        with np.errstate(invalid="ignore", divide="ignore"):
            det = np.where(np.abs(trend) < 1e-10, np.nan, y / trend)
    else:
        det = y - trend
    idx = np.zeros(m)
    cnt = np.zeros(m)
    for i in range(n):
        if not np.isnan(det[i]):
            idx[i % m] += det[i]
            cnt[i % m] += 1
    nz = cnt > 0
    idx[nz] = idx[nz] / cnt[nz]
    if multiplicative:
        mean = idx.mean()
        if abs(mean) > 1e-10:
            idx = idx / mean
    else:
        idx = idx - idx.mean()
    full = idx[np.arange(n) % m]
    last_cycle = full[n - m :]
    return full, last_cycle


def theta(
    y: np.ndarray,
    h: int,
    level: float = 0.95,
    m: int = 0,
    theta_param: float = 2.0,
    alpha: float | None = 0.1,
    optimize_alpha: bool = False,
    drift_in_fitted: bool = False,
) -> KernelResult:
    """Standard Theta Model (Fiorucci 2016, statsforecast-compatible).

    ref src/models/theta/model.rs: seasonal test (:525-548) → classical
    decomposition with mult→add fallback (:426-451: any y≤0 or seasonal
    index <0.01 ⇒ additive) → deseasonalize → OLS slope b over index
    (:680-695) → SES with fixed α=0.1 on deseasonalized (:705-770) →
    forecast smoothed + (1−1/θ)·b·(1/α+h−1) (:599-610), reseasonalize with
    last cycle starting at index 0 (:611-618). CI: SES-style variance factor
    with the fitted α (:849-884).

    ``drift_in_fitted``: the reference's STM in-sample fitted is the pure
    SES level (model.rs:724 ``forecast = level``) but its OTM includes the
    one-step drift (optimized.rs:614 ``level + (1−1/θ)·b·(1/α)``); the flag
    selects the OTM convention. AutoTheta's MSE selection depends on it.
    """
    n = y.size
    if n < 4:
        raise InsufficientData(f"need 4, got {n}")
    should_decompose = m >= 4 and n >= 2 * m and _theta_seasonal_test(y, m)
    multiplicative = True
    full_seasonal = np.empty(0)
    last_cycle = np.empty(0)
    if should_decompose:
        if (y <= 0.0).any():
            multiplicative = False
        else:
            _, lc = _theta_decompose(y, m, True)
            if lc.size and (lc < 0.01).any():
                multiplicative = False
        full_seasonal, last_cycle = _theta_decompose(y, m, multiplicative)
    if full_seasonal.size:
        des = y / np.where(np.abs(full_seasonal) < 1e-10, 1.0, full_seasonal) \
            if multiplicative else y - full_seasonal
    else:
        des = y.astype(np.float64)

    x_mean = (n - 1) / 2.0
    y_mean = des.mean()
    xs = np.arange(n, dtype=np.float64)
    ss_xx = float(((xs - x_mean) ** 2).sum())
    b = float(((xs - x_mean) * (des - y_mean)).sum() / ss_xx) if ss_xx > 0 else 0.0

    a = (float(_ses_alphas(SegmentLevels(des, *_one_series(n)))[0])
         if (optimize_alpha or alpha is None) else float(alpha))

    levels = level_fold(des, a)
    lvl = levels[-1]
    drift = (
        (1.0 - 1.0 / theta_param) * b / a if drift_in_fitted else 0.0
    )
    # one-step-ahead: point i is fitted from the level after point i-1
    fitted = np.concatenate([des[:1], levels[:-1] + drift])
    if full_seasonal.size:
        fitted = fitted * full_seasonal if multiplicative else fitted + full_seasonal
    resid = np.zeros(n)
    resid[1:] = y[1:] - fitted[1:]
    variance = mean_sq(resid[1:]) if n > 1 else 0.0

    hs = np.arange(1, h + 1, dtype=np.float64)
    yhat = lvl + (1.0 - 1.0 / theta_param) * b * (1.0 / a + hs - 1.0)
    if last_cycle.size:
        seas = last_cycle[np.arange(h) % m]
        yhat = yhat * seas if multiplicative else yhat + seas
    beta2 = (1.0 - a) ** 2
    ih = np.arange(1, h + 1)
    if abs(1.0 - beta2) < 1e-10:
        factor = ih.astype(np.float64)
    else:
        factor = np.where(
            ih == 1, 1.0, 1.0 + beta2 * (1.0 - beta2 ** (ih - 1)) / (1.0 - beta2)
        )
    lo, hi = _interval(yhat, np.sqrt(variance * factor), level)
    return KernelResult(yhat, lo, hi, fitted, resid, {"alpha": a, "b": b})


# OptimizedTheta (OTM) lives in theta_ext.py (optimizes α and θ jointly).
