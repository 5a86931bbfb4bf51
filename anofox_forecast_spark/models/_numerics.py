"""Shared numeric substrate for all model kernels (pure numpy, scipy-free).

Reproduces the reference's numeric contracts exactly — interval golden-match
depends on these specific approximations (SURVEY §2.13):

- ``quantile_normal``: Abramowitz & Stegun 26.2.23 rational approximation
  (ref src/utils/stats.rs:21, also inlined src/models/baseline/naive.rs:335).
  Deliberately NOT scipy's exact inverse CDF.
- ``nelder_mead``: bounded simplex with the reference's exact constants and
  control flow (ref src/utils/optimization.rs:18-300): reflection α=1,
  expansion γ=2, contraction ρ=0.5, shrink σ=0.5, relative initial step 0.05,
  convergence on best-worst range < tol OR simplex collapse < tol.
- ``acf``: statsmodels-convention autocorrelation, population-variance
  denominator n·var (ref src/models/theta/model.rs:490-521).
- ``ols_fit``: normal-equations least squares for exog detrending
  (ref src/utils/ols.rs:94-130).
- ``level_fold``: the sequential SES/EWM level recursion shared by theta's
  in-sample fit, ``ewm_mean_np`` and the streaming SES state.

Z95_EXACT is statrs' exact Φ⁻¹(0.95) used by the Theta seasonal test
(ref src/models/theta/model.rs:543-548) — that one is NOT the A&S approx.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np

Z95_EXACT = 1.6448536269514722


def quantile_normal(p: float) -> float:
    """A&S 26.2.23 inverse normal CDF approximation (|err| < 4.5e-4)."""
    if p <= 0.0:
        return -np.inf
    if p >= 1.0:
        return np.inf
    t = np.sqrt(-2.0 * np.log(p if p < 0.5 else 1.0 - p))
    num = 2.515517 + 0.802853 * t + 0.010328 * t * t
    den = 1.0 + 1.432788 * t + 0.189269 * t * t + 0.001308 * t * t * t
    r = t - num / den
    return -r if p < 0.5 else r


def z_for_level(level: float) -> float:
    """Two-sided z for a confidence level in (0,1), e.g. 0.95 → ~1.96."""
    return quantile_normal((1.0 + level) / 2.0)


def _clip(x: np.ndarray, bounds: Sequence[tuple[float, float]] | None) -> np.ndarray:
    if bounds is None:
        return x
    out = x.copy()
    for i, (lo, hi) in enumerate(bounds):
        if i < out.size:
            out[i] = min(max(out[i], lo), hi)
    return out


def _euclid(a: np.ndarray, b: np.ndarray) -> float:
    s = 0.0
    for x, y in zip(a.tolist(), b.tolist()):
        d = x - y
        s += d * d
    return s ** 0.5


def nelder_mead(
    objective: Callable[[np.ndarray], float],
    initial: Sequence[float],
    bounds: Sequence[tuple[float, float]] | None = None,
    max_iter: int = 1000,
    tolerance: float = 1e-8,
    alpha: float = 1.0,
    gamma: float = 2.0,
    rho: float = 0.5,
    sigma: float = 0.5,
    initial_step: float = 0.05,
) -> np.ndarray:
    """Bounded Nelder-Mead matching the reference's variant step-for-step.

    Returns the optimal point. Parameter meaning and all defaults match
    ref src/utils/optimization.rs:35-47; the control flow (acceptance tests,
    convergence checks, bound clamping points) mirrors :76-229 so optimized
    smoothing parameters land in the same local optima.
    """
    x0 = np.asarray(initial, dtype=np.float64)
    n = x0.size
    if n == 0:
        return x0

    simplex = [x0.copy()]
    for i in range(n):
        v = x0.copy()
        step = initial_step * abs(x0[i]) if abs(x0[i]) > 1e-10 else initial_step
        v[i] += step
        simplex.append(_clip(v, bounds))
    values = [float(objective(v)) for v in simplex]

    for _ in range(max_iter):
        order = sorted(range(n + 1), key=lambda i: values[i])
        best, second_worst, worst = order[0], order[n - 1], order[n]

        if values[worst] - values[best] < tolerance:
            break
        centroid = (
            sum(simplex[i] for i in range(n + 1) if i != worst) / n
        )
        # collapse check: sequential Σ(x−y)² then sqrt, matching the ref's
        # euclidean_distance (optimization.rs:298-304) bit-for-bit —
        # np.linalg.norm (BLAS dnrm2, scaled accumulation) differs in the
        # last ulps, which can break the loop one iteration early/late and
        # land optimizer-tier fits in measurably different optima.
        if max(_euclid(v, centroid) for v in simplex) < tolerance:
            break

        reflected = _clip(centroid + alpha * (centroid - simplex[worst]), bounds)
        f_r = float(objective(reflected))

        if values[best] <= f_r < values[second_worst]:
            simplex[worst], values[worst] = reflected, f_r
            continue
        if f_r < values[best]:
            expanded = _clip(centroid + gamma * (reflected - centroid), bounds)
            f_e = float(objective(expanded))
            if f_e < f_r:
                simplex[worst], values[worst] = expanded, f_e
            else:
                simplex[worst], values[worst] = reflected, f_r
            continue
        if f_r < values[worst]:
            contracted = _clip(centroid + rho * (reflected - centroid), bounds)
            f_c = float(objective(contracted))
            if f_c <= f_r:
                simplex[worst], values[worst] = contracted, f_c
                continue
        else:
            contracted = _clip(centroid + rho * (simplex[worst] - centroid), bounds)
            f_c = float(objective(contracted))
            if f_c < values[worst]:
                simplex[worst], values[worst] = contracted, f_c
                continue

        # shrink toward best
        b = simplex[best].copy()
        for i in range(n + 1):
            if i != best:
                simplex[i] = _clip(b + sigma * (simplex[i] - b), bounds)
                values[i] = float(objective(simplex[i]))

    best = int(np.argmin(values))
    return simplex[best]


def acf(y: np.ndarray, nlags: int) -> np.ndarray:
    """ACF with population-variance denominator (statsmodels convention, no FFT).

    ref src/models/theta/model.rs:490-521: acf[0]=1; lag k =
    Σ (y_i - ȳ)(y_{i+k} - ȳ) / (n · var_pop).
    """
    n = y.size
    if n < 2 or nlags == 0:
        return np.ones(1)
    mean = y.mean()
    var = ((y - mean) ** 2).mean()
    if var < 1e-10:
        return np.ones(nlags + 1)
    d = y - mean
    out = np.empty(nlags + 1)
    out[0] = 1.0
    for k in range(1, nlags + 1):
        out[k] = float(d[: n - k] @ d[k:]) / (n * var) if k < n else 0.0
    return out


def ols_fit(y: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Least-squares coefficients for y ~ [1, X] (intercept first).

    Matches ref src/utils/ols.rs:94-130 (normal equations; we use numpy's
    lstsq which is numerically equivalent or better).
    """
    design = np.column_stack([np.ones(y.size), x])
    coef, *_ = np.linalg.lstsq(design, y, rcond=None)
    return coef


def ols_residuals(y: np.ndarray, coef: np.ndarray, x: np.ndarray) -> np.ndarray:
    design = np.column_stack([np.ones(y.size), x])
    return y - design @ coef


def level_fold(y: np.ndarray, alpha: float, init: float | None = None) -> np.ndarray:
    """SES/EWM levels ``l_i = α·y_i + (1−α)·l_{i−1}``, one per point, folded
    in order (ref window.rs:227-244). ``l_0 = y_0``, or the first step from
    ``init`` when a prior level is carried in."""
    ys = y.tolist()
    if not ys:
        return np.empty(0)
    b = 1.0 - alpha
    lvl = ys[0] if init is None else alpha * ys[0] + b * init
    out = [lvl]
    for v in ys[1:]:
        lvl = alpha * v + b * lvl
        out.append(lvl)
    return np.array(out, dtype=np.float64)


def mean_sq(residuals: np.ndarray) -> float:
    """Residual variance as mean of squares (the reference convention:
    ``sum_of_squares / len``, no mean subtraction, no ddof)."""
    if residuals.size == 0:
        return 0.0
    return float((residuals * residuals).sum() / residuals.size)
