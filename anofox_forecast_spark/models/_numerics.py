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
- ``SegmentLevels`` / ``nelder_mead_lockstep``: the SES level scan and its
  one-parameter optimizer over every series of a body at once; each series
  gets the bits of its one-series run (ref src/models/exponential/ses.rs).

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


def nelder_mead_lockstep(
    objective: Callable[[np.ndarray, np.ndarray], np.ndarray],
    size: int,
    initial: float,
    bounds: tuple[float, float],
    max_iter: int = 1000,
    tolerance: float = 1e-8,
    alpha: float = 1.0,
    gamma: float = 2.0,
    rho: float = 0.5,
    sigma: float = 0.5,
    initial_step: float = 0.05,
) -> np.ndarray:
    """``nelder_mead`` over one bounded parameter for ``size`` problems at
    once: ``objective(x, which)`` gives the values of problems ``which``
    (ascending) at points ``x``, and each optimizer step makes one call for
    every problem still running. Returns each problem's optimal point.

    Each problem takes exactly the steps ``nelder_mead`` takes for it alone:
    with one parameter the simplex is two points, the centroid is the best
    one, and reflection alone is never accepted (its test reads
    ``best <= f_r < second worst`` with second worst = best). Per-problem
    masks choose expansion, the outside or inside contraction and the
    shrink; the stopping tests use the same arithmetic, down to the
    Python-float ``** 0.5`` of the collapse test."""
    lo, hi = bounds
    step = initial_step * abs(initial) if abs(initial) > 1e-10 else initial_step
    live = np.arange(size)
    p0 = np.full(size, float(initial))
    p1 = np.full(size, min(max(initial + step, lo), hi))
    f0, f1 = objective(p0, live), objective(p1, live)
    best = np.empty(size)

    def clip(x: np.ndarray) -> np.ndarray:
        return np.minimum(np.maximum(x, lo), hi)

    for _ in range(max_iter):
        swap = f1 < f0  # sorted()'s order: point 1 is the best
        xb, xw = np.where(swap, p1, p0), np.where(swap, p0, p1)
        fb, fw = np.where(swap, f1, f0), np.where(swap, f0, f1)
        d = xw - xb
        spread = [v ** 0.5 for v in (d * d).tolist()]
        stop = (fw - fb < tolerance) | (np.array(spread) < tolerance)
        if stop.any():
            best[live[stop]] = _argmin_point(p0[stop], p1[stop], f0[stop], f1[stop])
            go = ~stop
            live, swap, xb, xw, fb, fw = live[go], swap[go], xb[go], xw[go], fb[go], fw[go]
            p0, p1, f0, f1 = p0[go], p1[go], f0[go], f1[go]
            if not live.size:
                return best
        xr = clip(xb + alpha * (xb - xw))
        fr = objective(xr, live)
        expand = fr < fb
        outside = fr < fw
        x2 = clip(np.where(expand, xb + gamma * (xr - xb),
                           np.where(outside, xb + rho * (xr - xb), xb + rho * (xw - xb))))
        f2 = objective(x2, live)
        take2 = np.where(expand, f2 < fr, np.where(outside, f2 <= fr, f2 < fw))
        xn, fn = np.where(take2, x2, xr), np.where(take2, f2, fr)
        shrink = np.flatnonzero(~expand & ~take2)
        if shrink.size:
            xn[shrink] = clip(xb[shrink] + sigma * (xw[shrink] - xb[shrink]))
            fn[shrink] = objective(xn[shrink], live[shrink])
        # the new point replaces the worst one
        p0, f0 = np.where(swap, xn, p0), np.where(swap, fn, f0)
        p1, f1 = np.where(swap, p1, xn), np.where(swap, f1, fn)
    best[live] = _argmin_point(p0, p1, f0, f1)
    return best


def _argmin_point(p0, p1, f0, f1) -> np.ndarray:
    """``simplex[np.argmin(values)]`` per problem: the first NaN, else the
    first minimum."""
    return np.where(~np.isnan(f0) & (np.isnan(f1) | (f1 < f0)), p1, p0)


_BLOCK = 32
_POWERS = np.arange(_BLOCK + 1)


class SegmentLevels:
    """SES levels ``l_t = α·y_t + (1−α)·l_{t−1}``, ``l_0 = y_0``, for the
    series of one body: values ``y`` with series ``i`` in rows
    ``starts[i]:ends[i]``, one α in (0, 1) per series.

    The scan is a blocked renormalized cumsum: block 32 keeps
    (1−α)^{−31} ≤ ~1e124 for α ≤ 0.9999, so nothing overflows, and it equals
    the sequential ``level_fold`` to fp round-off. The blocks of every
    series are the rows of one matrix, so a body runs in the same few numpy
    calls as one series; only the carried level steps from block to block.
    Each series gets the bits it gets as a body of its own."""

    def __init__(self, y: np.ndarray, starts: np.ndarray, ends: np.ndarray):
        self.y = np.asarray(y, dtype=np.float64)
        self.starts, self.ends = starts, ends
        # blocks after each series' first point: ceil((n − 1) / 32)
        self.blocks = np.maximum(ends - starts - 2, -1) // _BLOCK + 1
        first_row = np.cumsum(self.blocks) - self.blocks
        self.series = np.repeat(np.arange(starts.size), self.blocks)
        block = np.arange(self.series.size) - first_row[self.series]
        idx = (starts[self.series] + 1 + _BLOCK * block)[:, None] + _POWERS[:-1]
        self.valid = idx < ends[self.series][:, None]
        self.seg = np.where(self.valid, self.y[np.where(self.valid, idx, 0)], 0.0)
        self.cells = idx[self.valid]
        self.counts = self.valid.sum(axis=1)

    def levels(self, alpha: np.ndarray, which: np.ndarray) -> np.ndarray:
        """The body's values with series ``which`` (ascending) replaced by
        their levels at ``alpha`` (one α per entry of ``which``)."""
        out = self.y.copy()
        if which.size == self.starts.size:
            series, seg, valid, cells = self.series, self.seg, self.valid, self.cells
        else:
            pos = np.full(self.starts.size, -1)
            pos[which] = np.arange(which.size)
            series = pos[self.series]
            rows = series >= 0
            series, seg, valid = series[rows], self.seg[rows], self.valid[rows]
            cells = self.cells[np.repeat(rows, self.counts)]
        if not series.size:
            return out
        nb = self.blocks[which]
        single = bool((nb == 1).all())  # every series of 2..33 points: rows are series
        row = slice(None) if single else series
        b = (1.0 - alpha)[:, None]
        pow_beta = (b ** _POWERS)[row, 1:]  # beta^(j+1)
        inv_beta = ((1.0 / b) ** _POWERS[1:])[row]  # beta^-(j+1)
        # l_{s+j} = beta^{j+1}·l_s + α·Σ_{i≤j} beta^{j-i}·seg_i
        contrib = alpha[:, None][row] * np.cumsum(seg * inv_beta, axis=1) * pow_beta
        lvl = self.y[self.starts[which]]
        if single:
            lv = pow_beta * lvl[:, None] + contrib
        else:
            first_row = np.cumsum(nb) - nb
            lv = np.empty_like(contrib)
            for k in range(int(nb.max())):
                has = np.flatnonzero(nb > k)
                rows = first_row[has] + k
                lv[rows] = pow_beta[rows] * lvl[has][:, None] + contrib[rows]
                lvl[has] = lv[rows, -1]
        out[cells] = lv[valid]
        return out

    def sse(self, alpha: np.ndarray, which: np.ndarray) -> np.ndarray:
        """One-step SSE per series of ``which`` (ref ses.rs:93-112). Each
        series' errors are one contiguous slice reduced by ``e @ e``, the
        one-series reduction order."""
        lv = self.levels(alpha, which)
        e = self.y[1:] - lv[:-1]
        return np.array([float(e[a:b - 1] @ e[a:b - 1]) for a, b in
                         zip(self.starts[which].tolist(), self.ends[which].tolist())])


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
