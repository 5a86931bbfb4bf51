"""SES over a whole body against the one-series SES it replaced.

``ses_body`` runs the level scan and α's Nelder-Mead for every series of a
body at once (``SegmentLevels``, ``nelder_mead_lockstep``), and ``ses`` is
that body form over one series. Each series must get exactly the bits of
the sequential one-series fit kept here as ``_one_series_ses``: the blocked
level scan, a BLAS ``e @ e`` SSE and the scalar ``nelder_mead``. Pure numpy,
no Spark session.
"""

from __future__ import annotations

import numpy as np
import pytest

from anofox_forecast_spark.models import kernels as K
from anofox_forecast_spark.models._numerics import mean_sq, nelder_mead, z_for_level


def _one_series_levels(y: np.ndarray, alpha: float) -> np.ndarray:
    n, beta = y.size, 1.0 - alpha
    if n <= 1 or beta == 0.0:
        return y.astype(np.float64).copy()
    out = np.empty(n)
    out[0] = y[0]
    pow_beta = beta ** np.arange(33)
    inv_beta = (1.0 / beta) ** np.arange(1, 33)
    lvl, start = y[0], 1
    while start < n:
        end = min(start + 32, n)
        seg = y[start:end]
        k = seg.size
        contrib = alpha * np.cumsum(seg * inv_beta[:k]) * pow_beta[1:k + 1]
        out[start:end] = pow_beta[1:k + 1] * lvl + contrib
        lvl, start = out[end - 1], end
    return out


def _one_series_ses(y: np.ndarray, h: int, level: float, alpha: float | None):
    def sse(p):
        e = y[1:] - _one_series_levels(y, p[0])[:-1]
        return float(e @ e)

    if alpha is None:
        pt = nelder_mead(sse, [0.5], [(0.0001, 0.9999)], max_iter=500)
        a = float(np.clip(pt[0], 0.0001, 0.9999))
    else:
        a = float(np.clip(alpha, 0.0001, 0.9999))
    levels = _one_series_levels(y, a)
    fitted = np.concatenate([[y[0]], levels[:-1]])
    resid = y - fitted
    resid[0] = 0.0
    variance = mean_sq(resid[1:]) if y.size > 1 else 0.0
    beta2 = (1.0 - a) ** 2
    hs = np.arange(1, h + 1)
    factor = (hs.astype(np.float64) if abs(1.0 - beta2) < 1e-10 else
              np.where(hs == 1, 1.0, 1.0 + beta2 * (1.0 - beta2 ** (hs - 1)) / (1.0 - beta2)))
    yhat = np.full(h, float(levels[-1]))
    se, z = np.sqrt(variance * factor), z_for_level(level)
    return a, fitted, resid, yhat, yhat - z * se, yhat + z * se


def _series(seed: int, count: int) -> list[np.ndarray]:
    rng = np.random.default_rng(seed)
    out = []
    for i in range(count):
        n = int(rng.integers(1, 61))
        out.append([
            rng.normal(10, 3, n),
            np.full(n, rng.normal()),  # constant: the optimizer stops at once
            np.cumsum(rng.normal(0, 1, n)),
            rng.poisson(3, n).astype(np.float64),
            rng.normal(0, 1e6, n) * rng.integers(0, 2, n),
            np.sin(np.arange(n)) * 5 + rng.normal(0, 0.01, n),
        ][i % 6])
    return out


def _bits(x) -> bytes:
    return np.asarray(x, dtype=np.float64).tobytes()


@pytest.mark.parametrize("alpha", [None, 0.0001, 0.9999, 0.0, 1.0, 0.3])
def test_ses_body_matches_one_series_ses_bit_for_bit(alpha):
    """Lengths 1-60 (one or two scan blocks), constant series and α at and
    beyond its bounds: every output of every series of one body — and of
    ``ses`` on that series alone — equals the one-series fit bit for bit."""
    series = _series(7, 240)
    lens = np.array([y.size for y in series])
    ends = np.cumsum(lens)
    starts = ends - lens
    body = K.ses_body(np.concatenate(series), starts, ends, 7, 0.9, alpha=alpha)
    for i, (y, s, e) in enumerate(zip(series, starts, ends)):
        a, fitted, resid, yhat, lo, hi = _one_series_ses(y, 7, 0.9, alpha)
        single = K.ses(y, 7, 0.9, alpha=alpha)
        assert body.params["alpha"][i] == a == single.params["alpha"], i
        for got, want in ((body.fitted[s:e], fitted), (body.residuals[s:e], resid),
                          (body.yhat[i], yhat), (body.lo[i], lo), (body.hi[i], hi),
                          (single.fitted, fitted), (single.residuals, resid),
                          (single.yhat, yhat), (single.lo, lo), (single.hi, hi)):
            assert _bits(got) == _bits(want), i


def test_theta_optimized_alpha_matches_one_series_optimizer():
    """theta(optimize_alpha=True) fits α through the same body-form
    optimizer; with no season the series itself is smoothed, so α lands
    where the scalar ``nelder_mead`` lands."""
    for y in _series(11, 60):
        if y.size >= 4:
            assert K.theta(y, 3, optimize_alpha=True).params["alpha"] == \
                _one_series_ses(y, 1, 0.95, None)[0]
