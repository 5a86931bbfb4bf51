"""The reference's 11-series validation corpus, bit-for-bit.

Reproduces /root/reference/validation/generate_data.py exactly: one shared
``np.random.default_rng(42)`` consumed by the generators IN ORDER (the rng
state threads through), n=100, monthly timestamps 2020-01-01 + 30d·i,
seasonal period 12. Formula citations are in FIXTURES.md §A; because both
sides are numpy ``default_rng``, the float sequences are identical to the
corpus the reference's golden tests consume.
"""

from __future__ import annotations

import datetime as dt

import numpy as np

SEED = 42
N = 100
M = 12


def _stationary(n, rng):
    return 50.0 + rng.normal(0, 5.0, n)


def _trend(n, rng):
    t = np.arange(n)
    return 10.0 + 0.5 * t + rng.normal(0, 3.0, n)


def _seasonal(n, rng):
    t = np.arange(n)
    return 50.0 + 10.0 * np.sin(2 * np.pi * t / M) + rng.normal(0, 2.0, n)


def _trend_seasonal(n, rng):
    t = np.arange(n)
    return 20.0 + 0.3 * t + 8.0 * np.sin(2 * np.pi * t / M) + rng.normal(0, 2.0, n)


def _seasonal_negative(n, rng):
    t = np.arange(n)
    return 5.0 + 10.0 * np.sin(2 * np.pi * t / M) + rng.normal(0, 1.0, n)


def _multiplicative_seasonal(n, rng):
    t = np.arange(n)
    level = 50.0 + 0.5 * t
    seasonal = 1.0 + 0.3 * np.sin(2 * np.pi * t / M)
    noise = 1.0 + rng.normal(0, 0.02, n)
    return level * seasonal * noise


def _intermittent(n, rng):
    has = rng.random(n) < 0.3
    sizes = rng.poisson(5.0, n) + 1
    return np.where(has, sizes, 0).astype(float)


def _high_frequency(n, rng):
    t = np.arange(n)
    return (50.0 + 0.01 * t + 5.0 * np.sin(2 * np.pi * t / 24)
            + 3.0 * np.sin(2 * np.pi * t / 168) + rng.normal(0, 1.5, n))


def _structural_break(n, rng):
    bp = n // 2
    out = np.zeros(n)
    out[:bp] = 50.0 + rng.normal(0, 3.0, bp)
    out[bp:] = 70.0 + rng.normal(0, 3.0, n - bp)
    return out


def _long_memory(n, rng):
    d = 0.3
    K = min(100, n)
    psi = np.zeros(K)
    psi[0] = 1.0
    for k in range(1, K):
        psi[k] = psi[k - 1] * (k - 1 + d) / k
    eps = rng.normal(0, 1, n + K)
    vals = np.zeros(n)
    for t in range(n):
        vals[t] = np.sum(psi * eps[t : t + K][::-1])
    return 50.0 + 5.0 * vals


def _noisy_seasonal(n, rng):
    t = np.arange(n)
    return 50.0 + 5.0 * np.sin(2 * np.pi * t / M) + rng.normal(0, 8.0, n)


_GENERATORS = [
    ("stationary", _stationary),
    ("trend", _trend),
    ("seasonal", _seasonal),
    ("trend_seasonal", _trend_seasonal),
    ("seasonal_negative", _seasonal_negative),
    ("multiplicative_seasonal", _multiplicative_seasonal),
    ("intermittent", _intermittent),
    ("high_frequency", _high_frequency),
    ("structural_break", _structural_break),
    ("long_memory", _long_memory),
    ("noisy_seasonal", _noisy_seasonal),
]


def generate_corpus(n: int = N, seed: int = SEED) -> dict[str, np.ndarray]:
    """All 11 series; the shared rng threads through in generator order."""
    rng = np.random.default_rng(seed)
    return {name: fn(n, rng) for name, fn in _GENERATORS}


def timestamps(n: int = N) -> list[dt.datetime]:
    start = dt.datetime(2020, 1, 1)
    return [start + dt.timedelta(days=30 * i) for i in range(n)]

