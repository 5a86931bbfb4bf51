"""Golden regression gate over the reference validation corpus.

Mirrors the reference's golden-test strategy (SURVEY §5.2): the 11
deterministic series (seed 42, bit-identical to
/root/reference/validation/generate_data.py) × every registered model,
horizon 12, m=12. Exact-tier models (ref tests/statsforecast_comparison.rs
TOLERANCE=1e-10) are compared at 1e-10; optimizer-dependent models at the
reference's looser tiers (validation/README.md MAD table).

Also asserts identities that hold BY DEFINITION (independent of goldens):
naive == last value, seasonal_naive == last cycle, historic_average ==
mean, random_walk_drift line, ses flat at the SES level.

tools/make_goldens.py writes tests/golden/corpus_forecasts.json; rerun it
only when kernel semantics change on purpose.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from anofox_forecast_spark.models.registry import MODELS
from anofox_forecast_spark.sources.validation_corpus import generate_corpus

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "corpus_forecasts.json")
HORIZON = 12

EXACT_TIER = {
    "naive", "seasonal_naive", "random_walk_drift", "historic_average",
    "seasonal_window_average", "croston", "croston_sba", "tsb",
    "seasonal_es", "adida", "imapa", "theta", "dynamic_theta",
}
LOOSE_TIER_TOL = 2.0  # MAD tolerance for optimizer-dependent models


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus()


@pytest.fixture(scope="module")
def goldens():
    with open(GOLDEN) as f:
        return json.load(f)


def test_corpus_deterministic(corpus):
    c2 = generate_corpus()
    for k in corpus:
        assert np.array_equal(corpus[k], c2[k])
    # spot values pin the rng threading (regression against generator edits)
    assert corpus["stationary"].shape == (100,)
    assert abs(corpus["stationary"].mean() - 50) < 2


def test_goldens_exact_tier(corpus, goldens):
    for series, y in corpus.items():
        for model in EXACT_TIER:
            g = goldens[series].get(model)
            if g is None or "error" in g:
                continue
            r = MODELS[model](y, HORIZON, 0.95, 12)
            assert np.allclose(r.yhat, g["yhat"], atol=1e-10), (series, model)
            assert np.allclose(r.lo, g["lo"], atol=1e-10), (series, model)
            assert np.allclose(r.hi, g["hi"], atol=1e-10), (series, model)


def test_goldens_optimizer_tier(corpus, goldens):
    for series, y in corpus.items():
        for model, g in goldens[series].items():
            if model in EXACT_TIER or "error" in g:
                continue
            r = MODELS[model](y, HORIZON, 0.95, 12)
            mad = float(np.mean(np.abs(np.array(r.yhat) - np.array(g["yhat"]))))
            assert mad < LOOSE_TIER_TOL, (series, model, mad)


def test_definitional_identities(corpus):
    for series, y in corpus.items():
        assert np.allclose(MODELS["naive"](y, 5, 0.95, 12).yhat, y[-1])
        snv = MODELS["seasonal_naive"](y, 12, 0.95, 12).yhat
        assert np.allclose(snv, y[-12:])
        assert np.allclose(MODELS["historic_average"](y, 3, 0.95, 12).yhat, y.mean())
        drift = (y[-1] - y[0]) / (y.size - 1)
        rwd = MODELS["random_walk_drift"](y, 3, 0.95, 12).yhat
        assert np.allclose(rwd, y[-1] + drift * np.arange(1, 4))
        ses = MODELS["ses"](y, 4, 0.95, 12, alpha=0.3).yhat
        lvl = y[0]
        for v in y[1:]:
            lvl = 0.3 * v + 0.7 * lvl
        assert np.allclose(ses, lvl)
