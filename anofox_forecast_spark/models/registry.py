"""Model registry — name → kernel, mirroring ref ModelSpec/ModelRegistry
(src/models/traits.rs:173-264) as a plain dict of numpy kernels."""

from __future__ import annotations

from collections.abc import Callable

from anofox_forecast_spark.models import intermittent as I
from anofox_forecast_spark.models import kernels as K
from anofox_forecast_spark.models import theta_ext as T
from anofox_forecast_spark.models.ets import auto_ets, ets

MODELS: dict[str, Callable] = {
    # baseline (ref src/models/baseline/)
    "naive": K.naive,
    "seasonal_naive": K.seasonal_naive,
    "historic_average": K.historic_average,
    "window_average": K.window_average,
    "random_walk_drift": K.random_walk_drift,
    "seasonal_window_average": K.seasonal_window_average,
    # exponential (ref src/models/exponential/)
    "ses": K.ses,
    "holt": K.holt,
    "holt_winters": K.holt_winters,
    "seasonal_es": I.seasonal_es,
    "ets": ets,
    "auto_ets": auto_ets,
    # theta family (ref src/models/theta/)
    "theta": K.theta,
    "optimized_theta": T.optimized_theta,
    "dynamic_theta": T.dynamic_theta,
    "dynamic_optimized_theta": T.dynamic_optimized_theta,
    "auto_theta": T.auto_theta,
    # intermittent (ref src/models/intermittent/)
    "croston": I.croston,
    "croston_sba": I.croston_sba,
    "croston_sba_optimized": I.croston_sba_optimized,
    "tsb": I.tsb,
    "adida": I.adida,
    "imapa": I.imapa,
    # ensemble (ref src/models/ensemble/)
    "ensemble": T.ensemble,
}

# ARIMA family registers below (import placed after MODELS exists to keep
# the module graph acyclic — arima.py imports kernels only)
from anofox_forecast_spark.models.arima import arima, auto_arima  # noqa: E402
from anofox_forecast_spark.models.garch import garch  # noqa: E402
from anofox_forecast_spark.models.mfles import mfles  # noqa: E402
from anofox_forecast_spark.models.tbats import auto_tbats, tbats  # noqa: E402

MODELS["arima"] = arima
MODELS["auto_arima"] = auto_arima
MODELS["garch"] = garch
MODELS["mfles"] = mfles
MODELS["tbats"] = tbats
MODELS["auto_tbats"] = auto_tbats


# models that also fit every series of a body in one call (``forecast``
# uses these; every other model runs once per series)
BODY_FORMS: dict[str, Callable] = {"ses": K.ses_body}


def get_model(name: str) -> Callable:
    try:
        return MODELS[name]
    except KeyError:
        raise KeyError(f"unknown model {name!r}; have {sorted(MODELS)}") from None


def register(name: str, fn: Callable) -> None:
    MODELS[name] = fn


# bottom import: mstl_forecaster self-registers via register("mstl", …);
# placed after MODELS/register exist so the circular import is benign
from anofox_forecast_spark.models import mstl_forecaster  # noqa: E402,F401
