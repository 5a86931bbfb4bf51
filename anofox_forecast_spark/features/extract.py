"""Spark feature extraction: one grouped map → one wide row per series.

``extract_features(df, keys, ts_col, value_col)`` runs the numpy catalog
(features.np_features) per series through the forecast harness's
``batched_series_apply`` (one batched mapInPandas; NULL keys are series
too). A feature job at 100 TB is: shuffle once by series key, then
embarrassingly parallel numpy per series.

SQL-expressible features (SURVEY §2.7 classes a/b) can alternatively run
as plain ``groupBy().agg()`` — see plans.driver_queries features_* for the
oracle-checked subset; this extractor is the full-catalog path.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType

from anofox_forecast_spark.features.np_features import DEFAULT_FEATURES
from anofox_forecast_spark.models.harness import batched_series_apply


def extract_features(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    features: Mapping | Sequence[str] | None = None,
) -> DataFrame:
    """Returns (keys…, <feature columns…>), one row per series.

    ``features``: None → full default catalog; list of names → subset;
    mapping name → (fn, kwargs) → custom.
    """
    if features is None:
        cat = dict(DEFAULT_FEATURES)
    elif isinstance(features, Mapping):
        cat = dict(features)
    else:
        cat = {name: DEFAULT_FEATURES[name] for name in features}

    keys_l = list(keys)
    names = list(cat.keys())
    out_schema = StructType(
        [df.schema[k] for k in keys_l]
        + [StructField(n, DoubleType()) for n in names]
    )

    def per_series(g: pd.DataFrame, out: dict) -> None:
        y = g[value_col].to_numpy(dtype=np.float64)
        for k in keys_l:
            out[k].append(g[k].iloc[0])
        for n in names:
            fn, kwargs = cat[n]
            try:
                out[n].append(float(fn(y, **kwargs)))
            except Exception:
                out[n].append(np.nan)  # NaN → NULL via Arrow

    return batched_series_apply(df, keys_l, ts_col, per_series, out_schema)
