"""Spark feature extraction: one grouped map → one wide row per series.

``extract_features(df, keys, ts_col, value_col)`` runs the numpy catalog
(features.np_features) per series inside the same batched mapInPandas
pattern as the forecast harness. A feature job at 100 TB is: shuffle once
by series key, then embarrassingly parallel numpy per series.

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
from anofox_forecast_spark.models.harness import kernel_partitions


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

    def run(batches):
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            mask = np.ones(len(pdf), dtype=bool)
            for k in keys_l:
                mask &= (pdf[k] == pdf[k].iloc[-1]).to_numpy()
            carry = pdf.iloc[mask.nonzero()[0]]
            body = pdf.iloc[(~mask).nonzero()[0]]
            if len(body):
                yield _batch(body, keys_l, value_col, cat, names)
        if carry is not None and len(carry):
            yield _batch(carry, keys_l, value_col, cat, names)

    prepared = (df.repartition(kernel_partitions(df), *keys_l)
                .sortWithinPartitions(*keys_l, ts_col))
    return prepared.mapInPandas(run, schema=out_schema)


def _batch(body, keys_l, value_col, cat, names):
    rows = {k: [] for k in keys_l}
    cols: dict[str, list] = {n: [] for n in names}
    for _, g in body.groupby(keys_l, sort=False):
        y = g[value_col].to_numpy(dtype=np.float64)
        for k in keys_l:
            rows[k].append(g[k].iloc[0])
        for n in names:
            fn, kwargs = cat[n]
            try:
                cols[n].append(float(fn(y, **kwargs)))
            except Exception:
                cols[n].append(np.nan)
    out = pd.DataFrame(rows)
    for n in names:
        out[n] = pd.Series(cols[n]).astype("Float64")  # NaN → NULL via Arrow
    return out
