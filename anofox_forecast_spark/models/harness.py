"""Grouped-map forecasting harness — the Spark side of every model.

One ``applyInPandas`` per call: the input long frame is shuffled once by the
series key; each group arrives as a pandas frame; all requested model kernels
run over the group's numpy array; results return as Arrow batches. This is
the SURVEY §2.2 "Spark primitive for ALL models": no per-row Python, no
driver-side loops, cross-series parallelism = partition parallelism.

Failure policy (ref returns Result per call — src/error.rs): a series that
raises (e.g. InsufficientData) emits zero forecast rows instead of failing
the job; use ``forecast_status`` to surface per-series errors.

Skew note: series length after tier rollup is bounded (≤ span/tier buckets),
so a hot host costs the same as any other series here; skew is handled at
the rollup stage, not the model stage.

One-wave rule: every batched or grouped Python stage repartitions to
``kernel_partitions(df)`` = ``sc.defaultParallelism``: one task per core,
one wave, no floor. A Python stage pays a fixed cost per task, so this wins
where that cost is a visible share of the stage (``local[4]``, shared 4-core
x86 machine, 4 vs the old 8 partitions, alternating): an identity
``mapInPandas`` over 13k rows took 0.68 vs 1.24 s (0.21-0.27 s with no
Python stage), and 1-5 s CV/STL/PELT stages over ~270 series ran 8-24 %
faster in 29 of 30 pairs. Most of that per-task cost was each task
re-reading the worker's zip-archive directories (~0.2 s, ``_worker``).
With those reads gone the same identity stage, importing the package as
engine UDFs do, takes 0.22-0.26 vs 0.30-0.35 s at 4 vs 8 partitions
(0.12-0.16 s with no Python stage; two runs, medians of 7,
BENCH/PYTHON_TASK_COST.md). Where kernel time dominates only the hash balance
moves, and a second wave did not improve it: a 55-85 s ``cross_validate``
(ets+holt_winters+optimized_theta, ~270 gap-filled hourly series) had
medians of 61-63 s at 4 and 70-73 s at 8, 4 winning 10 of 14 pairs. The
count is read when the plan is built; on a cluster ``defaultParallelism``
is 2 until executors register (``spark.default.parallelism`` overrides it).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from anofox_forecast_spark.core.frequency import parse_frequency
from anofox_forecast_spark.models.registry import get_model

ModelSpec = Mapping[str, Mapping] | Sequence[str]


def kernel_partitions(df: DataFrame) -> int:
    """Partition count for a Python kernel stage: one task per core, so the
    stage runs in one task wave (module docstring, one-wave rule)."""
    return df.sparkSession.sparkContext.defaultParallelism


def _grouped_apply(df: DataFrame, keys: list[str], fn, schema) -> DataFrame:
    """applyInPandas with a CPU-oriented explicit repartition.

    The model stage is CPU-bound Python, not shuffle-bound: AQE would
    coalesce a small shuffle (few MB of series data) down to 1-2 partitions
    and serialize thousands of kernel fits. An EXPLICIT repartition(n, keys)
    is exempt from AQE coalescing and hash-partitions by the same keys the
    groupBy needs, so no extra shuffle is introduced. n is one task per
    core (``kernel_partitions``): an extra wave of Python tasks added
    0.3-0.6 s of wall time per stage, and did not speed up a kernel-bound
    stage either (module docstring, one-wave rule).
    """
    return (df.repartition(kernel_partitions(df), *keys)
            .groupBy(*keys).applyInPandas(fn, schema=schema))


def _last_key_mask(pdf: pd.DataFrame, keys_l: list[str]) -> np.ndarray:
    """Rows belonging to the trailing (possibly batch-spanning) group.

    Null-safe: a NaN/None key must match itself, otherwise a null-key group
    is never held back and splits across Arrow batches.
    """
    mask = np.ones(len(pdf), dtype=bool)
    for k in keys_l:
        col = pdf[k]
        v = col.iloc[-1]
        m = col.isna() if pd.isna(v) else (col == v)
        mask &= m.to_numpy()
    return mask


def batched_series_apply(df: DataFrame, keys, ts_col, per_series, out_schema) -> DataFrame:
    """mapInPandas over key-partitioned, key+ts-sorted data: many series per
    Arrow batch with carry-over for groups split across batch boundaries.

    ``per_series(g: pd.DataFrame, out: dict[str, list])`` appends column
    blocks (numpy arrays / lists) for one series. This is the shared
    low-overhead pattern for every per-series kernel (forecast, gap-fill,
    codec, features, EWM): one pandas frame per ~10k rows instead of one
    per series.
    """
    keys_l = list(keys)

    def _flush(body: pd.DataFrame):
        out = {f.name: [] for f in out_schema.fields}
        # dropna=False: NULL keys (e.g. parse_url host on malformed URLs)
        # are real series and must not be silently discarded.
        for _, g in body.groupby(keys_l, sort=False, dropna=False):
            per_series(g, out)
        if not next(iter(out.values()), None):
            return None
        return pd.DataFrame({
            k: (np.concatenate(v) if isinstance(v[0], np.ndarray) else
                [x for block in v for x in (block if isinstance(block, list) else [block])])
            for k, v in out.items()
        })

    def run(batches):
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            mask = _last_key_mask(pdf, keys_l)
            carry = pdf.iloc[mask.nonzero()[0]]
            body = pdf.iloc[(~mask).nonzero()[0]]
            if len(body):
                out = _flush(body)
                if out is not None:
                    yield out
        if carry is not None and len(carry):
            out = _flush(carry)
            if out is not None:
                yield out

    prepared = (df.repartition(kernel_partitions(df), *keys_l)
                .sortWithinPartitions(*keys_l, ts_col))
    return prepared.mapInPandas(run, schema=out_schema)


def _normalize_models(models: ModelSpec) -> dict[str, dict]:
    if isinstance(models, Mapping):
        return {k: dict(v) for k, v in models.items()}
    return {name: {} for name in models}


def _future_timestamps(last_ts: pd.Timestamp, h: int, freq: str) -> list:
    f = parse_frequency(freq)
    if f.kind == "duration":
        step = pd.Timedelta(seconds=f.seconds)
        return [last_ts + step * k for k in range(1, h + 1)]
    months = f.months
    return [last_ts + pd.DateOffset(months=months * k) for k in range(1, h + 1)]


def forecast(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    y_col: str,
    models: ModelSpec,
    horizon: int,
    freq: str,
    season_length: int = 1,
    level: float = 0.95,
    max_points_per_series: int = 100_000,
) -> DataFrame:
    """Fit+predict every model for every series; returns the forecast frame.

    Output: (keys…, model, step, ds, yhat, lo, hi). ``ds`` is last-ts + step
    intervals of ``freq`` (calendar-aware for months, ref add_months
    src/core/time_series.rs:1014-1039 via pandas DateOffset clamping).
    ``max_points_per_series`` truncates pathological series to their most
    recent points (documented guard, SURVEY §7.3 grouped-map skew).
    """
    specs = _normalize_models(models)
    for name in specs:
        get_model(name)  # validate on driver before launching

    key_fields = [df.schema[k] for k in keys]
    out_schema = StructType(
        [*key_fields,
         StructField("model", StringType()),
         StructField("step", IntegerType()),
         StructField("ds", TimestampType()),
         StructField("yhat", DoubleType()),
         StructField("lo", DoubleType()),
         StructField("hi", DoubleType())]
    )
    keys_l = list(keys)

    resolved = [(name, get_model(name), params) for name, params in specs.items()]

    def one_series(g: pd.DataFrame, out: dict) -> None:
        if len(g) > max_points_per_series:
            g = g.iloc[-max_points_per_series:]
        y = g[y_col].to_numpy(dtype=np.float64)
        last_ts = g[ts_col].iloc[-1]
        ds = _future_timestamps(last_ts, horizon, freq)
        for name, kernel, params in resolved:
            try:
                res = kernel(y, horizon, level, season_length, **params)
            except Exception:
                continue
            for k in keys_l:
                out[k].append(np.repeat(g[k].iloc[0], horizon))
            out["model"].append(np.repeat(name, horizon))
            out["step"].append(np.arange(1, horizon + 1, dtype=np.int32))
            out["ds"].append(np.asarray(ds, dtype="datetime64[us]"))
            out["yhat"].append(res.yhat)
            out["lo"].append(res.lo)
            out["hi"].append(res.hi)

    return batched_series_apply(df, keys_l, ts_col, one_series, out_schema)


def fitted_values(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    y_col: str,
    models: ModelSpec,
    season_length: int = 1,
    level: float = 0.95,
) -> DataFrame:
    """In-sample fitted values + residuals per model per input row.

    Output: (keys…, ts, y, model, fitted, residual). NaN fitted values (e.g.
    the first ``m`` seasonal-naive slots) come back as NULL.
    """
    specs = _normalize_models(models)
    for name in specs:
        get_model(name)

    key_fields = [df.schema[k] for k in keys]
    out_schema = StructType(
        [*key_fields,
         StructField("ts", TimestampType()),
         StructField("y", DoubleType()),
         StructField("model", StringType()),
         StructField("fitted", DoubleType()),
         StructField("residual", DoubleType())]
    )
    keys_l = list(keys)

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col)
        y = pdf[y_col].to_numpy(dtype=np.float64)
        key_vals = {k: pdf[k].iloc[0] for k in keys_l}
        frames = []
        for name, params in specs.items():
            kernel = get_model(name)
            try:
                res = kernel(y, 1, level, season_length, **params)
            except Exception:
                continue
            if res.fitted.size != len(pdf):
                continue
            frames.append(
                pd.DataFrame(
                    {
                        **{k: [v] * len(pdf) for k, v in key_vals.items()},
                        "ts": pdf[ts_col].to_numpy(),
                        "y": y,
                        "model": name,
                        # Float64 (nullable) so NaN → NULL through Arrow
                        "fitted": pd.Series(res.fitted).astype("Float64"),
                        "residual": pd.Series(res.residuals).astype("Float64"),
                    }
                )
            )
        if not frames:
            return pd.DataFrame({f.name: pd.Series(dtype="object") for f in out_schema.fields})
        return pd.concat(frames, ignore_index=True)

    return _grouped_apply(df, keys_l, fit, out_schema)
