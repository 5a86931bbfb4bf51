"""Batched per-series harness — the Spark side of every model.

Every per-series Python kernel in the engine (forecasts, fitted values,
cross-validation, bootstrap intervals, STL, PELT, Box-Cox λ, features, EWM,
exogenous regressors, Gorilla encode) runs through ``batched_series_apply``:
the input long frame is shuffled once by the series key and sorted by key
and time, then one ``mapInPandas`` collects complete series into one pandas
body per Arrow batch (a series cut by the batch boundary is carried over to
the next body). The kernel gets the whole body plus the row offsets where
each series starts, computed once per body with numpy. A one-series kernel
is wrapped in ``each_series``, which slices the body per series; a kernel
that vectorizes across series (the Gorilla/Chimp encode) runs once per body,
so numpy's fixed per-call cost is paid per Arrow batch, not per series or
chunk. Results return as Arrow batches. This is the SURVEY §2.2 "Spark
primitive for ALL models": no per-row Python, no per-series Arrow round
trip, no driver-side loops, cross-series parallelism = partition
parallelism.

Failure policy (ref returns Result per call — src/error.rs): a series that
raises (e.g. InsufficientData) emits zero forecast rows instead of failing
the job; use ``forecast_status`` to surface per-series errors.

Skew note: series length after tier rollup is bounded (≤ span/tier buckets),
so a hot host costs the same as any other series here; skew is handled at
the rollup stage, not the model stage.

One-wave rule: the batched Python stage repartitions to
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


def _key_mask(pdf: pd.DataFrame, keys_l: list[str], ref: pd.DataFrame) -> np.ndarray:
    """Rows of ``pdf`` whose keys equal those of the last row of ``ref``.

    Null-safe: a NaN/None key must match itself, otherwise a null-key group
    is never held back and splits across Arrow batches.
    """
    mask = np.ones(len(pdf), dtype=bool)
    for k in keys_l:
        col = pdf[k]
        v = ref[k].iloc[-1]
        m = col.isna() if pd.isna(v) else (col == v)
        mask &= m.to_numpy()
    return mask


def _series_starts(body: pd.DataFrame, keys_l: list[str]) -> np.ndarray:
    """Row offsets where each series of a key-sorted ``body`` starts.

    Null-safe like ``_key_mask``: two NULL keys are equal, so a null-key
    series (e.g. parse_url host on malformed URLs) is one series and is
    never discarded.
    """
    first = np.zeros(len(body), dtype=bool)
    first[:1] = True
    for k in keys_l:
        v = body[k].to_numpy()
        na = body[k].isna().to_numpy()
        first[1:] |= (v[1:] != v[:-1]) & ~(na[1:] & na[:-1])
    return np.flatnonzero(first)


def each_series(per_series):
    """Adapt a one-series callback ``per_series(g, out)`` to the body
    contract of ``batched_series_apply``: ``g`` is one series' rows."""
    def per_body(body: pd.DataFrame, starts: np.ndarray, out: dict) -> None:
        for a, b in zip(starts.tolist(), [*starts[1:].tolist(), len(body)]):
            per_series(body.iloc[a:b], out)
    return per_body


def batched_series_apply(df: DataFrame, keys, ts_col, per_body, out_schema) -> DataFrame:
    """mapInPandas over key-partitioned, key+ts-sorted data: many complete
    series per call, with carry-over for series split across Arrow batches.

    ``per_body(body: pd.DataFrame, starts: np.ndarray, out: dict[str, list])``
    gets a body of complete series, each in ``ts_col`` order, and the row
    offsets where each series starts (ascending, beginning with 0); it
    appends blocks per output column. Every block of a column is a numpy
    array, or every block is a list: a column is flattened by the type of
    its first block. A kernel that works on one series at a time is wrapped
    in ``each_series``; a kernel that can vectorize across series (the
    Gorilla encode) takes the body whole. ``ts_col=None`` sorts by the keys
    alone, for kernels whose result does not depend on row order. This is
    the one per-series Python stage of the engine: one pandas frame per
    ~10k rows instead of one per series.
    """
    keys_l = list(keys)

    def _flush(body: pd.DataFrame):
        out = {f.name: [] for f in out_schema.fields}
        per_body(body, _series_starts(body, keys_l), out)
        if not next(iter(out.values()), None):
            return None
        return pd.DataFrame({
            k: (np.concatenate(v) if isinstance(v[0], np.ndarray) else
                [x for block in v for x in (block if isinstance(block, list) else [block])])
            for k, v in out.items()
        })

    def run(batches):
        # rows of the series still open at the last batch boundary; a series
        # longer than a batch is concatenated once, when it ends
        held: list[pd.DataFrame] = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            tail = _key_mask(pdf, keys_l, pdf)
            if tail.all():
                if held and not _key_mask(pdf.iloc[:1], keys_l, held[-1])[0]:
                    out = _flush(pd.concat(held) if len(held) > 1 else held[0])
                    held = []
                    if out is not None:
                        yield out
                held.append(pdf)
                continue
            body = pdf.iloc[(~tail).nonzero()[0]]
            if held:
                body = pd.concat([*held, body], ignore_index=True)
            held = [pdf.iloc[tail.nonzero()[0]]]
            out = _flush(body)
            if out is not None:
                yield out
        if held:
            out = _flush(pd.concat(held) if len(held) > 1 else held[0])
            if out is not None:
                yield out

    # an explicit repartition is exempt from AQE coalescing, which would fold
    # a few MB of series into 1-2 tasks and serialize the kernel fits
    order = [*keys_l, ts_col] if ts_col is not None else keys_l
    prepared = (df.repartition(kernel_partitions(df), *keys_l)
                .sortWithinPartitions(*order))
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

    # resolved on the driver: an unknown model fails before launching
    resolved = [(name, get_model(name), params)
                for name, params in _normalize_models(models).items()]

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

    return batched_series_apply(df, keys_l, ts_col, each_series(one_series), out_schema)


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
    resolved = [(name, get_model(name), params)
                for name, params in _normalize_models(models).items()]

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

    def per_series(g: pd.DataFrame, out: dict) -> None:
        y = g[y_col].to_numpy(dtype=np.float64)
        ts = g[ts_col].to_numpy()
        for name, kernel, params in resolved:
            try:
                res = kernel(y, 1, level, season_length, **params)
            except Exception:
                continue
            if res.fitted.size != y.size:
                continue
            for k in keys_l:
                out[k].append(np.repeat(g[k].iloc[0], y.size))
            out["ts"].append(ts)
            out["y"].append(y)
            out["model"].append(np.repeat(name, y.size))
            out["fitted"].append(res.fitted)
            out["residual"].append(res.residuals)

    return batched_series_apply(df, keys_l, ts_col, each_series(per_series), out_schema)
