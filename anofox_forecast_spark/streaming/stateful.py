"""Custom stateful streaming operator: incremental per-series SES level.

SURVEY §2.14 / driver prompt: "applyInPandasWithState for custom stateful
operators". This is the streaming expression of the engine's SES kernel
(models/kernels.py ses, ref ses.rs recursion): per series key the operator
carries (level, count) across micro-batches and emits the updated level
per batch — an always-current one-step forecast for every series without
refitting, the streaming analogue of the batch forecast path.

State update is the exact batch recursion (l ← αy + (1−α)l, l₀ = first
value), so a stream replayed in one batch produces the same level as the
batch kernel (tested invariant). Rows inside a batch are sorted by the
event-time column before folding; cross-batch ordering is the stream's
arrival order (micro-batch boundaries), as for any stateful streaming op.

Scale: state is two doubles per series key, hash-partitioned by Spark's
state store — no driver state, no growth with history length.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from anofox_forecast_spark.models._numerics import level_fold


def streaming_ses_level(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    y_col: str,
    alpha: float = 0.3,
    timeout: str = "NoTimeout",
) -> DataFrame:
    """applyInPandasWithState: per-key running SES level over a stream.

    Emits one row per (key, micro-batch): (keys…, n_points, level) where
    ``level`` is the SES level after folding all rows seen so far.
    Works on a static frame too (single "batch") for testing.
    """
    keys_l = list(keys)
    key_fields = [df.schema[k] for k in keys_l]
    out_schema = StructType(
        [*key_fields,
         StructField("n_points", LongType()),
         StructField("level", DoubleType())]
    )
    state_schema = StructType(
        [StructField("level", DoubleType()), StructField("n", LongType())]
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            level, n = state.get
        else:
            level, n = None, 0
        for pdf in pdfs:
            pdf = pdf.sort_values(ts_col)
            y = pdf[y_col].to_numpy(dtype=np.float64)
            y = y[~np.isnan(y)]
            if y.size == 0:
                continue
            # the SES fold, carrying the prior batches' level in
            level = float(level_fold(y, alpha, init=level)[-1])
            n += int(y.size)
        if n:
            state.update((float(level), int(n)))
            yield pd.DataFrame(
                {**{k: [key[i]] for i, k in enumerate(keys_l)},
                 "n_points": [n], "level": [float(level)]}
            )

    return df.groupBy(*keys_l).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=getattr(GroupStateTimeout, timeout),
    )
