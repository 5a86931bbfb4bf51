"""anofox_forecast_spark — a from-scratch PySpark-native time-series engine.

Re-expresses the capabilities of the Rust reference (sipemu/anofox-forecast,
surveyed in /root/repo/SURVEY.md) on top of Spark DataFrames, Catalyst, and
Arrow-vectorized pandas UDFs:

- long-format series data model ``(series keys…, ts, value)`` (SURVEY §1)
- continuous-aggregate rollup tiers 1h/1d/7d with retention + incremental
  recompute (north rule)
- gap-fill: spine generation, LOCF, linear interpolation
  (ref ``src/core/time_series.rs:871-932,1063-1117`` semantics)
- grouped-map forecasting kernels (seasonal-naive, SES, Holt, Holt-Winters,
  ETS, Theta, intermittent family…) matching the reference's numerical
  contracts (ref ``src/models/``)
- Gorilla XOR float compression + delta-of-delta timestamp packing inside
  vectorized pandas UDFs
- feature extraction (tsfresh-style scalar aggregates, ref ``src/features/``)
- evaluation: accuracy metrics, cross-validation (ref ``src/utils/``)

Everything here is public-knowledge Spark + numpy; no code is copied from the
reference (which is Rust — only its *semantics* are reproduced).
"""

__version__ = "0.1.0"

from anofox_forecast_spark import _worker

_worker.install()
