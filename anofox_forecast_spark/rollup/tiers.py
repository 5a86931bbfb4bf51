"""Continuous-aggregate rollup tiers (1h / 1d / 7d) — north-rule core.

The reference has no relational layer; its adjacent semantics are the
``Frequency`` units (ref src/core/time_series.rs:67-80) and ADIDA-style
temporal aggregation (ref src/models/intermittent/adida.rs:1-5). The tier
design follows continuous-aggregate systems (TimescaleDB-style), expressed
as plain Catalyst hash aggregates:

- ``bucket_col``: epoch-floor bucketing — pure arithmetic, whole-stage
  codegen, identical semantics in any ANSI engine (the DuckDB oracle uses
  the same ``floor(epoch/k)*k`` formula, avoiding origin-convention
  mismatches that ``time_bucket``/``window()`` have for multi-day spans).
- ``rollup_pages``: pages → per (lang, host, bucket) crawl-frequency and
  text-size measures. One shuffle by the full group key.
- ``cascade_rollup``: 1d is computed FROM 1h, 7d FROM 1d — each cascade is
  a re-aggregation of ~24×/7× fewer rows than the raw input, which is what
  makes the tier stack cheap at 10^12 rows (the raw table is scanned once).
  Sums re-aggregate exactly; avg is recomputed as sum/count (kept as both).

The tier measures are defined here and only here; the salted, incremental
and streaming rollups group differently but call the same helpers:

- ``project_pages``: page text size ``text_len`` in UTF-8 bytes
  (``octet_length``: the string's byte length, read without decoding it as
  ``length`` does).
- ``raw_measures``: pages → ``crawl_count = count(*)``,
  ``text_bytes = sum(text_len)``.
- ``merged_measures``: partial tier rows → the same two columns, summed.
- ``text_bytes_avg``: ``text_bytes / crawl_count``, derived from the sums
  after every (re-)aggregation, never averaged itself.

Skew: groupBy(lang, host, bucket) spreads a hot host across its buckets, so
the aggregate itself is skew-tolerant; per-series forecasting over rolled-up
series uses bounded series length per key (see models.harness).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anofox_forecast_spark.core.frequency import parse_frequency
from anofox_forecast_spark.sources.pages import host_of

TIER_SECONDS = {"1h": 3600, "1d": 86400, "7d": 604800}


def epoch_seconds(c: Column) -> Column:
    """Seconds-since-epoch as double; NTZ-safe (session TZ is UTC, so the
    NTZ→LTZ cast is an identity relabel)."""
    return c.cast("timestamp").cast("double")


def bucket_col(ts: Column | str, freq: str) -> Column:
    """Epoch-floor bucket start for a duration frequency; date_trunc for calendar."""
    c = F.col(ts) if isinstance(ts, str) else ts
    f = parse_frequency(freq)
    if f.kind == "duration":
        secs = f.seconds
        return F.timestamp_seconds(
            F.floor(epoch_seconds(c) / secs).cast("long") * secs
        )
    # calendar frequencies: month-truncation (+ year)
    if f.kind == "months" and f.n == 1:
        return F.date_trunc("month", c)
    if f.kind == "years" and f.n == 1:
        return F.date_trunc("year", c)
    raise ValueError(f"bucket_col: unsupported calendar multiple {freq!r}")


def raw_measures(len_col: str = "text_len") -> list[Column]:
    """Tier measures aggregated from page rows carrying a ``text_len``."""
    return [F.count("*").alias("crawl_count"), F.sum(len_col).alias("text_bytes")]


def merged_measures() -> list[Column]:
    """Tier measures re-aggregated from partial tier rows."""
    return [F.sum("crawl_count").alias("crawl_count"),
            F.sum("text_bytes").alias("text_bytes")]


def text_bytes_avg() -> Column:
    """Mean text size per page of a tier row."""
    return (F.col("text_bytes") / F.col("crawl_count")).alias("text_bytes_avg")


def rollup_pages(pages: DataFrame, tier: str = "1h") -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → tier table.

    Output: (lang, host, bucket_start, crawl_count, text_bytes,
    text_bytes_avg).
    """
    return rollup_projected(project_pages(pages), tier)


def project_pages(pages: DataFrame) -> DataFrame:
    """Column-prune pages to the rollup inputs: (lang, host, warc_ts,
    text_len), with text_len in UTF-8 bytes. At 100 TB this is the
    difference between shuffling/caching terabytes of html/text payload and
    a few GB of keys+lengths — do it BEFORE any persist or shuffle."""
    return pages.select(
        "lang",
        host_of(F.col("url")).alias("host"),
        "warc_ts",
        F.octet_length("text").alias("text_len"),
    )


def tier_partials(slim: DataFrame, tier: str = "1h") -> DataFrame:
    """(lang, host, bucket_start, crawl_count, text_bytes) over a
    ``project_pages`` frame: the tier rollup without its derived average."""
    return (
        slim.groupBy("lang", "host", bucket_col("warc_ts", tier).alias("bucket_start"))
        .agg(*raw_measures())
    )


def rollup_projected(slim: DataFrame, tier: str = "1h") -> DataFrame:
    """Tier rollup over a ``project_pages`` frame."""
    return tier_partials(slim, tier).select("*", text_bytes_avg())


def cascade_rollup(tier_df: DataFrame, to_tier: str, keys: Sequence[str] = ("lang", "host")) -> DataFrame:
    """Re-aggregate a finer tier into a coarser one (1h→1d, 1d→7d)."""
    return (
        tier_df.select(
            *keys,
            bucket_col("bucket_start", to_tier).alias("bucket_start"),
            "crawl_count",
            "text_bytes",
        )
        .groupBy(*keys, "bucket_start")
        .agg(*merged_measures())
        .select("*", text_bytes_avg())
    )


def rollup_events(
    events: DataFrame,
    tier: str = "1h",
    keys: Sequence[str] = ("event_type",),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Generic tier rollup over the driver's events table (oracle-friendly).

    Output: (keys…, bucket_start, n_events, value_sum, value_avg,
    value_min, value_max).
    """
    return (
        events.select(
            *keys,
            bucket_col(ts_col, tier).alias("bucket_start"),
            F.col(value_col).alias("__v"),
        )
        .groupBy(*keys, "bucket_start")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("__v").alias("value_sum"),
            F.avg("__v").alias("value_avg"),
            F.min("__v").alias("value_min"),
            F.max("__v").alias("value_max"),
        )
    )


def apply_retention(df: DataFrame, bucket_col_name: str, keep_after: str) -> DataFrame:
    """Retention policy: keep buckets >= keep_after (drop-older-than).

    On a real deployment this is an Iceberg partition-delete; as a DataFrame
    op it is a partition-prunable filter.
    """
    return df.filter(F.col(bucket_col_name) >= F.lit(keep_after).cast("timestamp"))
