"""Salted two-level aggregation for hot-key skew (north-rule requirement).

A Zipf host distribution puts a large share of raw rows under one
(lang, host). The tier group-by key includes bucket_start, which already
spreads a hot host across its time buckets — but a host that is hot
WITHIN one bucket (bursty crawl) still lands every row in one reduce task.

``salted_rollup`` breaks that: level 1 aggregates by
(keys…, bucket, salt = hash(row) mod S) — map-side combine plus S-way
spread of the reducer for the hot key — and level 2 re-aggregates the
S partials per (keys…, bucket). Counts/sums are associative, so the
result is exactly the plain rollup (checksum-tested); only the shuffle
layout changes. AQE's skew handling covers sort-merge JOINS; aggregation
skew needs this manual pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anofox_forecast_spark.rollup.tiers import (
    bucket_col,
    merged_measures,
    raw_measures,
    text_bytes_avg,
)


def salted_rollup(
    slim: DataFrame,
    tier: str = "1h",
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-hardened twin of ``rollup_projected``: same output schema and
    rows, with the tier measures of ``rollup.tiers`` at both levels."""
    salted = slim.select(
        "lang",
        "host",
        bucket_col("warc_ts", tier).alias("bucket_start"),
        F.col("text_len"),
        F.pmod(
            F.xxhash64("warc_ts", F.monotonically_increasing_id()), F.lit(salt_buckets)
        ).alias("__salt"),
    )
    partial = salted.groupBy("lang", "host", "bucket_start", "__salt").agg(*raw_measures())
    return (
        partial.groupBy("lang", "host", "bucket_start")
        .agg(*merged_measures())
        .select("*", text_bytes_avg())
    )
