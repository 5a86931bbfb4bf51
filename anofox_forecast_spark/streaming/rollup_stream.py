"""Structured Streaming tier rollup (optional path; SURVEY §2.14).

The north rule's continuous aggregates are batch-incremental
(rollup.incremental), which is the right model for snapshot-based
reprocessing. This module is the *streaming* expression of the same
rollup for live ingestion: tumbling event-time windows with a watermark
for late data, producing the identical tier schema.

    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(dir)
    tier = streaming_rollup(stream, "1h", watermark="2 hours")
    q = tier.writeStream.outputMode("append")...

Late rows inside the watermark update their window; rows later than the
watermark are dropped by the engine (the batch-incremental path is the
catch-all for those, via re-ingest of the affected buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anofox_forecast_spark.core.frequency import parse_frequency
from anofox_forecast_spark.rollup.tiers import project_pages, raw_measures, text_bytes_avg

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def streaming_rollup(
    pages_stream: DataFrame,
    tier: str = "1h",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time window aggregate over a pages stream.

    Output: the ``rollup_pages`` tier table (lang, host, bucket_start,
    crawl_count, text_bytes, text_bytes_avg), with the measures of
    ``rollup.tiers`` grouped by window instead of bucket.
    """
    f = parse_frequency(tier)
    if f.kind != "duration":
        raise ValueError("streaming tiers require duration frequencies")
    win = F.window(F.col("warc_ts"), f.window_duration())
    return (
        project_pages(pages_stream.withWatermark("warc_ts", watermark))
        .groupBy("lang", "host", win)
        .agg(*raw_measures())
        .select(
            "lang", "host",
            F.col("window.start").alias("bucket_start"),
            "crawl_count", "text_bytes", text_bytes_avg(),
        )
    )
