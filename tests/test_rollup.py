"""Rollup tier tests: bucket alignment, cascade consistency, pages pipeline."""

from __future__ import annotations

from pyspark.sql import functions as F

from anofox_forecast_spark.rollup import (
    cascade_rollup,
    rollup_events,
    rollup_pages,
)
from anofox_forecast_spark.sources.pages import synthesize_pages


def test_rollup_events_1h_matches_manual(spark):
    events = spark.createDataFrame(
        [
            ("a", "2024-01-01 00:10:00", 1.0),
            ("a", "2024-01-01 00:50:00", 3.0),
            ("a", "2024-01-01 01:05:00", 5.0),
            ("b", "2024-01-01 00:30:00", 7.0),
        ],
        "event_type string, ts_s string, value double",
    ).select("event_type", F.to_timestamp("ts_s").alias("ts"), "value")
    out = {
        (r.event_type, r.bucket_start.hour): (r.n_events, r.value_sum)
        for r in rollup_events(events, "1h").collect()
    }
    assert out[("a", 0)] == (2, 4.0)
    assert out[("a", 1)] == (1, 5.0)
    assert out[("b", 0)] == (1, 7.0)


def test_pages_rollup_and_cascade(spark):
    pages = synthesize_pages(spark, n_pages=5_000, n_hosts=20, weeks=2, seed=42)
    t1h = rollup_pages(pages, "1h").cache()
    t1d = cascade_rollup(t1h, "1d")
    t7d = cascade_rollup(t1d, "7d")

    # invariant: total crawl_count identical at every tier == raw row count
    raw = pages.count()
    assert t1h.agg(F.sum("crawl_count")).collect()[0][0] == raw
    assert t1d.agg(F.sum("crawl_count")).collect()[0][0] == raw
    assert t7d.agg(F.sum("crawl_count")).collect()[0][0] == raw

    # cascade == direct rollup at the coarser tier
    direct_1d = rollup_pages(pages, "1d")
    joined = t1d.alias("c").join(
        direct_1d.alias("d"),
        on=["lang", "host", "bucket_start"],
        how="full",
    )
    mismatches = joined.filter(
        (F.col("c.crawl_count") != F.col("d.crawl_count"))
        | F.col("c.crawl_count").isNull()
        | F.col("d.crawl_count").isNull()
    ).count()
    assert mismatches == 0

    # bucket starts aligned to tier width
    misaligned = t1d.filter(
        F.unix_timestamp("bucket_start") % 86400 != 0
    ).count()
    assert misaligned == 0


def test_pages_synth_deterministic(spark):
    a = synthesize_pages(spark, n_pages=1_000, n_hosts=10, weeks=1, seed=42)
    b = synthesize_pages(spark, n_pages=1_000, n_hosts=10, weeks=1, seed=42)
    ha = a.agg(F.bit_xor(F.xxhash64("url", "warc_ts", "text", "lang"))).collect()[0][0]
    hb = b.agg(F.bit_xor(F.xxhash64("url", "warc_ts", "text", "lang"))).collect()[0][0]
    assert ha == hb


def test_pages_text_byte_identity(spark):
    # html embeds text; text must round-trip byte-identical (north-rule invariant)
    pages = synthesize_pages(spark, n_pages=500, n_hosts=5, weeks=1)
    bad = pages.filter(
        F.sha2(F.decode(F.col("html"), "UTF-8"), 256)
        != F.sha2(F.concat(F.lit("<html>"), F.col("text"), F.lit("</html>")), 256)
    ).count()
    assert bad == 0


def test_salted_rollup_equals_plain(spark, non_ascii_pages):
    from anofox_forecast_spark.rollup.salted import salted_rollup
    from anofox_forecast_spark.rollup.tiers import project_pages, rollup_projected

    non_ascii, check_non_ascii = non_ascii_pages
    for pages in (synthesize_pages(spark, n_pages=6000, n_hosts=5, weeks=1), non_ascii):
        slim = project_pages(pages)
        plain = rollup_projected(slim, "1h")
        salted = salted_rollup(slim, "1h", salt_buckets=8)
        cols = ["lang", "host", "bucket_start", "crawl_count", "text_bytes"]
        assert plain.count() == salted.count()
        a = plain.agg(F.bit_xor(F.xxhash64(*cols))).collect()[0][0]
        b = salted.agg(F.bit_xor(F.xxhash64(*cols))).collect()[0][0]
        assert a == b
    check_non_ascii(plain)
    check_non_ascii(salted)
