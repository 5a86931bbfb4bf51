"""Incremental continuous-aggregate invariants (north rule):
re-rolled bucket == from-scratch bucket, late-data merge, idempotent
resume, retention partition drops, lineage/metrics rows."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from anofox_forecast_spark.rollup.incremental import IncrementalRollup
from anofox_forecast_spark.rollup.tiers import rollup_pages
from anofox_forecast_spark.sources.pages import synthesize_pages


def _checksum(df, cols):
    return df.agg(F.bit_xor(F.xxhash64(*cols))).collect()[0][0]


def test_incremental_equals_from_scratch(spark, tmp_path, non_ascii_pages):
    non_ascii, check_non_ascii = non_ascii_pages
    pages = synthesize_pages(spark, n_pages=8000, n_hosts=10, weeks=2).cache()
    # split by hash into three arrival batches, deliberately NOT time-ordered
    # (each batch spans the whole range → every batch has "late" rows)
    b1 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 0)
    b2 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 1)
    b3 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 2)

    inc = IncrementalRollup(spark, str(tmp_path / "agg"), "1h")
    r1 = inc.ingest(b1, "batch-1")
    r2 = inc.ingest(b2, "batch-2")
    r3 = inc.ingest(b3, "batch-3")
    r4 = inc.ingest(non_ascii, "batch-4")  # merges into batch 1-3 dates
    assert not any(r["skipped"] for r in (r1, r2, r3, r4))

    got = inc.read().select("lang", "host", "bucket_start", "crawl_count", "text_bytes")
    want = rollup_pages(pages.unionByName(non_ascii), "1h").select(
        "lang", "host", "bucket_start", "crawl_count", "text_bytes"
    )
    assert got.count() == want.count()
    cols = ["lang", "host", "bucket_start", "crawl_count", "text_bytes"]
    assert _checksum(got, cols) == _checksum(want, cols)
    check_non_ascii(got)


def test_ingest_idempotent(spark, tmp_path):
    pages = synthesize_pages(spark, n_pages=2000, n_hosts=5, weeks=1).cache()
    inc = IncrementalRollup(spark, str(tmp_path / "agg"), "1d")
    inc.ingest(pages, "b1")
    before = inc.read().agg(F.sum("crawl_count")).collect()[0][0]
    r = inc.ingest(pages, "b1")  # same batch id → resume skip
    assert r["skipped"]
    after = inc.read().agg(F.sum("crawl_count")).collect()[0][0]
    assert before == after == pages.count()



def test_ingest_leaves_session_overwrite_mode_alone(spark, tmp_path):
    """Dynamic partition overwrite is an option of the tier write, not a
    session setting: the session keeps static mode, and a second batch
    over other dates still keeps the first batch's partitions."""
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        pages = synthesize_pages(spark, n_pages=2000, n_hosts=5, weeks=2).cache()
        first_week = F.col("warc_ts") < F.lit("2024-01-08").cast("timestamp")
        inc = IncrementalRollup(spark, str(tmp_path / "agg"), "1d")
        inc.ingest(pages.filter(first_week), "b1")
        inc.ingest(pages.filter(~first_week), "b2")
        assert spark.conf.get(key) == "static"
        total = inc.read().agg(F.sum("crawl_count")).collect()[0][0]
    finally:
        spark.conf.set(key, old)
    assert total == pages.count()

def test_retention_drops_old_partitions(spark, tmp_path):
    pages = synthesize_pages(spark, n_pages=4000, n_hosts=5, weeks=3).cache()
    inc = IncrementalRollup(spark, str(tmp_path / "agg"), "1d")
    inc.ingest(pages, "b1")
    dates = sorted(
        r.d for r in inc.read().select(F.col("bucket_date").cast("string").alias("d")).distinct().collect()
    )
    cutoff = dates[len(dates) // 2]
    dropped = inc.apply_retention(cutoff)
    assert dropped == sum(1 for d in dates if d < cutoff)
    remaining = inc.read().select(F.min(F.col("bucket_date").cast("string"))).collect()[0][0]
    assert remaining >= cutoff


def test_lineage_and_metrics_written(spark, tmp_path):
    pages = synthesize_pages(spark, n_pages=2000, n_hosts=5, weeks=1).cache()
    inc = IncrementalRollup(spark, str(tmp_path / "agg"), "1h")
    inc.ingest(pages, "b1")
    lin = inc.lineage().toPandas()
    assert (lin["batch_id"] == "b1").all()
    assert (lin["stage"] == "rollup_1h").all()
    assert lin["rows"].sum() > 0
    met = inc.metrics().toPandas()
    assert set(met["metric"]) >= {"ingest_seconds", "partial_rows", "affected_partitions"}


def test_late_rows_update_only_their_bucket(spark, tmp_path):
    pages = synthesize_pages(spark, n_pages=3000, n_hosts=5, weeks=2).cache()
    inc = IncrementalRollup(spark, str(tmp_path / "agg"), "1h")
    inc.ingest(pages, "b1")
    # collect locally: a cached DataFrame over the parquet path would be
    # invalidated/refreshed by the overwrite during the second ingest
    snap_pdf = (
        inc.read().select("lang", "host", "bucket_start", "crawl_count").toPandas()
    )
    snapshot = spark.createDataFrame(snap_pdf)
    # a single late row into the earliest bucket of one series
    first = pages.orderBy("warc_ts").limit(1).collect()[0]
    late = spark.createDataFrame(
        [(first.url, first.warc_ts, first.html, first.text, first.lang)],
        pages.schema,
    )
    inc.ingest(late, "late-1")
    after = inc.read().select("lang", "host", "bucket_start", "crawl_count")
    changed = (
        snapshot.alias("a")
        .join(after.alias("b"), ["lang", "host", "bucket_start"])
        .filter(F.col("a.crawl_count") != F.col("b.crawl_count"))
        .count()
    )
    assert changed == 1  # exactly the late row's bucket
    assert after.count() == snapshot.count()
    total_delta = (
        after.agg(F.sum("crawl_count")).collect()[0][0]
        - snapshot.agg(F.sum("crawl_count")).collect()[0][0]
    )
    assert total_delta == 1


def test_crash_replay_does_not_double_count(spark, tmp_path):
    """Crash between tier write and batch-log append: the replay must see
    the per-partition __last_batch fingerprints and not merge the batch a
    second time (at-least-once delivery, exactly-once effect)."""
    import shutil

    pages = synthesize_pages(spark, n_pages=3000, n_hosts=5, weeks=1).cache()
    b1 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    b2 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 1)
    inc = IncrementalRollup(spark, str(tmp_path / "agg"), "1d")
    inc.ingest(b1, "b1")
    inc.ingest(b2, "b2")
    # simulate the crash: data for b2 is committed but its log append is lost
    shutil.rmtree(inc.batches_path)
    inc._log_batch("b1", 0)  # b1 survived in the log, b2 did not
    r = inc.ingest(b2, "b2")  # replay
    assert not r["skipped"] and r.get("replay_completed")
    total = inc.read().agg(F.sum("crawl_count")).collect()[0][0]
    assert total == pages.count()


def test_crash_replay_survives_interleaved_batch(spark, tmp_path):
    """ADVICE r2: a batch that lands on a partition BETWEEN a crash and the
    crashed batch's replay must not erase the replay guard. The
    __applied_log keeps the last 16 batch ids per partition, so the replay
    still recognizes its own stamp after the interleaved merge."""
    import shutil

    pages = synthesize_pages(spark, n_pages=3000, n_hosts=5, weeks=1).cache()
    b1 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 0)
    b2 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 1)
    b3 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 2)
    inc = IncrementalRollup(spark, str(tmp_path / "agg"), "1d")
    inc.ingest(b1, "b1")
    inc.ingest(b2, "b2")  # tier write lands ...
    # ... but b2's batch-log append is lost in a crash
    shutil.rmtree(inc.batches_path)
    inc._log_batch("b1", 0)
    # ANOTHER batch merges into the same partitions before the replay
    inc.ingest(b3, "b3")
    r = inc.ingest(b2, "b2")  # replay of the crashed batch
    assert not r["skipped"] and r.get("replay_completed")
    total = inc.read().agg(F.sum("crawl_count")).collect()[0][0]
    assert total == pages.count()


def test_crash_replay_survives_pre_r3_migration(spark, tmp_path):
    """Upgrading a table whose partitions carry only the old single
    __last_batch stamp must fold that stamp into the new __applied_log:
    a pre-upgrade batch whose log append was lost in a crash is still
    recognized on replay AFTER another batch has migrated the partitions
    to the log format (code-review r3 finding)."""
    import shutil

    pages = synthesize_pages(spark, n_pages=3000, n_hosts=5, weeks=1).cache()
    b1 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 0)
    b2 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 1)
    b3 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 2)
    inc = IncrementalRollup(spark, str(tmp_path / "agg"), "1d")
    inc.ingest(b1, "b1")
    inc.ingest(b2, "b2")  # tier write lands ...
    # rewrite the stored table into the PRE-R3 format: single __last_batch
    # stamp (the most recent batch), no __applied_log
    stored = (
        spark.read.option("mergeSchema", "true").parquet(inc.path)
        .drop("__applied_log")
        .withColumn("__last_batch", F.lit("b2"))
        .toPandas()
    )
    shutil.rmtree(inc.path)
    (
        spark.createDataFrame(stored)
        .withColumn("bucket_date", F.col("bucket_date").cast("date"))
        .repartition("bucket_date")
        .write.partitionBy("bucket_date").parquet(inc.path)
    )
    # ... and b2's batch-log append is lost in a crash
    shutil.rmtree(inc.batches_path)
    inc._log_batch("b1", 0)
    # an r3-format batch migrates the partitions to __applied_log
    inc.ingest(b3, "b3")
    r = inc.ingest(b2, "b2")  # replay of the crashed pre-upgrade batch
    assert not r["skipped"] and r.get("replay_completed")
    total = inc.read().agg(F.sum("crawl_count")).collect()[0][0]
    assert total == pages.count()
