"""Structured Streaming tier rollup: file-source stream → memory sink."""

from __future__ import annotations

from pyspark.sql import functions as F

from anofox_forecast_spark.rollup.tiers import rollup_pages
from anofox_forecast_spark.sources.pages import synthesize_pages
from anofox_forecast_spark.streaming import streaming_rollup
from anofox_forecast_spark.streaming.rollup_stream import PAGES_DDL


def test_streaming_rollup_matches_batch(spark, tmp_path, non_ascii_pages):
    non_ascii, check_non_ascii = non_ascii_pages
    pages = synthesize_pages(spark, n_pages=3000, n_hosts=5, weeks=1).unionByName(non_ascii)
    src = str(tmp_path / "pages_stream")
    pages.write.parquet(src)

    stream = spark.readStream.schema(PAGES_DDL).parquet(src)
    tier = streaming_rollup(stream, "1h", watermark="1 hour")
    assert tier.isStreaming

    q = (
        tier.writeStream.format("memory")
        .queryName("t1h_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.sql("select * from t1h_stream")
    want = rollup_pages(pages, "1h")
    assert got.count() == want.count()
    cols = ["lang", "host", "bucket_start", "crawl_count", "text_bytes"]
    ga = got.agg(F.bit_xor(F.xxhash64(*cols))).collect()[0][0]
    wa = want.agg(F.bit_xor(F.xxhash64(*cols))).collect()[0][0]
    assert ga == wa
    check_non_ascii(got)


def test_stateful_ses_level_matches_batch_kernel(spark, tmp_path):
    """applyInPandasWithState SES fold over a two-batch stream == the batch
    SES level over the concatenated series (state carries across
    micro-batches)."""
    import datetime as dt

    import numpy as np

    from anofox_forecast_spark.models.kernels import ses
    from anofox_forecast_spark.streaming.stateful import streaming_ses_level

    rng = np.random.default_rng(11)
    t0 = dt.datetime(2024, 1, 1)
    y = 50 + rng.normal(0, 5, 40)
    rows = [("a", t0 + dt.timedelta(hours=i), float(v)) for i, v in enumerate(y)]
    src = str(tmp_path / "ses_stream")
    ddl = "sid string, ts timestamp, y double"
    # two files → availableNow processes them as (up to) separate batches
    spark.createDataFrame(rows[:25], ddl).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows[25:], ddl).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(src)
    out = streaming_ses_level(stream, ["sid"], "ts", "y", alpha=0.3)
    q = (
        out.writeStream.format("memory").queryName("ses_state")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    got = (
        spark.sql("select * from ses_state where n_points = 40")
        .collect()
    )
    assert len(got) == 1
    batch_level = ses(y, 1, alpha=0.3).yhat[0]  # SES forecast == final level
    assert abs(got[0].level - batch_level) < 1e-9


def test_streaming_exact_dedup(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps exactly one row per content
    hash across micro-batches; distinct content all passes through."""
    import datetime as dt

    from anofox_forecast_spark.streaming import streaming_exact_dedup

    t0 = dt.datetime(2024, 1, 1)
    texts = [f"unique document number {i}" for i in range(20)]
    rows = [(i, t0 + dt.timedelta(minutes=i), texts[i]) for i in range(20)]
    # duplicates of docs 0..9 arriving a few minutes later (same batch or next)
    rows += [(100 + i, t0 + dt.timedelta(minutes=25 + i), texts[i]) for i in range(10)]
    ddl = "doc_id long, ts timestamp, text string"
    src = str(tmp_path / "docs_stream")
    # two files → availableNow may process as separate micro-batches; the
    # hash state must carry across them
    spark.createDataFrame(rows[:15], ddl).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows[15:], ddl).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(ddl).parquet(src)
    deduped = streaming_exact_dedup(stream, watermark="2 hours")
    assert deduped.isStreaming
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)

    got = spark.sql("select * from dedup_stream").toPandas()
    assert len(got) == 20  # one survivor per distinct text
    assert sorted(got["text"].tolist()) == sorted(texts)
    assert got["content_hash"].nunique() == 20


def test_streaming_minhash_near_dups(spark, tmp_path):
    """Near-dup pairs surface across micro-batches: a batch-2 document
    near-identical to a batch-1 document is paired with the batch-1
    anchor; unrelated documents never pair."""
    import datetime as dt

    from anofox_forecast_spark.streaming import streaming_minhash_near_dups

    t0 = dt.datetime(2024, 1, 1)
    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep dark forest tonight")
    near = base.replace("tonight", "tomorrow")
    other = ("completely different content about spark rollup tiers and "
             "continuous aggregates with watermarks and state stores")
    b1 = [(0, t0, base), (1, t0 + dt.timedelta(minutes=1), other)]
    b2 = [(2, t0 + dt.timedelta(minutes=10), near),
          (3, t0 + dt.timedelta(minutes=11), "tiny doc")]
    ddl = "doc_id long, ts timestamp, text string"
    src = str(tmp_path / "neardup_stream")
    spark.createDataFrame(b1, ddl).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(b2, ddl).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(ddl).parquet(src)
    pairs = streaming_minhash_near_dups(stream, watermark="2 hours")
    assert pairs.isStreaming
    q = (
        pairs.writeStream.format("memory").queryName("neardup_pairs")
        .outputMode("append").trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_nd"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "select distinct anchor_id, dup_id from neardup_pairs").toPandas()
    found = set(map(tuple, got.to_numpy()))
    assert (0, 2) in found          # cross-batch near-dup anchored at 0
    bad = {p for p in found if 1 in p or 3 in p}
    assert not bad, f"unrelated docs paired: {bad}"
