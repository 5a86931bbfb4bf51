"""spark-submit entrypoint: the full north-rule pipeline as one job.

    spark-submit --master local[N] --py-files dist/anofox_forecast_spark.zip \
        jobs/pipeline_job.py --pages 1000000 --hosts 500 --weeks 8

Stages (each timed; one JSON line on stdout):
  synthesize → 1h rollup → 1d cascade → 7d cascade → one-pass gap-fill (LOCF)
  → grouped-map forecast (seasonal_naive, ses, theta) → Gorilla compress.

Designed so the identical job runs at two parallelism levels (N and 4N
cores) for the scaling-efficiency evidence: shuffle partitioning is fixed
(default 64) so only executor parallelism varies between runs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=1_000_000)
    ap.add_argument("--hosts", type=int, default=500)
    ap.add_argument("--weeks", type=int, default=8)
    ap.add_argument("--shuffle-partitions", type=int, default=64)
    ap.add_argument("--cpus", type=int, default=None,
                    help="build local[N] session (omit under spark-submit)")
    ap.add_argument("--repeat", type=int, default=1,
                    help="run the measured section N times; report the last "
                         "(steady-state: Python workers warm, JIT done)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    if args.cpus:
        from anofox_forecast_spark.session import get_spark

        spark = get_spark("pipeline-job", cpus=args.cpus,
                          shuffle_partitions=args.shuffle_partitions)
    else:
        spark = SparkSession.builder.getOrCreate()
        spark.conf.set("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
        spark.conf.set("spark.sql.session.timeZone", "UTC")

    from anofox_forecast_spark.bench_util import checksum_count
    from anofox_forecast_spark.compression.gorilla import compress_chunks
    from anofox_forecast_spark.core.gapfill import fill_gaps
    from anofox_forecast_spark.models.harness import forecast
    from anofox_forecast_spark.rollup.tiers import (
        cascade_rollup,
        project_pages,
        rollup_projected,
    )
    from anofox_forecast_spark.sources.pages import synthesize_pages

    timings: dict[str, float] = {}
    counts: dict[str, int] = {}

    def timed(name, fn):
        t0 = time.perf_counter()
        out = fn()
        timings[name] = round(time.perf_counter() - t0, 3)
        return out

    # persist only the projected columns — caching raw html/text payloads
    # for a rollup job is exactly the waste column pruning exists to avoid
    pages = project_pages(
        synthesize_pages(spark, n_pages=args.pages, n_hosts=args.hosts,
                         weeks=args.weeks)
    ).persist()
    counts["raw"] = timed("synthesize", pages.count)

    # Each measured stage runs against its true MATERIALIZED input (the
    # tier tables a production pipeline would read), so the timing isolates
    # that stage's work. The cached tier frames carry a no-op marker column
    # so the measured rollup stages don't plan-match the cache.
    t1h_cached = (
        rollup_projected(pages, "1h").withColumn("__mk", F.lit(1)).drop("__mk").persist()
    )
    t1h_cached.count()
    t1d_cached = (
        cascade_rollup(t1h_cached, "1d").withColumn("__mk", F.lit(1)).drop("__mk").persist()
    )
    t1d_cached.count()

    series_1h = t1h_cached.select(
        "lang", "host", "bucket_start", F.col("crawl_count").cast("double").alias("y"))
    series_1d = t1d_cached.select(
        "lang", "host", "bucket_start", F.col("crawl_count").cast("double").alias("y"))

    def gapfill_job():
        return checksum_count(fill_gaps(
            series_1h, ["lang", "host"], "bucket_start", ["y"], "1h", method="locf"))

    def forecast_job():
        return checksum_count(
            forecast(series_1d, ["lang", "host"], "bucket_start", "y",
                     models=["seasonal_naive", "ses", "theta"],
                     horizon=14, freq="1d", season_length=7))

    def compress_job():
        return checksum_count(
            compress_chunks(series_1d, ["lang", "host"], "bucket_start",
                            "y", chunk_freq="28d"))

    synth_sec = timings["synthesize"]
    for _ in range(max(args.repeat, 1)):
        timings.clear()
        timings["synthesize"] = synth_sec
        counts["t1h"] = timed("rollup_1h",
                              lambda: checksum_count(rollup_projected(pages, "1h")))
        counts["t1d"] = timed("rollup_1d",
                              lambda: checksum_count(cascade_rollup(t1h_cached, "1d")))
        counts["t7d"] = timed("rollup_7d",
                              lambda: checksum_count(cascade_rollup(t1d_cached, "7d")))
        counts["gapfilled"] = timed("gapfill_1h", gapfill_job)
        counts["forecast_rows"] = timed("forecast_1d", forecast_job)
        counts["chunks"] = timed("compress_28d", compress_job)

    work = round(sum(v for k, v in timings.items() if k != "synthesize"), 3)
    rolled = counts["t1h"] + counts["t1d"] + counts["t7d"]
    n_series = counts["chunks"] and t1d_cached.select("lang", "host").distinct().count()
    print(json.dumps({
        "cores": spark.sparkContext.defaultParallelism,
        "timings": timings,
        "counts": counts,
        "work_seconds": work,
        "rolled_points": rolled,
        "rolled_points_per_sec": round(rolled / (timings["rollup_1h"] + timings["rollup_1d"] + timings["rollup_7d"])),
        "forecast_series_per_sec": round(3 * n_series / timings["forecast_1d"]) if n_series else 0,
    }))


if __name__ == "__main__":
    main()
