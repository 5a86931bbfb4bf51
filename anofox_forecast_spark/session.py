"""SparkSession factory tuned for the engine.

Design targets a multi-executor cluster reading ~100 TB; the local[] master
is only the test harness. All scale-relevant knobs are set here once:

- AQE on (coalesce + skew-join splitting) — north-rule requirement.
- Arrow exchange on with a bounded batch size — every model/codec kernel is a
  vectorized pandas UDF; Arrow is the executor-JVM <-> Python-worker boundary.
- shuffle partitions sized for the harness; on a real cluster this is
  overridden by AQE (`spark.sql.adaptive.coalescePartitions.enabled`).
- Timestamps normalized to UTC (the reference uses chrono `DateTime<Utc>`;
  ref src/core/time_series.rs:163-174).
- DataFrame call-site capture off (`spark.python.sql.dataFrameDebugging.enabled`).
  With it on, PySpark wraps every Column/`functions` call so that it records
  the caller's frame in the JVM: about five py4j round trips per call. The
  frames it records are engine internals. A perfbench `series_batch`
  repetition (`local[4]`, 4-core x86) made 2,105-2,250 py4j calls and spent
  0.16-0.18 s of driver CPU with capture on, 1,150-1,381 calls and
  0.09-0.10 s with it off. `extra_conf` can turn it back on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "anofox-forecast-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
