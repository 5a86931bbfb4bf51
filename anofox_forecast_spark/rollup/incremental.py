"""Incremental continuous aggregates: merge-by-bucket, resume, retention,
lineage + metrics tables.

North-rule semantics (BASELINE.json): tier tables are *continuous
aggregates* maintained incrementally from arriving batches, keyed on
(series key…, bucket_start); the job is resumable from checkpoints; every
ingest writes per-partition lineage and metrics rows.

Design (all public Spark; on an Iceberg deployment the partition-overwrite
becomes ``MERGE INTO`` and the batch-watermark table becomes the snapshot
log — semantics identical):

- Storage: one parquet dataset per tier, hive-partitioned by
  ``bucket_date`` (the date of ``bucket_start``). Partition pruning makes
  bucket-scoped rewrites touch only affected dates.
- Ingest: the incoming raw batch is rolled up to per-(key, bucket)
  *partials* (count + sum re-aggregate associatively — the only state the
  merge needs). Affected partitions = distinct bucket_dates of the
  partials; existing rows of those partitions are unioned with the
  partials and re-aggregated, then written back with dynamic partition
  overwrite (untouched dates are never rewritten or read). The mode is a
  per-write option; the session's ``partitionOverwriteMode`` is not touched.
- Late / out-of-order data: handled by construction — a late row maps to
  its (old) bucket and merges into it; re-rolled bucket == from-scratch
  bucket (tested invariant).
- Resume / idempotence: two layers.
  (1) a batch id log (parquet) records fully-applied batches; re-ingesting
      a logged batch is a no-op (log written last, checked first).
  (2) every tier row carries an ``__applied_log`` fingerprint — the last
      ``APPLIED_LOG_DEPTH`` (16) batch ids merged into its partition,
      stamped at write time. When a crash lands between the tier write and
      the log append, the replay consults the affected partitions' logs
      and merges ONLY into partitions whose log does not already contain
      this batch_id — so a replayed batch does not double-count even when
      the (non-atomic) dynamic partition overwrite completed for some
      partitions and not others, and even when up to 15 OTHER batches
      merged into the partition between the crash and the replay (the r2
      single-stamp variant lost the guard in that interleaving). Beyond
      depth−1 intervening writers the guard degrades to the batch log (1);
      Atomicity *within* one partition rewrite still relies on the
      file-output commit; a true all-or-nothing commit is what the
      Iceberg MERGE backend would add.
- Retention: drop partitions with bucket_date < cutoff (partition-level
  delete; no data rewrite).

At 100 TB: partials are one hash aggregate over the batch (shuffle by the
full group key); the merge reads only the affected dates (partition
pruning), so ingest cost is O(batch + affected-buckets), never O(table).
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from anofox_forecast_spark.rollup.tiers import (
    merged_measures,
    project_pages,
    text_bytes_avg,
    tier_partials,
)

#: series key of the tier table (the ``project_pages`` keys)
KEYS = ("lang", "host")


class IncrementalRollup:
    """A continuous-aggregate tier table maintained incrementally."""

    def __init__(self, spark: SparkSession, base_path: str, tier: str) -> None:
        self.spark = spark
        self.tier = tier
        self.path = os.path.join(base_path, f"tier={tier}")
        self.batches_path = os.path.join(base_path, "_state", f"batches_{tier}")
        self.lineage_path = os.path.join(base_path, "lineage")
        self.metrics_path = os.path.join(base_path, "metrics")

    # ------------------------------------------------------------ state

    def applied_batches(self) -> set[str]:
        if not os.path.exists(self.batches_path):
            return set()
        return {
            r.batch_id
            for r in self.spark.read.parquet(self.batches_path).select("batch_id").collect()
        }

    def _log_batch(self, batch_id: str, n_rows: int) -> None:
        self.spark.createDataFrame(
            [(batch_id, self.tier, n_rows, float(time.time()))],
            "batch_id string, tier string, rows long, applied_at double",
        ).write.mode("append").parquet(self.batches_path)

    def _append_lineage(self, batch_id: str, stage: str, per_partition: DataFrame) -> None:
        (
            per_partition.select(
                F.lit(batch_id).alias("batch_id"),
                F.col("partition"),
                F.lit(stage).alias("stage"),
                F.col("rows").cast("long"),
                F.current_timestamp().alias("ts"),
            )
            .write.mode("append")
            .parquet(self.lineage_path)
        )

    def _append_metrics(self, run_id: str, rows: list[tuple[str, str, float]]) -> None:
        self.spark.createDataFrame(
            [(run_id, p, m, float(v)) for p, m, v in rows],
            "run_id string, partition string, metric string, value double",
        ).write.mode("append").parquet(self.metrics_path)

    # ------------------------------------------------------------ core

    def _partials(self, batch: DataFrame) -> DataFrame:
        return (tier_partials(project_pages(batch), self.tier)
                .withColumn("bucket_date", F.to_date("bucket_start")))

    #: replay-guard depth: a partition remembers the last N batch ids that
    #: merged into it, so a crashed batch's replay is still recognized even
    #: if up to N−1 OTHER batches touched the partition in between (the r2
    #: single-stamp guard double-counted in that interleaving; ADVICE r2).
    APPLIED_LOG_DEPTH = 16

    def read(self) -> DataFrame:
        df = self.spark.read.parquet(self.path)
        for aux in ("__last_batch", "__applied_log"):
            if aux in df.columns:
                df = df.drop(aux)
        return df.select("*", text_bytes_avg())

    def ingest(self, batch: DataFrame, batch_id: str | None = None) -> dict:
        """Merge one raw pages batch into the tier table. Idempotent per
        batch_id; returns ingest stats."""
        batch_id = batch_id or uuid.uuid4().hex
        if batch_id in self.applied_batches():
            return {"batch_id": batch_id, "skipped": True}

        t0 = time.perf_counter()
        partials = self._partials(batch).persist()
        affected = [r.bucket_date for r in partials.select("bucket_date").distinct().collect()]
        n_partial = partials.count()

        scoped = None
        if os.path.exists(self.path) and affected:
            dates = ",".join(f"'{d}'" for d in affected)
            # mergeSchema: after a partial r2→r3 migration some partitions
            # carry only __last_batch and others only __applied_log; plain
            # parquet inference picks ONE arbitrary file's schema and could
            # hide whichever guard column it missed — merge so both are
            # always visible (null where a file lacks them).
            scoped = (
                self.spark.read.option("mergeSchema", "true")
                .parquet(self.path)
                .filter(F.expr(f"bucket_date IN ({dates})"))
            )
            # crash-replay guard: partitions whose applied-batch log already
            # contains this batch_id absorbed it before the crash — merge
            # only the rest. The log keeps the last APPLIED_LOG_DEPTH ids,
            # so the guard survives other batches landing between the crash
            # and the replay (up to depth−1 interleaved writers). Pre-r3
            # partitions are recognized via their single __last_batch stamp.
            conds = []
            if "__applied_log" in scoped.columns:
                conds.append(F.array_contains(F.col("__applied_log"), batch_id))
            if "__last_batch" in scoped.columns:
                conds.append(F.col("__last_batch") == batch_id)
            if conds:
                cond = conds[0]
                for c in conds[1:]:
                    cond = cond | c
                stamped = scoped.filter(cond)
            else:
                stamped = scoped.limit(0)
            done_dates = {
                r.bucket_date
                for r in stamped.select("bucket_date").distinct().collect()
            }
            merge_dates = [d for d in affected if d not in done_dates]
            if not merge_dates:
                partials.unpersist()
                self._log_batch(batch_id, n_partial)
                return {"batch_id": batch_id, "skipped": False,
                        "partial_rows": n_partial, "replay_completed": True,
                        "affected_partitions": 0, "seconds": 0.0}
            mdates = ",".join(f"'{d}'" for d in merge_dates)
            existing = scoped.filter(F.expr(f"bucket_date IN ({mdates})"))
            merged = (
                existing.select(*KEYS, "bucket_start", "crawl_count",
                                "text_bytes", "bucket_date")
                .unionByName(
                    partials.filter(F.expr(f"bucket_date IN ({mdates})"))
                )
                .groupBy(*KEYS, "bucket_start", "bucket_date")
                .agg(*merged_measures())
            )
        else:
            merged = partials
        # per-partition applied-batch log: old log (any row of the partition
        # — whole partitions are written atomically, so rows agree) with
        # this batch prepended, truncated to depth. Reuses the already-
        # filtered `scoped` frame (one read per ingest, not two); a pre-r3
        # partition's lone __last_batch stamp is folded in as the log seed
        # so the migration doesn't drop its replay guard.
        old_logs: dict = {}
        if scoped is not None:
            aggs = []
            if "__applied_log" in scoped.columns:
                aggs.append(F.first("__applied_log").alias("log"))
            if "__last_batch" in scoped.columns:
                aggs.append(F.first("__last_batch").alias("last"))
            if aggs:
                for r in scoped.groupBy("bucket_date").agg(*aggs).collect():
                    log = list(getattr(r, "log", None) or [])
                    last = getattr(r, "last", None)
                    if last is not None and last not in log:
                        log.append(last)
                    old_logs[r.bucket_date] = log
        new_logs = [
            (d, ([batch_id] + old_logs.get(d, []))[: self.APPLIED_LOG_DEPTH])
            for d in affected
        ]
        log_df = self.spark.createDataFrame(
            new_logs, "bucket_date date, __applied_log array<string>"
        )
        (
            merged.join(F.broadcast(log_df), "bucket_date", "left")
            .withColumn(
                "__applied_log",
                F.coalesce(F.col("__applied_log"), F.array(F.lit(batch_id))),
            )
            .repartition("bucket_date")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket_date")
            .parquet(self.path)
        )

        per_part = (
            partials.groupBy(F.col("bucket_date").cast("string").alias("partition"))
            .agg(F.count("*").alias("rows"))
        )
        self._append_lineage(batch_id, f"rollup_{self.tier}", per_part)
        elapsed = time.perf_counter() - t0
        self._append_metrics(
            batch_id,
            [("*", "ingest_seconds", elapsed),
             ("*", "partial_rows", float(n_partial)),
             ("*", "affected_partitions", float(len(affected)))],
        )
        partials.unpersist()
        # the batch log is written LAST: a crash before this line replays
        # the batch on resume; after it, re-ingest is a no-op
        self._log_batch(batch_id, n_partial)
        return {
            "batch_id": batch_id,
            "skipped": False,
            "partial_rows": n_partial,
            "affected_partitions": len(affected),
            "seconds": elapsed,
        }

    def apply_retention(self, keep_after: str) -> int:
        """Drop whole partitions older than ``keep_after`` (YYYY-MM-DD)."""
        import shutil

        dropped = 0
        if not os.path.exists(self.path):
            return 0
        for entry in os.listdir(self.path):
            if entry.startswith("bucket_date=") and entry.split("=", 1)[1] < keep_after:
                shutil.rmtree(os.path.join(self.path, entry))
                dropped += 1
        return dropped

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(self.lineage_path)

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(self.metrics_path)
