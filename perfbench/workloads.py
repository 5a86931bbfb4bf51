"""The four benchmark workloads.

Each workload builds its inputs from the seed (``build_inputs``), then
runs one repetition per call to ``rep``. The first ``WARM_REPS``
repetitions are warm-up and are charged to set-up; the outputs of
repetition 0 become the reference every later repetition must reproduce. Engine calls go through the public functions
of ``sources``, ``rollup.tiers``, ``rollup.incremental``, ``core.gapfill``,
``models``, ``compression`` and ``webtext.{dedup,lm,similarity}`` only.

Every engine call runs inside ``ctx.op(layer)``: that opens the layer's
trace span and counts one attempted operation; a raised exception or a
failed correctness check marks the operation failed.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

KEYS = ["lang", "host"]
MODELS = ["seasonal_naive", "ses", "theta"]


@dataclass
class Forced:
    rows: int
    checksum: int
    sums: tuple


def force(df, *sums) -> Forced:
    """Evaluate every column of ``df`` in one job: row count, an
    order-independent ``bit_xor(xxhash64(*cols))`` checksum (bit_xor: a
    summed hash overflows under ANSI mode) and the sum of each extra
    column expression."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*df.columns)).alias("chk"),
        *[F.sum(s).alias(f"s{i}") for i, s in enumerate(sums)],
    ).collect()[0]
    return Forced(int(row["n"]), int(row["chk"] or 0),
                  tuple(row[f"s{i}"] for i in range(len(sums))))


@dataclass
class RepOut:
    """One repetition: work items done, timed seconds, named sub-timings."""

    items: float
    op_s: float
    parts: dict = field(default_factory=dict)


class Op:
    def __init__(self, ctx: "Ctx", span) -> None:
        self.ctx = ctx
        self.span = span
        self.failed = False

    def check(self, ok: bool, what: str) -> None:
        if not ok and not self.failed:
            self.failed = True
            self.ctx.failed += 1
            self.ctx.failures.append(what)


class Ctx:
    """Run state shared by a workload: session, seed, tracer, op counts."""

    def __init__(self, spark, seed: int, tracer, workdir: str, clock) -> None:
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.workdir = workdir
        self.clock = clock
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.refs: dict = {}

    @contextmanager
    def op(self, layer: str):
        self.attempted += 1
        with self.tracer.span(layer) as span:
            op = Op(self, span)
            try:
                yield op
            except Exception as e:
                op.check(False, f"{layer}: {type(e).__name__}: {e}")
                raise

    def same_as_first(self, op: Op, key, value) -> None:
        """Every repetition must reproduce the warm-up's ``value``."""
        ref = self.refs.setdefault(key, value)
        op.check(ref == value, f"{key}: {value!r} != first repetition {ref!r}")

    def timed(self, fn):
        t = self.clock()
        out = fn()
        return out, self.clock() - t


class Workload:
    """Interface of a workload; subclasses set ``name`` and implement
    ``build_inputs``, ``release``, ``rep`` and ``summary``."""

    name = ""
    #: repetitions run as warm-up and charged to set-up; the first one is
    #: the reference later repetitions must reproduce
    WARM_REPS = 1
    #: measured repetitions a run makes even when ``--seconds`` is over
    MIN_REPS = 1

    def finish(self, ctx: Ctx) -> dict:
        """Untimed end-of-run checks; returns extra named metrics."""
        return {}

    def latencies(self, reps: list[RepOut]) -> list[float]:
        """The samples ``op_p50_s`` is the median of."""
        return [r.op_s for r in reps]


# --------------------------------------------------------------------------
# tiers_batch


class TiersBatch(Workload):
    """1h -> 1d -> 7d tier stack over cached, Zipf-skewed pages."""

    name = "tiers_batch"
    PAGES, HOSTS, WEEKS = 300_000, 500, 8
    # JVM-only repetitions keep speeding up (JIT) for the first five or
    # so; measuring inside that ramp made runs disagree by 20 %
    WARM_REPS = 5
    # short repetitions vary by ~5 % each; the median of seven keeps that
    # out of the run-to-run spread
    MIN_REPS = 7

    def __init__(self) -> None:
        self.pages = None

    def build_inputs(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        from anofox_forecast_spark.sources.pages import synthesize_pages

        with ctx.tracer.span("sources"):
            self.pages = synthesize_pages(ctx.spark, n_pages=self.PAGES, n_hosts=self.HOSTS,
                                          weeks=self.WEEKS, seed=ctx.seed).persist()
            raw = force(self.pages, F.length("text"))
        self.raw = (raw.rows, raw.sums[0])

    def release(self) -> None:
        if self.pages is not None:
            self.pages.unpersist()

    def rep(self, ctx: Ctx, i: int) -> RepOut:
        from anofox_forecast_spark.rollup.tiers import cascade_rollup, rollup_pages

        t0 = ctx.clock()
        rows = 0
        frames = []
        prev = None
        for tier in ("1h", "1d", "7d"):
            with ctx.op("rollup.tiers") as op:
                df = rollup_pages(self.pages, tier) if prev is None else cascade_rollup(prev, tier)
                if tier != "7d":
                    df = df.persist()
                    frames.append(df)
                f = force(df, "crawl_count", "text_bytes")
                op.span.add("rows_out", f.rows)
            # crawl_count and text_bytes are conserved raw -> 1h -> 1d -> 7d
            op.check(f.sums == self.raw, f"{tier} sums {f.sums} != raw {self.raw}")
            ctx.same_as_first(op, ("tiers", tier), (f.rows, f.checksum))
            rows += f.rows
            prev = df
        op_s = ctx.clock() - t0
        for df in frames:
            df.unpersist()
        return RepOut(items=rows, op_s=op_s)

    def summary(self, reps: list[RepOut]) -> dict:
        return {"rolled_points_per_s": (rate(reps), "1/s")}


# --------------------------------------------------------------------------
# series_batch


class SeriesBatch(Workload):
    """Gap-fill, three-model forecast and Gorilla compression over many
    short (lang, host) series; the Arrow/Python boundary dominates."""

    name = "series_batch"
    PAGES, HOSTS, WEEKS = 24_000, 60, 2
    HORIZON = 14
    # repetitions speed up by ~15 % over the first three (Python workers
    # and JIT); a median taken inside that ramp moves with its pace
    WARM_REPS = 3

    def __init__(self) -> None:
        self.y1h = self.y1d = None

    def build_inputs(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        from anofox_forecast_spark.rollup.tiers import cascade_rollup, rollup_pages
        from anofox_forecast_spark.sources.pages import synthesize_pages

        with ctx.tracer.span("sources"):
            pages = synthesize_pages(ctx.spark, n_pages=self.PAGES, n_hosts=self.HOSTS,
                                     weeks=self.WEEKS, seed=ctx.seed)
            t1h = rollup_pages(pages, "1h").persist()
            t1d = cascade_rollup(t1h, "1d").persist()
            # keep series with at least one weekly season of daily points,
            # so every model can fit every series
            long_enough = t1d.groupBy(*KEYS).count().filter(F.col("count") >= 7).select(*KEYS)
            y = F.col("crawl_count").cast("double").alias("y")
            self.y1h = t1h.join(long_enough, KEYS, "left_semi").select(*KEYS, "bucket_start", y).persist()
            self.y1d = t1d.join(long_enough, KEYS, "left_semi").select(*KEYS, "bucket_start", y).persist()
            self.ref_1h = force(self.y1h)
            force(self.y1d)
            t1h.unpersist()
            t1d.unpersist()
            spans = self.y1h.groupBy(*KEYS).agg(
                ((F.max("bucket_start").cast("long") - F.min("bucket_start").cast("long"))
                 / 3600 + 1).cast("long").alias("n")
            ).agg(F.count(F.lit(1)), F.sum("n")).collect()[0]
        self.n_series, self.dense_rows = int(spans[0]), int(spans[1])

    def release(self) -> None:
        for df in (self.y1h, self.y1d):
            if df is not None:
                df.unpersist()

    def rep(self, ctx: Ctx, i: int) -> RepOut:
        from pyspark.sql import functions as F

        from anofox_forecast_spark.compression import compress_chunks, decompress_chunks
        from anofox_forecast_spark.core.gapfill import gapfill_dense
        from anofox_forecast_spark.models import forecast

        t0 = ctx.clock()
        with ctx.op("core.gapfill") as op:
            g = force(gapfill_dense(self.y1h, KEYS, "bucket_start", ["y"], "1h", method="locf"),
                      F.col("filled").cast("long"))
            op.span.add("rows_out", g.rows)
            op.span.add("filled_rows", g.sums[0])
        op.check(g.rows == self.dense_rows, f"gapfill rows {g.rows} != spans {self.dense_rows}")
        ctx.same_as_first(op, "gapfill", g.checksum)

        expected = self.n_series * len(MODELS) * self.HORIZON
        with ctx.op("models") as op:
            fc = force(forecast(self.y1d, KEYS, "bucket_start", "y", models=MODELS,
                                horizon=self.HORIZON, freq="1d", season_length=7))
            op.span.add("rows_out", fc.rows)
            op.span.add("expected_rows", expected)
        op.check(fc.rows == expected, f"forecast rows {fc.rows} != {expected}")
        ctx.same_as_first(op, "forecast", fc.checksum)

        with ctx.op("compression") as op:
            chunks = compress_chunks(self.y1h, KEYS, "bucket_start", "y", chunk_freq="7d").persist()
            c = force(chunks, "n_points", F.length("ts_blob") + F.length("val_blob"))
            op.span.add("rows_out", c.rows)
            op.span.add("points", c.sums[0])
            op.span.add("blob_bytes", c.sums[1])
        op.check(c.sums[0] == self.ref_1h.rows, f"chunk points {c.sums[0]} != {self.ref_1h.rows}")
        with ctx.op("compression") as op:
            d = force(decompress_chunks(chunks, KEYS))
            op.span.add("rows_out", d.rows)
        # bit-exact round trip: same rows, same xxhash64 of (keys, ts, value)
        op.check((d.rows, d.checksum) == (self.ref_1h.rows, self.ref_1h.checksum),
                 "decompress(compress(x)) != x")
        op_s = ctx.clock() - t0
        chunks.unpersist()
        return RepOut(items=self.n_series, op_s=op_s)

    def summary(self, reps: list[RepOut]) -> dict:
        return {"series_per_s": (rate(reps), "1/s")}


# --------------------------------------------------------------------------
# ingest_mixed


class IngestMixed(Workload):
    """Closed loop, one client: each cycle ingests one page batch, replays
    the previous batch id, applies retention with a sliding cutoff, then
    reads the recent window of the hot series through gap-fill and
    forecast. Batch i covers days i..i+6; a fifth of its pages arrive
    LATE_DAYS late, out of order into buckets earlier batches wrote.
    Every cycle has the same shape, so cycles are comparable samples."""

    name = "ingest_mixed"
    POOL, BATCH_PAGES, HOSTS, HOT = 2, 4000, 50, 3
    START = np.datetime64("2024-01-01")
    LATE_DAYS = 3
    HORIZON = 24
    # the first measured cycle after a single warm-up one ran ~20 % slow
    WARM_REPS = 2
    # a barrier-bound cycle's time varies by ~20 % from run to run; the
    # mean of two is steadier than one
    MIN_REPS = 2

    def __init__(self) -> None:
        self.pool: list = []
        self.base = None
        self.prev = None
        self.applied: list[int] = []
        self.cutoff = None

    def build_inputs(self, ctx: Ctx) -> None:
        from anofox_forecast_spark.rollup.incremental import IncrementalRollup
        from anofox_forecast_spark.sources.pages import synthesize_pages

        with ctx.tracer.span("sources"):
            self.pool = [
                synthesize_pages(ctx.spark, n_pages=self.BATCH_PAGES, n_hosts=self.HOSTS,
                                 weeks=1, seed=ctx.seed * self.POOL + j,
                                 start=f"{self.START} 00:00:00").persist()
                for j in range(self.POOL)
            ]
            for df in self.pool:
                force(df)
        self.base = tempfile.mkdtemp(prefix="ingest-", dir=ctx.workdir)
        self.inc = IncrementalRollup(ctx.spark, self.base, "1h")
        self.applied = []

    def release(self) -> None:
        for df in self.pool + [self.prev]:
            if df is not None:
                df.unpersist()
        self.prev = None
        if self.base is not None:
            shutil.rmtree(self.base, ignore_errors=True)

    def batch(self, i: int):
        from pyspark.sql import functions as F

        late = F.xxhash64("url") % 5 == 0
        shift = F.when(late, F.expr(f"INTERVAL {i - self.LATE_DAYS} DAYS")).otherwise(
            F.expr(f"INTERVAL {i} DAYS"))
        return self.pool[i % self.POOL].withColumn("warc_ts", F.col("warc_ts") + shift)

    def _files(self) -> dict[str, int]:
        out = {}
        for root, _, files in os.walk(self.base):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
        return out

    def rep(self, ctx: Ctx, i: int) -> RepOut:
        from pyspark.sql import functions as F

        from anofox_forecast_spark.core.gapfill import gapfill_dense
        from anofox_forecast_spark.models import forecast

        # client side, untimed: the next batch arrives materialized
        batch = self.batch(i).persist()
        n_pages = batch.count()
        files_before = self._files() if ctx.tracer.enabled else None

        parts = {}
        with ctx.op("rollup.incremental.ingest") as op:
            res, parts["ingest"] = ctx.timed(lambda: self.inc.ingest(batch, batch_id=f"b{i}"))
            op.span.add("rows_out", res.get("partial_rows", 0))
            op.span.add("partial_rows", res.get("partial_rows", 0))
            op.span.add("affected_partitions", res.get("affected_partitions", 0))
        op.check(not res["skipped"] and res["partial_rows"] > 0, f"ingest b{i}: {res}")
        self.applied.append(i)
        if files_before is not None:
            after = self._files()
            new = [p for p in after if p not in files_before]
            op.span.add("files_written", len(new))
            op.span.add("bytes_written", sum(after[p] for p in new))

        if self.prev is not None:
            with ctx.op("rollup.incremental.ingest") as op:
                res, parts["replay"] = ctx.timed(
                    lambda: self.inc.ingest(self.prev, batch_id=f"b{i - 1}"))
            op.check(res.get("skipped") is True, f"replay of b{i - 1} not skipped: {res}")
            self.prev.unpersist()
        self.prev = batch

        # late pages reach back to day i - LATE_DAYS: retention keeps them
        self.cutoff = str(self.START + np.timedelta64(i - self.LATE_DAYS - 1, "D"))
        with ctx.op("rollup.incremental.retention"):
            _, parts["retention"] = ctx.timed(lambda: self.inc.apply_retention(self.cutoff))

        recent = str(self.START + np.timedelta64(i + 4, "D"))  # last 3 days of batch i
        hot = [f"host{h}.example.com" for h in range(self.HOT)]
        t_read = ctx.clock()
        with ctx.op("rollup.incremental.read") as op:
            window = (
                self.inc.read()
                .filter(F.col("host").isin(hot) & (F.col("bucket_start") >= F.lit(recent).cast("timestamp")))
                .select(*KEYS, "bucket_start", F.col("crawl_count").cast("double").alias("y"))
                .persist()
            )
            op.span.add("rows_out", force(window).rows)
        with ctx.op("core.gapfill") as gop:
            dense = gapfill_dense(window, KEYS, "bucket_start", ["y"], "1h", method="locf").persist()
            g = force(dense, F.col("filled").cast("long"))
            gop.span.add("rows_out", g.rows)
            gop.span.add("filled_rows", g.sums[0])
        with ctx.op("models") as mop:
            fc_rows = forecast(dense.select(*KEYS, "bucket_start", "y"), KEYS, "bucket_start", "y",
                               models=MODELS, horizon=self.HORIZON, freq="1h",
                               season_length=24).collect()
            mop.span.add("rows_out", len(fc_rows))
        parts["read"] = ctx.clock() - t_read
        op_s = sum(parts.values())

        # untimed checks on the read path
        spans = window.groupBy(*KEYS).agg(
            ((F.max("bucket_start").cast("long") - F.min("bucket_start").cast("long"))
             / 3600 + 1).cast("long").alias("n")
        ).agg(F.count(F.lit(1)), F.sum("n")).collect()[0]
        n_series, dense_rows = int(spans[0]), int(spans[1] or 0)
        expected = n_series * len(MODELS) * self.HORIZON
        mop.span.add("expected_rows", expected)
        gop.check(g.rows == dense_rows and n_series > 0, f"read gapfill rows {g.rows} != {dense_rows}")
        mop.check(len(fc_rows) == expected, f"read forecast rows {len(fc_rows)} != {expected}")
        window.unpersist()
        dense.unpersist()
        return RepOut(items=n_pages, op_s=op_s, parts=parts)

    def finish(self, ctx: Ctx) -> dict:
        """The incremental tier table must equal a from-scratch rollup of
        every applied batch over the retained dates."""
        from functools import reduce

        from pyspark.sql import functions as F

        from anofox_forecast_spark.rollup.tiers import rollup_pages

        cols = [*KEYS, "bucket_start", "crawl_count", "text_bytes"]
        keep = F.to_date("bucket_start") >= F.lit(self.cutoff).cast("date")
        with ctx.op("rollup.incremental.read") as op:
            table = force(self.inc.read().select(*cols))
        scratch = rollup_pages(reduce(lambda a, b: a.unionByName(b),
                                      [self.batch(i) for i in self.applied]), "1h")
        ref = force(scratch.filter(keep).select(*cols))
        op.check((table.rows, table.checksum) == (ref.rows, ref.checksum),
                 f"incremental table {table.rows} rows != from-scratch {ref.rows}")
        tier_bytes = sum(size for p, size in self._files().items()
                         if f"{os.sep}tier=" in p and p.endswith(".parquet"))
        return {"stored_bytes_per_point": (tier_bytes / max(table.rows, 1), "B")}

    def summary(self, reps: list[RepOut]) -> dict:
        out = {"ingested_pages_per_s": (rate(reps), "1/s")}
        for part in ("ingest", "read"):
            vals = [r.parts[part] for r in reps if part in r.parts]
            out[f"{part}_p50_s"] = (median(vals), "s")
            tail = tail_percentile(vals)
            out[f"{part}_tail_s"] = (
                (tail[1], "s", f"p{tail[0]:g} of {len(vals)} samples") if tail is not None
                else (float("nan"), "s", f"needs at least {TAIL_MIN_SAMPLES} samples, have {len(vals)}"))
        return out


# --------------------------------------------------------------------------
# webtext_dedup


class WebtextDedup(Workload):
    """Semantic dedup (k-means + connected components), hashed bigram LM
    perplexity and DSIR weights over one corpus, then an LSH index and
    256-query probe batches against it."""

    name = "webtext_dedup"
    DOCS, CELLS, KMEANS_ITERS = 4000, 16, 3
    QUERIES, PROBE_BATCHES, K = 256, 2, 5
    RECALL_FLOOR = 0.5

    def __init__(self) -> None:
        self.docs = self.emb = self.index = None

    def build_inputs(self, ctx: Ctx) -> None:
        from anofox_forecast_spark.sources.webtext_synth import (
            synthesize_documents,
            synthesize_embeddings,
        )

        with ctx.tracer.span("sources"):
            self.docs = synthesize_documents(ctx.spark, n_docs=self.DOCS, seed=ctx.seed).persist()
            self.emb = synthesize_embeddings(ctx.spark, n_vecs=self.DOCS, n_clusters=self.DOCS // 100,
                                             seed=ctx.seed).persist()
            force(self.docs)
            rows = self.emb.select("vec_id", "embedding").collect()
        ids = np.array([r[0] for r in rows])
        vecs = np.array([r[1] for r in rows], dtype=np.float64)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        # brute-force top-k per query batch: the recall reference
        self.truth = []
        for b in range(self.PROBE_BATCHES):
            q = (ids >= b * self.QUERIES) & (ids < (b + 1) * self.QUERIES)
            top = np.argsort(-(vecs[q] @ vecs.T), axis=1)[:, : self.K]
            self.truth.append(dict(zip(ids[q].tolist(), (set(ids[t].tolist()) for t in top))))

    def release(self) -> None:
        for df in (self.docs, self.emb, self.index):
            if df is not None:
                df.unpersist()

    def rep(self, ctx: Ctx, i: int) -> RepOut:
        from pyspark.sql import functions as F

        from anofox_forecast_spark.webtext.dedup import semantic_dedup
        from anofox_forecast_spark.webtext.lm import dsir_log_weights, lm_perplexity
        from anofox_forecast_spark.webtext.similarity import hyperplane_buckets, lsh_cosine_topk

        t0 = ctx.clock()
        with ctx.op("webtext.dedup") as op:
            kept = force(semantic_dedup(self.emb, threshold=0.95, n_cells=self.CELLS,
                                        iters=self.KMEANS_ITERS))
            op.span.add("rows_out", kept.rows)
        op.check(0 < kept.rows <= self.DOCS, f"semantic_dedup kept {kept.rows} of {self.DOCS}")
        ctx.same_as_first(op, "semantic", kept.checksum)
        for name, build in (
            ("lm_perplexity", lambda: lm_perplexity(self.docs, "doc_id", "text", hashed=True)),
            ("dsir", lambda: dsir_log_weights(self.docs, self.docs.filter("doc_id % 7 = 0"),
                                              "doc_id", "text", hash_buckets=1 << 20)),
        ):
            with ctx.op("webtext.lm") as op:
                f = force(build())
                op.span.add("rows_out", f.rows)
            op.check(f.rows == self.DOCS, f"{name} rows {f.rows} != {self.DOCS}")
            ctx.same_as_first(op, name, f.checksum)
        docs_s = ctx.clock() - t0

        with ctx.op("webtext.similarity.index") as op:
            if self.index is not None:
                self.index.unpersist()
            self.index = hyperplane_buckets(self.emb, "vec_id", "embedding", "c", n_planes=8,
                                            n_tables=16, with_vec=True, grouped=True).persist()
            op.span.add("rows_out", force(self.index).rows)
        probe_s = []
        for b in range(self.PROBE_BATCHES):
            queries = self.emb.filter(F.col("vec_id").between(b * self.QUERIES, (b + 1) * self.QUERIES - 1))
            t = ctx.clock()
            with ctx.op("webtext.similarity.probe") as op:
                rows = lsh_cosine_topk(self.emb, queries, k=self.K, corpus_index=self.index).collect()
                op.span.add("rows_out", len(rows))
            probe_s.append(ctx.clock() - t)
            found: dict = {}
            for r in rows:
                found.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            truth = self.truth[b]
            recall = sum(len(found.get(q, set()) & t) for q, t in truth.items()) / (self.K * len(truth))
            op.span.add("recall_sum", recall)
            op.span.add("recall_n", 1)
            op.check(recall >= self.RECALL_FLOOR and len(rows) <= self.K * len(truth),
                     f"probe batch {b}: recall@{self.K} {recall:.3f} < {self.RECALL_FLOOR}")
            ctx.same_as_first(op, ("probe", b),
                              hash(tuple(sorted((r["query_id"], r["neighbor_id"]) for r in rows))))
        op_s = ctx.clock() - t0
        return RepOut(items=self.DOCS, op_s=op_s,
                      parts={"docs": docs_s, "probe": probe_s})

    def latencies(self, reps: list[RepOut]) -> list[float]:
        return [t for r in reps for t in r.parts["probe"]]

    def summary(self, reps: list[RepOut]) -> dict:
        docs_s = median([r.parts["docs"] for r in reps])
        probes = [t for r in reps for t in r.parts["probe"]]
        return {"docs_per_s": (self.DOCS / docs_s, "1/s"),
                "ann_queries_per_s": (self.QUERIES / median(probes), "1/s")}


WORKLOADS = {w.name: w for w in (TiersBatch, SeriesBatch, IngestMixed, WebtextDedup)}


# --------------------------------------------------------------------------
# statistics


def median(values: list[float]) -> float:
    return float(np.median(values))


#: samples the tail needs beyond it
TAIL_BEYOND = 10
#: p50, the lowest percentile reported, has floor(n/2) samples beyond it
TAIL_MIN_SAMPLES = 2 * TAIL_BEYOND


def tail_percentile(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float] | None:
    """The highest percentile that still has at least ``beyond`` samples
    above it, as ``(percentile, value)``; None with fewer than
    ``2 * beyond`` samples.

    With n sorted samples, the value at 0-based rank r has n-1-r samples
    beyond it, so the highest usable rank is n-1-beyond. Percentiles step
    through 50, 90, 99, 99.9, ... and the highest one at or below that
    rank is reported.
    """
    n = len(values)
    top = n - 1 - beyond
    if top < 0:
        return None
    ranked = sorted(values)
    best = None
    p = 50.0
    while True:
        rank = int(np.ceil(round(p / 100 * n, 9))) - 1
        if rank > top:
            break
        best = (p, ranked[max(rank, 0)])
        p = 90.0 if p == 50.0 else 100 - (100 - p) / 10
    return best


def rate(reps: list[RepOut]) -> float:
    """Median over repetitions of items per timed second."""
    return median([r.items / r.op_s for r in reps])
