"""spark-submit entrypoint: webtext dedup/ANN stages as one job, for the
N vs 4N scaling-efficiency evidence (VERDICT r3 "next round" #2 — the
dedup/ANN joins are the likeliest skew victims at 100x and previously had
throughput numbers but no scaling pair).

    spark-submit --master local[N] --py-files dist/anofox_forecast_spark.zip \
        jobs/webtext_job.py --docs 1000000 --vecs 300000

Stages (each timed; one JSON line on stdout; --stages selects a subset):
  synthesize docs+vecs -> warm python workers -> minhash-LSH dedup ->
  connected components over the minhash pairs -> simhash(k=3) dedup ->
  C4 line dedup -> Gopher repetition stats -> embedding-LSH near-dup ->
  IVF ANN top-k -> benchmark decontamination (0.1% eval set) -> TF-IDF
  top-k terms -> sequence packing (64 shards) -> unicode normalization
  (NFC + control strip + whitespace collapse, the pandas-UDF cleaning
  pass) -> quality-classifier fit (2 GD epochs, half corpus) + score
  (full corpus) -> stratified exact-k sample -> shard-export manifest
  -> prepare_corpus (the full composed pipeline: verdict joins +
  single filter + stats).

The vector corpus carries near-duplicate structure (near_rate=0.08,
ε=0.25 → cosines ≈0.94-0.97) so emb_dedup_lsh emits a real pair count
and the post-threshold survivor shuffle + cross-table dedup is actually
measured (VERDICT r4: the previous iid corpus produced emb_pairs=0 at
both core counts — the stage's scaling number covered only candidate
generation). The components stage runs min-label propagation on the
(persisted) minhash pair output — the per-iteration window+groupBy chain
whose driver-side convergence count is the likeliest degradation at
big edge lists.

Same protocol as jobs/pipeline_job.py: shuffle partitioning fixed so only
executor parallelism varies between runs; synthesis and worker warm-up are
reported but excluded from work_seconds (fixed per-JVM overheads would
otherwise anti-scale the ratio); --repeat reports the last iteration
(steady state: JIT done, signatures' input caches hot).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import pandas as pd  # module-level: pandas_udf resolves stringified hints here

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--vecs", type=int, default=300_000)
    ap.add_argument("--shuffle-partitions", type=int, default=64)
    ap.add_argument("--cpus", type=int, default=None,
                    help="build local[N] session (omit under spark-submit)")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--stages", default=None,
                    help="comma-separated stage subset (default: all)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    if args.cpus:
        from anofox_forecast_spark.session import get_spark

        spark = get_spark("webtext-job", cpus=args.cpus,
                          shuffle_partitions=args.shuffle_partitions)
    else:
        spark = SparkSession.builder.getOrCreate()
        spark.conf.set("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
        spark.conf.set("spark.sql.session.timeZone", "UTC")

    from anofox_forecast_spark.sources.webtext_synth import (
        synthesize_documents,
        synthesize_embeddings,
    )
    from anofox_forecast_spark.webtext.dedup import (
        connected_components,
        embedding_near_dups,
        minhash_lsh_candidates,
        simhash_near_dups,
    )
    from anofox_forecast_spark.bench_util import checksum_count
    from anofox_forecast_spark.webtext.similarity import ivf_cosine_topk

    timings: dict[str, float] = {}
    counts: dict[str, int] = {}

    def timed(name, fn):
        t0 = time.perf_counter()
        out = fn()
        timings[name] = round(time.perf_counter() - t0, 3)
        return out

    docs = synthesize_documents(spark, n_docs=args.docs).persist()
    vecs = synthesize_embeddings(spark, n_vecs=args.vecs, n_clusters=0,
                                 near_rate=0.08, near_spread=0.25, seed=7).persist()
    counts["docs"] = timed("synthesize", docs.count)
    counts["vecs"] = timed("synthesize_vecs", vecs.count)

    # spawn+import the Python UDF workers once, outside the measured stages
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s.str.len()

    timed("warm_workers", lambda: docs.select(F.bit_xor(_warm("text"))).collect())

    queries = vecs.filter(F.col("vec_id") < 256)
    state: dict = {}

    def stage_minhash():
        # pairs persist so the components stage consumes a MATERIALIZED
        # edge list — its timing then measures label propagation alone,
        # not a re-run of signature generation
        pairs = minhash_lsh_candidates(
            docs, "doc_id", "text", n_hashes=32, bands=8, est_threshold=0.2
        ).select("id_a", "id_b").persist()
        state["pairs"] = pairs
        return pairs.count()

    def stage_components():
        return checksum_count(connected_components(state["pairs"]))

    def stage_simhash():
        return checksum_count(simhash_near_dups(docs, "doc_id", "text", max_hamming=3))

    def stage_line_dedup():
        from anofox_forecast_spark.webtext.dedup import line_dedup

        return checksum_count(line_dedup(docs, "doc_id", "text", tokens_per_line=12))

    def stage_repetition():
        from anofox_forecast_spark.webtext.text_stats import repetition_stats

        return checksum_count(repetition_stats(docs, "doc_id", "text"))

    def stage_emb_lsh():
        return checksum_count(embedding_near_dups(
            vecs, threshold=0.8, method="lsh", n_planes=16, n_tables=16
        ))

    def stage_ivf():
        return checksum_count(ivf_cosine_topk(
            vecs, queries, k=5, n_cells=64, n_probe=8
        ))

    from anofox_forecast_spark.webtext.pipeline import (
        decontaminate,
        pack_sequences,
        prepare_corpus,
        tfidf_topk,
    )

    def stage_decontaminate():
        # 0.1% of the corpus plays the benchmark suite — realistic ratio:
        # eval sets are thousands of docs against millions
        bench = docs.filter(F.col("doc_id") % 1000 == 0)
        return checksum_count(decontaminate(
            docs, bench, "doc_id", "text", n=8, hashed=True))

    # tfidf and corpus_prep run on the even-id HALF corpus: they are the
    # two composed/string-heavy stages (500k-doc stage work still >> the
    # 10 s amortization bar at N); efficiency is size-agnostic since both
    # core counts see the identical input
    half = docs.filter(F.col("doc_id") % 2 == 0)

    def stage_tfidf():
        return checksum_count(tfidf_topk(half, "doc_id", "text", k=5))

    from anofox_forecast_spark.webtext.lm import dsir_log_weights, lm_perplexity

    def stage_lm_ppl():
        return checksum_count(lm_perplexity(docs, "doc_id", "text", hashed=True))

    def stage_dsir():
        # every 7th doc plays the target corpus — a realistic ~14%
        # curated slice against the full raw crawl
        return checksum_count(dsir_log_weights(
            docs, docs.filter(F.col("doc_id") % 7 == 0), "doc_id", "text",
            hash_buckets=1 << 22,
        ))

    def stage_pack():
        sized = docs.select(
            "doc_id", F.lit("web").alias("source"),
            F.size(F.split("text", " ")).alias("nt"),
        )
        return checksum_count(pack_sequences(
            sized, "doc_id", "source", "nt", budget=2048, shards=64
        ))

    def stage_normalize():
        # unicode NFC + control strip + whitespace collapse: the cleaning
        # pass every crawl ingest runs first; the one pandas-UDF cleaning
        # op (Series.str.normalize), so its scaling row measures the
        # Arrow round-trip + per-string C calls, not JVM codegen
        from anofox_forecast_spark.webtext.clean import normalize_text

        return checksum_count(normalize_text(docs, "doc_id", "text"))

    def stage_normalize_big():
        # normalize with the per-doc text repeated 4× JVM-side: at 2M
        # stock docs the stage measured FLAT 2→8 cores (r5 eff 0.34,
        # f_implied > 1 — fixed per-stage cost dominated, VERDICT r5
        # "what's wrong" #3); quadrupling the UDF's per-row payload puts
        # Series.str.normalize compute in charge so the row measures the
        # operator, not the overhead. Same input at both core counts.
        from anofox_forecast_spark.webtext.clean import normalize_text

        big = docs.select(
            "doc_id",
            F.concat("text", F.lit(" "), "text", F.lit(" "),
                     "text", F.lit(" "), "text").alias("text"),
        )
        return checksum_count(normalize_text(big, "doc_id", "text"))

    def stage_clf_fit():
        # quality-classifier training: 2 full-batch GD epochs on the
        # half corpus (each epoch = one margin job + one gradient job
        # over every token; deterministic label proxy). The per-epoch
        # driver barrier + bounded gradient collect is the new scale
        # path this stage measures.
        from anofox_forecast_spark.webtext.classifier import fit_logreg

        labeled = half.withColumn(
            "label", (F.col("doc_id") % 3 == 0).cast("int"))
        model = fit_logreg(labeled, "doc_id", "text", "label",
                           n_buckets=1 << 16, epochs=2, lr=1.0)
        state["clf_model"] = model
        return len(model["weights"])

    def stage_clf_score():
        # scoring the FULL corpus with the stage_clf_fit model (or a
        # fixed synthetic one when fit was skipped): explode → broadcast
        # weight lookup → one groupBy(id) Exchange
        from anofox_forecast_spark.webtext.classifier import score_logreg

        model = state.get("clf_model") or {
            "weights": {b: (b % 2001) - 1000 for b in range(0, 1 << 16, 7)},
            "bias_micro": 0, "hashed": True, "n_buckets": 1 << 16,
        }
        return checksum_count(score_logreg(docs, "doc_id", "text", model))

    def stage_strat_sample():
        # exact-k eval carve-out per synthetic domain (16 domains): the
        # per-group rank window over the full corpus
        from anofox_forecast_spark.webtext.pipeline import stratified_sample

        domained = docs.withColumn(
            "source", F.concat(F.lit("d"), (F.col("doc_id") % 16)))
        return checksum_count(stratified_sample(
            domained, "doc_id", "source", k=10_000))

    def stage_export_manifest():
        # shard-export integrity manifest over the full corpus: inline
        # LCG assignment + rank window + shard agg (single Exchange)
        from anofox_forecast_spark.webtext.export import shard_manifest

        return checksum_count(shard_manifest(
            docs, "doc_id", "text", n_shards=64, seed=3))

    def stage_corpus_prep():
        domained = half.withColumn(
            "source", F.concat(F.lit("src"), (F.col("doc_id") % 4))
        )
        packed, stats = prepare_corpus(
            domained, "doc_id", "text", "source",
            mixture_rates={"src0": 0.8}, default_rate=0.95,
        )
        n = checksum_count(packed)
        stats.collect()
        return n

    fixed = {k: timings[k] for k in ("synthesize", "synthesize_vecs", "warm_workers")}
    n_rep = max(args.repeat, 1)
    for it in range(n_rep):
        timings.clear()
        timings.update(fixed)
        todo = set(args.stages.split(",")) if args.stages else None

        def want(name):
            return todo is None or name in todo

        if want("minhash_lsh") or want("components"):
            counts["minhash_pairs"] = timed("minhash_lsh", stage_minhash)
            if want("components"):
                counts["component_rows"] = timed("components", stage_components)
            state.pop("pairs").unpersist()
        if want("simhash_k3"):
            counts["simhash_pairs"] = timed("simhash_k3", stage_simhash)
        if want("line_dedup"):
            counts["line_dedup_docs"] = timed("line_dedup", stage_line_dedup)
        if want("repetition"):
            counts["repetition_docs"] = timed("repetition", stage_repetition)
        if want("emb_dedup_lsh"):
            counts["emb_pairs"] = timed("emb_dedup_lsh", stage_emb_lsh)
        if want("ivf_topk"):
            counts["ivf_rows"] = timed("ivf_topk", stage_ivf)
        if want("decontaminate"):
            counts["decontam_docs"] = timed("decontaminate", stage_decontaminate)
        if want("tfidf"):
            counts["tfidf_rows"] = timed("tfidf", stage_tfidf)
        if want("lm_ppl"):
            counts["lm_ppl_docs"] = timed("lm_ppl", stage_lm_ppl)
        if want("dsir"):
            counts["dsir_docs"] = timed("dsir", stage_dsir)
        if want("pack"):
            counts["packed_docs"] = timed("pack", stage_pack)
        if want("normalize"):
            counts["normalize_docs"] = timed("normalize", stage_normalize)
        if want("normalize_big"):
            counts["normalize_big_docs"] = timed(
                "normalize_big", stage_normalize_big)
        if want("clf_fit"):
            counts["clf_weights"] = timed("clf_fit", stage_clf_fit)
        if want("clf_score"):
            counts["clf_scored"] = timed("clf_score", stage_clf_score)
        if want("strat_sample"):
            counts["strat_rows"] = timed("strat_sample", stage_strat_sample)
        if want("export_manifest"):
            counts["manifest_shards"] = timed("export_manifest",
                                              stage_export_manifest)
        if want("corpus_prep"):
            counts["corpus_kept"] = timed("corpus_prep", stage_corpus_prep)
        if it < n_rep - 1:
            # the dedup ops persist their signature tables internally; a
            # repeat's IDENTICAL plan would be substituted from that cache
            # (CacheManager plan matching) and measure ~0 — drop everything
            # and re-pin the inputs outside the timed stages
            spark.catalog.clearCache()
            docs.persist()
            vecs.persist()
            docs.count()
            vecs.count()

    work = round(sum(t for k, t in timings.items()
                     if k not in ("synthesize", "synthesize_vecs", "warm_workers")), 3)
    out = {
        "timings": timings,
        "counts": counts,
        "work_seconds": work,
        "docs": args.docs,
        "vecs": args.vecs,
        "shuffle_partitions": args.shuffle_partitions,
    }
    if "minhash_lsh" in timings:
        out["minhash_docs_per_sec"] = round(args.docs / timings["minhash_lsh"])
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
