"""Capture .explain('formatted') for the engine's key plans → PLANS.md.

Verifies (and documents for review) the plan properties the engine is
designed around: parquet PushedFilters/ReadSchema pruning, whole-stage
codegen spans over the rollup aggregates, single-shuffle tier aggregation,
broadcast joins for small stats tables, and the explicit repartition that
feeds the Arrow kernel stages.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from anofox_forecast_spark.core.gapfill import fill_gaps  # noqa: E402
from anofox_forecast_spark.models.harness import forecast  # noqa: E402
from anofox_forecast_spark.rollup.tiers import (  # noqa: E402
    cascade_rollup,
    project_pages,
    rollup_projected,
)
from anofox_forecast_spark.session import get_spark  # noqa: E402
from anofox_forecast_spark.sources.pages import synthesize_pages  # noqa: E402
from anofox_forecast_spark.transform.scale import scale_series  # noqa: E402

SF = "/root/testdata/sf0.01"


def grab(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = get_spark("plan-capture", cpus=8, shuffle_partitions=8)
    sections: list[tuple[str, str, list[str]]] = []

    # 1. parquet scan pruning: filter + 2-column projection over events
    ev = spark.read.parquet(f"{SF}/events.parquet")
    q1 = ev.filter(F.col("event_type") == "click").select("ts", "value")
    sections.append((
        "Parquet scan pruning (filter + projection on events)",
        grab(q1),
        ["PushedFilters", "ReadSchema"],
    ))

    # 2. tier rollup: single hash aggregate (partial+final), codegen
    pages = project_pages(synthesize_pages(spark, 50_000, 50, weeks=2))
    t1h = rollup_projected(pages, "1h")
    sections.append((
        "1h tier rollup (one shuffle: partial HashAggregate -> Exchange -> final)",
        grab(t1h),
        ["HashAggregate", "Exchange"],  # codegen hidden under AdaptiveSparkPlan pre-exec
    ))

    # 3. cascade re-aggregation (no re-scan of raw input in plan shape)
    sections.append((
        "1d cascade from 1h (re-aggregation of the smaller tier)",
        grab(cascade_rollup(t1h, "1d")),
        ["HashAggregate"],
    ))

    # 4. and 7. gap-fill is one pass over the cached series: ONE Exchange on
    # the series keys -> sort -> Window -> one Generate (explode); no spine
    # aggregate, no join, no Python
    y1h = t1h.select("lang", "host", "bucket_start",
                     F.col("crawl_count").cast("double").alias("y")).persist()

    def gapfill_section(title: str, **kw) -> tuple[str, str, list[str]]:
        plan = grab(fill_gaps(y1h, ["lang", "host"], "bucket_start", ["y"], "1h", **kw))
        for node in ("Join", "MapInPandas", "ArrowEvalPython"):
            assert node not in plan, f"gap-fill must not plan a {node}"
        tree = plan.split("\n\n")[0].splitlines()
        cached = next(i for i, line in enumerate(tree) if "InMemoryTableScan" in line)
        assert sum("Exchange" in line for line in tree[:cached]) == 1, (
            "gap-fill must shuffle exactly once (on the series keys)")
        return title, plan, ["Window", "Generate", "Exchange"]

    sections.append(gapfill_section(
        "Gap-fill + LOCF (one pass: Exchange on keys -> sort -> Window -> Generate)",
        method="locf"))

    # 5. broadcast join for per-series stats (scale transform)
    sections.append((
        "Per-series scaling (stats aggregate broadcast back)",
        grab(scale_series(
            t1h.select("lang", "host", F.col("crawl_count").cast("double").alias("y")),
            ["lang", "host"], "y")),
        ["BroadcastHashJoin", "BroadcastExchange"],
    ))

    # 6. every per-series Python kernel is the one batched stage: explicit
    # repartition on the keys -> sort (keys, ts) -> MapInPandas; never a
    # per-group FlatMapGroupsInPandas
    from anofox_forecast_spark.evaluation import cross_validate
    from anofox_forecast_spark.seasonality import stl_decompose_spark

    y6 = t1h.select("lang", "host", "bucket_start",
                    F.col("crawl_count").cast("double").alias("y"))
    plans6 = [grab(df) for df in (
        forecast(y6, ["lang", "host"], "bucket_start", "y",
                 models=["seasonal_naive"], horizon=6, freq="1h", season_length=24),
        cross_validate(y6, ["lang", "host"], "bucket_start", "y", ["ets", "theta"],
                       horizon=24, initial_train=168, step_size=24, season_length=24),
        stl_decompose_spark(y6, ["lang", "host"], "bucket_start", "y", period=24),
    )]
    for p in plans6:
        assert all(node in p for node in ("MapInPandas", "Exchange", "Sort")), (
            "a per-series kernel must run as repartition -> sort -> MapInPandas")
        assert "FlatMapGroupsInPandas" not in p, (
            "a per-series kernel must not run one grouped map per series")
    sections.append((
        "Per-series kernels: forecast, cross_validate, STL (explicit "
        "repartition -> sort -> MapInPandas, no FlatMapGroupsInPandas)",
        # the three trees; the formatted node details would pass the
        # section's length cap
        "\n\n".join(f"-- {name}\n{p.split(chr(10) * 2)[0]}" for name, p in
                     zip(("forecast", "cross_validate", "stl_decompose_spark"), plans6)),
        ["MapInPandas", "Exchange", "Sort"],
    ))

    # 7. the same pass interpolating, edges filled: the next known value
    # comes from a second sort + Window in descending ts, still no Exchange
    sections.append(gapfill_section(
        "Gap-fill + linear interpolation, fill_edges (the same pass, plus a descending-ts Window)",
        method="interp", fill_edges=True))

    # 8. calendar annotations: holiday dim broadcast, fact side not shuffled
    from anofox_forecast_spark.core.calendar import holiday_dim, with_calendar_annotations

    ann = with_calendar_annotations(
        t1h.select("lang", "host", "bucket_start"),
        "bucket_start", holiday_dim(spark, ["2024-01-01", "2024-02-19"]))
    sections.append((
        "Calendar annotations (holiday dim broadcast join)",
        grab(ann),
        ["BroadcastHashJoin", "BroadcastExchange"],
    ))

    # 9. Gorilla compression: same fused repartition->sort->MapInPandas shape
    from anofox_forecast_spark.compression.gorilla import compress_chunks

    ch = compress_chunks(
        t1h.select("lang", "host", "bucket_start",
                   F.col("crawl_count").cast("double").alias("y")),
        ["lang", "host"], "bucket_start", "y", chunk_freq="7d")
    sections.append((
        "Gorilla chunk compression (repartition -> sort -> MapInPandas)",
        grab(ch),
        ["MapInPandas", "Exchange", "Sort"],
    ))

    # 10. embedding near-dup LSH path (r4 in-bucket scoring): ONE
    # bucket-hash exchange -> sort -> MapInPandas; no pair join at all —
    # vectors move once per bucket membership, never once per candidate
    from anofox_forecast_spark.webtext.dedup import embedding_near_dups

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    nd = embedding_near_dups(emb, threshold=0.8, method="lsh")
    plan10 = grab(nd)
    sections.append((
        "Embedding near-dup LSH (in-bucket scoring: exchange->sort->MapInPandas, no pair join)",
        plan10,
        ["MapInPandas", "bucket"],
    ))
    assert "CartesianProduct" not in plan10, "LSH dedup must not cross-join"
    assert "Join" not in plan10, "in-bucket scoring must not pair-join vectors"

    # 11. IVF ANN: build the index (Arrow-batched cell assignment,
    # ArrowEvalPython), then probe it map-side (MapInArrow over the index
    # scan) — no join, no exchange before the scorer; the only exchange is
    # the rank window over per-batch survivors
    from anofox_forecast_spark.webtext.similarity import ivf_cosine_topk

    ivf = ivf_cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                          n_cells=16, n_probe=4)
    plan11 = grab(ivf)
    sections.append((
        "IVF ANN (ArrowEvalPython cell assignment + map-side MapInArrow probe)",
        plan11,
        ["ArrowEvalPython", "MapInArrow"],
    ))
    assert "CartesianProduct" not in plan11, "IVF must not cross-join"
    assert "Join" not in plan11, "the index probe must not join"
    tree11 = plan11.split("\n\n")[0].splitlines()
    scorer = next(i for i, line in enumerate(tree11) if "MapInArrow" in line)
    assert not any("Exchange" in line for line in tree11[scorer:]), (
        "the index scan must reach the scorer without a shuffle")

    # 12. MinHash signatures (r4 rewrite): ZERO shuffles — one codegen
    # projection (word split + per-word xxhash64) feeding one Arrow-batched
    # UDF; no explode, no groupBy (the r1-r3 version shuffled per doc)
    from anofox_forecast_spark.webtext.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sig = minhash_signatures(docs, "doc_id", "text", n_hashes=32)
    plan12 = grab(sig)
    sections.append((
        "MinHash signatures (shuffle-free: JVM word hashes → one Arrow UDF pass)",
        plan12,
        ["ArrowEvalPython", "codegen id"],
    ))
    assert "Exchange" not in plan12, "minhash signatures must not shuffle"
    # tree form "ArrowEvalPython (N" appears once per plan NODE (the detail
    # block repeats the name as "(N) ArrowEvalPython", not counted here)
    assert plan12.count("ArrowEvalPython (") == 1, (
        "sig UDF must run exactly once (projection collapse duplicated it pre-r4)")

    # 13. C4-style line dedup: first-occurrence selection must be a HASH
    # AGGREGATE (map-side partial combine collapses hot boilerplate lines
    # before the shuffle) — NOT a window function, which would shuffle
    # every copy of a hot line to one reducer
    from anofox_forecast_spark.webtext.dedup import line_dedup

    ld = line_dedup(docs, "doc_id", "text", tokens_per_line=12)
    plan13 = grab(ld)
    sections.append((
        "C4 line dedup (hash-agg first-occurrence, no window over hot line keys)",
        plan13,
        ["HashAggregate", "Generate"],
    ))
    assert "Window" not in plan13, (
        "line dedup must select first occurrences via hash aggregate, not a "
        "window over the (skewed) line key")

    # 14. Gopher repetition stats: per-doc metrics are SHUFFLE-FREE —
    # JVM word hashes feed one Arrow pass (no gram explode, no
    # groupBy(id, gram): the first cut shuffled 16M gram strings)
    from anofox_forecast_spark.webtext.text_stats import repetition_stats

    rs = repetition_stats(docs, "doc_id", "text")
    plan14 = grab(rs)
    sections.append((
        "Gopher repetition stats (shuffle-free: word hashes -> one Arrow pass)",
        plan14,
        ["ArrowEvalPython"],
    ))
    assert "Exchange" not in plan14, "repetition stats must not shuffle"
    assert plan14.count("ArrowEvalPython (") == 1, (
        "repetition UDF must run exactly once (projection-collapse trap)")

    # 15. benchmark decontamination: the corpus gram explode must feed a
    # BROADCAST hash join (benchmark side broadcast) — the corpus gram
    # multiset never shuffles; only matched survivors reach the
    # count-distinct aggregate
    from anofox_forecast_spark.webtext.pipeline import (
        decontaminate,
        mixture_sample,
        pack_sequences,
        tfidf_topk,
    )

    bench_docs = docs.filter(F.col("doc_id") % 50 == 0)
    corp_docs = docs.filter(F.col("doc_id") % 50 != 0)
    dc = decontaminate(corp_docs, bench_docs, "doc_id", "text", n=4)
    plan15 = grab(dc)
    sections.append((
        "Benchmark decontamination (corpus grams -> broadcast join, no corpus shuffle)",
        plan15,
        ["BroadcastHashJoin", "Generate"],
    ))
    assert "SortMergeJoin" not in plan15.split("HashAggregate")[0], (
        "the gram-overlap join must broadcast the benchmark side")

    # 16. mixture sampling: pure per-row predicate — NO shuffle anywhere
    ms = mixture_sample(docs, "doc_id", "source", {"src0": 0.5}, 0.1)
    plan16 = grab(ms)
    sections.append((
        "Deterministic mixture sampling (codegen filter, shuffle-free)",
        plan16,
        ["Filter"],
    ))
    assert "Exchange" not in plan16, "mixture sampling must not shuffle"
    assert "ArrowEvalPython" not in plan16 and "BatchEvalPython" not in plan16, (
        "the LCG keep predicate must stay JVM-side")

    # 17. TF-IDF: two hash aggregates + the zero-column broadcast count
    # branch (row-group metadata only) — no eager df.count() scan
    ti = tfidf_topk(docs, "doc_id", "text", k=5)
    plan17 = grab(ti)
    sections.append((
        "TF-IDF top-k (hash aggs; N via zero-column broadcast count branch)",
        plan17,
        ["HashAggregate", "BroadcastNestedLoopJoin"],
    ))

    # 18. sequence packing: exactly ONE shuffle — the hash partitioning
    # on (domain, shard) feeding the per-stream cumsum window
    pk = pack_sequences(docs.withColumn("nt", F.col("n_chars")),
                        "doc_id", "source", "nt", budget=2048, shards=8)
    plan18 = grab(pk)
    sections.append((
        "Sequence packing (one Exchange on (domain, shard) -> window cumsum)",
        plan18,
        ["Window", "Exchange"],
    ))
    assert plan18.count("Exchange (") == 1, (
        "span packing must shuffle exactly once, on the packing stream key")

    # 19. incremental exact dedup: the standing-corpus probe must be a
    # single Arrow pass feeding a plain filter (bloom test) — the
    # standing side is scanned once, never cross-joined; only survivors
    # reach the hash aggregate + join
    from anofox_forecast_spark.webtext.dedup import exact_dedup_incremental

    inc = exact_dedup_incremental(
        docs.filter(F.col("doc_id") % 3 != 0),
        docs.filter(F.col("doc_id") % 3 == 0),
        "doc_id", "text",
    )
    plan19 = grab(inc)
    sections.append((
        "Incremental exact dedup (broadcast bloom probe over the standing scan)",
        plan19,
        ["ArrowEvalPython", "HashAggregate"],
    ))
    assert "CartesianProduct" not in plan19, (
        "bloom-probe dedup must not cross-join the standing corpus")
    assert plan19.count("ArrowEvalPython (") == 1, (
        "the bloom probe must run exactly once over the standing scan")

    # 20. bigram-LM perplexity: entirely JVM-side (token arrays built by
    # Generate, counts by HashAggregate, scoring by keyed joins + the
    # broadcast 1-row T/V branch) — no Python eval, no cartesian blowup
    from anofox_forecast_spark.webtext.lm import dsir_log_weights, lm_perplexity

    lmq = lm_perplexity(docs, "doc_id", "text")
    plan20 = grab(lmq)
    sections.append((
        "Bigram-LM perplexity (JVM gram streams; broadcast T/V branch; keyed model joins)",
        plan20,
        ["HashAggregate", "BroadcastNestedLoopJoin", "Generate"],
    ))
    assert "CartesianProduct" not in plan20, (
        "the T/V totals branch must broadcast, never cartesian")
    assert "ArrowEvalPython" not in plan20 and "BatchEvalPython" not in plan20, (
        "LM scoring must stay JVM-side")

    # 21. DSIR log-weights: same contract — the only large shuffle is the
    # gram-stream x delta-model join keyed by gram
    dw = dsir_log_weights(docs, docs.filter("lang = 'en'"), "doc_id", "text")
    plan21 = grab(dw)
    sections.append((
        "DSIR importance log-weights (gram-keyed model join; broadcast totals)",
        plan21,
        ["HashAggregate", "BroadcastNestedLoopJoin"],
    ))
    assert "CartesianProduct" not in plan21
    assert "ArrowEvalPython" not in plan21 and "BatchEvalPython" not in plan21, (
        "DSIR scoring must stay JVM-side")
    assert "Union (" not in plan21, (
        "DSIR uni+bi grams must ride one concat array through one explode")

    # 22. ExactSubstr dedup: first-occurrence selection over the
    # (hot-key) gram must be a HASH AGGREGATE with map-side combine —
    # the only Window allowed is the per-doc interval merge (partitioned
    # by doc id, skew-free); token cutting stays JVM-side
    from anofox_forecast_spark.webtext.dedup import substring_dedup

    sd = substring_dedup(docs, "doc_id", "text", min_tokens=8)
    plan22 = grab(sd)
    sections.append((
        "ExactSubstr dedup (gram hash-agg first-occurrence; one per-doc interval-merge window)",
        plan22,
        ["HashAggregate", "Window", "Generate"],
    ))
    # the merge needs two frames (prev-max, then running sum) — Spark
    # plans them as two adjacent Window nodes sharing ONE id-hash
    # Exchange; both partition by doc id, never by the (skewed) gram key
    assert plan22.count("Window (") == 2, (
        "only the per-doc gaps-and-islands merge may use windows — never "
        "the (skewed) gram key")
    assert "CartesianProduct" not in plan22
    assert "ArrowEvalPython" not in plan22 and "BatchEvalPython" not in plan22, (
        "exact-mode substring dedup must stay JVM-side")

    # 23. domain stats: one hash aggregate over the few-valued source key
    # plus the zero-column broadcast count branch; all JVM
    from anofox_forecast_spark.webtext.text_stats import domain_stats

    ds = domain_stats(docs, "doc_id", "text", "source")
    plan23 = grab(ds)
    sections.append((
        "Domain stats (one hash agg + broadcast total-count branch)",
        plan23,
        ["HashAggregate", "BroadcastNestedLoopJoin"],
    ))
    assert "ArrowEvalPython" not in plan23 and "BatchEvalPython" not in plan23

    # 24. cleaning operators: C4 filters + URL canonicalization pure
    # codegen (no Exchange, no Python); unicode normalization exactly ONE
    # ArrowEvalPython even though text_norm feeds three output columns
    from anofox_forecast_spark.webtext.clean import (
        c4_page_filters,
        canonicalize_urls,
        normalize_text,
    )

    c4 = c4_page_filters(docs, "doc_id", "text")
    plan24a = grab(c4)
    assert "Exchange" not in plan24a and "Python" not in plan24a
    urls = docs.select("doc_id", F.concat(
        F.lit("https://www."), F.col("source"), F.lit("/p?a=1&utm_s=x"),
    ).alias("url"))
    plan24b = grab(canonicalize_urls(urls, "doc_id", "url"))
    assert "Exchange" not in plan24b and "Python" not in plan24b
    nt = normalize_text(docs, "doc_id", "text")
    plan24c = grab(nt)
    # formatted output names each node twice (tree line + detail header):
    # count detail headers only
    import re as _re

    n_arrow_nodes = len(_re.findall(r"\(\d+\) ArrowEvalPython", plan24c))
    assert n_arrow_nodes == 1 and "Exchange" not in plan24c
    sections.append((
        "Cleaning ops (C4 filters / URL canon: codegen only; NFC: one ArrowEvalPython)",
        plan24a + "\n" + plan24b + "\n" + plan24c,
        ["Project", "ArrowEvalPython"],
    ))

    # 25. r5 late additions: BPE tokenize + HTML extract are each exactly
    # ONE ArrowEvalPython with no Exchange (closure-broadcast ranks /
    # single-parse struct projection); canonical_docs is window-free
    # (arg-max as max(struct) hash agg); corpus_shuffle has exactly one
    # Exchange (the shard partition for its per-shard rank window)
    import re as _re25

    from anofox_forecast_spark.webtext.bpe import bpe_tokenize
    from anofox_forecast_spark.webtext.dedup import canonical_docs
    from anofox_forecast_spark.webtext.html_extract import extract_html
    from anofox_forecast_spark.webtext.pipeline import corpus_shuffle

    plan25a = grab(bpe_tokenize(docs, "doc_id", "text", [("t", "h"), ("th", "e")]))
    assert "Exchange" not in plan25a
    assert len(_re25.findall(r"\(\d+\) ArrowEvalPython", plan25a)) == 1
    pages25 = docs.select(
        "doc_id",
        F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>")).alias("html"),
    )
    plan25b = grab(extract_html(pages25, "doc_id", "html"))
    assert "Exchange" not in plan25b
    assert len(_re25.findall(r"\(\d+\) ArrowEvalPython", plan25b)) == 1
    comp25 = docs.select(F.col("doc_id").alias("id"),
                         (F.col("doc_id") % 10).alias("component"))
    plan25c = grab(canonical_docs(docs, "doc_id", "text", comp25))
    assert "Window" not in plan25c and "Python" not in plan25c
    # struct-ordered max is not HashAggregate-able (no fixed-width buffer);
    # what matters at scale is PARTIAL + final aggregation (map-side combine
    # collapses duplicate-group members before the exchange — the property a
    # window arg-max lacks): assert both SortAggregate halves are present
    assert len(_re25.findall(r"\(\d+\) SortAggregate", plan25c)) >= 2
    plan25d = grab(corpus_shuffle(docs, "doc_id", n_shards=16))
    assert len(_re25.findall(r"\(\d+\) Exchange", plan25d)) == 1, (
        "corpus_shuffle must shuffle exactly once (on shard)")
    assert "Python" not in plan25d
    sections.append((
        "r5 late ops (BPE tokenize / HTML extract: one ArrowEvalPython, no "
        "Exchange; canonical_docs: window-free partial+final SortAggregate "
        "arg-max — struct max has no fixed-width HashAggregate buffer, but "
        "map-side combine still collapses group members pre-shuffle; "
        "corpus_shuffle: one Exchange)",
        plan25a + "\n" + plan25b + "\n" + plan25c + "\n" + plan25d,
        ["ArrowEvalPython", "SortAggregate", "Window"],
    ))

    # 26. quality classifier scoring is explode → broadcast weight lookup →
    # ONE Exchange (groupBy id; map-side combine collapses each doc's
    # tokens pre-shuffle), pure JVM; stratified_sample is one Exchange +
    # one Window (rank within group), pure JVM
    from anofox_forecast_spark.webtext.classifier import score_logreg
    from anofox_forecast_spark.webtext.pipeline import stratified_sample

    model26 = {"weights": {3: 1000}, "bias_micro": 0, "hashed": True,
               "n_buckets": 1 << 14}
    plan26a = grab(score_logreg(docs, "doc_id", "text", model26))
    assert len(_re25.findall(r"\(\d+\) Exchange", plan26a)) == 1, (
        "classifier scoring must shuffle exactly once (groupBy id)")
    # no Python EXECUTION nodes (the driver-built weight table's scan line
    # mentions applySchemaToPythonRDD — that's a 1-row control-plane read,
    # not per-row Python)
    assert not _re25.search(
        r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas",
        plan26a)
    assert "BroadcastExchange" in plan26a  # weight table never shuffles
    docs26 = docs.withColumn("source", F.lit("s"))
    plan26b = grab(stratified_sample(docs26, "doc_id", "source", k=5))
    assert len(_re25.findall(r"\(\d+\) Exchange", plan26b)) == 1
    assert "Window" in plan26b and "Python" not in plan26b
    # export manifest: inline shard assignment (no corpus self-join) and
    # the groupBy(shard) agg REUSES the rank window's shard partitioning —
    # exactly one Exchange end to end
    from anofox_forecast_spark.webtext.export import shard_manifest

    plan26c = grab(shard_manifest(docs, "doc_id", "text", n_shards=8))
    assert len(_re25.findall(r"\(\d+\) Exchange", plan26c)) == 1, (
        "shard_manifest must shuffle exactly once (window + agg share the "
        "shard partitioning)")
    assert "Join" not in plan26c and "Python" not in plan26c
    sections.append((
        "quality classifier scoring (one Exchange, broadcast weights, no "
        "Python) + stratified exact-k sample (one Exchange + Window) + "
        "export shard manifest (one Exchange, join-free inline assignment)",
        plan26a + "\n" + plan26b + "\n" + plan26c,
        ["Exchange", "BroadcastExchange", "Window"],
    ))

    # 27. cheap pre-filters and shaping ops are shuffle-free / explode-only:
    # url_filter and split_corpus pure JVM predicates (no Exchange, no
    # Python); chunk_documents builds chunks in-row and explodes (Generate,
    # no Exchange)
    from anofox_forecast_spark.webtext.clean import url_filter
    from anofox_forecast_spark.webtext.pipeline import (
        chunk_documents,
        split_corpus,
    )

    urls27 = docs.select(
        "doc_id", F.concat(F.lit("https://h"), (F.col("doc_id") % 5),
                           F.lit(".example/p")).alias("url"))
    plan27a = grab(url_filter(urls27, "doc_id", "url",
                              blocked_hosts=["h0.example"],
                              url_badwords=["casino"]))
    plan27b = grab(split_corpus(docs, "doc_id", {"train": 0.9, "valid": 0.1}))
    plan27c = grab(chunk_documents(docs, "doc_id", "text", max_tokens=16,
                                   overlap=4))
    for p in (plan27a, plan27b, plan27c):
        assert "Exchange" not in p and not _re25.search(
            r"ArrowEvalPython|BatchEvalPython|MapInPandas", p)
    assert len(_re25.findall(r"\(\d+\) Generate", plan27c)) == 1
    sections.append((
        "pre-filter/shaping ops (url_filter + split_corpus: shuffle-free "
        "JVM predicates; chunk_documents: in-row chunk build + one "
        "Generate, no Exchange)",
        plan27a + "\n" + plan27b + "\n" + plan27c,
        ["Generate", "Project"],
    ))

    # 28. Gorilla chunk decode is narrow: every chunk row decodes on its
    # own, so one MapInPandas over the chunk frame — no repartition, no
    # sort (the chunk frame is materialized first so its own compress
    # Exchange is not part of this plan)
    from anofox_forecast_spark.compression.gorilla import decompress_chunks

    ch_rows = spark.createDataFrame(ch.limit(200).collect(), ch.schema)
    plan28 = grab(decompress_chunks(ch_rows, ["lang", "host"]))
    assert "Exchange" not in plan28, "chunk decode must not shuffle"
    assert "Sort" not in plan28, "chunk decode must not sort"
    sections.append((
        "Gorilla chunk decompression (one narrow MapInPandas, no Exchange/Sort)",
        plan28,
        ["MapInPandas"],
    ))

    lines = [
        "# PLANS — physical-plan evidence (`.explain('formatted')`)",
        "",
        "Captured by tools/capture_plans.py. Each section lists the plan",
        "properties it must exhibit (checked programmatically below).",
        "",
    ]
    ok = True
    for title, plan, must in sections:
        missing = [m for m in must if m not in plan]
        status = "OK" if not missing else f"MISSING {missing}"
        ok &= not missing
        lines += [f"## {title}", "", f"required: {must} → **{status}**", "",
                  "```", plan.strip()[:4000], "```", ""]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {path}; all-required-present={ok}")


if __name__ == "__main__":
    main()
