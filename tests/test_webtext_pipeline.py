"""Training-pipeline operators: decontamination, TF-IDF, mixture
sampling, sequence packing (webtext/pipeline.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from anofox_forecast_spark.webtext.pipeline import (
    decontaminate,
    mixture_sample,
    pack_greedy,
    pack_sequences,
    tfidf_topk,
)

DOCS = [
    (0, "alpha beta gamma delta epsilon zeta", "web"),
    (1, "alpha beta gamma delta other words here", "web"),
    (2, "totally unrelated text about spark plans", "web"),
    (3, "alpha beta gamma delta epsilon zeta", "books"),
    (4, "one two three four five six seven eight", "books"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, source string")


# ---------------------------------------------------------------------------
# decontaminate


def test_decontaminate_flags_overlap(spark):
    docs = _docs(spark)
    bench = docs.filter(F.col("doc_id") == 0)
    corpus = docs.filter(F.col("doc_id") != 0)
    out = {
        r["id"]: (r["n_overlap"], r["contaminated"])
        for r in decontaminate(corpus, bench, "doc_id", "text", n=4).collect()
    }
    # doc 1 shares "alpha beta gamma delta" (one 4-gram); doc 3 is an
    # exact dup of the benchmark doc (all three of its 4-grams)
    assert out[1] == (1, True)
    assert out[3] == (3, True)
    # clean docs are present with a zero count, not silently absent
    assert out[2] == (0, False)
    assert out[4] == (0, False)


def test_decontaminate_min_overlap_threshold(spark):
    docs = _docs(spark)
    bench = docs.filter(F.col("doc_id") == 0)
    corpus = docs.filter(F.col("doc_id") != 0)
    out = {
        r["id"]: r["contaminated"]
        for r in decontaminate(
            corpus, bench, "doc_id", "text", n=4, min_overlap=2
        ).collect()
    }
    assert out[1] is False  # single shared 4-gram below threshold
    assert out[3] is True


def test_decontaminate_short_doc_partial_shingle(spark):
    # a doc shorter than n contributes ONE partial shingle (the whole
    # doc), matching the ngram_jaccard shingling contract
    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "alpha beta"), (2, "gamma")],
        "doc_id long, text string",
    )
    bench = docs.filter(F.col("doc_id") == 0)
    corpus = docs.filter(F.col("doc_id") != 0)
    out = {
        r["id"]: r["contaminated"]
        for r in decontaminate(corpus, bench, "doc_id", "text", n=5).collect()
    }
    assert out[1] is True
    assert out[2] is False


def test_decontaminate_hashed_equals_exact(spark):
    """hashed=True (numpy positional-combo gram keys) must reproduce
    the exact-string verdicts — including short-doc partial shingles,
    docs with no word on either side and per-doc distinct-overlap counts."""
    docs = _docs(spark).union(
        spark.createDataFrame([(9, "alpha beta", "web"), (10, "", "web"),
                               (11, "!!! ...", "web"), (12, "", "web")],
                              "doc_id long, text string, source string")
    )
    bench = docs.filter(F.col("doc_id").isin(0, 9, 10))
    corpus = docs.filter(~F.col("doc_id").isin(0, 9, 10))
    for n in (4, 5):
        exact = decontaminate(corpus, bench, "doc_id", "text", n=n).orderBy("id").collect()
        hashed = decontaminate(corpus, bench, "doc_id", "text", n=n,
                               hashed=True).orderBy("id").collect()
        assert exact == hashed
        assert [(r["id"], r["n_overlap"]) for r in exact if r["id"] >= 11] == [
            (11, 0), (12, 0)]


# ---------------------------------------------------------------------------
# tfidf_topk


def test_tfidf_ranking_and_ties(spark):
    docs = spark.createDataFrame(
        [(0, "rare rare common"), (1, "common boring"), (2, "common boring")],
        "doc_id long, text string",
    )
    out = tfidf_topk(docs, "doc_id", "text", k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["id"], []).append((r["rank"], r["term"], r["tf"]))
    # doc 0: "rare" (tf=2, df=1) must outrank "common" (tf=1, df=3)
    assert sorted(by_doc[0])[0][1] == "rare"
    # docs 1 and 2 tie "boring" vs "common" on tf; boring has lower df so
    # higher idf → rank 1
    assert sorted(by_doc[1])[0][1] == "boring"
    # k bound respected
    assert all(len(v) <= 2 for v in by_doc.values())


def test_tfidf_n_docs_param_matches_counted_branch(spark):
    docs = _docs(spark)
    a = tfidf_topk(docs, "doc_id", "text", k=3)
    b = tfidf_topk(docs, "doc_id", "text", k=3, n_docs=docs.count())
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# ---------------------------------------------------------------------------
# mixture_sample


def test_mixture_sample_deterministic_and_rate_column(spark):
    docs = _docs(spark)
    kept1 = mixture_sample(docs, "doc_id", "source", {"web": 1.0}, 0.0)
    kept2 = mixture_sample(docs, "doc_id", "source", {"web": 1.0}, 0.0)
    rows1 = sorted(r["doc_id"] for r in kept1.collect())
    rows2 = sorted(r["doc_id"] for r in kept2.collect())
    assert rows1 == rows2 == [0, 1, 2]  # rate 1.0 keeps all web docs
    rates = {r["source"]: r["sample_rate"] for r in kept1.collect()}
    assert rates == {"web": 1.0}


def test_mixture_sample_monotone_in_rate(spark):
    # the keep set at a lower rate is a subset of the keep set at a
    # higher rate (same hash, threshold comparison) — the property that
    # makes mixture re-weighting reproducible across runs
    docs = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), F.lit("web").alias("source")
    )
    lo = {r["doc_id"] for r in
          mixture_sample(docs, "doc_id", "source", {"web": 0.2}).collect()}
    hi = {r["doc_id"] for r in
          mixture_sample(docs, "doc_id", "source", {"web": 0.6}).collect()}
    assert lo <= hi
    # rates are roughly honored on 500 uniform ids
    assert 0.1 <= len(lo) / 500 <= 0.3
    assert 0.45 <= len(hi) / 500 <= 0.75


def test_mixture_sample_validates_rates(spark):
    docs = _docs(spark)
    with pytest.raises(ValueError):
        mixture_sample(docs, "doc_id", "source", {"web": 1.5})
    with pytest.raises(ValueError):
        mixture_sample(docs, "doc_id", "source", {}, default_rate=-0.1)


# ---------------------------------------------------------------------------
# sequence packing


def _sized(spark):
    rows = [(i, "d%d" % (i % 2), 300 + 100 * (i % 5)) for i in range(40)]
    return spark.createDataFrame(rows, "doc_id long, source string, nt long")


def test_pack_sequences_span_semantics(spark):
    out = pack_sequences(
        _sized(spark), "doc_id", "source", "nt", budget=1000, shards=2
    ).collect()
    assert len(out) == 40
    for r in out:
        # offset is the doc's start position inside its bin
        assert 0 <= r["bin_offset"] < 1000
        assert r["bin_id"] >= 0
        assert r["shard"] == r["id"] % 2
    # within a stream, (bin_id, bin_offset) is strictly increasing in id
    streams = {}
    for r in sorted(out, key=lambda r: r["id"]):
        key = (r["domain"], r["shard"])
        pos = r["bin_id"] * 1000 + r["bin_offset"]
        assert streams.get(key, -1) < pos
        streams[key] = pos


def test_pack_greedy_capacity_strict(spark):
    out = pack_greedy(
        _sized(spark), "doc_id", "source", "nt", budget=1000, shards=2
    ).collect()
    assert len(out) == 40
    # no bin ever exceeds the budget (all docs fit individually here)
    fills = {}
    for r in out:
        key = (r["domain"], r["shard"], r["bin_id"])
        fills[key] = max(fills.get(key, 0), r["bin_fill"])
        assert r["bin_fill"] <= 1000
    # bins are reasonably full: every bin except possibly the last of
    # each stream could not have accepted the next doc
    assert len(fills) < 40  # actually packs (not one doc per bin)


def test_pack_greedy_oversized_doc_gets_own_bin(spark):
    rows = [(0, "d", 500), (1, "d", 5000), (2, "d", 500)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, nt long")
    out = {r["id"]: r for r in
           pack_greedy(docs, "doc_id", "source", "nt",
                       budget=1000, shards=1).collect()}
    assert out[0]["bin_id"] == 0
    assert out[1]["bin_id"] == 1 and out[1]["bin_fill"] == 5000
    assert out[2]["bin_id"] == 2  # oversized doc closed its bin


def test_exact_dedup_incremental_matches_plain_join(spark):
    from anofox_forecast_spark.webtext.dedup import exact_dedup_incremental

    standing = spark.createDataFrame(
        [(0, "shared text one"), (2, "shared text one"), (4, "only old")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, "shared text one"), (11, "brand new"), (12, "only old")],
        "doc_id long, text string",
    )
    out = {r["id"]: (r["is_dup"], r["dup_of"]) for r in
           exact_dedup_incremental(new, standing, "doc_id", "text").collect()}
    assert out[10] == (True, 0)  # min standing id wins
    assert out[11] == (False, None)
    assert out[12] == (True, 4)


def test_exact_dedup_incremental_bloom_fp_safe(spark):
    # a pathologically small Bloom filter saturates (every probe is a
    # false positive) — the exact join behind it must keep the output
    # identical, only slower
    from anofox_forecast_spark.webtext.dedup import exact_dedup_incremental

    standing = spark.createDataFrame(
        [(i, f"old doc {i}") for i in range(20)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(100 + i, f"new doc {i}") for i in range(20)]
        + [(200, "old doc 7")],
        "doc_id long, text string",
    )
    big = exact_dedup_incremental(new, standing, "doc_id", "text")
    tiny = exact_dedup_incremental(
        new, standing, "doc_id", "text", bloom_bits=64, n_probes=2
    )
    assert sorted(map(tuple, big.collect())) == sorted(map(tuple, tiny.collect()))
    dup = [r for r in big.collect() if r["is_dup"]]
    assert len(dup) == 1 and dup[0]["dup_of"] == 7


# ---------------------------------------------------------------------------
# prepare_corpus composition


def test_prepare_corpus_stage_accounting(spark):
    from anofox_forecast_spark.webtext.pipeline import prepare_corpus

    clean = ("the quick brown fox jumps over the lazy dog while the other "
             "animals watch the field and the sun sets on the quiet farm")
    rows = [
        (0, clean, "web"),
        (1, clean + " with a small tail change at the end today", "web"),
        (2, clean, "web"),                      # exact dup of 0
        (3, "1234!!! 5678??? 90!!", "web"),     # low quality (punct+digits)
        (4, "spark plans shuffle exchange sort aggregate project scan "
            "filter window broadcast join codegen stage task executor",
            "books"),
        (5, "held out benchmark sentence about gradient descent methods "
            "and their convergence on convex problems", "books"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    bench = spark.createDataFrame(
        [(100, "held out benchmark sentence about gradient descent methods "
               "and their convergence on convex problems", "eval")],
        "doc_id long, text string, source string",
    )
    packed, stats = prepare_corpus(
        docs, "doc_id", "text", "source",
        benchmark=bench, decontaminate_n=8,
        line_dedup_tokens=None,  # keep texts verbatim for the dup stages
    )
    s = stats.collect()[0].asDict()
    assert s["n_input"] == 6
    assert s["n_fail_quality"] == 1        # doc 3
    assert s["n_exact_dup"] == 1           # doc 2 (doc 0 is the survivor)
    assert s["n_near_dup"] >= 1            # doc 1 or 2 collapses into 0's group
    assert s["n_contaminated"] == 1        # doc 5 overlaps the benchmark
    assert s["n_mixture_dropped"] == 0     # sampling off
    kept_ids = {r["id"] for r in packed.collect()}
    assert 0 in kept_ids and 4 in kept_ids
    assert 2 not in kept_ids and 3 not in kept_ids and 5 not in kept_ids
    assert s["n_kept"] == len(kept_ids)
    # packed output carries bin assignments and the text payload
    row0 = [r for r in packed.collect() if r["id"] == 0][0]
    assert row0["bin_id"] >= 0 and row0["text"] == clean


def test_prepare_corpus_single_job_stats(spark):
    # the stats row and the packed output must not disagree with each
    # other when computed twice (no nondeterministic stage inside)
    from anofox_forecast_spark.webtext.pipeline import prepare_corpus

    docs = spark.createDataFrame(
        [(i, f"document number {i} talks about topic {i % 3} in long "
             f"enough form to pass the quality floor easily and cleanly",
          "web") for i in range(30)],
        "doc_id long, text string, source string",
    )
    packed1, stats1 = prepare_corpus(docs, "doc_id", "text", "source",
                                     mixture_rates={"web": 0.5})
    packed2, stats2 = prepare_corpus(docs, "doc_id", "text", "source",
                                     mixture_rates={"web": 0.5})
    assert sorted(map(tuple, packed1.collect())) == \
        sorted(map(tuple, packed2.collect()))
    assert stats1.collect() == stats2.collect()
    s = stats1.collect()[0].asDict()
    assert s["n_kept"] == packed1.count()


def test_pack_validates_params(spark):
    docs = _sized(spark)
    with pytest.raises(ValueError):
        pack_sequences(docs, "doc_id", "source", "nt", budget=0)
    with pytest.raises(ValueError):
        pack_greedy(docs, "doc_id", "source", "nt", budget=100, shards=0)


# substring_dedup (ExactSubstr, Lee et al. 2021)


SUB_DOCS = [
    # doc 0 and doc 1 share the 10-token run "t1 .. t10"; doc 1 also has
    # unique tokens around it. doc 2 repeats doc 0's tail AND doc 1's
    # head regions so its two flagged windows OVERLAP and must merge.
    (0, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 u0a u0b"),
    (1, "v1a v1b t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 w1a"),
    (2, "t3 t4 t5 t6 t7 t8 t9 t10 u0a u0b x2a x2b"),
    (3, "completely different content with no shared runs at all yes"),
    (4, "short doc"),
]


def _sub_docs(spark):
    return spark.createDataFrame(SUB_DOCS, "doc_id long, text string")


def test_substring_dedup_keeps_first_and_merges_spans(spark):
    from anofox_forecast_spark.webtext.dedup import substring_dedup

    out = {
        r["id"]: r
        for r in substring_dedup(
            _sub_docs(spark), "doc_id", "text", min_tokens=8
        ).collect()
    }
    # doc 0 is the corpus-wide first occurrence of every duplicated
    # window it contains -> untouched
    assert out[0]["n_removed"] == 0
    assert out[0]["text_deduped"] == SUB_DOCS[0][1]
    # doc 1: windows over t1..t10 are all duplicates of doc 0's ->
    # flagged windows [2,10) and [3,11) and [4,12) merge to [2,12);
    # the unique frame survives
    assert out[1]["text_deduped"] == "v1a v1b w1a"
    assert out[1]["n_removed"] == 10
    # doc 2: t3..t10+u0a u0b duplicates doc 0's suffix -> [0,10) cut
    assert out[2]["text_deduped"] == "x2a x2b"
    assert out[2]["n_removed"] == 10
    # clean and short docs pass through whole
    assert out[3]["n_removed"] == 0
    assert out[4]["n_removed"] == 0 and out[4]["text_deduped"] == "short doc"


def test_substring_dedup_every_doc_present_and_counts(spark):
    from anofox_forecast_spark.webtext.dedup import substring_dedup

    rows = substring_dedup(_sub_docs(spark), "doc_id", "text",
                           min_tokens=8).collect()
    assert {r["id"] for r in rows} == {0, 1, 2, 3, 4}
    for r in rows:
        assert r["n_tokens"] >= r["n_removed"] >= 0
        kept = [t for t in r["text_deduped"].split(" ") if t]
        assert len(kept) == r["n_tokens"] - r["n_removed"]


def test_substring_dedup_hashed_equals_exact(spark):
    from anofox_forecast_spark.webtext.dedup import substring_dedup

    docs = _sub_docs(spark).union(spark.createDataFrame(
        [(5, ""), (6, "!!! ..."), (7, "")], "doc_id long, text string"))
    exact = sorted(
        substring_dedup(docs, "doc_id", "text", min_tokens=8).collect())
    hashed = sorted(
        substring_dedup(docs, "doc_id", "text", min_tokens=8,
                        hashed=True).collect())
    assert exact == hashed
    assert [tuple(r) for r in exact if r["id"] >= 5] == [
        (5, 0, 0, ""), (6, 0, 0, ""), (7, 0, 0, "")]


def test_substring_dedup_rejects_tiny_window(spark):
    from anofox_forecast_spark.webtext.dedup import substring_dedup

    with pytest.raises(ValueError):
        substring_dedup(_sub_docs(spark), "doc_id", "text", min_tokens=1)


# ---------------------------------------------------------------------------
# domain_stats


def test_domain_stats_report(spark):
    from anofox_forecast_spark.webtext.text_stats import domain_stats

    out = {
        r["source"]: r
        for r in domain_stats(_docs(spark), "doc_id", "text",
                              "source").collect()
    }
    assert out["web"]["n_docs"] == 3 and out["books"]["n_docs"] == 2
    assert out["web"]["total_tokens"] == 6 + 7 + 6
    assert abs(out["web"]["doc_share"] - 0.6) < 1e-9
    assert abs(out["books"]["mean_tokens"] - 7.0) < 1e-9
