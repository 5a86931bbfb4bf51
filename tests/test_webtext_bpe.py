from __future__ import annotations

from anofox_forecast_spark.webtext.bpe import (
    END,
    bpe_tokenize,
    bpe_train,
    learn_bpe_from_counts,
    word_frequencies,
)


# classic Sennrich 2016 toy corpus
TOY = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]


def test_learn_bpe_classic_merges():
    merges = learn_bpe_from_counts(TOY, n_merges=5)
    # 'es' appears in newest(6)+widest(3)=9, the top pair; then est, est</w>
    assert merges[0] == ("e", "s")
    assert merges[1] == ("es", "t")
    assert merges[2] == ("est", END)
    # 'lo' from low(5)+lower(2)=7 beats remaining pairs
    assert merges[3] == ("l", "o")
    assert merges[4] == ("lo", "w")


def test_learn_bpe_deterministic_and_exhausts():
    a = learn_bpe_from_counts(TOY, n_merges=50)
    b = learn_bpe_from_counts(TOY, n_merges=50)
    assert a == b
    # the toy vocab runs out of positive-count pairs before 50 merges:
    # every word collapses to a single symbol
    assert len(a) < 50


def test_encode_word_greedy_rank():
    merges = learn_bpe_from_counts(TOY, n_merges=10)
    from anofox_forecast_spark.webtext.bpe import _encode_word

    ranks = {p: i for i, p in enumerate(merges)}
    toks = _encode_word("lowest", ranks)
    # 'low' + 'est</w>' is the classic segmentation once both exist
    assert "".join(toks) == "lowest" + END
    assert "est" + END in toks or "est" in "".join(toks)


def test_word_frequencies_and_train(spark):
    docs = spark.createDataFrame(
        [(1, "low low low low low lower lower"),
         (2, "newest newest newest newest newest newest"),
         (3, "widest widest widest")],
        ["doc_id", "text"],
    )
    wf = {r["word"]: r["freq"] for r in word_frequencies(docs, "text").collect()}
    assert wf == {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    merges = bpe_train(docs, "text", n_merges=5)
    assert merges == learn_bpe_from_counts(TOY, n_merges=5)


def test_words_are_the_engine_tokenizer(spark):
    """BPE words come from text_stats._tokens: punctuation is stripped
    before lowercasing, so "İstanbul" (whose lowercase carries a combining
    dot, not a letter) stays one word, as in shingles and term stats."""
    from pyspark.sql import functions as F

    from anofox_forecast_spark.webtext.text_stats import _tokens

    docs = spark.createDataFrame([(1, "\u0130stanbul, \u0130stanbul! low")], ["doc_id", "text"])
    wf = {r["word"]: r["freq"] for r in word_frequencies(docs, "text").collect()}
    assert wf == {"i\u0307stanbul": 2, "low": 1}
    toks = docs.select(_tokens(F.col("text")).alias("t")).first()["t"]
    assert sorted(set(toks)) == sorted(wf)
    out = bpe_tokenize(docs, "doc_id", "text", []).first()
    assert out["n_words"] == 3


def test_tokenize_roundtrip_and_counts(spark):
    docs = spark.createDataFrame(
        [(1, "low lower newest"), (2, "widest low"), (3, "")],
        ["doc_id", "text"],
    )
    merges = learn_bpe_from_counts(TOY, n_merges=8)
    out = {r["id"]: r for r in bpe_tokenize(docs, "doc_id", "text", merges).collect()}
    # token concatenation reproduces each word + end marker, in order
    joined = "".join(out[1]["tokens"]).replace(END, " ").strip()
    assert joined == "low lower newest"
    assert out[1]["n_words"] == 3
    assert out[1]["n_tokens"] >= out[1]["n_words"]  # >= one token per word
    assert out[3]["n_tokens"] == 0 and out[3]["n_words"] == 0
    # empty merges -> pure character segmentation
    chars = {r["id"]: r for r in bpe_tokenize(docs, "doc_id", "text", []).collect()}
    assert chars[2]["n_tokens"] == len("widest") + 1 + len("low") + 1


def test_tokenize_plan_shape(spark):
    docs = spark.createDataFrame([(1, "low")], ["doc_id", "text"])
    plan = (
        bpe_tokenize(docs, "doc_id", "text", [("l", "o")])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_unknown_chars_fall_back_to_chars(spark):
    merges = learn_bpe_from_counts(TOY, n_merges=8)
    from anofox_forecast_spark.webtext.bpe import _encode_word

    ranks = {p: i for i, p in enumerate(merges)}
    toks = _encode_word("zq", ranks)
    assert toks == ["z", "q", END]
