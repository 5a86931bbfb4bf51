"""The webtext word-gram front-end (webtext/text_stats.py): the word array,
the string/hashed gram builder and the batch-wide word-hash core."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from anofox_forecast_spark.webtext.text_stats import (
    _combo_coefs,
    _flatten,
    _tokens,
    _window_combos,
    grams,
)

NS = (2, 3, 8, 16)
MASK = (1 << 64) - 1


def _lengths(n: int, rng) -> list[int]:
    """Doc lengths 0, 1, n-1, n and n+7 in random order, plus a short doc
    right after a long one (its window would run into the next doc)."""
    lengths = [int(x) for x in rng.choice([0, 1, n - 1, n, n + 7], size=40)]
    return lengths + [n + 7, 1, n + 7, n - 1, 0, n + 7, 1]


def _reference(docs: list[list[int]], coefs: list[int], n: int):
    """Pure-Python Σ_j c_j·w_{i+j} mod 2^64 over every window of every doc
    with a word; a doc shorter than n has one partial window."""
    combos, counts = [], []
    for w in docs:
        if not w:
            continue
        c = max(len(w) - n + 1, 1)
        counts.append(c)
        for i in range(c):
            combos.append(sum(coefs[j] * w[i + j] for j in range(min(n, len(w) - i))) & MASK)
    return combos, counts


@pytest.mark.parametrize("n", NS)
def test_window_combos_match_python_reference(n):
    rng = np.random.default_rng(n)
    docs = [[int(x) for x in rng.integers(0, 1 << 64, size=k, dtype=np.uint64)]
            for k in _lengths(n, rng)]
    batch = pd.Series([np.array(w, dtype=np.uint64).view(np.int64) for w in docs])
    W, nonempty, lengths, starts = _flatten(batch)
    assert nonempty.tolist() == [bool(w) for w in docs]
    coefs = _combo_coefs(11, n)
    combos, counts = _window_combos(W, starts, lengths, coefs)
    want, want_counts = _reference(docs, [int(c) for c in coefs], n)
    assert counts.tolist() == want_counts
    assert [int(x) for x in combos] == want


def test_combo_coefs_are_odd_and_prefix_stable():
    c = _combo_coefs(97, 5)
    assert c.dtype == np.uint64 and (c & np.uint64(1)).all()
    assert (_combo_coefs(97, 3) == c[:3]).all()


def test_flatten_batch_with_no_word():
    W, nonempty, lengths, starts = _flatten(pd.Series([np.array([], dtype=np.int64)] * 3))
    assert W.size == 0 and lengths.size == 0 and starts.size == 0
    assert not nonempty.any()


def test_tokens_of_a_doc_with_no_word_are_empty(spark):
    df = spark.createDataFrame([(0, ""), (1, "!!!"), (2, "   "), (3, " A-b, c! ")],
                               "id long, text string")
    toks = {r["id"]: r["t"] for r in df.select("id", _tokens(F.col("text")).alias("t")).collect()}
    assert toks == {0: [], 1: [], 2: [], 3: ["a", "b", "c"]}


@pytest.mark.parametrize("n", NS)
def test_gram_counts_and_keys_follow_string_grams(spark, n):
    """Per doc, the string builder, the hashed builder and the numpy core
    agree on the number of grams; equal gram strings get equal keys."""
    rng = np.random.default_rng(100 + n)
    lengths = _lengths(n, rng)
    texts = [" ".join(f"w{int(x)}" for x in rng.integers(0, 4, size=k)) for k in lengths]
    texts[0] = "!!! ..."
    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    words = _tokens(F.col("text"))
    rows = df.select(
        "id",
        grams(words, n).alias("s"),
        grams(words, n, hashed=True).alias("h"),
        F.transform(words, lambda w: F.xxhash64(w)).alias("wh"),
    ).orderBy("id").collect()
    want = [0 if i == 0 else (max(k - n + 1, 1) if k else 0) for i, k in enumerate(lengths)]
    assert [len(r["s"]) for r in rows] == want
    assert [len(r["h"]) for r in rows] == want
    W, nonempty, ne_len, starts = _flatten(pd.Series([np.array(r["wh"], dtype=np.int64) for r in rows]))
    combos, counts = _window_combos(W, starts, ne_len, _combo_coefs(11, n))
    assert counts.tolist() == [c for c in want if c]
    assert combos.view(np.int64).tolist() == [h for r in rows for h in r["h"]]
    key_of: dict[str, int] = {}
    for r in rows:
        for s, h in zip(r["s"], r["h"]):
            assert key_of.setdefault(s, h) == h
    assert len(set(key_of.values())) == len(key_of)
