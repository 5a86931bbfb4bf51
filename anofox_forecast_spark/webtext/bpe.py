"""Byte-pair-encoding tokenizer: distributed training + Arrow-batched
tokenization.

The 100-TB shape follows how production BPE trainers actually work
(Sennrich et al. 2016; HuggingFace `tokenizers` does the same): BPE
statistics depend only on the corpus's *word-frequency table*, not on
the corpus itself — so the cluster does ONE tokenize+explode+hash-agg
pass to produce (word, freq), caps it to the most frequent
``max_words`` (frequency coverage of natural-language corpora is
heavily Zipfian; the tail below the cap cannot influence early merges),
and the merge loop runs driver-side over that bounded table with an
incrementally-maintained pair index (only words containing the merged
pair are touched per iteration — the classic learn-BPE optimization).
Tokenization then broadcasts the learned merge ranks inside a pandas
UDF closure and applies greedy lowest-rank merging per word with a
per-batch word cache (web text repeats words heavily, so the cache
turns per-word cost into a dict hit).

No reference counterpart (`/root/reference` is a forecasting engine);
this implements the public BPE recipe. Spark-side contract: one
shuffle for training stats, zero shuffles for tokenization.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from anofox_forecast_spark.webtext.text_stats import _tokens

END = "</w>"  # end-of-word marker (Sennrich 2016 convention)


def word_frequencies(
    df: DataFrame, text_col: str, max_words: int = 100_000
) -> DataFrame:
    """One tokenize + explode + hash-aggregate pass → the top-``max_words``
    (word, freq) rows ordered by (-freq, word). The ONLY distributed pass
    BPE training needs; map-side combine absorbs hot words before the
    single shuffle."""
    w = _tokens(F.col(text_col))
    return (
        df.select(F.explode(w).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(int(max_words))
    )


def learn_bpe_from_counts(
    word_freqs: Iterable[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Classic BPE merge learning over a (word, freq) table, driver-side.

    Deterministic: ties on pair frequency break lexicographically.
    Incremental pair index: ``pair_counts`` plus ``pair_words`` (which
    word ids contain the pair) so each merge touches only the words it
    occurs in, not the whole vocabulary.
    """
    words: list[list[str]] = []
    freqs: list[int] = []
    for w, f in word_freqs:
        if not w:
            continue
        words.append(list(w) + [END])
        freqs.append(int(f))

    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}

    def add_word_pairs(idx: int, sign: int) -> None:
        syms, f = words[idx], freqs[idx]
        for a, b in zip(syms, syms[1:]):
            p = (a, b)
            pair_counts[p] = pair_counts.get(p, 0) + sign * f
            if sign > 0:
                pair_words.setdefault(p, set()).add(idx)

    for i in range(len(words)):
        add_word_pairs(i, +1)

    merges: list[tuple[str, str]] = []
    for _ in range(int(n_merges)):
        best = None
        best_count = 0
        for p, c in pair_counts.items():
            if c > best_count or (c == best_count and best is not None and p < best):
                if c > 0:
                    best, best_count = p, c
        if best is None:
            break
        merges.append(best)
        merged = best[0] + best[1]
        # rebuild only the words that contain the winning pair
        touched = list(pair_words.get(best, ()))
        for idx in touched:
            add_word_pairs(idx, -1)
            syms = words[idx]
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == best[0] and syms[i + 1] == best[1]:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[idx] = out
            add_word_pairs(idx, +1)
        # drop exhausted entries so the argmax scan stays proportional to
        # the LIVE pair set
        pair_counts = {p: c for p, c in pair_counts.items() if c > 0}
        pair_words = {p: s for p, s in pair_words.items() if p in pair_counts}
    return merges


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int = 1000,
    max_words: int = 100_000,
) -> list[tuple[str, str]]:
    """Distributed stats + driver-side merge loop → ordered merge list.

    The ``.collect()`` here is a bounded control-plane read (≤ max_words
    rows — the word-frequency table, NOT the corpus), the same contract
    as the IVF quantizer sample."""
    rows = word_frequencies(df, text_col, max_words=max_words).collect()
    return learn_bpe_from_counts(((r["word"], r["freq"]) for r in rows), n_merges)


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    syms = list(word) + [END]
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i, p in enumerate(zip(syms, syms[1:])):
            r = ranks.get(p)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_tokenize(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Apply learned merges: (id, tokens array<string>, n_tokens,
    n_words). Zero shuffles — the merge ranks ride in the UDF closure
    (broadcast once per executor), words are cached per Arrow batch so
    repeated words cost a dict hit."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}

    @F.pandas_udf("array<string>")
    def encode(words: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def enc_doc(ws):
            out: list[str] = []
            for w in ws:
                toks = cache.get(w)
                if toks is None:
                    toks = _encode_word(w, ranks)
                    cache[w] = toks
                out.extend(toks)
            return out

        return words.map(enc_doc)

    words = _tokens(F.col(text_col))
    toks = encode(words)
    out = df.select(
        F.col(id_col).alias("id"),
        F.size(words).cast("int").alias("n_words"),
        toks.alias("tokens"),
    )
    return out.select(
        "id", "tokens", F.size("tokens").cast("int").alias("n_tokens"), "n_words"
    )
