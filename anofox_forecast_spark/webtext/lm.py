"""Corpus language-model scoring for training-data curation.

Two published data-selection scores, re-expressed as DataFrame plans
(no reference counterpart — the reference engine has no LM scoring;
semantics come from the public papers):

- :func:`lm_perplexity` — CCNet-style LM quality scoring (Wenzek et
  al., "CCNet", LREC 2020 trains a KenLM on Wikipedia and ranks
  CommonCrawl docs by perplexity). Here the LM is a bigram model with
  add-one smoothing trained on ``train_df`` — same pipeline shape:
  train on a reference corpus, score everything.
- :func:`dsir_log_weights` — Data Selection via Importance Resampling
  (Xie et al., NeurIPS 2023): per-doc importance log-weight
  ``sum_g c(g|doc) * (ln p_target(g) - ln p_raw(g))`` over n-gram
  features of a target corpus vs the raw corpus.

Determinism contract: per-token/per-gram log terms are quantized to
integer micro-nats (``CAST(round(x * 1e6) AS BIGINT)``) BEFORE the
per-doc sum, so the aggregate is exact integer arithmetic — immune to
float summation-order drift across partitions and engines. The DuckDB
oracles replay the identical quantized terms.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .text_stats import _tokens

_U6 = 1_000_000.0  # micro-nat quantum shared with the DuckDB twins


def _tok_frame(
    df: DataFrame, id_col: str, text_col: str, hashed: bool = False
) -> DataFrame:
    """(id, __toks): the engine's word array, empty docs kept (empty array).

    ``hashed=True`` (the scale path) hashes each word once (xxhash64, no
    gram string is ever built) and materializes the compact long arrays
    lazily (``localCheckpoint(eager=False)``): the frame feeds several
    gram branches, and unmaterialized, Spark re-tokenizes the corpus once
    per branch. The exact-string frame is NOT checkpointed: storing string
    token arrays costs more than re-tokenizing, and exact mode is the
    small-scale oracle path."""
    toks = _tokens(F.col(text_col))
    if hashed:
        toks = F.transform(toks, lambda t: F.xxhash64(t))
    frame = df.select(F.col(id_col).alias("id"), toks.alias("__toks"))
    return frame.localCheckpoint(eager=False) if hashed else frame


def _bigrams(toks: Column) -> Column:
    """array<struct<v,w>> of consecutive token pairs (JVM-side — the
    pair stream is built before any shuffle, so the corpus token
    multiset never moves as strings)."""
    n = F.greatest(F.size(toks) - 1, F.lit(0))  # 0-token docs: empty pair list
    return F.arrays_zip(
        F.slice(toks, 1, n).alias("v"), F.slice(toks, 2, n).alias("w")
    )


def lm_perplexity(
    df: DataFrame,
    id_col: str,
    text_col: str,
    train_df: DataFrame | None = None,
    vocab_size: int | None = None,
    hashed: bool = False,
) -> DataFrame:
    """Per-document bigram-LM negative log-likelihood and perplexity:
    (id, n_tokens, avg_nll, ppl), CCNet-style (train on a clean
    reference corpus, score the raw corpus; Wenzek et al. 2020).

    Model: add-one-smoothed bigram LM over the shared ``_tokens``
    vocabulary. First token scores against the unigram distribution
    ``P(w) = (c(w)+1)/(T+V)``; subsequent tokens against
    ``P(w|v) = (c(v,w)+1)/(c(v)+V)`` where V is the distinct-term
    count of the training corpus. ``avg_nll`` is the mean per-token
    ``-ln P`` (micro-nat-quantized terms, exact integer sum);
    ``ppl = exp(avg_nll)``. Empty docs get NULL scores.

    ``vocab_size`` keeps the top-V terms by (count desc, term asc) and
    maps the rest to ``<unk>`` before counting — at production scale
    this bounds the unigram table (broadcast) and shrinks the bigram
    table (the model, carried through one shuffle join). Scale shape:
    token arrays stay JVM-side until the explode; the unigram/total
    branches are 1-row or V-row broadcasts; the only large shuffle is
    gram-stream × bigram-count, keyed by (v, w) — exactly the join a
    1000-executor run wants, no driver collect anywhere.

    ``hashed=True`` is the corpus-scale path: terms become xxhash64
    token hashes before any explode, so the gram streams and every
    model join carry 8-byte keys instead of strings. Scores are
    identical up to hash collisions (two colliding terms share one LM
    slot); exact-string mode is the DuckDB-oracled path.
    """
    # the tokenized frame feeds five branches (train uni/bi streams,
    # first-token stream, scoring bigram stream, final n_tokens select)
    score = _tok_frame(df, id_col, text_col, hashed)
    train = score if train_df is None else _tok_frame(train_df, id_col, text_col, hashed)
    unk = F.lit(-1).cast("long") if hashed else F.lit("<unk>")

    t_uni = train.select(F.explode("__toks").alias("term"))
    if vocab_size is not None:
        from pyspark.sql import Window

        w = Window.orderBy(F.desc("c"), F.asc("term"))
        vocab = (
            t_uni.groupBy("term").agg(F.count("*").alias("c"))
            .withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= int(vocab_size))
            .select(F.col("term").alias("__vterm"), F.lit(True).alias("__in_v"))
        )

        def _map(frame: DataFrame, col: str) -> DataFrame:
            lhs = frame[col]
            return (
                frame.join(F.broadcast(vocab), lhs == F.col("__vterm"), "left")
                .withColumn(col, F.when(F.col("__in_v"), lhs).otherwise(unk))
                .drop("__vterm", "__in_v")
            )
    else:
        def _map(frame: DataFrame, col: str) -> DataFrame:
            return frame

    t_uni = _map(t_uni, "term")
    uc = t_uni.groupBy("term").agg(F.count("*").alias("__cu"))
    # (T, V) derived from the V-row aggregate instead of a SECOND full
    # explode + count_distinct pass over the token stream: T = Σ counts,
    # V = rows of uc — identical values (coalesce keeps T = 0, not NULL,
    # on an empty training corpus, matching the old count(*)). The uc
    # exchange is shared with the model joins below via exchange reuse.
    tv = F.broadcast(
        uc.agg(
            F.coalesce(F.sum("__cu"), F.lit(0)).alias("__t"),
            F.count("*").alias("__v"),
        )
    )
    t_bi = train.select(F.explode(_bigrams(F.col("__toks"))).alias("p")).select(
        F.col("p.v").alias("v"), F.col("p.w").alias("w")
    )
    t_bi = _map(_map(t_bi, "v"), "w")
    # hashed mode keys the bigram model by ONE fused 8-byte hash of the
    # (v, w) pair instead of the two-column composite: the model groupBy
    # and the scoring join then shuffle/compare half the key bytes.
    # Collision semantics are unchanged in kind — hashed-mode tokens are
    # already 64-bit hashes with documented collide-and-merge behavior;
    # the fused key adds one more 2^-64-per-pair layer. Exact-string
    # mode (the DuckDB-oracled path) keeps the composite key untouched.
    if hashed:
        t_bi = t_bi.select(F.xxhash64("v", "w").alias("g"))
        bc = t_bi.groupBy("g").agg(F.count("*").alias("__cb"))
    else:
        bc = t_bi.groupBy("v", "w").agg(F.count("*").alias("__cb"))
    # c(v) must count the TRAINING unigram stream (denominator of the
    # conditional), reused from uc via rename
    ucv = uc.select(F.col("term").alias("v"), F.col("__cu").alias("__cv"))

    first = _map(
        score.filter(F.size("__toks") >= 1).select(
            "id", F.col("__toks")[0].alias("term")
        ),
        "term",
    )
    # uc/ucv are V-row model tables: left to AQE, which broadcasts them
    # when they fit (always, once vocab_size bounds V) and falls back to
    # a keyed shuffle join for an unbounded vocabulary
    nll_first = (
        first.join(uc, "term", "left")
        .crossJoin(tv)
        .select(
            "id",
            F.round(
                F.log(
                    (F.col("__t") + F.col("__v"))
                    / (F.coalesce(F.col("__cu"), F.lit(0)) + F.lit(1.0))
                )
                * _U6
            ).cast("long").alias("__u6"),
        )
    )
    s_bi = score.select(
        "id", F.explode(_bigrams(F.col("__toks"))).alias("p")
    ).select("id", F.col("p.v").alias("v"), F.col("p.w").alias("w"))
    s_bi = _map(_map(s_bi, "v"), "w")
    # the gram-stream × bigram-model join is the single most expensive
    # node in this operator (isolated at 200k docs / 32 cores: 13.3 s as
    # the default sort-merge join vs 4.7 s as a shuffled-hash join on the
    # fused key — the sort of ~30M rows bought nothing downstream, the
    # per-doc aggregate doesn't need sorted input). SHUFFLE_HASH is a
    # strategy hint only: results are identical, and Spark 3.2+ SHJ
    # spills, so an oversized model partition degrades instead of OOMing.
    if hashed:
        s_bi = s_bi.select("id", "v", F.xxhash64("v", "w").alias("g"))
        joined_bi = s_bi.join(bc.hint("shuffle_hash"), "g", "left")
    else:
        joined_bi = s_bi.join(bc.hint("shuffle_hash"), ["v", "w"], "left")
    nll_bi = (
        joined_bi
        .join(ucv, "v", "left")
        .crossJoin(tv)
        .select(
            "id",
            F.round(
                F.log(
                    (F.coalesce(F.col("__cv"), F.lit(0)) + F.col("__v"))
                    / (F.coalesce(F.col("__cb"), F.lit(0)) + F.lit(1.0))
                )
                * _U6
            ).cast("long").alias("__u6"),
        )
    )
    per_doc = (
        nll_first.unionByName(nll_bi)
        .groupBy("id")
        .agg(F.sum("__u6").alias("__s"), F.count("*").alias("__n"))
        .select(
            "id",
            F.round(F.col("__s") / _U6 / F.col("__n"), 6).alias("avg_nll"),
            F.round(F.exp(F.col("__s") / _U6 / F.col("__n")), 6).alias("ppl"),
        )
    )
    return (
        score.select("id", F.size("__toks").cast("long").alias("n_tokens"))
        .join(per_doc, "id", "left")
        .select("id", "n_tokens", "avg_nll", "ppl")
    )


def dsir_log_weights(
    df: DataFrame,
    target_df: DataFrame,
    id_col: str,
    text_col: str,
    hash_buckets: int | None = None,
) -> DataFrame:
    """DSIR importance log-weights (Xie et al., NeurIPS 2023):
    (id, n_grams, log_w) where
    ``log_w = sum_over_doc_grams (ln p_target(g) - ln p_raw(g))``
    over unigram+bigram features, both distributions add-one-smoothed
    over the union feature vocabulary U:
    ``p(g) = (c(g)+1) / (T + |U|)``. Docs with log_w near the top of
    the distribution look like the target corpus; resample
    proportionally to ``exp(log_w)`` (the paper adds Gumbel noise —
    compose with :func:`~..pipeline.mixture_sample`'s LCG for a
    deterministic variant).

    ``hash_buckets=k`` is the paper's hashed feature space AND the
    corpus-scale path: token hashes fold into bigram hashes JVM-side
    (no gram strings are ever built) and ``pmod`` into k buckets, so
    the model table is bounded at k rows (broadcastable at any corpus
    size) and every explode/join carries 8-byte keys. Hashed mode has
    no DuckDB twin (cross-engine hash); exact-token mode is the
    oracled path.

    Scale shape: two gram-count aggregates (map-side combined), one
    full-outer join building the |U|-row delta table (the model), one
    shuffle join gram-stream × delta keyed by gram, one exact integer
    per-doc sum. No collects; the raw corpus text never shuffles —
    only (id, gram) pairs move.
    """
    hashed = hash_buckets is not None
    raw = _tok_frame(df, id_col, text_col, hashed)
    tgt = _tok_frame(target_df, id_col, text_col, hashed)

    def uni_bi_grams(frame: DataFrame) -> DataFrame:
        # uni+bi grams ride ONE concat array through ONE explode (r6): a
        # two-branch union scanned the token frame twice per reference —
        # interleaved A/B at 200k docs measured 11.5 s → 9.4 s for the
        # hashed operator; the gram MULTISET is identical (aggregate
        # order-free). Hashed mode folds token hashes into bigram hashes
        # JVM-side, then pmods into the bounded bucket space, so explodes
        # and joins carry longs.
        th = F.col("__toks")
        n = F.greatest(F.size(th) - 1, F.lit(0))
        pair = (lambda a, x: F.xxhash64(a, x)) if hashed else (
            lambda a, x: F.concat_ws(" ", a, x))
        bi = F.zip_with(F.slice(th, 1, n), F.slice(th, 2, n), pair)
        g = frame.select("id", F.explode(F.concat(th, bi)).alias("g"))
        if hashed:
            g = g.select("id", F.pmod("g", F.lit(int(hash_buckets))).alias("g"))
        return g

    g_raw, g_tgt = uni_bi_grams(raw), uni_bi_grams(tgt)
    c_raw = g_raw.groupBy("g").agg(F.count("*").alias("__cr"))
    c_tgt = g_tgt.groupBy("g").agg(F.count("*").alias("__ct"))
    # SHUFFLE_HASH: the two count tables are hash-partitioned by g
    # already; a sort-merge full-outer would sort both for nothing (the
    # delta projection is order-free). Strategy-only, identical output.
    model = c_raw.join(c_tgt.hint("shuffle_hash"), "g", "full_outer").select(
        "g",
        F.coalesce("__cr", F.lit(0)).alias("__cr"),
        F.coalesce("__ct", F.lit(0)).alias("__ct"),
    )
    totals = F.broadcast(
        model.agg(
            F.sum("__cr").alias("__tr"),
            F.sum("__ct").alias("__tt"),
            F.count("*").alias("__u"),
        )
    )
    delta = model.crossJoin(totals).select(
        "g",
        F.round(
            (
                F.log((F.col("__ct") + 1.0) / (F.col("__tt") + F.col("__u")))
                - F.log((F.col("__cr") + 1.0) / (F.col("__tr") + F.col("__u")))
            )
            * _U6
        ).cast("long").alias("__d6"),
    )
    if hashed:
        # hashed mode bounds the model at hash_buckets rows — broadcast
        # it explicitly (the size ESTIMATE after full_outer+crossJoin is
        # far above the auto threshold, so AQE plans a sort-merge join
        # that shuffles the ENTIRE (id, gram) scoring stream; with the
        # broadcast the gram stream never exchanges and the per-doc sum
        # map-side-combines straight off the scan). This is the shape the
        # module docstring promises at 100 TB: the model is the small
        # side by construction, corpus gram rows never move.
        delta = F.broadcast(delta)
    per_doc = (
        g_raw.join(delta, "g")
        .groupBy("id")
        .agg(F.sum("__d6").alias("__s"), F.count("*").alias("__n"))
        .select(
            "id",
            F.col("__n").alias("n_grams"),
            F.round(F.col("__s") / _U6, 6).alias("log_w"),
        )
    )
    return (
        raw.select("id")
        .join(per_doc, "id", "left")
        .select(
            "id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            "log_w",
        )
    )
