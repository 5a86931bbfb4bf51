"""Training-data pipeline operators beyond dedup: benchmark
decontamination, TF-IDF term ranking, deterministic mixture sampling,
and sequence packing. No reference counterpart (the reference is a
forecasting engine); these are the corpus-preparation stages an LLM
training pipeline runs between dedup and tokenization, implemented
Spark-first.

Scale notes (100 TB):
- decontaminate: the benchmark side is small (benchmark suites are
  thousands of documents → at most a few hundred million n-grams);
  the corpus side is a flatMap (no shuffle) joined BROADCAST against
  the benchmark n-gram set, so corpus bytes never shuffle — only the
  matched (doc, gram) survivors reach the per-doc aggregate.
- tfidf_topk: two hash aggregates (per (doc, term) and per term) plus
  one shuffle join on term; the document-frequency side is vocab-sized,
  orders of magnitude smaller than the corpus.
- mixture_sample: pure per-row predicate, whole-stage codegen, no
  shuffle at all.
- pack_sequences: packing is inherently sequential per bin stream, so
  the operator shards the corpus (domain, shard) and packs each shard
  independently — parallelism is #domains × #shards, and bin ids are
  unique per (domain, shard, bin).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, functions as F, Window

from anofox_forecast_spark._worker import hooked

from .text_stats import _tokens, grams, quality_scores, repetition_stats

# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap against an eval set)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_overlap: int = 1,
    hashed: bool = False,
) -> DataFrame:
    """Flag corpus documents that share any word ``n``-gram with a
    benchmark/eval set (the standard train-test decontamination pass;
    e.g. GPT-3 appendix C uses 13-gram overlap).

    Returns (id, n_overlap, contaminated): ``n_overlap`` counts the
    DISTINCT benchmark n-grams the document contains, ``contaminated``
    is ``n_overlap >= min_overlap``. Clean documents appear with
    n_overlap = 0, so the output is a full per-document verdict, not
    just the hit list.

    Plan shape: benchmark n-grams are deduped and broadcast; the corpus
    explodes its n-grams (flatMap, no shuffle) straight into the
    broadcast hash join, and only MATCHING (doc, gram) rows reach the
    per-doc count-distinct aggregate — deduplication of a document's
    repeated n-grams happens after the join, so the corpus gram
    multiset itself never shuffles.

    ``hashed=True`` is the corpus-scale path: gram keys become numpy
    positional-combination hashes of JVM token hashes (the hashed mode
    of ``text_stats.grams``) — no gram-string construction, 8-byte
    join keys (measured 19.8 s → 1.6 s steady-state at 50k docs / 8
    cores). Output is identical up to astronomically-unlikely hash
    collisions (a collision adds one false gram match); the
    exact-string mode is the DuckDB-oracled path.
    """
    doc_grams = grams(_tokens(F.col(text_col)), n, hashed)
    bench_grams = F.broadcast(
        benchmark.select(F.explode(doc_grams).alias("__g")).distinct()
    )
    corpus_ids = corpus.select(F.col(id_col).alias("id"))
    hits = (
        corpus.select(
            F.col(id_col).alias("id"),
            F.explode(doc_grams).alias("__g"),
        )
        .join(bench_grams, "__g")
        .groupBy("id")
        .agg(F.count_distinct("__g").alias("n_overlap"))
    )
    return (
        corpus_ids.join(hits, "id", "left")
        .select(
            "id",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) >= min_overlap).alias(
                "contaminated"
            ),
        )
    )


# ---------------------------------------------------------------------------
# TF-IDF top-k terms per document


def tfidf_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    n_docs: int | None = None,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document: (id, term, tf, score, rank).

    tf is the raw in-document term count; idf is the smoothed
    ``ln((1 + N) / (1 + df)) + 1`` (sklearn's smooth_idf formula —
    public); score = tf * idf rounded to 6dp. Ranking orders by
    (rounded score desc, term asc) so ties are broken lexically —
    deterministic across engines regardless of float ulp drift.

    N comes from a zero-column count branch (row-group metadata only)
    crossJoined broadcast, same single-pass trick as term_stats; pass
    ``n_docs`` to drop the branch when N is already known.
    """
    words = _tokens(F.col(text_col))
    terms = df.select(
        F.col(id_col).alias("id"), F.explode(words).alias("term")
    )
    tf = terms.groupBy("id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("__df"))
    scored = tf.join(dfreq, "term")
    if n_docs is None:
        counted = F.broadcast(df.agg(F.count("*").alias("__n")))
        scored = scored.crossJoin(counted)
        n_col = F.col("__n").cast("double")
    else:
        n_col = F.lit(float(n_docs))
    score = F.round(
        F.col("tf") * (F.log((1.0 + n_col) / (1.0 + F.col("__df"))) + 1.0), 6
    )
    scored = scored.select("id", "term", "tf", score.alias("score"))
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("id", "term", "tf", "score", "rank")
    )


# ---------------------------------------------------------------------------
# deterministic mixture sampling

_LCG_MOD = 2_147_483_648  # 2^31
_LCG_MUL = 1_103_515_245
_LCG_ADD = 12_345


def _lcg_uniform(id_col):
    """Engine-portable deterministic uniform in [0, 1): one glibc-style
    LCG step on the id, all int64 arithmetic (id is reduced mod 2^31
    first so the multiply never overflows int64 — DuckDB raises on
    bigint overflow rather than wrapping, so wrap-dependent hashes like
    splitmix64/xxhash are not portable). At production scale swap in
    ``F.xxhash64(id, seed)`` — the LCG exists so the DuckDB correctness
    oracle can replay the identical keep decision."""
    h = (F.col(id_col) % _LCG_MOD) * _LCG_MUL + _LCG_ADD
    return (h % _LCG_MOD).cast("double") / float(_LCG_MOD)


def mixture_sample(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-domain downsampling for training-mixture
    construction: keep a row iff ``u(id) < rate(domain)`` where u is a
    deterministic uniform hash of the id. Rows from domains absent from
    ``rates`` use ``default_rate``. Returns the kept rows with an extra
    ``sample_rate`` column.

    Idempotent and stable: re-running on the same ids keeps the same
    rows (unlike ``df.sample``, which depends on partition layout), so
    a resumed 100-TB job reproduces its sample exactly. Pure per-row
    predicate — whole-stage codegen, no shuffle, fully pushdown-safe.
    """
    for d, r in rates.items():
        if not (0.0 <= r <= 1.0):
            raise ValueError(f"rate for domain {d!r} must be in [0, 1], got {r}")
    if not (0.0 <= default_rate <= 1.0):
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    rate = F.lit(float(default_rate))
    for d, r in rates.items():
        rate = F.when(F.col(domain_col) == d, F.lit(float(r))).otherwise(rate)
    return df.withColumn("sample_rate", rate).filter(
        _lcg_uniform(id_col) < F.col("sample_rate")
    )


def mixture_weights(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    text_col: str | None = None,
    tau: float = 0.5,
    token_budget: int | None = None,
) -> DataFrame:
    """Temperature-smoothed per-domain sampling weights — the
    calculation that PRODUCES the rates :func:`mixture_sample` applies
    (public recipe: T5's examples-proportional mixing, Raffel 2020
    §3.5.2; XLM-R's ``p_d ∝ n_d^τ``, Conneau 2019): small domains get
    upweighted as τ → 0, τ = 1 is proportional sampling.

    Output per domain: (domain, n_docs, n_units, weight[, epochs]) —
    ``n_units`` is docs, or whitespace-token mass when ``text_col`` is
    given (token-proportional mixing); ``weight = n^τ / Σ n^τ`` rounded
    to 6 dp (pow is float; rounding is the cross-engine contract, same
    as tfidf). With ``token_budget``, ``epochs = budget·weight / n``
    — >1 means the mixture repeats that domain (the over-sampling
    early-warning a curator reads first).

    Scale shape: ONE hash aggregate over the corpus (domain count ≪
    corpus), then the Σ n^τ branch joins back as a 1-row broadcast
    (the zero-column count-branch trick) — no window over the corpus,
    no driver collect.
    """
    if tau < 0:
        raise ValueError(f"tau must be >= 0, got {tau}")
    unit = (
        F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
        if text_col
        else F.lit(1)
    )
    per = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(unit).cast("long").alias("n_units"),
    )
    powed = per.withColumn(
        "__p", F.pow(F.col("n_units").cast("double"), F.lit(float(tau)))
    )
    total = powed.agg(F.sum("__p").alias("__tot"))
    out = powed.crossJoin(F.broadcast(total)).select(
        "domain",
        "n_docs",
        "n_units",
        F.round(F.col("__p") / F.col("__tot"), 6).alias("weight"),
    )
    if token_budget is not None:
        out = out.withColumn(
            "epochs",
            F.round(
                F.lit(float(token_budget))
                * F.col("weight")
                / F.col("n_units").cast("double"),
                6,
            ),
        )
    return out


def corpus_shuffle(
    df: DataFrame, id_col: str, n_shards: int = 64, seed: int = 0
) -> DataFrame:
    """Reproducible global corpus shuffle: (doc_id, shard, pos) — the
    deterministic random order + sharding a training run reads, fixed by
    (id, seed) alone, never by partition layout (``df.orderBy(rand())``
    changes across resumes; this doesn't).

    key = one LCG step on (id + seed); shard = the key's HIGH bits
    (``key * n_shards // 2^31`` — for a power-of-two-modulus LCG the low
    bits have period 2^k, so ``key % n_shards`` would stripe sequential
    ids round-robin), pos = dense rank within the shard ordered by
    (key, id). Emitting (shard, pos) explicitly — rather than relying on
    output file order — makes the permutation verifiable and resumable.

    Scale shape: one Exchange on shard + per-shard sort; shards are the
    parallel unit (pick >> cores at 100 TB — same contract as
    pack_sequences' streams). The LCG keeps all arithmetic int64-exact
    in BOTH engines so the DuckDB oracle replays the identical
    permutation; at production scale swap ``F.xxhash64(id, seed)`` for
    the key (the ordering contract is unchanged).
    """
    return _shuffle_keyed(df, id_col, n_shards, seed).select(
        F.col(id_col).alias("doc_id"), "shard", "pos"
    )


def _shuffle_keyed(
    df: DataFrame, id_col: str, n_shards: int, seed: int
) -> DataFrame:
    """df.* + (shard, pos): the corpus_shuffle assignment carried on the
    full row — lets a sink (export_shards) shard WITHOUT joining the
    3-column assignment back to the corpus (two saved Exchanges)."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    h = ((F.col(id_col) + F.lit(int(seed))) % _LCG_MOD) * _LCG_MUL + _LCG_ADD
    key = h % _LCG_MOD
    keyed = df.withColumn("__key", key).withColumn(
        "shard", F.floor((F.col("__key") * F.lit(int(n_shards))) / F.lit(_LCG_MOD))
    )
    w = Window.partitionBy("shard").orderBy("__key", F.col(id_col))
    return keyed.withColumn(
        "pos", (F.row_number().over(w) - F.lit(1)).cast("long")
    ).drop("__key")


def stratified_sample(
    df: DataFrame, id_col: str, group_col: str, k: int, seed: int = 0
) -> DataFrame:
    """Deterministic EXACT-k-per-group sample: the curation counterpart
    to :func:`mixture_sample`'s rate-based keep (a rate cannot promise
    "exactly 1000 eval docs per domain"; this does — uniformly at
    random within each group, fixed by (id, seed) alone).

    Rank = position of the portable-LCG key within the group (ties on
    id); keep rank < k. Groups smaller than k keep everything. Same
    LCG-key determinism contract as :func:`corpus_shuffle` — resumable,
    layout-independent, and DuckDB replays the identical choice.

    Scale shape: one Exchange on the group column + per-group sort for
    the rank window. Skew note: a hot group's members all land on one
    reducer — for exact-k-per-group that is inherent (global rank
    within the group); when k is small relative to hot groups, bound
    the window's input first with a cheap pre-filter on the key (e.g.
    keep key < (k / est_group_size) * 4 quantile) before ranking — at
    sample rates this repo benches, the single window is the right
    plan.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    h = ((F.col(id_col) + F.lit(int(seed))) % _LCG_MOD) * _LCG_MUL + _LCG_ADD
    key = h % _LCG_MOD
    keyed = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(group_col).alias("grp"),
        key.alias("__key"),
    )
    w = Window.partitionBy("grp").orderBy("__key", "doc_id")
    return (
        keyed.withColumn("rk", (F.row_number().over(w) - F.lit(1)).cast("long"))
        .filter(F.col("rk") < k)
        .select("doc_id", F.col("grp").alias(group_col), "rk")
    )


# ---------------------------------------------------------------------------
# sequence packing


def pack_sequences(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    tokens_col: str,
    budget: int,
    shards: int = 8,
) -> DataFrame:
    """Span-start sequence packing: assign documents (ordered by id
    within a (domain, shard) stream) to fixed token-budget bins, where
    a document belongs to the bin its FIRST token falls in under a
    running concatenation. Returns (id, domain, shard, n_tokens,
    bin_id, bin_offset).

    This is the streaming-concatenation packing LLM data loaders use
    (documents are laid end-to-end and sliced every ``budget`` tokens);
    a document may straddle its bin's end — use :func:`pack_greedy` for
    strict capacity bins. Expressible as one window cumsum, so it has a
    plain-SQL twin and one shuffle on (domain, shard).

    Packing is sequential per stream, so parallelism comes from
    sharding: shard = id mod ``shards`` keeps every CPU busy and makes
    bin ids reproducible regardless of cluster layout. At 100 TB pick
    shards >> cores; each shard's window is an independent task.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if shards <= 0:
        raise ValueError(f"shards must be positive, got {shards}")
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(domain_col).alias("domain"),
        (F.col(id_col) % shards).alias("shard"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("domain", "shard")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return base.select(
        "id",
        "domain",
        "shard",
        "n_tokens",
        F.floor(start / budget).cast("long").alias("bin_id"),
        (start % budget).alias("bin_offset"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_tokens: int = 512,
    overlap: int = 0,
) -> DataFrame:
    """Split long documents into fixed-budget, optionally-overlapping
    token chunks — the context-window preparation step between cleaning
    and packing (a 200k-token page cannot enter a 4k-token sequence
    packer whole; overlap preserves cross-boundary context, the
    standard sliding-window recipe).

    Output: (id, chunk_id, n_tokens_chunk, chunk_text) — chunk i covers
    tokens [i·stride, i·stride + max_tokens) with stride = max_tokens −
    overlap; the last chunk may be short; empty docs yield one empty
    chunk (rows are never silently dropped). Tokens are the shared
    punctuation-stripping ``_tokens`` stream.

    Scale shape: tokenize → ``sequence``/``transform`` build every
    chunk INSIDE the row (JVM array ops, whole-stage codegen) → one
    explode. No shuffle, no Python; a doc's chunks stay in its input
    partition. DuckDB twin via range + list_slice.
    """
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive, got {max_tokens}")
    if not (0 <= overlap < max_tokens):
        raise ValueError(
            f"overlap must be in [0, max_tokens), got {overlap}")
    stride = max_tokens - overlap
    toks = _tokens(F.col(text_col))
    n = F.size(toks)
    # ceil((n - overlap) / stride), floor 1: the count that covers every
    # token exactly once per window position
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(float(stride))).cast("int"),
        F.lit(1),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - F.lit(1)),
        lambda i: F.struct(
            i.cast("int").alias("chunk_id"),
            F.slice(toks, i * F.lit(stride) + F.lit(1), max_tokens).alias("t"),
        ),
    )
    ex = df.select(
        F.col(id_col).alias("id"), F.explode(chunks).alias("__c")
    )
    return ex.select(
        "id",
        F.col("__c.chunk_id").alias("chunk_id"),
        F.size("__c.t").cast("int").alias("n_tokens_chunk"),
        F.array_join("__c.t", " ").alias("chunk_text"),
    )


def split_corpus(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float],
    seed: int = 0,
) -> DataFrame:
    """Deterministic train/validation/test assignment: each id lands in
    exactly one split, fixed by (id, seed) alone — resumable, layout-
    independent, and disjoint BY CONSTRUCTION (contiguous LCG-key
    ranges), unlike three independent ``df.sample`` calls which overlap
    and drift with partitioning.

    ``fractions`` maps split name → fraction; must sum to ≤ 1 (ids past
    the last range get NULL — callers usually pass fractions summing to
    1). Assignment: u = key/2^31 ∈ [0,1); the splits own consecutive
    half-open intervals in insertion order. Shuffle-free JVM predicate
    (same LCG as ``mixture_sample``); full DuckDB twin.
    """
    if any(f < 0 for f in fractions.values()):
        raise ValueError("fractions must be non-negative")
    if sum(fractions.values()) > 1.0 + 1e-9:
        raise ValueError(
            f"fractions sum to {sum(fractions.values())}, must be <= 1")
    h = ((F.col(id_col) + F.lit(int(seed))) % _LCG_MOD) * _LCG_MUL + _LCG_ADD
    key = h % _LCG_MOD
    split = F.lit(None).cast("string")
    hi = 0.0
    for name, frac in fractions.items():
        lo, hi = hi, hi + float(frac)
        # integer thresholds keep the comparison exact in both engines
        split = F.when(
            (key >= F.lit(int(lo * _LCG_MOD))) & (key < F.lit(int(hi * _LCG_MOD))),
            F.lit(name),
        ).otherwise(split)
    return df.withColumn("split", split)


def prepare_corpus(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    domain_col: str,
    benchmark: DataFrame | None = None,
    quality_min: float = 0.3,
    line_dedup_tokens: int | None = 12,
    minhash_threshold: float = 0.5,
    decontaminate_n: int = 8,
    mixture_rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
    pack_budget: int = 2048,
    pack_shards: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """End-to-end corpus preparation: line dedup → quality + repetition
    filters → exact dedup → MinHash near-dedup (connected-components
    survivor) → benchmark decontamination → mixture sampling → sequence
    packing. Returns ``(packed, stats)``:

    - ``packed``: the surviving documents with (id, domain, text,
      n_tokens, shard, bin_id, bin_offset) — ready to write as training
      shards;
    - ``stats``: ONE row of per-stage drop accounting (n_input,
      n_fail_quality, n_fail_repetition, n_exact_dup, n_near_dup,
      n_contaminated, n_mixture_dropped, n_kept).

    Composition strategy (the part that matters at 100 TB): every stage
    produces a boolean VERDICT column joined onto the document spine,
    and the pipeline ends in ONE conjunction filter plus ONE aggregate
    for stats — no per-stage ``count()`` actions, no per-stage
    materialization barriers; Spark schedules the whole DAG as one job.
    Stages that drop rows from their own output (repetition stats skips
    empty docs, dedup emits only group members) re-enter the spine as
    left joins with keep-by-default coalesces.

    ``line_dedup_tokens=None`` skips the corpus-level line dedup
    pre-pass (the only stage that rewrites text; all later verdicts
    run on the deduped text when it is on). ``benchmark=None`` skips
    decontamination; ``mixture_rates=None`` skips sampling.
    """
    from .dedup import connected_components, line_dedup, minhash_lsh_candidates

    spine = docs.select(
        F.col(id_col).alias("id"),
        F.col(domain_col).alias("domain"),
        F.col(text_col).alias("text"),
    )
    if line_dedup_tokens is not None:
        ld = line_dedup(spine, "id", "text", tokens_per_line=line_dedup_tokens)
        spine = spine.drop("text").join(
            ld.select("id", F.col("text_deduped").alias("text")), "id"
        )
    # the spine feeds SIX verdict branches — materialize it once (lazy
    # localCheckpoint: pipelined with the first action, blocks released
    # by ContextCleaner on GC) or Spark re-executes the scan/line-dedup
    # subtree per branch reference (measured 5× slower unchecked)
    spine = spine.localCheckpoint(eager=False)

    q = quality_scores(spine, "id", "text").select(
        "id", "n_words", (F.col("quality") >= quality_min).alias("__kq")
    )
    r = repetition_stats(spine, "id", "text").select(
        "id", F.col("repetition_keep").alias("__kr")
    )
    exact_keep = (
        spine.select("id", F.sha2(F.col("text"), 256).alias("__h"))
        .groupBy("__h").agg(F.min("id").alias("__keep_id"))
    )
    hashed = spine.select("id", F.sha2(F.col("text"), 256).alias("__h"))
    ke = hashed.join(exact_keep, "__h").select(
        "id", (F.col("id") == F.col("__keep_id")).alias("__ke")
    )
    pairs = minhash_lsh_candidates(
        spine, "id", "text", est_threshold=minhash_threshold
    )
    comp = connected_components(pairs).select(
        "id", (F.col("id") == F.col("component")).alias("__kn")
    )
    # verdict joins move (id, flag) pairs ONLY — the text payload stays
    # out of the join chain and is pulled back once, for kept docs only;
    # at corpus scale this is the difference between shuffling ids and
    # shuffling the corpus
    verdicts = (
        spine.select("id", "domain")
        .join(q, "id", "left")
        .join(r, "id", "left")
        .join(ke, "id", "left")
        .join(comp, "id", "left")
    )
    if benchmark is not None:
        dc = decontaminate(
            docs, benchmark, id_col, text_col, n=decontaminate_n
        ).select("id", (~F.col("contaminated")).alias("__kc"))
        verdicts = verdicts.join(dc, "id", "left")
    else:
        verdicts = verdicts.withColumn("__kc", F.lit(True))
    if mixture_rates is not None:
        rate = F.lit(float(default_rate))
        for d, rt in mixture_rates.items():
            if not (0.0 <= rt <= 1.0):
                raise ValueError(f"rate for domain {d!r} must be in [0, 1]")
            rate = F.when(F.col("domain") == d, F.lit(float(rt))).otherwise(rate)
        verdicts = verdicts.withColumn("__km", _lcg_uniform("id") < rate)
    else:
        verdicts = verdicts.withColumn("__km", F.lit(True))

    flags = {
        "__kq": "n_fail_quality",
        "__kr": "n_fail_repetition",
        "__ke": "n_exact_dup",
        "__kn": "n_near_dup",
        "__kc": "n_contaminated",
        "__km": "n_mixture_dropped",
    }
    # keep-by-default for docs a stage's output skipped (e.g. empty docs)
    for c in flags:
        verdicts = verdicts.withColumn(c, F.coalesce(F.col(c), F.lit(True)))
    keep_all = F.lit(True)
    for c in flags:
        keep_all = keep_all & F.col(c)
    verdicts = verdicts.withColumn("__keep", keep_all)
    # verdicts feed the stats aggregate, the kept filter, AND the packed
    # join — same re-execution trap as the spine
    verdicts = verdicts.localCheckpoint(eager=False)

    stats = verdicts.agg(
        F.count("*").alias("n_input"),
        *[
            F.sum((~F.col(c)).cast("long")).alias(out)
            for c, out in flags.items()
        ],
        F.sum(F.col("__keep").cast("long")).alias("n_kept"),
    )
    kept = verdicts.filter("__keep").select(
        "id", "domain",
        F.coalesce("n_words", F.lit(0)).cast("long").alias("n_tokens"),
    )
    packed = pack_sequences(
        kept, "id", "domain", "n_tokens",
        budget=pack_budget, shards=pack_shards,
    ).join(spine.select("id", "text"), "id")
    return packed, stats


def pack_greedy(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    tokens_col: str,
    budget: int,
    shards: int = 8,
) -> DataFrame:
    """Strict-capacity greedy packing: walk each (domain, shard) stream
    in id order and start a new bin whenever the next document would
    push the current bin past ``budget``. No bin exceeds the budget
    unless a single document alone does (it then gets its own bin).
    Returns (id, domain, shard, n_tokens, bin_id, bin_fill) where
    bin_fill is the running token count inside the bin after the doc.

    The running reset makes this non-expressible as a fixed window
    frame, so each stream is packed in one Arrow-batched grouped pass
    (applyInPandas over (domain, shard) — same sharded parallelism as
    :func:`pack_sequences`).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if shards <= 0:
        raise ValueError(f"shards must be positive, got {shards}")
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(domain_col).alias("domain"),
        (F.col(id_col) % shards).alias("shard"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
    )

    @hooked
    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        bin_id, fill = 0, 0
        bins, fills = [], []
        for t in pdf["n_tokens"]:
            t = int(t)
            if fill > 0 and fill + t > budget:
                bin_id += 1
                fill = 0
            fill += t
            bins.append(bin_id)
            fills.append(fill)
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        pdf["bin_fill"] = pd.Series(fills, dtype="int64")
        return pdf

    schema = (
        "id long, domain string, shard long, n_tokens long, "
        "bin_id long, bin_fill long"
    )
    return base.groupBy("domain", "shard").applyInPandas(_pack, schema=schema)
