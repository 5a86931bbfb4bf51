"""Quality classifier for training-data curation: distributed logistic
regression over (hashed) bag-of-words features.

The published recipe this re-expresses (no reference counterpart —
`/root/reference` is a forecasting engine): GPT-3 / The Pile / CCNet /
FineWeb all filter crawl text with a linear classifier trained to
separate a clean reference corpus from raw crawl (Brown et al. 2020
§A; Wenzek et al. 2020; fastText's averaged-bag-of-words linear model,
Joulin et al. 2017). The model is tiny (one weight per vocabulary
bucket); the DATA is what's huge — so training is a driver-side loop
of full-batch gradient-descent epochs where each epoch is ONE
DataFrame job over the corpus and only the bounded (≤ distinct
buckets) gradient vector ever reaches the driver.

Engine-exact determinism contract (same discipline as
``webtext/lm.py``): weights are quantized to integer micro-units
before every epoch/scoring pass, so per-doc margins are exact int64
sums — immune to float summation-order drift across partitions,
repartitionings, and engines. Residuals are micro-quantized before the
gradient aggregate for the same reason: fitting is bit-reproducible
under any partition layout (tested), and scoring has an exact DuckDB
twin.

Scale shape per epoch (all JVM, zero Python rows):
  features (id, bucket, cnt)            -- persisted once, reused
  margin:  feats ⋈ broadcast(weights) on bucket → groupBy(id) sum
  resid:   margin ⋈ labels (same id partitioning) → micro-quantized
  grad:    feats ⋈ resid on id → groupBy(bucket) sum → driver collect
The weight table ships back as a broadcast each epoch (sparse — only
buckets seen in the corpus are ever non-zero, ≤ vocab, same bounded
control-plane contract as ``bpe_train``'s word table / the IVF
quantizer sample).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from .text_stats import _tokens

_U6 = 1_000_000  # micro-unit quantum shared with the DuckDB twins


def hashed_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 1 << 18,
    hashed: bool = True,
) -> DataFrame:
    """(id, bucket, cnt) sparse bag-of-words. ``hashed=True`` buckets
    tokens with ``pmod(xxhash64(token), n_buckets)`` (the production
    path: fixed-width feature space, 8-byte keys); ``hashed=False``
    keys by the token string itself (the oracle-able path — DuckDB has
    no xxhash64). One explode + one hash aggregate; map-side combine
    collapses repeated tokens before the shuffle."""
    toks = _tokens(F.col(text_col))
    ex = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("__w"))
    if hashed:
        key = F.pmod(F.xxhash64(F.col("__w")), F.lit(int(n_buckets))).alias("bucket")
    else:
        key = F.col("__w").alias("bucket")
    return ex.select("id", key).groupBy("id", "bucket").agg(
        F.count("*").cast("long").alias("cnt")
    )


def _margins(feats: DataFrame, wdf: DataFrame, bias_micro: int) -> DataFrame:
    """(id, margin_micro): exact int64 dot product of counts with
    micro-quantized weights. Docs whose buckets all miss the weight
    table still appear (left join + coalesce)."""
    return (
        feats.join(F.broadcast(wdf), "bucket", "left")
        .groupBy("id")
        .agg(
            (
                F.coalesce(F.sum(F.col("cnt") * F.col("w_micro")), F.lit(0))
                + F.lit(int(bias_micro))
            ).alias("margin_micro")
        )
    )


def fit_logreg(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    n_buckets: int = 1 << 18,
    hashed: bool = True,
    epochs: int = 20,
    lr: float = 1.0,
    l2: float = 0.0,
) -> dict:
    """Full-batch gradient-descent logistic regression; returns
    ``{"weights": {bucket: w_micro}, "bias_micro": int, "n_docs": int}``
    (micro-quantized — feed straight to :func:`score_logreg`).

    One DataFrame job per epoch; the driver touches only the bounded
    gradient vector. lr is the step on MEAN gradient; l2 is standard
    ridge shrinkage. Deterministic under any partition layout: weights
    and residuals are micro-quantized before every distributed sum, so
    all aggregates are exact integer arithmetic.

    Zero-token docs are excluded from the fit (they carry no features —
    standard practice); :func:`score_logreg` still scores them with the
    bias-only margin.
    """
    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # co-partition features AND labels by id ONCE (persisted): every
    # epoch's margin aggregate, label join, and gradient join then reuse
    # this partitioning instead of reshuffling the feature table per
    # epoch — the only per-epoch Exchange left is the bucket-gradient
    # aggregate, whose map-side combine bounds it at ≤ vocab rows per
    # partition (measured: per-epoch corpus reshuffles dominated fit
    # wall-clock at 1M docs before this)
    feats = (
        hashed_features(df, id_col, text_col, n_buckets, hashed)
        .repartition(n_part, "id")
        .persist()
    )
    labels = (
        df.select(
            F.col(id_col).alias("id"), F.col(label_col).cast("double").alias("y")
        )
        .repartition(n_part, "id")
        .persist()
    )
    try:
        n_docs = labels.count()
        if n_docs == 0:
            raise ValueError("fit_logreg: empty corpus")
        w: dict = {}
        bias = 0.0
        key_type = "long" if hashed else "string"
        for _ in range(int(epochs)):
            bias_micro = int(round(bias * _U6))
            if w:
                wdf = spark.createDataFrame(
                    [(k, int(round(v * _U6))) for k, v in w.items()],
                    schema=f"bucket {key_type}, w_micro long",
                )
            else:
                wdf = spark.createDataFrame(
                    [], schema=f"bucket {key_type}, w_micro long"
                )
            # residual r = sigmoid(margin) - y, micro-quantized so the
            # gradient sum is exact int64 under any partitioning
            resid = (
                _margins(feats, wdf, bias_micro)
                .join(labels, "id")
                .select(
                    "id",
                    F.round(
                        (
                            F.lit(1.0)
                            / (F.lit(1.0) + F.exp(-F.col("margin_micro") / F.lit(1e6)))
                            - F.col("y")
                        )
                        * F.lit(float(_U6))
                    )
                    .cast("long")
                    .alias("rq"),
                )
                # referenced twice below (per-bucket join + bias union):
                # Spark re-executes unmaterialized subtrees per plan
                # reference, so materialize once (lazy: the gradient
                # collect is the only action and triggers it)
                .localCheckpoint(eager=False)
            )
            # ONE gradient pass: per-bucket rows plus a NULL-bucket row per
            # doc carrying the bias gradient — groupBy treats NULL as its
            # own group, so weight and bias gradients ride one aggregate
            grad_rows = (
                feats.join(resid, "id")
                .select("bucket", (F.col("cnt") * F.col("rq")).alias("__g"))
                .unionByName(
                    resid.select(
                        F.lit(None).cast(key_type).alias("bucket"),
                        F.col("rq").alias("__g"),
                    )
                )
                .groupBy("bucket")
                .agg(F.sum("__g").alias("g"))
                .collect()
            )
            scale = lr / (n_docs * _U6)
            touched = set()
            gb = 0
            for row in grad_rows:
                b = row["bucket"]
                if b is None:
                    gb = row["g"]
                    continue
                touched.add(b)
                w[b] = w.get(b, 0.0) * (1.0 - lr * l2) - scale * row["g"]
            if l2:
                for b in list(w):
                    if b not in touched:
                        w[b] *= 1.0 - lr * l2
            bias -= scale * gb
        return {
            "weights": {k: int(round(v * _U6)) for k, v in w.items()},
            "bias_micro": int(round(bias * _U6)),
            "n_docs": n_docs,
            "n_buckets": int(n_buckets),
            "hashed": bool(hashed),
        }
    finally:
        feats.unpersist()
        labels.unpersist()


def score_logreg(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model: dict,
) -> DataFrame:
    """(id, margin_micro, prob, pred): exact-int64 margin (the oracle
    contract), sigmoid probability, and the keep verdict. Weights ride
    one broadcast join; one groupBy(id) aggregate; all JVM."""
    spark = df.sparkSession
    key_type = "long" if model.get("hashed", True) else "string"
    items = list(model["weights"].items())
    wdf = (
        spark.createDataFrame(items, schema=f"bucket {key_type}, w_micro long")
        if items
        else spark.createDataFrame([], schema=f"bucket {key_type}, w_micro long")
    )
    # scoring skips the (id, bucket, cnt) pre-aggregation fit uses (fit
    # reuses that table across epochs; a one-shot score doesn't): explode
    # → broadcast weight lookup → groupBy(id). A doc's exploded tokens
    # stay in the partition of their input row, so map-side combine
    # collapses each doc to one row per partition before the ONE Exchange.
    # A sentinel "" token is appended to EVERY doc and mapped to a NULL
    # bucket (guaranteed join miss, zero weight) so empty docs still reach
    # the aggregate with a bias-only margin — joining the base table back
    # would cost a second full-corpus shuffle just to restore them.
    toks = _tokens(F.col(text_col))
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.concat(toks, F.array(F.lit("")))).alias("__w"),
    )
    if model.get("hashed", True):
        real_key = F.pmod(
            F.xxhash64(F.col("__w")), F.lit(int(model.get("n_buckets", 1 << 18)))
        )
    else:
        real_key = F.col("__w")
    key = F.when(F.col("__w") == "", F.lit(None)).otherwise(real_key).alias("bucket")
    m = (
        ex.select("id", key)
        .join(F.broadcast(wdf), "bucket", "left")
        .groupBy("id")
        .agg(
            (
                F.coalesce(F.sum("w_micro"), F.lit(0))
                + F.lit(int(model["bias_micro"]))
            ).alias("margin_micro")
        )
    )
    return m.select(
        "id",
        "margin_micro",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin_micro") / F.lit(1e6)))).alias(
            "prob"
        ),
        (F.col("margin_micro") > 0).alias("pred"),
    )


def score_formula_weights(
    df: DataFrame, id_col: str, text_col: str, bias_micro: int = 0
) -> DataFrame:
    """Scoring plan with closed-form per-token weights — the engine-
    portable oracle surface: ``w_micro(tok) = ((octet_length(tok) *
    1103515245 + 12345) % 2000001) - 1000000`` (int64-exact in Spark
    and DuckDB; range ±1 unit). Exercises the exact explode → weight →
    groupBy(id) → sigmoid scoring plan with zero Python and no
    driver-held weight table — the margin is fully checkable in SQL."""
    toks = _tokens(F.col(text_col))
    # sentinel "" appended per doc (weight 0) keeps empty docs in the
    # single groupBy — same no-join shape as score_logreg
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.concat(toks, F.array(F.lit("")))).alias("__w"),
    )
    wm = F.when(F.col("__w") == "", F.lit(0)).otherwise(
        (F.octet_length("__w").cast("long") * F.lit(1103515245) + F.lit(12345))
        % F.lit(2000001)
        - F.lit(1000000)
    )
    m = ex.groupBy("id").agg(
        (F.sum(wm) + F.lit(int(bias_micro))).alias("margin_micro")
    )
    return m.select(
        "id",
        "margin_micro",
        (F.col("margin_micro") > 0).alias("pred"),
    )


def accuracy(scored: DataFrame, labels: DataFrame, id_col: str, label_col: str) -> float:
    """Fraction of docs where pred == (label > 0.5)."""
    j = scored.join(
        labels.select(F.col(id_col).alias("id"), F.col(label_col).alias("__y")), "id"
    )
    row = j.agg(
        F.avg((F.col("pred") == (F.col("__y") > 0.5)).cast("double")).alias("acc")
    ).collect()[0]
    return float(row["acc"]) if row["acc"] is not None else math.nan
