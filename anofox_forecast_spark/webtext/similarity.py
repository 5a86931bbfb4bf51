"""Similarity search over embedding columns (array<float>).

- brute_force_cosine_topk: exact top-k neighbors; dot products via
  F.aggregate/zip_with (JVM-side) after per-vector L2 normalization; the
  query side is broadcast (queries ≪ corpus at scale).
- lsh_cosine_topk: random-hyperplane LSH — deterministic planes from a
  seeded numpy RNG, signature = bit-pack of sign(v·p) per table; exact
  cosine only on corpus vectors sharing a probed key. This is a 100-TB
  path: the brute force is the correctness baseline, LSH bounds the scan.
- ivf_cosine_topk: IVF (inverted-file) ANN — spherical k-means coarse
  quantizer trained on a bounded driver-side sample, candidates from the
  query's n_probe nearest cells only. The alternative 100-TB path when
  embeddings are clustered (bounded cells beat data-oblivious hyperplanes
  on recall/candidate).

Both approximate paths share ONE index contract: build a corpus index,
then probe it map-side.

- The index has one row per corpus vector: ``(c_id, c_vec, buckets
  array<bigint>)``. ``hyperplane_buckets(..., with_vec=True,
  grouped=True)`` builds the LSH index (one packed key per table);
  ``ivf_build_index`` builds the IVF index (a one-element array holding
  the vector's cell). The ``buckets`` column's metadata records the index
  kind (``lsh`` | ``ivf``) and its build parameters; a probe rejects an
  index whose shape, key type, kind or parameters don't match the call,
  because a mismatched index returns near-empty results with no error.
- The probe collects the query batch to the driver, computes each
  query's probed keys in numpy, ships them in the scorer's closure and
  scans the index once in ``mapInArrow`` — no corpus shuffle. Every
  corpus vector is scored in exactly one Arrow batch, so (query,
  neighbor) pairs are unique by construction, and one rank window
  finishes the top-k.
- Queries ride the driver and every task's closure: batch them (hundreds
  to a few thousand per call) and persist an index that serves many
  batches. ``corpus_index=None`` builds the index inline for one call.
  Corpus ids are assumed unique; a repeated query id is probed once.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F


def _norm(col):
    return F.sqrt(F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                       lambda acc, x: acc + x)


def brute_force_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rank).

    Self-matches (same id) excluded. Queries are broadcast.
    """
    from pyspark.sql import Window

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("cv"),
    ).withColumn("cn", _norm(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("qv"),
    ).withColumn("qn", _norm(F.col("qv")))
    joined = c.crossJoin(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id"))
    cos = _dot(F.col("cv"), F.col("qv")) / (F.col("cn") * F.col("qn"))
    scored = joined.select("query_id", "neighbor_id", cos.alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 16,
    dim: int = 64,
    seed: int = 42,
    multiprobe: int = 1,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH bucketing.
    Output schema == brute_force_cosine_topk.

    ``corpus_index`` — a prebuilt (persisted) LSH index from
    ``hyperplane_buckets(corpus, id_col, vec_col, "c", ...,
    with_vec=True, grouped=True)`` with the SAME plane parameters (see
    the module docstring for the index contract). Building it once and
    probing many query batches is the deployment shape at scale (bench.py
    times the two phases separately); ``None`` builds it inline. An
    exploded index (``with_vec=True`` without ``grouped=True``) and an
    index with other planes or pre-int64 string keys raise ValueError.

    n_tables independent signatures; candidates = corpus vectors sharing
    a key with the query in any table; exact cosine computed only on
    candidates. ``multiprobe=1`` also probes, for each QUERY, every
    bucket whose signature differs in one bit — multiplying effective
    tables by (n_planes+1) while the corpus index stays one key per
    (vector, table).

    Tuning for scale: collision rate per table ≈ (1−θ/π)^n_planes, bucket
    population ≈ n/2^n_planes. Grow n_planes with corpus size to bound
    bucket fan-out, and buy recall back with n_tables/multiprobe — the
    r1 default (16 planes × 4 tables, no probing) had ≈0 recall@5 on
    weakly-correlated 64-d embeddings; 8×16 with 1-bit probing measures
    0.86 there and ≥0.9 on clustered embeddings
    (tests/test_webtext.py::test_lsh_measured_recall).
    """
    index = corpus_index if corpus_index is not None else hyperplane_buckets(
        corpus, id_col, vec_col, "c", n_planes=n_planes, n_tables=n_tables,
        dim=dim, seed=seed, with_vec=True, grouped=True)
    _check_index(index, _lsh_meta(n_planes, n_tables, dim, seed),
                 "hyperplane_buckets(..., with_vec=True, grouped=True)")
    return _probe_topk(
        index, queries, id_col, vec_col, k,
        lambda q: _query_buckets_local(q, n_planes=n_planes, n_tables=n_tables,
                                       dim=dim, seed=seed, probe=multiprobe))


def _hyperplanes(n_planes: int, n_tables: int, dim: int, seed: int) -> np.ndarray:
    """The seeded (n_tables·n_planes) × dim plane matrix shared by the
    index and query sides. Packed keys ``(table << n_planes) | sig`` must
    fit a signed int64 — wider ones wrap in numpy, so keys of different
    tables could collide with no error — so wider parameters raise."""
    bits = n_planes + (n_tables - 1).bit_length()
    if bits > 63:
        raise ValueError(f"n_planes={n_planes} with n_tables={n_tables} "
                         f"needs {bits} bits; packed bucket keys hold 63")
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n_tables, n_planes, dim)).reshape(
        n_tables * n_planes, dim)


def _packed_keys(m: np.ndarray, planes: np.ndarray, n_planes: int,
                 n_tables: int, probe: int = 0) -> np.ndarray:
    """B × dim vectors → B × n_tables int64 keys ``(table << n_planes) |
    signature``, all T·P signature bits from ONE matmul. ``probe=1``
    appends, per table, the n_planes keys one signature bit away (a
    1-bit flip is an XOR on the low bits of the key):
    B × n_tables·(n_planes+1)."""
    bit = 1 << np.arange(n_planes, dtype=np.int64)
    sigs = ((m @ planes.T) >= 0.0).reshape(-1, n_tables, n_planes) @ bit
    base = (np.arange(n_tables, dtype=np.int64) << n_planes) + sigs
    if probe < 1:
        return base
    return np.concatenate([base[:, :, None], base[:, :, None] ^ bit],
                          axis=2).reshape(m.shape[0], -1)


def _query_buckets_local(q: np.ndarray, n_planes: int, n_tables: int,
                         dim: int, seed: int, probe: int) -> np.ndarray:
    """Driver-side probed keys of a collected query batch (B × dim):
    the same planes and key packing as hyperplane_buckets, with optional
    1-bit multiprobe — one numpy matmul instead of a Spark job."""
    return _packed_keys(q, _hyperplanes(n_planes, n_tables, dim, seed),
                        n_planes, n_tables, probe)


def _lsh_meta(n_planes: int, n_tables: int, dim: int, seed: int) -> dict:
    return {"kind": "lsh", "n_planes": n_planes, "n_tables": n_tables,
            "dim": dim, "seed": seed}


def _check_index(index: DataFrame, want: dict, build: str) -> dict:
    """Validate ``index`` against the ANN index contract and the call's
    build parameters ``want``; returns the ``buckets`` metadata."""
    fields = {f.name: f for f in index.schema.fields}
    keys = fields.get("buckets")
    if keys is None or "c_id" not in fields or "c_vec" not in fields:
        raise ValueError(
            "corpus_index must have one row per vector with columns c_id, "
            f"c_vec and a 'buckets' key array (got {index.columns}) — "
            f"build it with {build}")
    key_type = keys.dataType.simpleString()
    if key_type != "array<bigint>":
        # an index from before the packed int64 keys ("table:sig"
        # strings) matches no probed key: an empty top-k with no error
        raise ValueError(
            f"corpus_index 'buckets' column is {key_type}, expected "
            f"array<bigint> packed keys — rebuild with {build}")
    meta = dict(keys.metadata or {})
    got = {key: meta.get(key) for key in want}
    if got != want:
        # e.g. other planes hash queries into disjoint buckets: near-zero
        # recall with no error
        raise ValueError(
            f"corpus_index parameters don't match this call (index={got}, "
            f"call={want}) — rebuild with {build}")
    return meta


def _probe_topk(index: DataFrame, queries: DataFrame, id_col: str,
                vec_col: str, k: int, keys_of) -> DataFrame:
    """Map-side ANN probe of a contract index: collect the queries,
    ``keys_of(Q)`` → each query's probed keys (B × m int64), then scan
    the index once in mapInArrow, scoring each Arrow batch against the
    closure-shipped queries, and finish with one rank window over the
    per-batch survivors.

    The scorer is ONE dense masked matmul + one vectorized partition per
    Arrow batch — a first cut that grouped each batch by bucket and
    looped queries per group spent its time in pandas groupby + tiny
    matmuls. mapInArrow, not mapInPandas: vectors decode straight from
    the list values buffer (no ``Series.tolist``) and int64 keys go
    straight to numpy; the probe-membership lookup is one searchsorted
    over the sorted probed-key array.
    """
    from pyspark.sql import Window

    q_pdf = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    ).toPandas().drop_duplicates("q_id")
    q_ids = q_pdf["q_id"].to_numpy(dtype=np.int64)
    n_q = q_ids.size
    if n_q:
        Q = np.array(q_pdf["q_vec"].tolist(), dtype=np.float64)
        q_keys = np.asarray(keys_of(Q), dtype=np.int64)
    else:
        Q = np.zeros((0, 0))
        q_keys = np.zeros((0, 0), dtype=np.int64)
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0] = 1.0
    Qn = Q / qn[:, None]
    # probed-key table: SORTED distinct keys, plus a CSR-style (offsets,
    # counts, concat) layout of the query rows probing each key
    flat_keys = q_keys.ravel()
    flat_rows = np.repeat(np.arange(n_q, dtype=np.int64), q_keys.shape[1])
    order = np.argsort(flat_keys, kind="stable")
    pb_keys, qr_offsets, qr_counts = np.unique(
        flat_keys[order], return_index=True, return_counts=True)
    qr_concat = flat_rows[order]

    def score(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0 or pb_keys.size == 0:
                continue
            c_ids = batch.column(0).to_numpy()
            C = (batch.column(1).flatten().to_numpy(zero_copy_only=False)
                 .astype(np.float64).reshape(n, -1))
            bcol = batch.column(2)
            vals = (bcol.flatten().to_numpy(zero_copy_only=False)
                    .astype(np.int64, copy=False))
            ent_rows = np.repeat(np.arange(n), np.asarray(bcol.value_lengths()))
            pos = np.minimum(np.searchsorted(pb_keys, vals), pb_keys.size - 1)
            hit = pb_keys[pos] == vals
            if not hit.any():
                continue
            # validity mask: (query, candidate) allowed iff some key of the
            # candidate is one the query probes, minus self-matches; the
            # (query-row, candidate) pairs expand with repeat/cumsum —
            # total ≈ Σ |queries(key)| over matching keys, small because
            # probes spread thinly over keys
            bidx = pos[hit]
            counts = qr_counts[bidx]
            starts = np.cumsum(counts) - counts
            at = np.arange(int(counts.sum()), dtype=np.int64)
            rows = qr_concat[at + np.repeat(qr_offsets[bidx] - starts, counts)]
            M = np.zeros((n_q, n), dtype=bool)
            M[rows, np.repeat(ent_rows[hit], counts)] = True
            M &= c_ids[None, :] != q_ids[:, None]
            if not M.any():
                continue
            cn = np.linalg.norm(C, axis=1)
            cn[cn == 0] = 1.0
            S = Qn @ (C / cn[:, None]).T
            S[~M] = -2.0  # below any cosine
            # per-batch cut: keep every candidate scoring at least the
            # query's k-th best in this batch — ties included, so the
            # final (cosine desc, c_id asc) window sees every tied
            # candidate, not whichever came first in batch order. The
            # global top-k is a subset of the union of these cuts.
            kth = min(k, n)
            kv = np.partition(S, n - kth, axis=1)[:, n - kth]
            r, c = np.nonzero(M & (S >= kv[:, None]))
            yield pa.RecordBatch.from_arrays(
                [pa.array(q_ids[r], type=pa.int64()),
                 pa.array(c_ids[c], type=pa.int64()),
                 pa.array(S[r, c], type=pa.float64())],
                names=["q_id", "c_id", "cosine"])

    scored = index.select("c_id", "c_vec", "buckets").mapInArrow(
        score, "q_id long, c_id long, cosine double")
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            F.round("cosine", 6).alias("cosine"),
            "rank",
        )
    )


def hyperplane_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    prefix: str,
    n_planes: int = 8,
    n_tables: int = 16,
    dim: int = 64,
    seed: int = 42,
    with_vec: bool = False,
    grouped: bool = False,
) -> DataFrame:
    """Random-hyperplane bucket keys: int64 ``(table << n_planes) |
    signature``, one per table (the encoding is bijective, so keys
    hash/compare as fixed 8-byte ints and signature construction
    vectorizes).

    ``grouped=True`` (requires with_vec) returns ONE row per vector,
    ``({prefix}_id, {prefix}_vec, buckets array<bigint>)`` — with
    ``prefix="c"`` this is the LSH corpus index of the ANN index contract
    (module docstring) that lsh_cosine_topk probes: the vector payload is
    stored and Arrow-transferred once instead of once per table. Without
    it, one row per (vector, table): ``({prefix}_id[, {prefix}_vec],
    bucket)`` — the exploded shape the in-bucket pair scorer of
    dedup.embedding_near_dups shuffles by bucket. The plane parameters
    and ``kind=lsh`` ride as metadata on ``buckets``.

    Deterministic hyperplanes from a seeded numpy RNG. All T·P signature
    dot products are ONE Arrow-batched numpy matmul (B×dim @ dim×T·P) in
    a pandas UDF — the first cut inlined each plane as a 64-literal
    zip_with/aggregate fold, and at 16 tables × 8-16 planes the resulting
    128-256-fold expression tree made signature computation ~50× slower
    than the matmul (same reason IVF assigns cells in numpy). Raises
    ValueError when ``n_planes + bit_length(n_tables - 1) > 63``.
    """
    planes = _hyperplanes(n_planes, n_tables, dim, seed)

    @F.pandas_udf("array<long>")
    def buckets_of(embs: pd.Series) -> pd.Series:
        m = np.array(embs.tolist(), dtype=np.float64)
        if m.ndim != 2 or m.shape[0] == 0:
            return pd.Series([[] for _ in range(len(embs))])
        return pd.Series(list(_packed_keys(m, planes, n_planes, n_tables)))

    if grouped:
        if not with_vec:
            raise ValueError("grouped=True requires with_vec=True")
        return df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.col(vec_col).alias(f"{prefix}_vec"),
            buckets_of(F.col(vec_col)).alias("buckets"),
        # plane parameters ride as column metadata so a prebuilt index can
        # be validated against the query side's (see _check_index);
        # metadata survives select/persist
        ).withMetadata("buckets", _lsh_meta(n_planes, n_tables, dim, seed))
    cols = [
        F.col(id_col).alias(f"{prefix}_id"),
        F.explode(buckets_of(F.col(vec_col))).alias("bucket"),
    ]
    if with_vec:
        # carried for IN-BUCKET scoring (one copy per bucket membership,
        # NOT one per candidate pair — see _inbucket_pair_scores)
        cols.insert(1, F.col(vec_col).alias(f"{prefix}_vec"))
    return df.select(*cols)


def _iter_bucket_groups(batches):
    """Yield complete per-bucket pandas groups from a mapInPandas batch
    iterator over a partition that is sorted by 'bucket'. The last bucket
    of each Arrow batch may continue in the next batch, so it is carried
    and prepended rather than emitted."""
    carry = None
    for pdf in batches:
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
        if len(pdf) == 0:
            continue
        last = pdf["bucket"].iloc[-1]
        head = pdf[pdf["bucket"] != last]
        carry = pdf[pdf["bucket"] == last]
        for _, g in head.groupby("bucket", sort=False):
            yield g
    if carry is not None and len(carry):
        yield carry


def _inbucket_pair_scores(
    bucketed: DataFrame, threshold: float, n_partitions: int
) -> DataFrame:
    """(bucket, id, vec) → (id_a, id_b, cosine) for all in-bucket pairs
    with cosine ≥ threshold, id_a < id_b.

    The 100-TB shape for LSH near-dup scoring: vectors shuffle ONCE PER
    BUCKET MEMBERSHIP (n·tables rows) instead of once per candidate pair
    — the r3 pair-join shape moved 2×64 doubles per candidate
    (~22 GB / 22M candidates at 300k vecs, measured memory-bandwidth
    bound: 1.3× speedup from 2→8 cores). Here each bucket's members are
    scored with one small normalized matmul inside a carry-aware
    mapInPandas (buckets sorted within hash-partitions; duplicate pairs
    from different tables produce bit-identical cosines and collapse in
    one dropDuplicates over the thresholded survivors only).
    """
    import numpy as np

    thr = threshold

    def score(batches):
        for g in _iter_bucket_groups(batches):
            n = len(g)
            if n < 2:
                continue
            ids = g["id"].to_numpy()
            V = np.array(g["vec"].tolist(), dtype=np.float64)
            nrm = np.sqrt((V * V).sum(axis=1))
            nrm[nrm == 0] = 1.0
            G = (V / nrm[:, None]) @ (V / nrm[:, None]).T
            iu, ju = np.triu_indices(n, k=1)
            c = G[iu, ju]
            m = c >= thr
            if not m.any():
                continue
            a, b = ids[iu[m]], ids[ju[m]]
            lo, hi = np.minimum(a, b), np.maximum(a, b)
            yield pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": c[m]})

    rep = bucketed.repartition(n_partitions, "bucket").sortWithinPartitions("bucket")
    out = rep.mapInPandas(score, "id_a long, id_b long, cosine double")
    return out.dropDuplicates(["id_a", "id_b"])


def _spherical_kmeans(vecs: np.ndarray, k: int, seed: int, iters: int) -> np.ndarray:
    """Plain Lloyd spherical k-means (cosine assignment, normalized
    centroids) on an in-memory sample. Deterministic via seeded init."""
    rng = np.random.default_rng(seed)
    k = min(k, vecs.shape[0])
    cent = vecs[rng.choice(vecs.shape[0], size=k, replace=False)].copy()
    for _ in range(iters):
        assign = (vecs @ cent.T).argmax(axis=1)
        for c in range(k):
            members = vecs[assign == c]
            if members.shape[0]:
                v = members.mean(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cent[c] = v / n
    return cent


def _normalize_rows(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return m / n




def _ivf_quantizer(df: DataFrame, id_col: str, vec_col: str, n_cells: int,
                   train_limit: int, seed: int, iters: int):
    """Spherical-k-means coarse quantizer shared by ivf_build_index and
    dedup.semantic_dedup → (centroids, cell column).

    Training reads a BOUNDED deterministic sample (orderBy(id)
    .limit(train_limit), one documented collect — swap for df.sample at
    100 TB, the quantizer only needs a sketch of the distribution); the
    cell of every row is one Arrow-batched pandas UDF pass (numpy matmul
    per batch, centroids ride the closure — n_cells·dim doubles, KBs).
    """
    rows = (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.col(id_col))
        .limit(train_limit)
        .collect()
    )
    train = _normalize_rows(np.array([r[1] for r in rows], dtype=np.float64))
    cent = _spherical_kmeans(train, n_cells, seed, iters)

    @F.pandas_udf("integer")
    def cell_of(embs: pd.Series) -> pd.Series:
        m = _normalize_rows(np.array(embs.tolist(), dtype=np.float64))
        return pd.Series((m @ cent.T).argmax(axis=1)).astype("int32")

    return cent, cell_of(F.col(vec_col))


def ivf_build_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    train_limit: int = 10_000,
    seed: int = 42,
    iters: int = 10,
) -> DataFrame:
    """IVF corpus index of the ANN index contract (module docstring):
    ``(c_id, c_vec, buckets)`` with ``buckets`` = ``[cell id]``, one row
    per vector. ``kind=ivf``, the training parameters and the centroids
    ride as metadata on ``buckets``, so the probe side assigns query
    cells driver-side and validates compatibility — build once, probe
    many query batches with zero corpus shuffle."""
    cent, cell = _ivf_quantizer(corpus, id_col, vec_col, n_cells,
                                train_limit, seed, iters)
    # centroids ride as a JSON string: Spark column Metadata supports
    # scalars and flat arrays only, not nested double arrays
    meta = {"kind": "ivf", "n_cells": n_cells, "train_limit": train_limit,
            "seed": seed, "iters": iters,
            "centroids": json.dumps(cent.tolist())}
    return corpus.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        F.array(cell.cast("long")).alias("buckets"),
    ).withMetadata("buckets", meta)


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    train_limit: int = 10_000,
    seed: int = 42,
    iters: int = 10,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN: coarse-quantize the corpus into n_cells spherical-k-means
    cells, probe only the query's n_probe nearest cells, exact cosine on
    the candidates. Output schema == brute_force_cosine_topk.

    Candidate fan-out per query ≈ n_probe·n/n_cells rows instead of n.
    Grow n_cells ∝ √n (IVF heuristic) to keep cells bounded.

    ``corpus_index`` — a prebuilt (persisted) index from
    ``ivf_build_index`` with the same training parameters: skips
    quantizer training AND corpus cell assignment per call; ``None``
    builds it inline. Query probe cells are assigned driver-side from
    the centroids stamped on the index metadata. An index with other
    parameters, or one with a scalar ``bucket`` cell column (the shape
    before the index contract), raises ValueError.
    """
    index = corpus_index if corpus_index is not None else ivf_build_index(
        corpus, id_col, vec_col, n_cells=n_cells, train_limit=train_limit,
        seed=seed, iters=iters)
    meta = _check_index(
        index, {"kind": "ivf", "n_cells": n_cells, "train_limit": train_limit,
                "seed": seed, "iters": iters}, "ivf_build_index")
    cent = np.array(json.loads(meta["centroids"]), dtype=np.float64)
    n_probe_eff = min(n_probe, cent.shape[0])
    return _probe_topk(
        index, queries, id_col, vec_col, k,
        lambda q: np.argsort(-(_normalize_rows(q) @ cent.T),
                             axis=1)[:, :n_probe_eff])
