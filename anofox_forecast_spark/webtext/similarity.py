"""Similarity search over embedding columns (array<float>).

- brute_force_cosine_topk: exact top-k neighbors; dot products via
  F.aggregate/zip_with (JVM-side) after per-vector L2 normalization; the
  query side is broadcast (queries ≪ corpus at scale).
- lsh_cosine_topk: random-hyperplane LSH — deterministic planes from a
  seeded numpy RNG broadcast as literals, signature = bit-pack of
  sign(v·p); candidates from signature-prefix buckets, exact cosine only
  on candidates. This is a 100-TB path: the brute force is the
  correctness baseline, LSH bounds the join.
- ivf_cosine_topk: IVF (inverted-file) ANN — spherical k-means coarse
  quantizer trained on a bounded driver-side sample, cell assignment via
  Arrow-batched pandas UDFs, candidates from the query's n_probe nearest
  cells only. The alternative 100-TB path when embeddings are clustered
  (bounded cells beat data-oblivious hyperplanes on recall/candidate).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F


def _norm(col):
    return F.sqrt(F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                       lambda acc, x: acc + x)


def _cos_batch():
    """Arrow-batched cosine over candidate rows: one einsum per batch.

    The JVM ``aggregate`` fold in _dot is a higher-order function — it
    never enters whole-stage codegen, so per-candidate interpretation
    dominates once the candidate join emits millions of rows (measured
    ~2× of the LSH ANN stage). Used on the rows-only approximate paths
    (LSH/IVF); the DuckDB-oracled brute-force path keeps the JVM fold so
    its float accumulation order stays pinned to the oracle's.
    """

    @F.pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series, na: pd.Series, nb: pd.Series) -> pd.Series:
        ma = np.array(a.tolist(), dtype=np.float64)
        mb = np.array(b.tolist(), dtype=np.float64)
        if ma.ndim != 2 or ma.shape[0] == 0:
            return pd.Series(np.zeros(len(a)))
        return pd.Series(
            np.einsum("ij,ij->i", ma, mb) / (na.to_numpy() * nb.to_numpy())
        )

    return cos


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

    ``corpus_index`` — a prebuilt (persisted) corpus bucket table from
    ``hyperplane_buckets(corpus, id_col, vec_col, "c", ..., with_vec=True)``
    with the SAME plane parameters. Passing it skips re-hashing the corpus per
    call — the index is built once and amortized over query batches,
    which is the deployment shape at scale (bench.py times the two
    phases separately; VERDICT r3 "what's wrong" #3).

    n_tables independent signatures; candidates = bucket collisions in any
    table; exact cosine computed only on candidates. ``multiprobe=1`` also
    probes, for each QUERY, every bucket whose signature differs in one
    bit — multiplying effective tables by (n_planes+1) while the corpus
    index stays one row per (vector, table).

    Tuning for scale: collision rate per table ≈ (1−θ/π)^n_planes, bucket
    population ≈ n/2^n_planes. Grow n_planes with corpus size to bound
    bucket fan-out, and buy recall back with n_tables/multiprobe — the
    r1 default (16 planes × 4 tables, no probing) had ≈0 recall@5 on
    weakly-correlated 64-d embeddings; 8×16 with 1-bit probing measures
    0.86 there and ≥0.9 on clustered embeddings
    (tests/test_webtext.py::test_lsh_measured_recall).
    """

    cb = corpus_index if corpus_index is not None else hyperplane_buckets(
        corpus, id_col, vec_col, "c",
        n_planes=n_planes, n_tables=n_tables, dim=dim, seed=seed, with_vec=True)
    if "c_vec" not in cb.columns:
        raise ValueError("corpus_index must be built with with_vec=True "
                         "(in-bucket scoring needs the vectors)")
    if corpus_index is not None:
        # a prebuilt index hashed with different planes puts queries in
        # disjoint buckets → near-zero recall with no error (ADVICE r4);
        # hyperplane_buckets stamps its parameters on the bucket(s) column
        bcol = "buckets" if "buckets" in cb.columns else "bucket"
        # an index from before the packed int64 keys ("table:sig"
        # strings) passes the parameter check but matches no probed key,
        # so the top-k comes back empty with no error
        key_type = cb.schema[bcol].dataType.simpleString()
        want_type = "array<bigint>" if bcol == "buckets" else "bigint"
        if key_type != want_type:
            raise ValueError(
                f"corpus_index {bcol!r} column is {key_type}, expected "
                f"{want_type} packed keys — rebuild with hyperplane_buckets")
        got = dict(cb.schema[bcol].metadata or {})
        want = {"n_planes": n_planes, "n_tables": n_tables,
                "dim": dim, "seed": seed}
        if {k: got.get(k) for k in want} != want:
            raise ValueError(
                "corpus_index plane parameters don't match this call "
                f"(index={got or 'missing — rebuild with hyperplane_buckets'}, "
                f"call={want})"
            )
    if corpus_index is not None:
        # BROADCAST-PROBE path (r5): with a prebuilt index the probe used
        # to union queries into the corpus bucket table and re-shuffle ALL
        # of it (n·tables rows × dim doubles ≈ 820 MB at 100k vecs) per
        # call — an r5 plane sweep showed probe time flat (~4 s) from 8 to
        # 12 planes, i.e. SHUFFLE-bound, not candidate-bound as assumed.
        # The deployment shape is tiny query batches against a big
        # standing index, so instead: collect the query-side bucket table
        # (bounded: |queries|·tables·(planes+1) rows — document/limit the
        # batch size at scale), ship it in the UDF closure, and scan the
        # persisted index MAP-SIDE — per Arrow batch, group rows by
        # bucket, one normalized matmul against that bucket's queries,
        # emit per-batch per-query top-k. Global top-k ⊆ union of
        # per-batch top-k, so no recall is lost; zero corpus shuffle.
        # query buckets computed DRIVER-SIDE in numpy (identical plane
        # construction): the query batch is collected for the closure
        # anyway, and routing it through a pandas_udf stage cost a whole
        # Spark job per probe call
        q_pdf = queries.select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
        ).toPandas()
        qb_pdf = _query_buckets_local(
            q_pdf, n_planes=n_planes, n_tables=n_tables, dim=dim,
            seed=seed, probe=multiprobe)
        return _broadcast_probe_topk(cb, qb_pdf, k)
    qb = hyperplane_buckets(queries, id_col, vec_col, "q",
                            n_planes=n_planes, n_tables=n_tables, dim=dim,
                            seed=seed, probe=multiprobe, with_vec=True)
    # IN-BUCKET scoring (r4), one-shot path (no standing index): queries
    # meet corpus members inside their shared buckets and each bucket
    # scores with one normalized matmul, emitting only its per-query
    # top-k (global top-k ⊆ union of per-bucket top-k, so no recall is
    # lost). The r3 shape joined the two 64-double vectors onto every
    # candidate PAIR (~14M pairs for 256 queries at 100k vecs → ~14 GB
    # Arrow traffic, memory-bandwidth bound: measured 1.3× speedup from
    # 2→8 cores); now vectors move once per bucket membership and the
    # post-score shuffle is three scalars per surviving candidate.
    both = cb.select(
        F.col("c_id").alias("id"), F.col("c_vec").alias("vec"),
        "bucket", F.lit(False).alias("is_q"),
    ).unionByName(qb.select(
        F.col("q_id").alias("id"), F.col("q_vec").alias("vec"),
        "bucket", F.lit(True).alias("is_q"),
    ))
    n_parts = int(corpus.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return _inbucket_topk(both, k, n_parts)


def _query_buckets_local(q_pdf, n_planes: int, n_tables: int, dim: int,
                         seed: int, probe: int):
    """Driver-side twin of hyperplane_buckets' packed int bucket keys
    (same seeded plane construction, same ``(table << n_planes) | sig``
    encoding, same 1-bit multiprobe flips) over a collected query batch —
    one numpy matmul instead of a Spark job. Returns a pandas frame
    (q_id, q_vec, bucket), one row per probed bucket."""
    _check_key_width(n_planes, n_tables)
    rng = np.random.default_rng(seed)
    flat = rng.normal(size=(n_tables, n_planes, dim)).reshape(
        n_tables * n_planes, dim)
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    table_off = np.arange(n_tables, dtype=np.int64) << n_planes
    if len(q_pdf):
        m = np.array(q_pdf["q_vec"].tolist(), dtype=np.float64)
        bits = (m @ flat.T) >= 0.0
        sigs = bits.reshape(-1, n_tables, n_planes) @ weights   # B × T
        base = table_off + sigs
        if probe >= 1:
            flips = base[:, :, None] ^ (1 << np.arange(n_planes,
                                                       dtype=np.int64))
            allb = np.concatenate([base[:, :, None], flips],
                                  axis=2).reshape(m.shape[0], -1)
        else:
            allb = base
        ids = np.repeat(np.arange(m.shape[0]), allb.shape[1])
        recs = allb.ravel()
    else:
        ids, recs = [], np.empty(0, dtype=np.int64)
    rows = q_pdf.iloc[ids].reset_index(drop=True) if len(ids) else q_pdf.iloc[:0]
    out = pd.DataFrame({
        "q_id": rows["q_id"].to_numpy() if len(rows) else [],
        "bucket": recs,
    })
    out["q_vec"] = rows["q_vec"].to_numpy() if len(rows) else []
    return out


def _check_key_width(n_planes: int, n_tables: int) -> None:
    """Packed keys ``(table << n_planes) | sig`` must fit a signed int64;
    wider ones wrap in numpy, so keys of different tables can collide
    with no error."""
    bits = n_planes + (n_tables - 1).bit_length()
    if bits > 63:
        raise ValueError(f"n_planes={n_planes} with n_tables={n_tables} "
                         f"needs {bits} bits; packed bucket keys hold 63")


def _topk_finish(scored: DataFrame, k: int, dedup: bool = True) -> DataFrame:
    """(q_id, c_id, cosine) candidate rows → per-query top-k with rank:
    pair dedup (same pair scored in several buckets/batches) + rank
    window. A single-aggregate formulation (collect_list + array_sort +
    per-neighbor HOF dedup) was tried in r6 and REVERTED: the O(k²)
    interpreted higher-order dedup per query measured ~25% slower than
    these two small exchanges at 256 queries × 40k candidate rows, so
    the two-exchange shape stands.

    ``dedup=False`` skips the pair-dedup exchange when the CALLER
    guarantees (q_id, c_id) rows are already unique — true for the
    grouped standing-index probe, where each candidate vector lives in
    exactly one scan batch so a pair is scored at most once; dropping an
    identity dropDuplicates removes one of the two finish exchanges.
    """
    from pyspark.sql import Window

    if dedup:
        scored = scored.dropDuplicates(["q_id", "c_id"])
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


def _broadcast_probe_topk(index_df: DataFrame, qb_pdf, k: int,
                          unique_rows: bool = False) -> DataFrame:
    """Map-side ANN probe: scan the standing corpus bucket index once,
    score each Arrow batch's rows against the (closure-shipped) query
    bucket table, emit per-batch per-query top-k, finish with one tiny
    window over ≤ batches·queries·k candidate rows.

    The index never shuffles; a broadcast semi-join on the probed bucket
    set prunes non-candidate index rows JVM-side before they enter Arrow
    (effective once n_planes makes buckets sparser than the probe set).
    """
    from pyspark.sql import Window

    # dedup queries: one row per query, plus bucket -> query-row-indices.
    # The scorer is ONE dense masked matmul + ONE vectorized argpartition
    # per Arrow batch — a first cut that grouped each batch by bucket and
    # looped queries per group spent its time in pandas groupby + tiny
    # matmuls (measured 2-6× SLOWER than the shuffle path it replaces;
    # more planes → more tiny groups → worse).
    qid_arr = qb_pdf["q_id"].to_numpy()
    uq_ids, uq_idx = np.unique(qid_arr, return_inverse=True)
    Q = np.zeros((uq_ids.size, len(qb_pdf["q_vec"].iloc[0]) if len(qb_pdf) else 0))
    for pos, row in zip(uq_idx, qb_pdf["q_vec"].to_numpy()):
        Q[pos] = row
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0] = 1.0
    Qn = Q / qn[:, None]
    bucket_to_qrows: dict = {
        int(b): np.unique(uq_idx[g.index.to_numpy()])
        for b, g in qb_pdf.reset_index(drop=True).groupby("bucket")
    }
    # flattened probed-bucket table for the vectorized mask build below:
    # SORTED int64 bucket keys (probe lookup = one searchsorted over the
    # whole batch, no per-string Python dict hits — r6 int-key follow-up
    # to the mapInArrow scorer), plus a CSR-style (offsets, concat)
    # layout of each probed bucket's query rows
    items = sorted(bucket_to_qrows.items())
    pb_keys = np.array([b for b, _ in items], dtype=np.int64)
    if items:
        qr_counts = np.fromiter(
            (len(v) for _, v in items), dtype=np.int64, count=len(items))
        qr_offsets = np.zeros(qr_counts.size, dtype=np.int64)
        np.cumsum(qr_counts[:-1], out=qr_offsets[1:])
        qr_concat = (np.concatenate([v for _, v in items])
                     if qr_counts.sum() else np.empty(0, dtype=np.int64))
    n_q = uq_ids.size
    kk = k

    def score(batches):
        # mapInArrow (r6): the pandas scorer spent ~0.3 s/probe turning
        # Arrow list columns into Python lists (`Series.tolist`) before
        # numpy could touch them — interleaved A/B at 100k index rows
        # measured 1.1-1.2 s (pandas) vs 0.7-0.9 s (arrow). Here vectors
        # decode zero-copy-ish (ListArray values buffer → reshape) and
        # int64 bucket keys go straight to numpy — the probe-membership
        # lookup is one searchsorted over the sorted probed-key array
        # (the string version dictionary-encoded the column and walked a
        # Python dict per distinct string).
        import pyarrow as pa

        for batch in batches:
            nrows = batch.num_rows
            if nrows == 0:
                continue
            names = batch.schema.names
            vec_col = batch.column(names.index("c_vec"))
            C_all = (vec_col.flatten().to_numpy(zero_copy_only=False)
                     .astype(np.float64).reshape(nrows, -1))
            if "buckets" in names:
                # grouped index: one row per vector, bucket ARRAY — ids
                # are already unique; flatten (row, bucket) entries
                uc_ids = batch.column(names.index("c_id")).to_numpy()
                C = C_all
                bcol = batch.column(names.index("buckets"))
                lens = np.asarray(bcol.value_lengths())
                ent_rows = np.repeat(np.arange(nrows), lens)
                flat = bcol.flatten()
                c_inv = ent_rows
            else:
                # exploded index: a candidate appears once per TABLE
                # membership — dedup to one score-matrix column per
                # distinct id, else duplicate columns crowd distinct
                # candidates out of the per-batch top-k (measured:
                # recall 1.0 → 0.925 at 12 planes)
                ci = batch.column(names.index("c_id")).to_numpy()
                uc_ids, first_idx, c_inv = np.unique(
                    ci, return_index=True, return_inverse=True)
                C = C_all[first_idx]
                flat = batch.column(names.index("bucket"))
            cn = np.linalg.norm(C, axis=1)
            cn[cn == 0] = 1.0
            # validity mask: (query, candidate) allowed iff some index
            # entry of the candidate sits in a bucket the query probes,
            # minus self-matches. Fully vectorized (r6): the previous
            # version looped np.ix_ over every DISTINCT bucket in the
            # batch (~tens of thousands at 16 tables), which dominated
            # the probe stage; here each entry maps to its probed-bucket
            # code through the dictionary, and the (query-row,
            # candidate-col) pairs are expanded with repeat/cumsum —
            # total pairs ≈ Σ |qrows(bucket)| over matching entries,
            # which is small because probes spread thinly over buckets.
            M = np.zeros((n_q, uc_ids.size), dtype=bool)
            vals = (flat.to_numpy(zero_copy_only=False)
                    .astype(np.int64, copy=False))
            if pb_keys.size:
                pos = np.minimum(np.searchsorted(pb_keys, vals),
                                 pb_keys.size - 1)
                hit = pb_keys[pos] == vals
            else:
                hit = np.zeros(vals.size, dtype=bool)
            if hit.any():
                bidx = pos[hit]
                cols = c_inv[hit]
                counts = qr_counts[bidx]
                tot = int(counts.sum())
                if tot:
                    starts2 = np.zeros(counts.size, dtype=np.int64)
                    np.cumsum(counts[:-1], out=starts2[1:])
                    pos = (np.arange(tot, dtype=np.int64)
                           - np.repeat(starts2, counts))
                    rows = qr_concat[np.repeat(qr_offsets[bidx], counts) + pos]
                    M[rows, np.repeat(cols, counts)] = True
            M &= uc_ids[None, :] != uq_ids[:, None]
            if not M.any():
                continue
            S = Qn @ (C / cn[:, None]).T
            S[~M] = -2.0  # below any cosine
            kth = min(kk, uc_ids.size)
            top = np.argpartition(-S, kth - 1, axis=1)[:, :kth]
            rows = np.repeat(np.arange(n_q), kth)
            cols = top.ravel()
            sc = S[rows, cols]
            keep = sc > -1.5
            if not keep.any():
                continue
            yield pa.RecordBatch.from_pydict({
                "q_id": pa.array(uq_ids[rows[keep]], type=pa.int64()),
                "c_id": pa.array(uc_ids[cols[keep]], type=pa.int64()),
                "cosine": pa.array(sc[keep], type=pa.float64()),
            })

    spark = index_df.sparkSession
    if "buckets" in index_df.columns:
        # grouped index: vectors ride once per vector — scan as-is (a
        # bucket-overlap prune would rebuild the probed set as a huge
        # literal; the scan is already n_tables× smaller than exploded)
        pruned = index_df.select("c_id", "c_vec", "buckets")
    else:
        probed = spark.createDataFrame(
            pd.DataFrame({"bucket": pb_keys}), "bucket long")
        pruned = index_df.join(
            F.broadcast(probed), "bucket", "left_semi"
        ).select("c_id", "c_vec", "bucket")
    scored = pruned.mapInArrow(score, "q_id long, c_id long, cosine double")
    # one-row-per-vector index (grouped LSH array index, IVF cell index):
    # a candidate is scored in exactly one batch ⇒ (q_id, c_id) already
    # unique — skip the dedup exchange. Exploded index: a candidate rides
    # once per table membership across batches, so pair dedup is
    # load-bearing there.
    unique = unique_rows or "buckets" in index_df.columns
    return _topk_finish(scored, k, dedup=not unique)


def _inbucket_topk(both: DataFrame, k: int, n_partitions: int) -> DataFrame:
    """(bucket, id, vec, is_q) → global top-k per query.

    Each bucket scores its queries against its corpus members with one
    normalized float64 matmul and emits only its per-query top-k
    (deterministic tie-break: cosine desc, id asc) — the global top-k is
    a subset of the union of per-bucket top-k, so no recall is lost.
    Duplicate (q, c) pairs from different buckets carry bit-identical
    cosines and collapse in one dropDuplicates before the final window.
    Shared by hyperplane-LSH (bucket = packed (table, signature) int)
    and IVF (bucket = cell id).
    """
    from pyspark.sql import Window

    kk = k

    def score(batches):
        for g in _iter_bucket_groups(batches):
            qm = g["is_q"].to_numpy()
            if not qm.any() or qm.all():
                continue
            qi = g.loc[qm, "id"].to_numpy()
            ci = g.loc[~qm, "id"].to_numpy()
            Q = np.array(g.loc[qm, "vec"].tolist(), dtype=np.float64)
            C = np.array(g.loc[~qm, "vec"].tolist(), dtype=np.float64)
            qn = np.sqrt((Q * Q).sum(axis=1)); qn[qn == 0] = 1.0
            cn = np.sqrt((C * C).sum(axis=1)); cn[cn == 0] = 1.0
            S = (Q / qn[:, None]) @ (C / cn[:, None]).T
            out_q, out_c, out_s = [], [], []
            for r in range(len(qi)):
                mask = ci != qi[r]
                if not mask.any():
                    continue
                cs, cids = S[r][mask], ci[mask]
                order = np.lexsort((cids, -cs))[:kk]  # deterministic ties
                out_q.append(np.full(order.size, qi[r]))
                out_c.append(cids[order])
                out_s.append(cs[order])
            if out_q:
                yield pd.DataFrame({
                    "q_id": np.concatenate(out_q),
                    "c_id": np.concatenate(out_c),
                    "cosine": np.concatenate(out_s),
                })

    rep = both.repartition(n_partitions, "bucket").sortWithinPartitions("bucket")
    scored = rep.mapInPandas(score, "q_id long, c_id long, cosine double")
    # pair dedup + per-query rank in one aggregate (see _topk_finish);
    # same pair across buckets carries an identical score by construction
    return _topk_finish(scored, k)


def hyperplane_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    prefix: str,
    n_planes: int = 8,
    n_tables: int = 16,
    dim: int = 64,
    seed: int = 42,
    probe: int = 0,
    with_vec: bool = False,
    grouped: bool = False,
) -> DataFrame:
    """One row per (vector, bucket): columns {prefix}_id, bucket
    (int64 ``(table << n_planes) | signature`` — r6 moved off the
    "table:signature" strings so keys hash/compare as fixed 8-byte ints
    and signature construction vectorizes; the encoding is bijective, so
    candidate sets are unchanged). IDS ONLY — callers join vectors back
    after candidate-pair dedup so the wide payload never rides the
    bucket explode/shuffle.

    ``grouped=True`` (requires with_vec) skips the explode and returns
    ONE row per vector with a ``buckets`` ARRAY — the standing-index
    shape for the broadcast-probe ANN path: the vector payload is stored
    and Arrow-transferred once instead of once per table (n_tables×
    smaller scans; measured 2.5× probe speedup at 16 tables).

    Deterministic hyperplanes from a seeded numpy RNG. All T·P signature
    dot products are ONE Arrow-batched numpy matmul (B×dim @ dim×T·P) in
    a pandas UDF — the first cut inlined each plane as a 64-literal
    zip_with/aggregate fold, and at 16 tables × 8-16 planes the resulting
    128-256-fold expression tree made signature computation ~50× slower
    than the matmul (measured in bench.py's wx_ann stage; same reason IVF
    assigns cells in numpy). ``probe=1`` additionally emits, per table,
    the n_planes 1-bit-flipped neighbor buckets (query-side multiprobe).
    Raises ValueError when ``n_planes + bit_length(n_tables - 1) > 63``.
    """
    _check_key_width(n_planes, n_tables)
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_tables, n_planes, dim))
    flat = planes.reshape(n_tables * n_planes, dim)
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    table_off = np.arange(n_tables, dtype=np.int64) << n_planes
    flip_bits = 1 << np.arange(n_planes, dtype=np.int64)
    # plane parameters ride as column metadata on `bucket` so a prebuilt
    # index can be validated against the query side's parameters — a
    # mismatch hashes queries into disjoint buckets and silently returns
    # near-zero recall (ADVICE r4). Metadata survives select/persist.
    bucket_meta = {"n_planes": n_planes, "n_tables": n_tables,
                   "dim": dim, "seed": seed}

    @F.pandas_udf("array<long>")
    def buckets_of(embs: pd.Series) -> pd.Series:
        m = np.array(embs.tolist(), dtype=np.float64)
        if m.ndim != 2 or m.shape[0] == 0:
            return pd.Series([[] for _ in range(len(embs))])
        bits = (m @ flat.T) >= 0.0                      # B × (T·P)
        # int keys let the whole bucket-id construction stay in numpy
        # (the string version looped Python per row building T·(P+1)
        # f-strings); a 1-bit signature flip is an XOR on the low P bits
        # of the packed key, so multiprobe vectorizes too
        sigs = bits.reshape(-1, n_tables, n_planes) @ weights   # B × T
        base = table_off + sigs                                 # B × T
        if probe >= 1:
            allb = np.concatenate(
                [base[:, :, None], base[:, :, None] ^ flip_bits],
                axis=2).reshape(m.shape[0], -1)
        else:
            allb = base
        return pd.Series(list(allb))

    if grouped:
        if not with_vec:
            raise ValueError("grouped=True requires with_vec=True")
        return df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.col(vec_col).alias(f"{prefix}_vec"),
            buckets_of(F.col(vec_col)).alias("buckets"),
        ).withMetadata("buckets", bucket_meta)
    cols = [
        F.col(id_col).alias(f"{prefix}_id"),
        F.explode(buckets_of(F.col(vec_col))).alias("bucket"),
    ]
    if with_vec:
        # carried for IN-BUCKET scoring (one copy per bucket membership,
        # NOT one per candidate pair — see _inbucket_pair_scores)
        cols.insert(1, F.col(vec_col).alias(f"{prefix}_vec"))
    # withMetadata, not alias(metadata=...): alias metadata is dropped on
    # a Generate (explode) output
    return df.select(*cols).withMetadata("bucket", bucket_meta)


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


def ivf_build_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    train_limit: int = 10_000,
    seed: int = 42,
    iters: int = 10,
) -> DataFrame:
    """Standing IVF index: (c_id, c_vec, bucket=cell id as int64), one
    row per vector, centroids + training parameters stamped as metadata on
    ``bucket`` so the probe side can assign query cells driver-side and
    validate compatibility — the IVF twin of the grouped hyperplane
    index (build once, probe many query batches with zero corpus
    shuffle)."""
    rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
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

    import json

    # centroids ride as a JSON string: Spark column Metadata supports
    # scalars and flat arrays only, not nested double arrays
    meta = {"kind": "ivf", "n_cells": n_cells, "train_limit": train_limit,
            "seed": seed, "iters": iters,
            "centroids": json.dumps(cent.tolist())}
    return corpus.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        cell_of(F.col(vec_col)).cast("long").alias("bucket"),
    ).withMetadata("bucket", meta)


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

    Scale shape: training reads a BOUNDED deterministic sample
    (orderBy(id).limit(train_limit) — swap for df.sample at 100 TB, the
    quantizer only needs a sketch of the distribution); cell assignment is
    one Arrow-batched pandas UDF pass (numpy matmul per batch, centroids
    ride the closure — n_cells·dim doubles, KBs); the candidate join keys
    on cell id, so fan-out per query ≈ n_probe·n/n_cells rows instead of
    n. Grow n_cells ∝ √n (IVF heuristic) to keep cells bounded.

    ``corpus_index`` — a prebuilt (persisted) index from
    ``ivf_build_index``: skips quantizer training AND corpus cell
    assignment per call, assigns query probe cells driver-side from the
    centroids stamped on the index metadata, and scores via the same
    map-side broadcast-probe scan as the LSH path (zero corpus shuffle
    per query batch).
    """
    if corpus_index is not None:
        meta = dict(corpus_index.schema["bucket"].metadata or {})
        if meta.get("kind") != "ivf":
            raise ValueError(
                "corpus_index is not an IVF index — build it with "
                "ivf_build_index (metadata missing/kind mismatch)")
        want = {"n_cells": n_cells, "train_limit": train_limit,
                "seed": seed, "iters": iters}
        got = {kk: meta.get(kk) for kk in want}
        if got != want:
            raise ValueError(
                f"ivf index parameters don't match this call "
                f"(index={got}, call={want})")
        import json

        cent = np.array(json.loads(meta["centroids"]), dtype=np.float64)
        n_probe_eff = min(n_probe, cent.shape[0])
        q_pdf = queries.select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
        ).toPandas()
        if len(q_pdf):
            Qm = _normalize_rows(np.array(q_pdf["q_vec"].tolist(),
                                          dtype=np.float64))
            top = np.argsort(-(Qm @ cent.T), axis=1)[:, :n_probe_eff]
            idx = np.repeat(np.arange(len(q_pdf)), n_probe_eff)
            qb_pdf = q_pdf.iloc[idx].reset_index(drop=True)
            qb_pdf["bucket"] = top.ravel().astype(np.int64)
        else:
            qb_pdf = q_pdf.assign(bucket=pd.Series(dtype=np.int64))
        # the IVF index is one row per vector (one cell each), so scored
        # (q, c) pairs are unique — the finish can skip the dedup exchange
        return _broadcast_probe_topk(corpus_index, qb_pdf, k,
                                     unique_rows=True)

    rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
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

    n_probe_eff = min(n_probe, cent.shape[0])

    @F.pandas_udf("array<integer>")
    def probe_cells(embs: pd.Series) -> pd.Series:
        m = _normalize_rows(np.array(embs.tolist(), dtype=np.float64))
        top = np.argsort(-(m @ cent.T), axis=1)[:, :n_probe_eff].astype("int32")
        return pd.Series(list(top))

    # IN-CELL scoring via the shared bucket scorer (r4): the cell equi-join
    # previously carried both 64-double vectors onto every candidate pair
    # (n_probe/n_cells · n per query ⇒ GBs of Arrow traffic, bandwidth
    # bound); now vectors move once per cell membership and each cell emits
    # its per-query top-k.
    both = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        cell_of(F.col(vec_col)).alias("bucket"),
        F.lit(False).alias("is_q"),
    ).unionByName(queries.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.explode(probe_cells(F.col(vec_col))).alias("bucket"),
        F.lit(True).alias("is_q"),
    ))
    n_parts = int(corpus.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return _inbucket_topk(both, k, n_parts)
