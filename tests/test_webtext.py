"""Webtext operators: dedup, similarity, text stats, multimodal plumbing."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from anofox_forecast_spark.webtext.dedup import (
    embedding_near_dups,
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_near_dups,
    simhash_signatures,
)
from anofox_forecast_spark.webtext.multimodal import extract_media_features, synthesize_media
from anofox_forecast_spark.webtext.similarity import (
    brute_force_cosine_topk,
    ivf_cosine_topk,
    lsh_cosine_topk,
)
from anofox_forecast_spark.webtext.text_stats import language_id, quality_scores, token_counts

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog again and again today"),
    (1, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
    (2, "completely different content about spark rollup tiers and windows"),
    (3, "the quick brown fox jumps over the lazy dog again and again today"),  # dup of 0
    (4, "der hund und die katze sind nicht mit der maus auf ein haus"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark):
    out = exact_dedup(_docs(spark), "doc_id", "text").toPandas()
    assert len(out) == 4  # 5 docs, one exact dup pair
    dup = out[out.n_dups == 2]
    assert len(dup) == 1 and dup.iloc[0]["keep_id"] == 0


def test_ngram_jaccard_finds_near_dup(spark):
    out = ngram_jaccard_pairs(_docs(spark), "doc_id", "text", n=3, threshold=0.5).toPandas()
    pairs = set(map(tuple, out[["id_a", "id_b"]].to_numpy()))
    assert (0, 3) in pairs  # exact dup → jaccard 1.0
    assert (0, 1) in pairs or (1, 3) in pairs  # near dup (one word differs)
    j03 = out[(out.id_a == 0) & (out.id_b == 3)]["jaccard"].iloc[0]
    assert j03 == 1.0
    assert (2 not in set(out.id_a)) and (2 not in set(out.id_b))


def test_minhash_lsh_candidates(spark):
    out = minhash_lsh_candidates(
        _docs(spark), "doc_id", "text", n_hashes=32, bands=8, est_threshold=0.3
    ).toPandas()
    pairs = set(map(tuple, out[["id_a", "id_b"]].to_numpy()))
    assert (0, 3) in pairs
    est = out[(out.id_a == 0) & (out.id_b == 3)]["est_jaccard"].iloc[0]
    assert est == 1.0  # identical text → identical signature


def test_redact_pii(spark):
    from anofox_forecast_spark.webtext.text_stats import redact_pii

    df = spark.createDataFrame(
        [
            (0, "contact me at jane.doe+x@example.co.uk or 192.168.0.1 now"),
            (1, "call +1 555 123 4567 or 555-123-4567 today"),
            (2, "plain text with no pii at all"),
            (3, "two mails a@b.io c@d.org and ip 10.0.0.255"),
        ],
        "doc_id long, text string",
    )
    out = redact_pii(df, "doc_id", "text").toPandas().set_index("id")
    assert out.loc[0, "n_email"] == 1 and out.loc[0, "n_ipv4"] == 1
    assert "<EMAIL>" in out.loc[0, "text_redacted"]
    assert "<IP>" in out.loc[0, "text_redacted"]
    assert "jane.doe" not in out.loc[0, "text_redacted"]
    assert out.loc[1, "n_phone"] == 2
    assert "<PHONE>" in out.loc[1, "text_redacted"]
    assert "4567" not in out.loc[1, "text_redacted"]
    assert out.loc[2, "text_redacted"] == "plain text with no pii at all"
    assert int(out.loc[2, ["n_email", "n_ipv4", "n_phone"]].sum()) == 0
    assert out.loc[3, "n_email"] == 2 and out.loc[3, "n_ipv4"] == 1
    # IPs must be consumed by the ipv4 pass, never the phone pass
    assert out.loc[3, "n_phone"] == 0


def test_term_stats(spark):
    from anofox_forecast_spark.webtext.text_stats import term_stats

    out = term_stats(_docs(spark), "doc_id", "text", min_df=2).toPandas()
    stats = out.set_index("term")
    # "the" appears in docs 0,1,3 (twice each); df=3, tf=6
    assert stats.loc["the", "doc_freq"] == 3
    assert stats.loc["the", "term_freq"] == 6
    # idf = ln((5+1)/(3+1)) + 1
    import math

    assert abs(stats.loc["the", "idf"] - round(math.log(6 / 4) + 1, 6)) < 1e-9
    assert (out.doc_freq >= 2).all()


def test_iter_bucket_groups_carry():
    """Bucket groups spanning Arrow-batch boundaries must be reassembled,
    not split (the in-bucket scorer's correctness hinges on this)."""
    import pandas as pd

    from anofox_forecast_spark.webtext.similarity import _iter_bucket_groups

    b1 = pd.DataFrame({"bucket": ["a", "a", "b"], "id": [1, 2, 3]})
    b2 = pd.DataFrame({"bucket": ["b", "b", "c"], "id": [4, 5, 6]})
    b3 = pd.DataFrame({"bucket": ["c"], "id": [7]})
    groups = {g["bucket"].iloc[0]: sorted(g["id"]) for g in _iter_bucket_groups(iter([b1, b2, b3]))}
    assert groups == {"a": [1, 2], "b": [3, 4, 5], "c": [6, 7]}
    # single-bucket partition entirely in carry
    groups2 = [sorted(g["id"]) for g in _iter_bucket_groups(iter([
        pd.DataFrame({"bucket": ["z", "z"], "id": [1, 2]}),
        pd.DataFrame({"bucket": ["z"], "id": [3]}),
    ]))]
    assert groups2 == [[1, 2, 3]]
    # empty iterator / empty frames
    assert list(_iter_bucket_groups(iter([]))) == []
    assert list(_iter_bucket_groups(iter([pd.DataFrame({"bucket": [], "id": []})]))) == []


def _union_find_components(edges):
    """Reference labels: id -> min id of its component (union by min root)."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def test_connected_components(spark):
    """Pairs -> duplicate groups: chain (diameter 4, needs iterations),
    a separate 2-clique, and symmetric input order; a 120-edge path
    within 12 rounds (pointer jumping); a seeded random graph against a
    union-find reference."""
    from anofox_forecast_spark.webtext.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (11, 10), (20, 21), (21, 20)],
        "id_a long, id_b long",
    )
    out = dict(
        connected_components(pairs).orderBy("id").toPandas().itertuples(index=False)
    )
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    # 121-node path: diameter 120, more than max_iters one-hop rounds
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "id_a long, id_b long"
    )
    got = connected_components(chain, max_iters=12).toPandas()
    assert (got["component"] == 0).all() and len(got) == 121

    rng = np.random.default_rng(3)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 60, size=(80, 2))
             if a != b]
    rdf = spark.createDataFrame(edges, "id_a long, id_b long")
    got = dict(connected_components(rdf).toPandas().itertuples(index=False))
    assert got == _union_find_components(edges)


def test_minhash_estimator_unbiased(spark):
    """est_jaccard ≈ true n-gram Jaccard for the r4 hash family (single
    xxhash64 + k affine permutations). Guards the rewrite: a biased
    permutation family (e.g. even multipliers, correlated a_i) would show
    a systematic est-vs-true gap here."""
    from anofox_forecast_spark.webtext.dedup import minhash_signatures
    from anofox_forecast_spark.webtext.text_stats import _tokens, grams

    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(500)]
    base = list(rng.choice(vocab, size=60))
    docs = [(0, " ".join(base))]
    for i in range(1, 13):
        words = list(base)
        for pos in rng.choice(60, size=i * 4, replace=False):
            words[pos] = str(rng.choice(vocab))
        docs.append((i, " ".join(words)))
    docs += [(13, ""), (14, "!!! ... ?")]  # no word: no signature row
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sig = (
        minhash_signatures(df, "doc_id", "text", n_hashes=256)
        .toPandas().set_index("id")["sig"]
    )
    assert sorted(sig.index) == list(range(13))
    sh = (
        df.select("doc_id", grams(_tokens(F.col("text")), 3).alias("sh"))
        .toPandas().set_index("doc_id")["sh"]
    )
    s0, g0 = np.asarray(sig.loc[0]), set(sh.loc[0])
    errs = []
    for i in range(1, 13):
        est = float((s0 == np.asarray(sig.loc[i])).mean())
        gi = set(sh.loc[i])
        true = len(g0 & gi) / len(g0 | gi)
        errs.append(est - true)
        assert abs(est - true) < 0.12, (i, est, true)  # ~4σ at k=256
    assert abs(np.mean(errs)) < 0.04  # no systematic bias


def test_simhash_near_dups(spark):
    sig = simhash_signatures(_docs(spark), "doc_id", "text").toPandas().set_index("id")
    assert sig.loc[0, "simhash"] == sig.loc[3, "simhash"]  # identical docs
    out = simhash_near_dups(_docs(spark), "doc_id", "text", max_hamming=8).toPandas()
    pairs = set(map(tuple, out[["id_a", "id_b"]].to_numpy()))
    assert (0, 3) in pairs


def test_simhash_recall_vs_exact_hamming(spark):
    """100% recall at hamming <= 7: chunk-equality candidates must surface
    EVERY pair the exact all-pairs hamming finds (r1 bug: 4x16 chunks only
    guaranteed hamming <= 3)."""
    rng = np.random.default_rng(7)
    vocab = [f"tok{i}" for i in range(400)]
    base = list(rng.choice(vocab, size=40))
    docs = []
    for i in range(200):
        words = list(base)
        # perturb 0..6 positions: spreads pair hamming over 0..~14
        for pos in rng.choice(40, size=rng.integers(0, 7), replace=False):
            words[pos] = str(rng.choice(vocab))
        docs.append((i, " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    k = 7
    sig = simhash_signatures(df, "doc_id", "text").toPandas().set_index("id")["simhash"]
    sigs = sig.sort_index().to_numpy().astype(np.uint64)
    x = sigs[:, None] ^ sigs[None, :]
    ham = np.zeros_like(x, dtype=np.int64)
    for b in range(64):
        ham += ((x >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
    ia, ib = np.where(np.triu(ham <= k, k=1))
    exact_pairs = set(zip(ia.tolist(), ib.tolist()))
    out = simhash_near_dups(df, "doc_id", "text", max_hamming=k).toPandas()
    got = set(map(tuple, out[["id_a", "id_b"]].to_numpy()))
    assert exact_pairs, "corpus should contain near-dup pairs"
    assert exact_pairs <= got and got == exact_pairs


def test_ngram_jaccard_exact_despite_hot_shingles(spark):
    """Shared hot shingles must still count toward the intersection: the
    df-cap only bounds candidate generation (r1 bug deflated the score)."""
    hot = "alpha beta gamma"  # this 3-shingle appears in every doc -> hot
    docs = [(i, f"{hot} filler{i} fill{i} pad{i} end{i}") for i in range(10)]
    # 10 and 11 are near-dups sharing hot AND rare shingles
    docs += [
        (10, f"{hot} shared rare tail one two three"),
        (11, f"{hot} shared rare tail one two four"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.3, max_shingle_freq=3
    ).toPandas()
    row = out[(out.id_a == 10) & (out.id_b == 11)]
    assert len(row) == 1
    # exact jaccard over FULL shingle sets (hot 3-grams included)
    def sh(t, n=3):
        w = t.split()
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}
    a, b = sh(docs[10][1]), sh(docs[11][1])
    expect = len(a & b) / len(a | b)
    assert abs(row.iloc[0]["jaccard"] - expect) < 1e-6


def test_brute_force_cosine_topk(spark):
    rng = np.random.default_rng(42)
    base = rng.normal(size=8)
    rows = [
        (0, [float(x) for x in base]),
        (1, [float(x) for x in base + 0.01 * rng.normal(size=8)]),  # near 0
        (2, [float(x) for x in -base]),  # opposite
        (3, [float(x) for x in rng.normal(size=8)]),
        (4, [float(x) for x in rng.normal(size=8)]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_cosine_topk(df, df.filter(F.col("vec_id") == 0), k=2).toPandas()
    assert out.sort_values("rank").iloc[0]["neighbor_id"] == 1
    assert out.iloc[0]["cosine"] > 0.99
    assert 2 not in out["neighbor_id"].tolist()  # opposite vector never top-2


def test_lsh_cosine_recall(spark):
    rng = np.random.default_rng(42)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(100)]
    # plant a near-duplicate of vec 0
    rows.append((100, [v + 0.001 for v in rows[0][1]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") == 0)
    out = lsh_cosine_topk(df, q, k=3, n_planes=8, n_tables=6, dim=16).toPandas()
    assert 100 in out["neighbor_id"].tolist()  # near-dup lands in a shared bucket


def test_token_counts_and_quality(spark):
    out = token_counts(_docs(spark), "doc_id", "text").toPandas().set_index("id")
    assert out.loc[0, "ws_tokens"] == 13
    q = quality_scores(_docs(spark), "doc_id", "text").toPandas().set_index("id")
    assert (q["punct_ratio"] == 0.0).all()
    assert q.loc[0, "n_words"] == 13
    assert q.loc[0, "quality"] >= 0.9  # long, clean text
    # a doc with no word counts one word, as the DuckDB twin's
    # len(regexp_split_to_array('', ' +')) does
    empty = spark.createDataFrame([(7, ""), (8, "!!!")], "doc_id long, text string")
    q = quality_scores(empty, "doc_id", "text").toPandas().set_index("id")
    assert q["n_words"].tolist() == [1, 1]
    assert q.loc[7, "quality"] == 0.64 and q.loc[8, "quality"] == 0.34


def test_language_id(spark):
    out = language_id(_docs(spark), "doc_id", "text").toPandas().set_index("id")
    assert out.loc[0, "lang_guess"] == "en"
    assert out.loc[4, "lang_guess"] == "de"


def test_multimodal_plumbing(spark):
    media = synthesize_media(spark, n=30)
    out = extract_media_features(media).toPandas()
    assert len(out) == 30
    assert (out["n_bytes"] > 0).all()
    assert out["features"].map(len).eq(32).all()
    # deterministic: same payload → same features
    again = extract_media_features(media).toPandas()
    a = [list(v) for v in out.sort_values("media_id")["features"]]
    b = [list(v) for v in again.sort_values("media_id")["features"]]
    assert a == b


def test_lsh_measured_recall(spark):
    """Measured recall@5 vs brute force on clustered embeddings — the r1
    default config (16 planes x 4 tables, no multiprobe) scored ~0."""
    rng = np.random.default_rng(5)
    centers = rng.normal(size=(20, 64))
    rows = []
    vid = 0
    for c in range(20):
        for _ in range(10):
            v = centers[c] + rng.normal(0, 0.3, 64)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.limit(10)
    bf = brute_force_cosine_topk(df, queries, k=5).toPandas()
    truth = set(map(tuple, bf[["query_id", "neighbor_id"]].to_numpy()))
    got = lsh_cosine_topk(df, queries, k=5).toPandas()
    pairs = set(map(tuple, got[["query_id", "neighbor_id"]].to_numpy()))
    recall = len(pairs & truth) / len(truth)
    assert recall >= 0.9, f"recall@5 {recall:.2f} below 0.9"


def test_simhash_recall_at_k10_combo_keys(spark):
    """The combination-key tables must keep 100% recall at the driver
    query's max_hamming=10 (r2 single-chunk keys were 100%-recall too but
    with 6-bit join keys; the combo keys must not lose pairs)."""
    rng = np.random.default_rng(11)
    vocab = [f"tok{i}" for i in range(400)]
    base = list(rng.choice(vocab, size=40))
    docs = []
    for i in range(150):
        words = list(base)
        for pos in rng.choice(40, size=rng.integers(0, 9), replace=False):
            words[pos] = str(rng.choice(vocab))
        docs.append((i, " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    k = 10
    sig = simhash_signatures(df, "doc_id", "text").toPandas().set_index("id")["simhash"]
    sigs = sig.sort_index().to_numpy().astype(np.uint64)
    x = sigs[:, None] ^ sigs[None, :]
    ham = np.zeros_like(x, dtype=np.int64)
    for b in range(64):
        ham += ((x >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
    ia, ib = np.where(np.triu(ham <= k, k=1))
    exact_pairs = set(zip(ia.tolist(), ib.tolist()))
    out = simhash_near_dups(df, "doc_id", "text", max_hamming=k).toPandas()
    got = set(map(tuple, out[["id_a", "id_b"]].to_numpy()))
    assert exact_pairs, "corpus should contain near-dup pairs"
    assert got == exact_pairs


def test_simhash_candidate_budget(spark):
    """Scale guard (VERDICT r2 'what's wrong' #2): measure the RAW
    candidate count (union of bucket-colliding pairs BEFORE the hamming
    filter) by replicating the combo-key join in numpy, and require it to
    (a) beat the r2 single-chunk plan by >= 3x and (b) stay under n²/5.

    Measured at this corpus (2k random 30-token docs, k=10): combo plan
    (13,3) -> ~323k candidates (16% of n²) vs r2 single-chunk -> ~1.12M
    (56%). The idealized ~n²/2^keybits rate does NOT hold because simhash
    bits are biased on short docs (a 30-term ±1 vote ties to 0 with
    p≈14.5%), which inflates bucket collisions — hence the module's
    warning + max_bucket_freq escape hatch at high k."""
    from itertools import combinations

    from anofox_forecast_spark.webtext.dedup import (
        _simhash_key_plan,
        simhash_signatures,
    )

    rng = np.random.default_rng(3)
    vocab = [f"w{i}" for i in range(5000)]
    docs = [
        (i, " ".join(rng.choice(vocab, size=30)))
        for i in range(2000)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string").coalesce(8)
    n = len(docs)
    sig = simhash_signatures(df, "doc_id", "text").toPandas().set_index("id")["simhash"]
    sigs = sig.sort_index().to_numpy().astype(np.uint64)

    def chunks_of(m):
        base, extra = divmod(64, m)
        widths = [base + (1 if i < extra else 0) for i in range(m)]
        offsets = [sum(widths[:i]) for i in range(m)]
        return [
            (sigs >> np.uint64(offsets[i])) & np.uint64((1 << widths[i]) - 1)
            for i in range(m)
        ]

    def raw_candidates(m, c):
        ch = chunks_of(m)
        pairs = set()
        for combo in combinations(range(m), c):
            packed = ch[combo[0]].astype(object)
            for idx in combo[1:]:
                packed = packed * (1 << 6) + ch[idx].astype(object)
            buckets: dict = {}
            for i, k in enumerate(packed):
                buckets.setdefault(k, []).append(i)
            for members in buckets.values():
                for a_i in range(len(members)):
                    for b_i in range(a_i + 1, len(members)):
                        pairs.add((members[a_i], members[b_i]))
        return len(pairs)

    m, c = _simhash_key_plan(10)
    combo = raw_candidates(m, c)
    single = raw_candidates(11, 1)  # the r2 plan: k+1 chunks, 1-chunk keys
    assert combo * 3 < single, (combo, single)
    assert combo < n * n / 5, combo
    # survivors sanity: random docs are nowhere near hamming<=10
    out = simhash_near_dups(df, "doc_id", "text", max_hamming=10)
    assert out.count() < n


def test_simhash_bucket_freq_cap(spark):
    """max_bucket_freq drops hot buckets (exact-duplicate clusters) from
    candidate generation without touching unrelated pairs."""
    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = [(i, base) for i in range(30)]          # 30 identical docs
    docs += [(100, "one two three four five six"),
             (101, "one two three four five seven")]  # hamming 8 apart
    df = spark.createDataFrame(docs, "doc_id long, text string")
    capped = simhash_near_dups(
        df, "doc_id", "text", max_hamming=8, max_bucket_freq=10
    ).toPandas()
    pairs = set(map(tuple, capped[["id_a", "id_b"]].to_numpy()))
    assert (100, 101) in pairs          # small-bucket pair kept
    assert not any(a < 30 and b < 30 for a, b in pairs)  # hot cluster dropped
    uncapped = simhash_near_dups(df, "doc_id", "text", max_hamming=8).toPandas()
    upairs = set(map(tuple, uncapped[["id_a", "id_b"]].to_numpy()))
    assert sum(1 for a, b in upairs if a < 30 and b < 30) == 30 * 29 // 2


def _clustered_embeddings(spark, seed=5, n_centers=20, per_center=10, dim=64,
                          spread=0.3):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_centers, dim))
    rows, vid = [], 0
    for c in range(n_centers):
        for _ in range(per_center):
            v = centers[c] + rng.normal(0, spread, dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_near_dups_exact(spark):
    """Exact variant: a planted near-identical pair must surface with
    cosine ~1; orthogonal noise stays below a high threshold."""
    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=32)]) for i in range(50)]
    rows.append((50, [v * 1.001 + 1e-4 for v in rows[3][1]]))  # near-dup of 3
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = embedding_near_dups(df, threshold=0.95, method="exact").toPandas()
    pairs = set(map(tuple, out[["id_a", "id_b"]].to_numpy()))
    assert pairs == {(3, 50)}
    assert out["cosine"].iloc[0] > 0.999


def test_embedding_near_dups_lsh_recall(spark):
    """LSH scale path vs the exact baseline on clustered embeddings:
    measured recall >= 0.9, precision == 1.0 (exact cosine recheck means
    no false positives by construction)."""
    df = _clustered_embeddings(spark)
    exact = embedding_near_dups(df, threshold=0.8, method="exact").toPandas()
    truth = set(map(tuple, exact[["id_a", "id_b"]].to_numpy()))
    got_df = embedding_near_dups(df, threshold=0.8, method="lsh").toPandas()
    got = set(map(tuple, got_df[["id_a", "id_b"]].to_numpy()))
    assert truth, "clustered corpus must contain near-dup pairs"
    assert got <= truth  # exact recheck → no false positives
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"embedding LSH recall {recall:.2f} below 0.9"


def test_ivf_measured_recall(spark):
    """IVF ANN recall@5 vs brute force on clustered embeddings."""
    df = _clustered_embeddings(spark)
    queries = df.limit(10)
    bf = brute_force_cosine_topk(df, queries, k=5).toPandas()
    truth = set(map(tuple, bf[["query_id", "neighbor_id"]].to_numpy()))
    got = ivf_cosine_topk(df, queries, k=5, n_cells=16, n_probe=4).toPandas()
    pairs = set(map(tuple, got[["query_id", "neighbor_id"]].to_numpy()))
    recall = len(pairs & truth) / len(truth)
    assert recall >= 0.9, f"IVF recall@5 {recall:.2f} below 0.9"


def test_ivf_deterministic(spark):
    """Seeded quantizer + deterministic sample → identical output across
    runs (required for the driver's stable-schema/rows smoke)."""
    df = _clustered_embeddings(spark, seed=9)
    queries = df.limit(5)
    a = ivf_cosine_topk(df, queries, k=3).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    b = ivf_cosine_topk(df, queries, k=3).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    assert a.equals(b)


def test_resize_images_plumbing(spark):
    """Stubbed resize must honor the real output-size contract
    (w*h*3 bytes), keep only image rows, and be deterministic."""
    from anofox_forecast_spark.webtext.multimodal import resize_images, synthesize_media

    media = synthesize_media(spark, n=30)
    out = resize_images(media, width=16, height=8).toPandas()
    assert len(out) == 10  # 30 rows, kinds cycle image/audio/video
    assert (out["width"] == 16).all() and (out["height"] == 8).all()
    assert out["pixels"].map(len).eq(16 * 8 * 3).all()
    again = resize_images(media, width=16, height=8).toPandas()
    a = out.sort_values("media_id")["pixels"].map(bytes).tolist()
    b = again.sort_values("media_id")["pixels"].map(bytes).tolist()
    assert a == b


def test_sample_frames_plumbing(spark):
    """Frame sampler fans each video row out to n_frames rows with
    monotonically increasing timestamps inside the duration."""
    from anofox_forecast_spark.webtext.multimodal import sample_frames, synthesize_media

    media = synthesize_media(spark, n=30)
    out = sample_frames(media, n_frames=5).toPandas()
    n_videos = 10
    assert len(out) == n_videos * 5
    per = out.groupby("media_id")
    assert (per.size() == 5).all()
    for _, g in per:
        ts = g.sort_values("frame_index")["frame_ts_ms"].tolist()
        assert ts == sorted(ts) and ts[0] == 0
        assert g["frame"].map(len).eq(32).all()  # sha256 stub frames


def test_ngram_jaccard_oracle_agrees_on_unicode(spark):
    """The DuckDB oracle's word regex must match _words on NON-ASCII text
    (code-review r3: the oracle used ASCII [^a-z0-9 ] while Spark uses
    \\p{L}\\p{N} — silent divergence the all-ASCII driver corpus hid)."""
    import duckdb
    import pandas as pd

    from anofox_forecast_spark.plans.webtext_queries import sql_dedup_ngram_jaccard

    docs = [
        (0, "café déjà vu très élégant après midi über alles"),
        (1, "café déjà vu très élégant après midi über tout"),
        (2, "λόγος ästhetik здравствуй entirely unrelated content words"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = (
        ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.2)
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    want = (
        con.sql(sql_dedup_ngram_jaccard()).df()
        .sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    assert got[["id_a", "id_b"]].values.tolist() == want[["id_a", "id_b"]].values.tolist()
    assert (got["jaccard"].round(6) == want["jaccard"].round(6)).all()
    assert len(got) >= 1  # the accented near-dup pair must survive both sides


def test_asof_join_semantics(spark):
    """Backward-inclusive as-of: ties match, gaps carry the latest earlier
    value, leading rows with no preceding right row get NULL."""
    from anofox_forecast_spark.core.asof import asof_join

    left = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 5, 11.0), ("a", 7, 12.0), ("b", 3, 20.0)],
        "k string, bucket_start long, y double",
    )
    right = spark.createDataFrame(
        [("a", 5, 100.0), ("a", 2, 99.0), ("b", 4, 200.0)],
        "k string, bucket_start long, v double",
    )
    out = {
        (r.k, r.bucket_start): r.v_asof
        for r in asof_join(left, right, ["k"], "bucket_start", ["v"]).collect()
    }
    assert out[("a", 1)] is None        # nothing at-or-before ts=1
    assert out[("a", 5)] == 100.0       # tie (right ts == left ts) matches
    assert out[("a", 7)] == 100.0       # carries forward past the gap
    assert out[("b", 3)] is None        # right row at ts=4 is in the future


def test_webtext_ops_leave_cache_empty(spark, monkeypatch):
    """The signature-table materializations must not accumulate catalog
    cache entries across calls (ADVICE/VERDICT r4: persist() without
    unpersist leaked one cached table per call). minhash/simhash now use
    eager localCheckpoint (catalog-free, ContextCleaner-released);
    connected_components releases its edge cache in a finally block —
    including on the non-convergence error path — and sizes its loop
    without setting session conf, which other queries sharing the
    session would see."""
    from pyspark.sql.conf import RuntimeConfig

    from anofox_forecast_spark.webtext.dedup import connected_components

    spark.catalog.clearCache()
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    docs = _docs(spark)
    minhash_lsh_candidates(docs, "doc_id", "text", n_hashes=32, bands=8).count()
    simhash_near_dups(docs, "doc_id", "text", max_hamming=3).count()
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2)
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    conf_sets = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        conf_sets.append((key, value))
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    connected_components(pairs).count()
    assert cache_mgr.isEmpty(), "webtext op left a cached table behind"
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    # error path: a chain of diameter 4 cannot converge in 1 iteration
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    import pytest

    with pytest.raises(RuntimeError, match="no convergence"):
        connected_components(chain, max_iters=1)
    assert cache_mgr.isEmpty(), "non-convergence path leaked the edge cache"
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    assert conf_sets == [], "connected_components set session conf"


def test_lsh_index_param_mismatch_raises(spark):
    """A prebuilt corpus index built with different plane parameters must
    be rejected, not silently return near-zero recall (ADVICE r4); so
    must an index with stale string keys and an index that is not the
    one-row-per-vector grouped shape."""
    import pytest

    from anofox_forecast_spark.webtext.similarity import hyperplane_buckets

    rng = np.random.default_rng(3)
    emb = spark.createDataFrame(
        [(i, rng.normal(size=8).tolist()) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    queries = emb.filter(F.col("vec_id") < 2)
    idx = hyperplane_buckets(emb, "vec_id", "embedding", "c",
                             n_planes=4, n_tables=2, dim=8, seed=1,
                             with_vec=True, grouped=True)
    with pytest.raises(ValueError, match="parameters don't match"):
        lsh_cosine_topk(emb, queries, k=3, n_planes=8, n_tables=2, dim=8,
                        seed=1, corpus_index=idx)
    # matching parameters pass validation and run
    ok = lsh_cosine_topk(emb, queries, k=3, n_planes=4, n_tables=2, dim=8,
                         seed=1, corpus_index=idx)
    assert ok.count() >= 0
    # an index with the pre-int64 "table:sig" string keys and correct
    # parameter metadata matches no probed key: rejected, not empty
    stale = idx.withColumn(
        "buckets",
        F.transform("buckets", lambda b: F.concat_ws(
            ":", F.shiftright(b, 4).cast("string"),
            b.bitwiseAND(15).cast("string"))),
    ).withMetadata("buckets", idx.schema["buckets"].metadata)
    with pytest.raises(ValueError, match="packed keys"):
        lsh_cosine_topk(emb, queries, k=3, n_planes=4, n_tables=2, dim=8,
                        seed=1, corpus_index=stale)
    # the exploded one-row-per-(vector, table) shape is not an ANN index
    exploded = hyperplane_buckets(emb, "vec_id", "embedding", "c",
                                  n_planes=4, n_tables=2, dim=8, seed=1,
                                  with_vec=True)
    with pytest.raises(ValueError, match="grouped=True"):
        lsh_cosine_topk(emb, queries, k=3, n_planes=4, n_tables=2, dim=8,
                        seed=1, corpus_index=exploded)


def test_packed_bucket_key_overflow_raises(spark):
    """``(table << n_planes) | sig`` must fit 63 bits: wider parameters
    raise instead of wrapping into colliding keys."""
    import pytest

    from anofox_forecast_spark.webtext.similarity import (
        _query_buckets_local,
        hyperplane_buckets,
    )

    emb = spark.createDataFrame([(0, [1.0, 0.0])],
                                "vec_id long, embedding array<double>")
    q = np.array([[1.0, 0.0]])
    for n_planes, n_tables in [(60, 16), (63, 2), (64, 1)]:
        with pytest.raises(ValueError, match="63"):
            hyperplane_buckets(emb, "vec_id", "embedding", "c",
                               n_planes=n_planes, n_tables=n_tables, dim=2)
        with pytest.raises(ValueError, match="63"):
            _query_buckets_local(q, n_planes=n_planes, n_tables=n_tables,
                                 dim=2, seed=1, probe=0)
    # 59 + bit_length(15) = 63 bits still fits
    hyperplane_buckets(emb, "vec_id", "embedding", "c", n_planes=59,
                       n_tables=16, dim=2)
    assert _query_buckets_local(q, n_planes=59, n_tables=16, dim=2,
                                seed=1, probe=0).shape == (1, 16)


def test_repetition_stats(spark):
    """Gopher repetition metrics on hand-computable docs."""
    from anofox_forecast_spark.webtext.text_stats import repetition_stats

    docs = spark.createDataFrame(
        [
            (0, "a b a b a b"),  # top-2gram 'a b' 3/5, dup-3gram 2/4
            (1, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r.asDict() for r in
           repetition_stats(docs, "doc_id", "text").collect()}
    r0 = out[0]
    assert r0["n_words"] == 6
    assert abs(r0["top_2gram_frac"] - 3 / 5) < 1e-9
    assert abs(r0["dup_3gram_frac"] - 0.5) < 1e-9
    assert abs(r0["distinct_word_ratio"] - 2 / 6) < 1e-6
    assert r0["repetition_keep"] is False
    r1 = out[1]
    assert r1["top_2gram_frac"] < 0.2 and r1["dup_3gram_frac"] == 0.0
    assert r1["repetition_keep"] is True


def test_line_dedup(spark):
    """C4-style span dedup: repeated lines keep only the first corpus
    occurrence; reassembly preserves in-doc order; all docs present."""
    from anofox_forecast_spark.webtext.dedup import line_dedup

    A = " ".join(f"a{i}" for i in range(12))
    B = " ".join(f"b{i}" for i in range(12))
    C = " ".join(f"c{i}" for i in range(12))
    D = " ".join(f"d{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (0, f"{A} {B}"),       # first occurrence of A and B
            (1, f"{A} {C}"),       # A is a dup -> keeps only C
            (2, f"{D} {D}"),       # in-doc dup -> keeps first D
            (3, f"{B}"),           # fully duplicated -> empty text
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r.asDict() for r in
           line_dedup(docs, "doc_id", "text", tokens_per_line=12).collect()}
    assert out[0]["n_lines"] == 2 and out[0]["n_kept"] == 2
    assert out[0]["text_deduped"] == f"{A} {B}"
    assert out[1]["n_lines"] == 2 and out[1]["n_kept"] == 1
    assert out[1]["text_deduped"] == C
    assert out[2]["n_lines"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["text_deduped"] == D
    assert out[3]["n_lines"] == 1 and out[3]["n_kept"] == 0
    assert out[3]["text_deduped"] == ""


def test_semantic_dedup(spark):
    """SemDeDup groups identical in-cell vectors and keeps one
    representative; singletons keep themselves."""
    from anofox_forecast_spark.webtext.dedup import semantic_dedup

    rng = np.random.default_rng(7)
    cents = rng.normal(size=(4, 16))
    rows = []
    # 0.2 noise keeps in-cluster cosines ~0.96 — comfortably below the
    # 0.999 threshold, so only the planted exact copies may group
    for i in range(40):
        v = cents[i % 4] + 0.2 * rng.normal(size=16)
        rows.append((i, v.tolist()))
    # ids 100..104 are exact copies of ids 0..4 (always the same cell)
    for i in range(5):
        rows.append((100 + i, rows[i][1]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r.asDict() for r in
           semantic_dedup(emb, threshold=0.999, n_cells=4,
                          train_limit=100).collect()}
    assert len(out) == 45
    for i in range(5):
        assert out[100 + i]["component"] == out[i]["component"] == i
        assert out[i]["keep"] is True and out[100 + i]["keep"] is False
    # vectors without a duplicate survive as their own component
    lone = [k for k in out if k not in
            set(range(5)) | {100 + i for i in range(5)}]
    assert all(out[k]["keep"] for k in lone)


def _ann_reference(df, q_ids, corpus_keys, query_keys, k):
    """Test-local ANN reference: a query's candidates are the other
    vectors holding one of its probed keys, scored with exact float64
    cosine and ranked by (cosine desc, id asc). ``corpus_keys(V)`` gives
    every vector's key set, ``query_keys(v)`` one query's probed keys.
    Returns rows (query, neighbor, rank, cosine)."""
    pdf = df.toPandas()
    ids = pdf["vec_id"].to_numpy()
    V = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    ckeys = corpus_keys(V)
    out = []
    for qid in q_ids:
        qpos = int(np.flatnonzero(ids == qid)[0])
        probed = query_keys(V[qpos])
        cand = [j for j in range(len(ids))
                if ids[j] != qid and ckeys[j] & probed]
        ranked = sorted((-float(Vn[j] @ Vn[qpos]), int(ids[j])) for j in cand)
        out += [(int(qid), cid, r + 1, -neg)
                for r, (neg, cid) in enumerate(ranked[:k])]
    return out


def _assert_topk_matches(got, want):
    got = got.toPandas().sort_values(["query_id", "rank"])
    rows = got[["query_id", "neighbor_id", "rank"]].values.tolist()
    assert rows == [list(w[:3]) for w in want]
    assert np.allclose(got["cosine"].to_numpy(), [w[3] for w in want],
                       atol=1e-6)


def test_lsh_probe_index_parity(spark):
    """The LSH probe, with the index built inline or prebuilt, returns
    exactly the candidates sharing a probed hyperplane key, ranked by
    exact cosine — the r5 first cut lost recall because duplicate
    per-table columns crowded distinct candidates out of the per-batch
    top-k."""
    from anofox_forecast_spark.webtext.similarity import hyperplane_buckets

    n_planes, n_tables, dim, seed = 8, 16, 64, 42
    df = _clustered_embeddings(spark)
    queries = df.filter(F.col("vec_id") < 10)
    planes = np.random.default_rng(seed).normal(size=(n_tables, n_planes, dim))
    weights = 1 << np.arange(n_planes)

    def sigs(v):  # per-table signature of one or more vectors
        return ((v @ planes.reshape(-1, dim).T) >= 0).reshape(
            -1, n_tables, n_planes) @ weights

    def corpus_keys(V):
        return [set(enumerate(s)) for s in sigs(V)]

    def query_keys(v):  # own bucket + every 1-bit neighbour, per table
        flips = [0] + [1 << b for b in range(n_planes)]
        return {(t, s ^ f) for t, s in enumerate(sigs(v)[0]) for f in flips}

    want = _ann_reference(df, range(10), corpus_keys, query_keys, 5)
    idx = hyperplane_buckets(df, "vec_id", "embedding", "c", with_vec=True,
                             grouped=True)
    for corpus_index in (None, idx):
        _assert_topk_matches(
            lsh_cosine_topk(df, queries, k=5, corpus_index=corpus_index), want)


def test_ivf_probe_index_parity(spark):
    """The IVF probe, with the index built inline or prebuilt, returns
    exactly the vectors in the query's n_probe nearest cells ranked by
    exact cosine; an index with other training parameters or the scalar
    ``bucket`` cell column is rejected."""
    import json

    import pytest

    from anofox_forecast_spark.webtext.similarity import ivf_build_index

    df = _clustered_embeddings(spark, seed=9, n_centers=8, per_center=25,
                               dim=32)
    queries = df.filter(F.col("vec_id") < 6)
    idx = ivf_build_index(df, n_cells=8)
    cent = np.array(json.loads(idx.schema["buckets"].metadata["centroids"]))
    want = _ann_reference(
        df, range(6),
        lambda V: [{int(c)} for c in (V @ cent.T).argmax(axis=1)],
        lambda v: set(np.argsort(-(cent @ v))[:3].tolist()), 5)
    for corpus_index in (None, idx):
        _assert_topk_matches(
            ivf_cosine_topk(df, queries, k=5, n_cells=8, n_probe=3,
                            corpus_index=corpus_index), want)
    with pytest.raises(ValueError, match="parameters don't match"):
        ivf_cosine_topk(df, queries, k=5, n_cells=16, corpus_index=idx)
    # the index shape before the contract: a scalar `bucket` cell column
    scalar = idx.select("c_id", "c_vec", F.col("buckets")[0].alias("bucket")) \
        .withMetadata("bucket", idx.schema["buckets"].metadata)
    with pytest.raises(ValueError, match="ivf_build_index"):
        ivf_cosine_topk(df, queries, k=5, n_cells=8, corpus_index=scalar)


def test_ann_topk_ties_rank_by_id(spark):
    """Exactly tied cosines rank by neighbour id ascending on every ANN
    path, as in brute force: the per-batch top-k cut must keep every
    candidate tied with the k-th score, not whichever rows come first in
    batch order (here the batch holds ids 9, 7, 5, 3 in that order)."""
    from anofox_forecast_spark.webtext.similarity import (
        hyperplane_buckets,
        ivf_build_index,
    )

    rows = [(0, [1.0, 2.0, 3.0, 4.0])] + [
        (i, [2.0, 4.0, 6.0, 8.0]) for i in (9, 7, 5, 3)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>").coalesce(1)
    q = df.filter(F.col("vec_id") == 0)
    lsh = dict(n_planes=4, n_tables=2, dim=4)
    idx = hyperplane_buckets(df, "vec_id", "embedding", "c", **lsh,
                             with_vec=True, grouped=True)
    paths = {
        "brute": brute_force_cosine_topk(df, q, k=2),
        "lsh": lsh_cosine_topk(df, q, k=2, **lsh),
        "lsh_index": lsh_cosine_topk(df, q, k=2, **lsh, corpus_index=idx),
        "ivf": ivf_cosine_topk(df, q, k=2, n_cells=2, n_probe=2),
        "ivf_index": ivf_cosine_topk(df, q, k=2, n_cells=2, n_probe=2,
                                     corpus_index=ivf_build_index(df, n_cells=2)),
    }
    for name, out in paths.items():
        got = out.toPandas().sort_values("rank")["neighbor_id"].tolist()
        assert got == [3, 5], f"{name}: {got}"


def test_minhash_incremental_matches_full(spark, tmp_path):
    """Incremental pass over a corpus increment against a stored
    signature table finds exactly the full-corpus pairs that involve a
    new document; old-vs-old pairs are not re-emitted; a store hashed
    with different parameters is rejected; metadata survives parquet."""
    import pytest

    from anofox_forecast_spark.webtext.dedup import (
        minhash_lsh_candidates_incremental,
        minhash_signatures,
    )

    rng = np.random.default_rng(21)
    vocab = [f"w{i}" for i in range(400)]
    texts = [" ".join(rng.choice(vocab, size=50)) for _ in range(30)]
    texts[25] = texts[2]               # new doc exact-dups an old doc
    texts[26] = texts[3].replace(texts[3].split()[5], "zzz")  # near-dup
    texts[28] = texts[27]              # new-new exact dup
    rows = [(i, t) for i, t in enumerate(texts)]
    old = spark.createDataFrame(rows[:20], "doc_id long, text string")
    new = spark.createDataFrame(rows[20:], "doc_id long, text string")
    full = spark.createDataFrame(rows, "doc_id long, text string")

    kw = dict(n_hashes=32, bands=8, est_threshold=0.3)
    full_pairs = minhash_lsh_candidates(full, "doc_id", "text", **kw).toPandas()
    want = {tuple(r) for r in full_pairs[["id_a", "id_b"]].to_numpy()
            if r[1] >= 20}  # pairs touching a new doc (id_a < id_b)

    # store round-trips through parquet (metadata must survive)
    store_path = str(tmp_path / "sig_store")
    minhash_signatures(old, "doc_id", "text", n_hashes=32).write.parquet(store_path)
    store = spark.read.parquet(store_path)
    pairs, new_sig = minhash_lsh_candidates_incremental(
        new, store, "doc_id", "text", **kw)
    got = {tuple(r) for r in pairs.toPandas()[["id_a", "id_b"]].to_numpy()}
    assert got == want
    assert (2, 25) in got and (27, 28) in got
    assert new_sig.count() == 10
    # parameter mismatch rejected (store was hashed with n_hashes=32)
    with pytest.raises(ValueError, match="hash-family mismatch"):
        minhash_lsh_candidates_incremental(
            new, store, "doc_id", "text", n_hashes=64, bands=8)
