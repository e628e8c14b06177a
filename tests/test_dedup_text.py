"""Semantic tests for dedup/text/similarity on planted fixtures —
the oracle-parity tests prove cross-engine equality; these prove the
operators actually FIND what they should."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from gfwspark import dedup, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")          # 1-token edit → high J
    far = "completely different content about spark engines and parquet files"
    rows = [
        (1, base, "en"),
        (2, base, "en"),         # exact dup of 1
        (3, near, "en"),         # near dup of 1
        (4, far, "en"),
        (5, "der hund und die katze sind nicht auf der strasse", "de"),
        (6, "", "en"),           # empty edge case
        (7, "   ", "en"),        # whitespace edge case
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_ngram_jaccard_finds_planted_dups(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5).toPandas()
    found = {(r.doc_a, r.doc_b) for _, r in pairs.iterrows()}
    assert (1, 2) in found            # exact pair: J = 1.0
    assert (1, 3) in found            # near pair above threshold
    assert not any(4 in p for p in found)
    exact = pairs[(pairs.doc_a == 1) & (pairs.doc_b == 2)]
    assert float(exact.jaccard.iloc[0]) == 1.0


def test_minhash_lsh_recalls_exact_dup(docs):
    out = dedup.minhash_near_dups(docs, threshold=0.5).toPandas()
    found = {(r.doc_a, r.doc_b) for _, r in out.iterrows()}
    assert (1, 2) in found  # identical docs always share all bands


def test_minhash_signature_identical_for_identical_docs(docs):
    sig = dedup.minhash_signatures(dedup.shingles(docs)).toPandas().set_index("doc_id")
    assert (sig.loc[1] == sig.loc[2]).all()
    assert (sig.loc[1] != sig.loc[4]).any()


def test_simhash_close_for_near_dups(docs):
    sh = dedup.simhash(docs.filter(F.length(F.trim("text")) > 0), bits=32).toPandas()
    sh = sh.set_index("doc_id")["simhash"]
    d_near = bin(int(sh[1]) ^ int(sh[3])).count("1")
    d_far = bin(int(sh[1]) ^ int(sh[4])).count("1")
    assert sh[1] == sh[2]
    assert d_near < d_far


def test_lang_id_on_planted_langs(docs):
    out = text.lang_id(docs).toPandas().set_index("doc_id")
    assert out.loc[1, "pred_lang"] == "en"
    assert out.loc[5, "pred_lang"] == "de"
    assert out.loc[6, "pred_lang"] == "und"  # empty → unknown


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")],
        "doc_id long, text string",
    )
    fp = text.with_fingerprint(df).toPandas().set_index("doc_id")["fingerprint"]
    assert fp[1] == fp[3]
    assert fp[1] != fp[2]  # same bag of tokens, different order


def test_brute_topk_finds_planted_neighbor(spark):
    rng = np.random.RandomState(0)
    vecs = rng.randn(20, 8).astype("float32")
    vecs[7] = vecs[3] * 2.0  # cosine(3,7) = 1.0 exactly (scaled copy)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(20)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = corpus.filter(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    top = similarity.brute_force_topk(corpus, q, k=1).toPandas()
    assert top.iloc[0].vec_id == 7
    assert top.iloc[0].cosine == 1.0


def test_lsh_topk_same_bucket_for_scaled_copy(spark):
    rng = np.random.RandomState(1)
    vecs = rng.randn(30, 8).astype("float32")
    vecs[9] = vecs[4] * 3.0
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(30)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = corpus.filter(F.col("vec_id") == 4).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    top = similarity.lsh_topk(corpus, q, k=3, dim=8).toPandas()
    assert 9 in set(top.vec_id)  # scaled copy shares every hyperplane sign


def test_embedding_near_dups_finds_pair(spark):
    rng = np.random.RandomState(2)
    vecs = rng.randn(15, 8).astype("float32")
    vecs[11] = vecs[2] * 1.5
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(15)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    dups = similarity.embedding_near_dups(corpus, threshold=0.99, dim=8).toPandas()
    assert (2, 11) in {(r.id_a, r.id_b) for _, r in dups.iterrows()}


def test_quality_score_ranks_sane(spark):
    df = spark.createDataFrame(
        [
            (1, "A well formed sentence with reasonable length and words."),
            (2, "!!!???...,,,;;;:::!!!"),
            (3, "x"),
        ],
        "doc_id long, text string",
    )
    q = text.with_quality_score(df).toPandas().set_index("doc_id")["quality"]
    assert q[1] > q[2]
    assert q[1] > q[3]


def test_ngram_jaccard_hot_shingle_cap(spark):
    """A boilerplate shingle shared by thousands of docs must NOT make
    the inverted-index self-join quadratic: with the df cap it is
    dropped before the join, genuine near-dups are still found, and the
    dropped mass is reportable (no silent truncation)."""
    import time

    boiler = "all rights reserved"
    rows = [(i, f"{boiler} unique{i} token{i} filler{i} distinct{i}") for i in range(2000)]
    # one genuine near-dup pair sharing most shingles
    rows.append((9001, "alpha beta gamma delta epsilon zeta eta theta"))
    rows.append((9002, "alpha beta gamma delta epsilon zeta eta iota"))
    d = spark.createDataFrame(rows, "doc_id long, text string")

    sh = dedup.shingles(d)
    mass = dedup.dropped_shingle_mass(sh, max_df=100).first()
    assert mass["n_dropped_shingles"] >= 1          # the boilerplate shingle
    assert mass["max_df_seen"] >= 2000

    t0 = time.time()
    pairs = dedup.ngram_jaccard_pairs(d, threshold=0.5, max_shingle_df=100).toPandas()
    elapsed = time.time() - t0
    got = {(r.doc_a, r.doc_b) for _, r in pairs.iterrows()}
    assert (9001, 9002) in got
    # no boilerplate-only pair survives (those share ONLY the hot shingle)
    assert all(a >= 9000 for a, b in got)
    assert elapsed < 60  # bounded: ~4M spurious pairs never materialize


def test_lsh_bucket_size_cap(spark):
    """max_bucket_size drops a hyper-connected band bucket from the
    candidate self-join."""
    # 50 identical docs -> every band bucket has 50 members
    rows = [(i, "same exact text for everyone here today") for i in range(50)]
    rows += [(100, "totally different words appear in this document"),
             (101, "totally different words appear in this document")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    sig = dedup.minhash_signatures(dedup.shingles(d))
    uncapped = dedup.lsh_candidates(sig).count()
    capped = dedup.lsh_candidates(sig, max_bucket_size=10)
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert uncapped >= 50 * 49 // 2
    assert got == {(100, 101)}  # the 50-clone bucket is dropped wholesale


def test_multiprobe_recall_dominates_single_probe(spark):
    """Multiprobe (Hamming-1) candidate sets strictly contain the
    single-probe sets, so recall vs brute-force ground truth can only
    improve — measured on the real embeddings table."""
    from gfwspark import tables

    emb = tables.load_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(F.col("vec_id").alias("q_id"), "embedding")
    truth = similarity.brute_force_topk(emb, q, k=5).toPandas()
    single = similarity.lsh_topk(emb, q, k=5, dim=64).toPandas()
    multi = similarity.lsh_topk(emb, q, k=5, dim=64, probe_hamming=1).toPandas()

    def recall(approx):
        t = truth.groupby("q_id")["vec_id"].apply(set)
        a = approx.groupby("q_id")["vec_id"].apply(set)
        return sum(len(t[q] & a.get(q, set())) for q in t.index) / (5 * len(t))

    r1, rm = recall(single), recall(multi)
    assert rm >= r1
    # iid-random 64-dim embeddings have near-uniform cosines (top-5 is
    # mostly noise), so absolute recall is structurally low here; the
    # point is the 9x probe set lifts it (measured: 0.08 -> 0.22)
    assert rm >= 0.15 and rm > r1


def test_ivf_topk_probes_find_planted_neighbor(spark):
    """A vector identical to a query must be found by IVF (same nearest
    centroid, cosine 1.0 at rank 1)."""
    rng = np.random.RandomState(5)
    vecs = rng.randn(40, 8).astype("float32")
    vecs[33] = vecs[6] * 2.0  # scaled copy of the query
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = corpus.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    q = corpus.filter(F.col("vec_id") == 6).select(F.col("vec_id").alias("q_id"), "embedding")
    top = similarity.ivf_topk(corpus, q, cent, k=3, n_probe=2).toPandas()
    best = top[top["rank"] == 1].iloc[0]
    assert best.vec_id == 33 and best.cosine == 1.0


def test_dup_clusters_chain_topology(spark):
    """A 3-doc chain {a-b, b-c} plus a separate pair {d-e} resolve to
    two components with min-id keepers — the decision pair lists can't
    express."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    out = dedup.dup_clusters(pairs).toPandas().set_index("doc_id").sort_index()
    assert out.loc[[1, 2, 3], "cluster_root"].tolist() == [1, 1, 1]
    assert out.loc[[10, 11], "cluster_root"].tolist() == [10, 10]
    assert out.loc[[1, 2, 3], "cluster_size"].tolist() == [3, 3, 3]
    assert out["keep"].sum() == 2 and out.loc[1, "keep"] and out.loc[10, "keep"]


def test_dup_clusters_long_chain_converges(spark):
    """A 12-node path graph (diameter 11) still converges within the
    iteration budget via min propagation + early exit, and releases its
    per-round label checkpoints and edges as it goes: at most one new
    persisted RDD (the final labels) is left."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    out = dedup.dup_clusters(pairs).toPandas()
    assert (out["cluster_root"] == 0).all()
    assert (out["cluster_size"] == 13).all()
    assert len(set(jsc.getPersistentRDDs().keySet()) - before) <= 1


def test_multiprobe_recall_on_clustered_corpus(spark):
    """Recall >= 0.5 at a bounded candidate budget, on a PLANTED
    clustered corpus (VERDICT r2 #6).  iid-random embeddings make
    top-k noise (cosines near-uniform), so recall is measured where
    ANN is actually used: clustered data whose true neighbors are
    cluster-mates.  Also pins the candidate-cost bound: Hamming<=2
    multiprobe with 8 planes scans at most (1+8+28)/256 ~ 14.5% of
    the corpus per query (vs brute force's 100%)."""
    rng = np.random.RandomState(11)
    n_clusters, per, dim = 30, 10, 16
    centers = rng.randn(n_clusters, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs, cluster_of = [], []
    for ci in range(n_clusters):
        pts = centers[ci] + 0.15 * rng.randn(per, dim)
        vecs.extend(pts)
        cluster_of.extend([ci] * per)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    n_q = 25
    q = corpus.filter(F.col("vec_id") < n_q).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    k = 5
    truth = similarity.brute_force_topk(corpus, q, k=k).toPandas()
    multi = similarity.lsh_topk(
        corpus, q, k=k, dim=dim, n_planes=8, probe_hamming=2
    ).toPandas()
    t = truth.groupby("q_id")["vec_id"].apply(set)
    a = multi.groupby("q_id")["vec_id"].apply(set)
    recall = sum(len(t[qq] & a.get(qq, set())) for qq in t.index) / (k * len(t))
    assert recall >= 0.5, recall
    # candidate-cost budget: number of (query, corpus) pairs scored is
    # bounded by the probe-set fraction of brute force's n_q * N
    c = similarity.with_lsh_bucket(corpus, dim, "embedding", 8)
    qb = similarity.with_lsh_bucket(
        q.select("q_id", F.col("embedding").alias("q_embedding")),
        dim, "q_embedding", 8,
    )
    flips = [0] + [1 << h for h in range(8)] + [
        (1 << i) | (1 << j) for i in range(8) for j in range(i + 1, 8)
    ]
    qp = qb.select(
        "q_id", F.explode(F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in flips])).alias("bucket")
    )
    n_cand = c.join(qp, "bucket").count()
    frac = n_cand / (n_q * n_clusters * per)
    assert frac <= 0.40, frac  # clustered buckets are lumpy; still ~3x+ cheaper


def test_kmeans_fit_recovers_planted_clusters(spark):
    """Lloyd's k-means (similarity.kmeans_fit) on a planted mixture:
    after a few iterations every planted cluster's points share one
    centroid and each fitted centroid is close to its true center —
    the IVF build step, no longer a caller-supplied stand-in."""
    rng = np.random.RandomState(3)
    k, per, dim = 4, 25, 8
    centers = 4.0 * rng.randn(k, dim)
    vecs = np.concatenate(
        [centers[c] + 0.05 * rng.randn(per, dim) for c in range(k)], axis=0
    )
    order = rng.permutation(len(vecs))
    rows = [(int(i), [float(x) for x in vecs[j]]) for i, j in enumerate(order)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # seed one (noisy) point per planted cluster — the caller-supplied
    # init path (production seeds with kmeans++/sampling; smallest-id
    # init can land two seeds in one cluster and stick in the classic
    # Lloyd local optimum, which is correct behavior but not this test)
    init = spark.createDataFrame(
        [(c, [float(x) for x in vecs[c * per]]) for c in range(k)],
        "cid int, embedding array<double>",
    )
    cent = similarity.kmeans_fit(df, k=k, n_iter=8, init=init)
    fitted = {r["cid"]: np.array(r["embedding"]) for r in cent.collect()}
    assert len(fitted) == k
    # every true center is within noise distance of exactly one centroid
    matched = set()
    for c in range(k):
        dists = {cid: np.linalg.norm(v - centers[c]) for cid, v in fitted.items()}
        best = min(dists, key=dists.get)
        assert dists[best] < 0.2, (c, dists[best])
        matched.add(best)
    assert len(matched) == k
    # assignment purity: cluster-mates land together
    asg = similarity.kmeans_assign(df, cent).toPandas()
    asg["true"] = [int(order[i] // per) for i in asg["vec_id"]]
    purity = asg.groupby("true")["cid"].nunique()
    assert (purity == 1).all()


def test_kmeans_fit_partition_invariant(spark):
    """Centroids are identical at any partition count: assignments are
    pure functions of the data (decimal distances, deterministic ties)
    and means are order-independent decimal sums — the determinism
    contract that makes checkpoint resume sound."""
    rng = np.random.RandomState(9)
    rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(120)]
    df1 = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df8 = df1.repartition(8)
    c1 = similarity.kmeans_fit(df1, k=5, n_iter=3).toPandas().sort_values("cid")
    c8 = similarity.kmeans_fit(df8, k=5, n_iter=3).toPandas().sort_values("cid")
    for a, b in zip(c1["embedding"], c8["embedding"]):
        assert list(a) == list(b)  # bit-identical, not just allclose


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    """A centroid that wins no points (here: an exact duplicate of
    centroid 0 — every point ties and ties go to the smaller cid) must
    survive the iteration unchanged rather than vanish or go null."""
    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(6)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    v0 = [float(x) for x in np.zeros(6)]
    init = spark.createDataFrame(
        [(0, v0), (1, v0)], "cid int, embedding array<double>"
    )
    cent = similarity.kmeans_fit(df, k=2, n_iter=1, init=init).toPandas()
    assert set(cent["cid"]) == {0, 1}
    c1 = cent.set_index("cid").loc[1, "embedding"]
    assert list(c1) == v0  # empty cluster kept its previous centroid
    c0 = cent.set_index("cid").loc[0, "embedding"]
    assert list(c0) != v0  # the winning cluster did move
    # after iteration 1 the centroids differ, so a SECOND iteration may
    # legitimately assign points to cid 1 — only the tied round keeps it
    # empty (correct Lloyd behavior, verified above)


def test_phash_near_dups_pigeonhole(spark):
    """Band pigeonhole finds all pairs within max_hamming (< n_bands
    flipped bits cannot hit every band), rejects far pairs, and raises
    when the guarantee is violated."""
    rng = np.random.RandomState(13)
    hashes = [int(x) for x in rng.randint(-2**62, 2**62, size=40, dtype=np.int64)]
    rows = [(f"im{i:03d}", hashes[i]) for i in range(40)]
    rows.append(("im900", hashes[3] ^ 0b101))        # hamming 2 from im003
    # hamming 2 with the SIGN bit flipped (int64 wraparound via numpy)
    rows.append(("im901", int(np.int64(hashes[7]) ^ np.int64(-(2**63)) ^ np.int64(1))))
    df = spark.createDataFrame(rows, "image_id string, phash long")
    out = dedup.phash_near_dups(df, max_hamming=3, n_bands=4).toPandas()
    got = {(r.id_a, r.id_b) for _, r in out.iterrows()}
    assert ("im003", "im900") in got
    assert ("im007", "im901") in got  # negative/sign-bit hashes handled
    assert (out["hamming"] <= 3).all()
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.phash_near_dups(df, max_hamming=4, n_bands=4)


def test_kmeans_fit_sample_equals_full_at_corpus_size(spark):
    """fit_sample >= |corpus| keeps every row, so the sampled fit is
    bit-identical to the unsampled one (the documented 100-TB
    sample-then-fit pattern degrades gracefully to exact Lloyd)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(60, dtype=np.int64),
            "embedding": [rng.normal(size=4).round(3).tolist() for _ in range(60)],
        }
    )
    df = spark.createDataFrame(pdf)
    full = similarity.kmeans_fit(df, k=4, n_iter=3).toPandas().sort_values("cid")
    samp = (
        similarity.kmeans_fit(df, k=4, n_iter=3, fit_sample=60)
        .toPandas()
        .sort_values("cid")
    )
    assert [list(v) for v in full["embedding"]] == [list(v) for v in samp["embedding"]]
    # a strict subsample still returns k valid centroids deterministically
    s1 = similarity.kmeans_fit(df, k=4, n_iter=3, fit_sample=20).toPandas()
    s2 = similarity.kmeans_fit(
        df.repartition(8), k=4, n_iter=3, fit_sample=20
    ).toPandas()
    assert [list(v) for v in s1.sort_values("cid")["embedding"]] == [
        list(v) for v in s2.sort_values("cid")["embedding"]
    ]


def test_repetition_stats_planted(spark):
    """Boilerplate (one phrase repeated) shows dup fractions near 1;
    an all-distinct-token doc shows 0; short docs (< n tokens) are 0
    by the guard, not NaN."""
    rows = [
        (1, " ".join(["spam ham"] * 20)),          # 'spam ham' x20
        (2, " ".join(f"tok{i}" for i in range(30))),
        (3, "one"),
        (4, "one two"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = (
        text.with_repetition_stats(df)
        .select("doc_id", "dup_2gram_frac", "dup_3gram_frac")
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[1, "dup_2gram_frac"] > 0.9
    assert out.loc[2, "dup_2gram_frac"] == 0.0
    assert out.loc[3, "dup_2gram_frac"] == 0.0  # 1 token: no 2-grams
    assert out.loc[4, "dup_3gram_frac"] == 0.0  # 2 tokens: no 3-grams


def test_ngram_decontaminate_planted(spark):
    """A doc containing a verbatim benchmark 13-gram is flagged with
    the right collision count; unrelated docs are not flagged."""
    span = " ".join(f"w{i}" for i in range(13))
    rows = [
        (1, "prefix " + span + " suffix"),         # contains the span
        (2, " ".join(f"x{i}" for i in range(40))), # clean
        (3, span),                                  # exactly the span
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(span,)], "text string")
    got = (
        text.ngram_decontaminate(corpus, bench, n=13)
        .toPandas()
        .set_index("doc_id")["n_shared_grams"]
        .to_dict()
    )
    assert got == {1: 1, 3: 1}


def test_containment_pairs_planted(spark):
    """A short doc quoted verbatim inside a long one: containment
    (sub in parent) == 1.0 while Jaccard stays below threshold — the
    asymmetric case symmetric dedup misses.  Direction matters:
    (parent in sub) is far below 1."""
    long_text = " ".join(f"w{i}" for i in range(60))
    sub_text = " ".join(f"w{i}" for i in range(20))   # first 20 tokens
    other = " ".join(f"z{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, long_text), (2, sub_text), (3, other)],
        "doc_id long, text string",
    )
    got = dedup.containment_pairs(df, threshold=0.9).toPandas()
    assert [
        (r.contained_id, r.container_id, r.containment)
        for r in got.itertuples()
    ] == [(2, 1, 1.0)]
    jac = dedup.ngram_jaccard_pairs(df, threshold=0.4).toPandas()
    assert jac.empty  # Jaccard(sub, parent) = 18/58 ~ 0.31: missed


def test_ivf_index_at_rest_partition_pruned(spark, tmp_path):
    """The persisted IVF index serves probes through partition pruning:
    a cid filter reads only the probed list directories (plan shows the
    partition filter and the pruned partition count), and the rows
    equal the in-memory assignment filtered the same way."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(80, dtype=np.int64),
            "embedding": [rng.normal(size=4).round(3).tolist() for _ in range(80)],
        }
    )
    df = spark.createDataFrame(pdf)
    cent = similarity.kmeans_fit(df, k=4, n_iter=2)
    path = str(tmp_path / "ivf")
    similarity.ivf_write(df, cent, path)

    probed = similarity.ivf_read_lists(spark, path, [0, 2])
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan.split("PartitionFilters")[1][:200]

    want = (
        similarity.ivf_assign(df, cent)
        .filter(F.col("cid").isin([0, 2]))
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    got = (
        probed.select("vec_id", "cid", "embedding")
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    assert got["vec_id"].tolist() == want["vec_id"].tolist()
    assert got["cid"].tolist() == want["cid"].tolist()


def test_prepare_corpus_stage_attribution(spark):
    """Each planted failure family is dropped by its intended stage —
    the composed pipeline's per-stage behavior, checked end-to-end on
    the sf0.001 documents table (oracle equality is the driver's job;
    this pins WHICH stage removed WHAT)."""
    import pyspark.sql.functions as F

    from gfwspark import queries
    from tests.conftest import SF_SMALL

    out = queries.all_queries()["llm_corpus_prep"](spark, SF_SMALL).toPandas()
    ids = set(out["doc_id"])
    # deterministic-gate plants never survive: exact copies (+100000),
    # punct junk (+300000), repetition spam (+400000)
    assert not any(100000 <= i < 500000 for i in ids), "a planted doc survived"
    # near-dup plants (+500000) go through MinHash-LSH, whose banding
    # has a real (deterministic, engine-identical) miss probability on
    # SHORT docs — require most of the 5 plants caught, not all
    n_near_alive = sum(1 for i in ids if i >= 500000)
    assert n_near_alive <= 2, f"{n_near_alive} near-dup plants survived LSH"
    # benchmark-source docs (doc_id % 50 == 0) are decontaminated away
    # when their span 11..40 actually yields a 13-gram (>= 23 tokens);
    # shorter ones contribute nothing to the benchmark and may survive
    from gfwspark import tables, text as _text

    ntok = {
        r["doc_id"]: r["n"]
        for r in tables.load_table(spark, SF_SMALL, "documents")
        .select("doc_id", F.size(_text.tokens_col("text")).alias("n"))
        .collect()
    }
    bench_alive = [i for i in ids if i < 100000 and i % 50 == 0]
    assert all(ntok[i] < 23 for i in bench_alive), bench_alive
    # survivors exist on both sides of the split and pack contiguously
    assert set(out["split"]) == {"train", "val"}
    for (_s, _src), grp in out.groupby(["split", "source"]):
        grp = grp.sort_values("doc_id")
        # batch ids are non-decreasing and offsets are the exclusive
        # running sum in doc_id order
        assert (grp["batch_id"].diff().dropna() >= 0).all()
        expect = grp["n_tokens"].cumsum() - grp["n_tokens"]
        assert (grp["batch_start_offset"].to_numpy() == expect.to_numpy()).all()


def test_prepare_corpus_materialize_survivors_equal(spark):
    """materialize_survivors=True (the production recompute-avoidance
    path) returns exactly the lazy plan's rows."""
    from gfwspark import corpus, tables, text
    import pyspark.sql.functions as F

    d = tables.load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "source"
    ).withColumn("ts", F.timestamp_micros(F.col("doc_id") * F.lit(3_600_000_000)))
    toks = text.tokens_col("text")
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        F.concat_ws(" ", F.slice(toks, 11, 30)).alias("text")
    )
    a = corpus.prepare_corpus(d, bench).toPandas().sort_values("doc_id").reset_index(drop=True)
    b = (
        corpus.prepare_corpus(d, bench, materialize_survivors=True)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(a, b)


def test_scrub_pii_counts_and_redaction(spark):
    """Planted email/phone/IP are counted on the ORIGINAL text and
    replaced in fixed pattern order; PII-free text passes through
    untouched with zero counts."""
    rows = [
        (1, "write bob.smith+x@sub.example.org today"),
        (2, "call 555-867-5309 or 555 123 4567 now"),
        (3, "host 10.0.3.77 and 192.168.1.1"),
        (4, "mix a@b.co then 555.867.5309 at 8.8.8.8"),
        (5, "no pii here at all"),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in text.scrub_pii(df).collect()}
    assert (out[1]["n_email"], out[1]["n_phone"], out[1]["n_ipv4"]) == (1, 0, 0)
    assert out[1]["scrubbed"] == "write <EMAIL> today"
    assert (out[2]["n_email"], out[2]["n_phone"]) == (0, 2)
    assert out[2]["scrubbed"] == "call <PHONE> or <PHONE> now"
    assert out[3]["n_ipv4"] == 2 and out[3]["scrubbed"] == "host <IP> and <IP>"
    assert (out[4]["n_email"], out[4]["n_phone"], out[4]["n_ipv4"]) == (1, 1, 1)
    assert out[4]["scrubbed"] == "mix <EMAIL> then <PHONE> at <IP>"
    assert out[5]["scrubbed"] == "no pii here at all"
    assert (out[5]["n_email"], out[5]["n_phone"], out[5]["n_ipv4"]) == (0, 0, 0)
    assert out[6]["scrubbed"] == ""


def test_logreg_round6_half_away_ties():
    """Driver-side weight rounding must match SQL round() (half away
    from zero), not Python round() (half even), on dyadic ties —
    0.0078125 is exactly representable and the two disagree there."""
    from gfwspark.classify import _round6

    assert _round6(0.0078125) == 0.007813          # round() gives 0.007812
    assert _round6(-0.0078125) == -0.007813
    assert _round6(0.0000005) == 0.000001
    assert _round6(1.25) == 1.25


def test_brute_force_topk_equals_numpy_reference(spark):
    """The BLAS kernel must reproduce an exhaustive reference EXACTLY:
    every cosine rounded half-up to 6 dp (the Spark/DuckDB rounding),
    ties ordered by corpus id — including a planted exact tie (scaled
    copies, cosine 1.0) where ordering is id-only.  An empty query side
    gives an empty frame, and the query-side guard raises past
    max_broadcast_rows."""
    import pandas as pd

    from gfwspark.util import round_half_up

    rng = np.random.RandomState(5)
    vecs = rng.randn(200, 16).astype("float32")
    vecs[50] = vecs[3] * 2.0
    vecs[51] = vecs[3] * 0.5
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(200)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = corpus.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    got = (
        similarity.brute_force_topk(corpus, q, k=5)
        .toPandas().sort_values(["q_id", "rank"]).reset_index(drop=True)
    )
    m = vecs.astype(np.float64)
    unit = m / np.linalg.norm(m, axis=1)[:, None]
    ref = []
    for qi in range(8):
        scored = sorted(
            (-round_half_up(float(unit[i] @ unit[qi])), i)
            for i in range(200) if i != qi
        )
        ref += [(qi, i, -c, r) for r, (c, i) in enumerate(scored[:5], start=1)]
    ref = pd.DataFrame(ref, columns=["q_id", "vec_id", "cosine", "rank"])
    pd.testing.assert_frame_equal(got[ref.columns], ref, check_dtype=False)
    # the planted ties both appear for query 3, id-ordered
    q3 = got[got.q_id == 3]
    assert list(q3.vec_id[:2]) == [50, 51] and list(q3.cosine[:2]) == [1.0, 1.0]

    empty = similarity.brute_force_topk(corpus, q.filter(F.col("q_id") < 0), k=5)
    assert empty.columns == ["q_id", "vec_id", "cosine", "rank"]
    assert empty.count() == 0
    with pytest.raises(ValueError, match="max_broadcast_rows=7"):
        similarity.brute_force_topk(corpus, q, k=5, max_broadcast_rows=7)


def test_int8_quantization_reconstruction_and_recall(spark):
    """Affine int8: reconstruction error per component is <= scale/2
    (+ the round-6 param slack), q stays in [0, 255] smallint, and
    top-5 over dequantized vectors keeps high recall vs exact top-5
    on the real embeddings table."""
    from gfwspark import tables

    emb = tables.load_table(spark, "/root/testdata/sf0.01", "embeddings")
    mins, scales = similarity.quantization_params(emb, dim=64)
    qz = similarity.quantize_embeddings(emb, mins, scales)
    row = qz.select("embedding", "q_embedding").first()
    assert all(0 <= q <= 255 for q in row["q_embedding"])
    for i, (v, q) in enumerate(zip(row["embedding"], row["q_embedding"])):
        rec = mins[i] + q * scales[i]
        assert abs(float(v) - rec) <= scales[i] / 2 + 2e-6, (i, v, rec)

    dq = qz.select("vec_id", similarity.dequantize_col(mins, scales).alias("embedding"))
    qexact = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    qdq = dq.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    exact = similarity.brute_force_topk(emb, qexact, k=5).toPandas()
    approx = similarity.brute_force_topk(dq, qdq, k=5).toPandas()
    hits = 0
    for qid in range(10):
        a = set(exact[exact.q_id == qid].vec_id)
        b = set(approx[approx.q_id == qid].vec_id)
        hits += len(a & b)
    assert hits / 50 >= 0.8, hits  # 8-bit reconstruction keeps top-k


def test_prepare_corpus_audit_consistent(spark):
    """The stage-audit frame is internally consistent and agrees with
    the survivors pipeline: counts chain (rows_in[i+1] == rows_out[i]),
    packing drops nothing, every gate stage drops >0 on the planted
    input, and the final rows_out equals the survivor count."""
    from gfwspark import corpus, queries
    from gfwspark.queries_ml import _corpus_prep_inputs
    from tests.conftest import SF_SMALL

    audit = (
        queries.all_queries()["corpus_stage_audit"](spark, SF_SMALL)
        .toPandas().sort_values("stage_idx").reset_index(drop=True)
    )
    assert list(audit["stage"]) == [name for _, name in corpus.STAGES]
    assert (audit["dropped"] == audit["rows_in"] - audit["rows_out"]).all()
    # chain continuity
    assert (
        audit["rows_in"].iloc[1:].to_numpy()
        == audit["rows_out"].iloc[:-1].to_numpy()
    ).all()
    # every planted gate actually fires; packing is lossless
    assert (audit.loc[audit["stage_idx"] < 7, "dropped"] > 0).all()
    assert audit.loc[audit["stage_idx"] == 7, "dropped"].iloc[0] == 0
    base, bench = _corpus_prep_inputs(spark, SF_SMALL)
    n_survivors = corpus.prepare_corpus(base, bench).count()
    assert int(audit["rows_out"].iloc[-1]) == n_survivors


def test_ivf_int8_at_rest_partition_pruned(spark, tmp_path):
    """int8 inverted lists at rest: the persisted lists hold ONLY the
    smallint vectors (4x smaller), the probe read partition-prunes on
    cid, and the at-rest top-k equals the in-memory ivf_topk over the
    same dequantized corpus."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(120, dtype=np.int64),
            "embedding": [rng.normal(size=8).round(3).tolist() for _ in range(120)],
        }
    )
    df = spark.createDataFrame(pdf)
    mins, scales = similarity.quantization_params(df, dim=8)
    dq = similarity.quantize_embeddings(df, mins, scales).select(
        "vec_id", "q_embedding",
        similarity.dequantize_col(mins, scales).alias("embedding"),
    )
    cent = similarity.kmeans_fit(dq, k=4, n_iter=2)
    path = str(tmp_path / "ivf8")
    similarity.ivf_write(dq, cent, path, store_cols=["q_embedding"])

    stored = spark.read.parquet(path)
    assert "embedding" not in stored.columns, "float vectors leaked to rest"
    assert stored.schema["q_embedding"].dataType.simpleString() == "array<smallint>"

    q = dq.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    at_rest = similarity.ivf_topk_at_rest(
        spark, path, q, cent, k=3, n_probe=2,
        list_vec=similarity.dequantize_col(mins, scales),
    )
    plan = at_rest._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cid" in plan.split("PartitionFilters")[1][:200]

    want = (
        similarity.ivf_topk(dq.drop("q_embedding"), q, cent, k=3, n_probe=2)
        .toPandas().sort_values(["q_id", "rank"]).reset_index(drop=True)
    )
    got = (
        at_rest.toPandas().sort_values(["q_id", "rank"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_ngram_jaccard_prefix_filter_exact_vs_naive(spark):
    """r7 internals guard: the All-Pairs prefix + length + positional
    candidate pruning must return EXACTLY the naive posting-self-join
    result for random corpora at several thresholds (the filters are
    necessary conditions of J >= t, so no qualifying pair may be
    lost and no extra pair may appear)."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(60):
        k = rng.randint(0, 30)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(k))))
        if i % 5 == 0 and k > 3:  # planted near-dups
            toks = rows[-1][1].split()
            toks[0] = "ALT"
            rows.append((i + 1000, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def naive(threshold, max_df):
        sh = dedup.shingles(df)
        if max_df is not None:
            sh = dedup.cap_hot_shingles(sh, max_df)
        a = sh.withColumnRenamed("doc_id", "doc_a")
        b = sh.withColumnRenamed("doc_id", "doc_b")
        pairs = (
            a.join(b, ["sh_hash"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        return (
            pairs.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
            .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
            .withColumn(
                "jaccard",
                F.round(F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
        )

    for threshold, max_df in ((0.3, None), (0.5, 10), (0.8, None), (1.0, None)):
        got = sorted(
            map(tuple, dedup.ngram_jaccard_pairs(df, threshold=threshold, max_shingle_df=max_df).collect())
        )
        want = sorted(map(tuple, naive(threshold, max_df).collect()))
        assert got == want, f"threshold={threshold} max_df={max_df}"


def test_jaccard_verify_raw_stream_equals_distinct(spark):
    """collect_set in jaccard_verify makes the verify agree between the
    RAW (duplicate-bearing) shingle stream and the distinct postings —
    the contract corpus stage 4 relies on to skip the posting distinct."""
    rows = [
        (1, "a b c a b c a b c d e f"),
        (2, "a b c a b c a b c d e g"),
        (3, "x y z x y z q r s t u v"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "doc_a long, doc_b long")
    raw = dedup.shingles(df, distinct=False)
    dist = dedup.shingles(df, distinct=True)
    got_raw = sorted(map(tuple, dedup.jaccard_verify(pairs, raw, threshold=0.1).collect()))
    got_dist = sorted(map(tuple, dedup.jaccard_verify(pairs, dist, threshold=0.1).collect()))
    assert got_raw == got_dist
    assert got_raw  # non-vacuous: (1,2) share most shingles


def test_explode_parallelism_starts_no_job(spark, jobs_started):
    """Sizing an explode's input never runs its plan: over a shuffle
    (a groupBy output, which an adaptive plan would have to execute to
    report its partition count) the call starts no job and returns the
    session's target width."""
    sc = spark.sparkContext
    target = max(sc.defaultParallelism,
                 int(spark.conf.get("spark.sql.shuffle.partitions")))
    agg = (
        spark.range(0, 5000).withColumn("g", F.col("id") % 97)
        .groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    )
    out, jobs = jobs_started(lambda: text.ensure_explode_parallelism(agg))
    assert jobs == 0
    assert out.rdd.getNumPartitions() == target


def test_lazy_prepare_corpus_build_starts_no_job(spark, jobs_started):
    """Building the lazy corpus-prep plan (materialize_survivors=False)
    starts no Spark job: every explode operator sizes its input
    without reading a partition count."""
    from gfwspark import corpus
    from gfwspark.queries_ml import _corpus_prep_inputs
    from tests.conftest import SF_SMALL

    d, bench = _corpus_prep_inputs(spark, SF_SMALL)
    _, jobs = jobs_started(lambda: corpus.prepare_corpus(d, bench))
    assert jobs == 0


def test_materialized_prepare_corpus_keeps_two_checkpoints(spark):
    """The eager corpus build (materialize_survivors=True) keeps the
    survivor and shingle checkpoints its result reads, and releases the
    gate frame's once the survivors are materialized: it adds 2
    persistent RDDs, not 3."""
    from gfwspark import corpus
    from gfwspark.queries_ml import _corpus_prep_inputs
    from tests.conftest import SF_SMALL

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    d, bench = _corpus_prep_inputs(spark, SF_SMALL)
    before = persisted()
    corpus.prepare_corpus(d, bench, materialize_survivors=True)
    assert len(persisted() - before) == 2
