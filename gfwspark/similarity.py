"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k of each query vector against
  the corpus.  An Arrow/BLAS kernel: one float64 matmul per corpus
  partition against the broadcast query matrix, local top-k per query,
  then the shared re-rank.  Scores are rounded exactly as Spark and
  DuckDB round, so the DuckDB oracle checks it value for value.
- ``lsh_topk``: random-hyperplane LSH bucketing — each vector hashed to
  a signbit bucket by H fixed hyperplanes (deterministic public
  constants); each query probes its own bucket and, at
  ``probe_hamming`` 1 or 2, the buckets one or two bit flips away;
  exact cosine re-rank over the candidates.  The scale path: the
  candidate join is linear in bucket occupancy, not
  |corpus| × |queries|.
- ``embedding_near_dups``: cosine >= threshold near-duplicate pairs via
  the same bucketing (axis for dedup.py).

Every JVM-side score is ``_cosine`` and every top-k ends in
``_top_k`` (cosine desc, corpus id asc).  At 100 TB the corpus side is
bucketed once (write-side partitioning by bucket id); queries
broadcast when small.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _norm_col(vec_col: str):
    return F.sqrt(
        F.aggregate(
            F.col(vec_col),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def _dot(a: str, b: str):
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cosine(a: str, b: str):
    """cosine(a, b) rounded to 6 (cross-engine float guard)."""
    return F.round(_dot(a, b) / (_norm_col(a) * _norm_col(b)), 6)


def _top_k(
    scored: DataFrame, k: int, q_id_col: str, id_col: str, carry: tuple = ()
) -> DataFrame:
    """Per query, the k rows of highest `cosine`; ties go to the smaller
    `id_col`, so every search is fully deterministic.  Returns
    (q_id, *carry, id, cosine, rank)."""
    w = Window.partitionBy(q_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(q_id_col, *carry, id_col, "cosine", "rank")
    )


# deterministic pseudo-random hyperplanes: component h,d of plane h is
# sin(1 + h * 131 + d * 7) — reproducible on any engine, no RNG state.
def _hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    return [
        [float(np.sin(1 + h * 131 + d * 7)) for d in range(dim)]
        for h in range(n_planes)
    ]


def with_lsh_bucket(
    df: DataFrame, dim: int, vec_col: str = "embedding", n_planes: int = 8
) -> DataFrame:
    """Signbit bucket id from n_planes fixed hyperplanes.

    `dim` is REQUIRED (take it from schema metadata / table config):
    inferring it with a `.first()` would fire a Spark job during plan
    construction — a full-scan landmine when the corpus is a table.
    A mismatched dim is a hard runtime error, NOT a silent fallback:
    zip_with would null-pad, every dot would go NULL, and every vector
    would collapse into bucket 0 — turning the bucketed join quadratic
    with no warning."""
    planes = _hyperplanes(n_planes, dim)
    bucket = F.lit(0)
    for h, plane in enumerate(planes):
        arr = F.array(*[F.lit(v) for v in plane])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), arr, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << h)).otherwise(F.lit(0))
    # guard is the bucket expression's own happy path: a mismatched
    # vector width takes the raise_error branch (cannot be pruned away)
    checked = F.when(F.size(F.col(vec_col)) == dim, bucket.cast("int")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"with_lsh_bucket: dim={dim} but {vec_col} has "),
                F.size(F.col(vec_col)).cast("string"),
                F.lit(" components"),
            )
        ).cast("int")
    )
    return df.withColumn("bucket", checked)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: each query probes its own bucket PLUS all
    buckets within `probe_hamming` bit flips (0: its own bucket only;
    1: every one-plane flip too; 2: every two-plane flip too), then an
    exact cosine re-rank over the candidates.  Recall < 1 by
    construction; multiprobe is the standard fix for single-probe's
    recall cliff — a near neighbor that lands just across one (or two)
    hyperplanes is still found — at the cost of more candidate lookups
    per QUERY: 1+n probes at Hamming-1, 1+n+n(n-1)/2 at Hamming-2, i.e.
    a fraction (1+n+...)/2^n of the corpus scanned per query instead of
    brute force's all of it.  The corpus is untouched: each corpus
    vector still lives in exactly one bucket, and the probe set is
    distinct buckets, so a pair can match through at most one probe and
    needs no dedup.  `dim` must match the embedding width — no
    driver-side inference job is fired.
    cf. Lv et al., Multi-Probe LSH (VLDB'07)."""
    if probe_hamming not in (0, 1, 2):
        raise ValueError(f"probe_hamming must be 0, 1 or 2, got {probe_hamming}")
    c = with_lsh_bucket(corpus, dim, vec_col, n_planes)
    q = with_lsh_bucket(
        queries.select(F.col(q_id_col), F.col(vec_col).alias("q_embedding")),
        dim,
        "q_embedding",
        n_planes,
    )
    flips = [0]
    if probe_hamming >= 1:
        flips += [1 << h for h in range(n_planes)]
    if probe_hamming == 2:
        flips += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    probes = F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in flips])
    qp = q.select(
        q_id_col, "q_embedding", F.explode(probes).alias("bucket")
    )
    cand = c.join(F.broadcast(qp), "bucket").filter(F.col(id_col) != F.col(q_id_col))
    return _top_k(
        cand.withColumn("cosine", _cosine(vec_col, "q_embedding")), k, q_id_col, id_col
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its highest-cosine
    centroid (ties to the smaller centroid id).  Broadcast the (tiny)
    centroid table; the corpus is touched map-side only — the classic
    inverted-file build, write-side partitionable by `cid`.

    ``payload_cols``: extra columns carried through unchanged (e.g. the
    int8-quantized vector when assignment runs on the dequantized
    reconstruction but the LIST stores the compressed form)."""
    carry = [vec_col, *(payload_cols or [])]
    cent = centroids.select(
        F.col("cid"), F.col(vec_col).alias("c_vec")
    )
    scored = df.crossJoin(F.broadcast(cent)).withColumn(
        "_sim", _cosine(vec_col, "c_vec")
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.min_by(F.struct("cid", *carry), F.struct((-F.col("_sim")).alias("d"), "cid")).alias("_best")
        )
        .select(
            id_col,
            F.col("_best.cid").alias("cid"),
            *[F.col(f"_best.{c}").alias(c) for c in carry],
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: corpus bucketed by nearest centroid
    (ivf_assign); each query probes its `n_probe` nearest centroids;
    exact cosine re-rank inside the probed lists.

    `centroids` is caller-supplied (cid, embedding) — production trains
    it with k-means; the engine's deterministic stand-in (smallest
    vec_ids, see queries_ml) keeps the oracle replayable.  At 100 TB
    the inverted lists are the write-side partitioning, so a query
    touches n_probe/n_centroids of the corpus."""
    c = ivf_assign(corpus, centroids, id_col, vec_col)
    probes = ivf_probes(queries, centroids, n_probe, q_id_col, vec_col)
    cand = c.join(F.broadcast(probes), "cid").filter(F.col(id_col) != F.col(q_id_col))
    return _top_k(
        cand.withColumn("cosine", _cosine(vec_col, "q_embedding")), k, q_id_col, id_col
    )


def ivf_probes(
    queries: DataFrame,
    centroids: DataFrame,
    n_probe: int,
    q_id_col: str = "q_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Each query's `n_probe` highest-cosine centroids (ties to the
    smaller cid): (q_id, q_embedding, cid), one row per probe.  The
    centroid table broadcasts; the query side is touched map-side."""
    cent = centroids.select("cid", F.col(vec_col).alias("c_vec"))
    qs = (
        queries.select(F.col(q_id_col), F.col(vec_col).alias("q_embedding"))
        .crossJoin(F.broadcast(cent))
        .withColumn("cosine", _cosine("q_embedding", "c_vec"))
    )
    return _top_k(qs, n_probe, q_id_col, "cid", carry=("q_embedding",)).drop(
        "cosine", "rank"
    )


def embedding_near_dups(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Cosine >= threshold pairs via bucket self-join (a < b)."""
    c = with_lsh_bucket(corpus, dim, vec_col, n_planes)
    a = c.select(
        F.col("bucket"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    )
    b = c.select(
        F.col("bucket"), F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    )
    pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    scored = pairs.withColumn("cosine", _cosine("va", "vb"))
    return (
        scored.filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
        .distinct()
    )


# ------------------------------------------------------------------
# K-means centroid training (Lloyd) — closes the IVF loop: ivf_topk's
# centroids are no longer only a caller-supplied stand-in.  Spark-first
# shape per iteration: broadcast the k centroids (tiny), map-side
# argmin assignment over the corpus (one scan, no shuffle of vectors
# beyond the per-dimension mean agg), groupBy(cid, dim) decimal means.
# Centroids are collected to the driver each round — k x dim doubles,
# the canonical driver-side state for Lloyd (this is NOT a
# driver-side loop over data rows; the corpus never leaves executors).
# ------------------------------------------------------------------

def _sq_dist_dec(a: str, b: str):
    """Squared euclidean distance with a decimal accumulator: exact and
    order-independent, so Spark's index-order fold and the DuckDB
    oracle's per-dimension SUM agree bit-for-bit.  Element type
    (20,12) + accumulator (30,12) keeps Spark's add promotion at
    (31,12) — full 12-digit scale preserved at every step (a (38,12)
    accumulator would silently round each partial sum to scale 11)."""
    return F.aggregate(
        F.zip_with(
            F.col(a),
            F.col(b),
            lambda x, y: (
                (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double"))
            ).cast("decimal(20,12)"),
        ),
        F.lit(0).cast("decimal(30,12)"),
        lambda acc, x: (acc + x).cast("decimal(30,12)"),
    )


def kmeans_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid (squared-euclidean) assignment; ties to the
    smaller cid.  Broadcast centroid dim, map-side only."""
    cent = centroids.select(F.col("cid"), F.col(vec_col).alias("c_vec"))
    scored = df.crossJoin(F.broadcast(cent)).withColumn(
        "_d2", _sq_dist_dec(vec_col, "c_vec")
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.min_by(
                F.struct("cid", vec_col), F.struct(F.col("_d2").alias("d"), "cid")
            ).alias("_best")
        )
        .select(
            id_col,
            F.col("_best.cid").alias("cid"),
            F.col(f"_best.{vec_col}").alias(vec_col),
        )
    )


def _centroid_means(
    assigned: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-cluster per-dimension mean: posexplode -> decimal sums ->
    ONE IEEE division -> array rebuild.  Empty clusters emit nothing
    (the caller keeps the old centroid)."""
    per_dim = (
        assigned.select("cid", F.posexplode(vec_col).alias("pos", "_x"))
        .groupBy("cid", "pos")
        .agg(
            F.sum(F.col("_x").cast("double").cast("decimal(38,12)")).alias("_s"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            "cid",
            "pos",
            # rounded to 6 decimals (engine float policy): DuckDB's
            # decimal->double cast double-rounds (int128 then /10^s) and
            # can differ from Spark's correctly-rounded BigDecimal path
            # by 1 ulp; 6-decimal centroids are identical on both
            # engines and lose nothing for clustering
            F.round(
                F.col("_s").cast("double") / F.col("_n").cast("double"), 6
            ).alias("_m"),
        )
    )
    return per_dim.groupBy("cid").agg(
        F.expr("transform(sort_array(collect_list(struct(pos, _m))), s -> s._m)").alias(
            "embedding"
        )
    )


def kmeans_fit(
    df: DataFrame,
    k: int,
    n_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: DataFrame | None = None,
    fit_sample: int | None = None,
    sample_seed: int = 42,
) -> DataFrame:
    """Lloyd's k-means, fully deterministic: init = the k smallest-id
    vectors (or a caller-supplied (cid, vec) frame), squared-euclidean
    assignment with ties to the smaller cid, decimal per-dimension
    means.  Runs exactly n_iter rounds (classic fixed-iteration Lloyd;
    convergence detection would add a driver count per round for no
    oracle benefit).  An empty cluster keeps its previous centroid.

    Returns the (cid, embedding double[]) centroid table — feed it to
    ivf_assign / ivf_topk.  Each iteration materializes only the k
    centroids on the driver (k x dim doubles); the corpus is touched
    map-side per round.

    100-TB pattern: the n_iter sequential full-corpus assignment
    passes are the cost at scale — pass ``fit_sample=n`` to fit the
    centroids on a deterministic md5-rank sample of n vectors (pure
    function of (id, seed): identical at any partition count; a
    distributed TakeOrdered, no global sort materialization), then run
    ONE kmeans_assign / ivf_assign pass over the full corpus with the
    returned centroids.  That is how every production-scale k-means is
    trained; the full-corpus loop stays available for small frames and
    oracle parity.  ``fit_sample >= |df|`` keeps every row, making the
    sampled fit bit-identical to the unsampled one (pinned by test)."""
    if fit_sample is not None:
        from gfwspark.text import token_hash32

        u = token_hash32(
            F.concat_ws(
                "|", F.col(id_col).cast("string"), F.lit(str(sample_seed))
            )
        )
        # materialize the sample ONCE: the whole point is that the
        # n_iter assignment passes touch fit_sample rows, not the
        # corpus — without this the lazy orderBy+limit lineage would
        # re-scan the full corpus every iteration
        df = df.orderBy(u, F.col(id_col)).limit(fit_sample).localCheckpoint(
            eager=True
        )
    if init is None:
        cent_rows = [
            {"cid": cid, vec_col: [float(x) for x in r[0]]}
            for cid, r in enumerate(df.orderBy(id_col).limit(k).select(vec_col).collect())
        ]
    else:
        cent_rows = init.select("cid", vec_col).collect()
    spark = df.sparkSession
    schema = "cid int, embedding array<double>"
    for _ in range(n_iter):
        cent = spark.createDataFrame(
            [(int(r["cid"]), [float(x) for x in r[vec_col]]) for r in cent_rows],
            schema,
        )
        assigned = kmeans_assign(df, cent, id_col, vec_col)
        new = {
            int(r["cid"]): [float(x) for x in r["embedding"]]
            for r in _centroid_means(assigned, vec_col).collect()
        }
        cent_rows = [
            {"cid": int(r["cid"]), vec_col: new.get(int(r["cid"]), list(r[vec_col]))}
            for r in cent_rows
        ]
    return spark.createDataFrame(
        [(r["cid"], r[vec_col]) for r in cent_rows], schema
    )


def ivf_write(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    store_cols: list[str] | None = None,
) -> None:
    """Materialize the IVF index AT REST: the corpus assigned to its
    nearest centroid (ivf_assign) written as parquet partitioned by
    `cid` — the inverted lists ARE the directory layout.  A probe that
    wants n_probe of n_centroids lists then reads n_probe/n_centroids
    of the files via partition pruning; nothing else is opened.  This
    is the 100-TB ANN serving shape (FAISS IVF's list structure,
    expressed as table layout).

    ``store_cols``: which vector columns land in the lists (default
    [vec_col]).  Pass ["q_embedding"] to store ONLY the int8-quantized
    form — assignment still runs on `vec_col` (the dequantized
    reconstruction), but the lists hold smallint vectors, 4x smaller
    at rest and over the probe read."""
    keep = store_cols if store_cols is not None else [vec_col]
    payload = [c for c in keep if c != vec_col]
    assigned = ivf_assign(corpus, centroids, id_col, vec_col, payload_cols=payload)
    assigned.select(id_col, "cid", *keep).write.mode("overwrite").partitionBy(
        "cid"
    ).parquet(path)


def ivf_read_lists(spark, path: str, cids: list[int]) -> DataFrame:
    """Read ONLY the probed inverted lists — the cid filter prunes at
    the partition-directory level (verify with .explain: PartitionFilters
    carries cid, and PartitionCount == len(cids))."""
    return spark.read.parquet(path).filter(F.col("cid").isin(cids))


def ivf_topk_at_rest(
    spark,
    path: str,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    vec_col: str = "embedding",
    list_vec=None,
) -> DataFrame:
    """Serve top-k from the PERSISTED inverted lists: pick each query's
    `n_probe` centroids (ivf_probes), read only those list directories
    via partition pruning (ivf_read_lists), exact cosine re-rank inside
    them.  Identical results to ivf_topk over the same assignment — the
    difference is that the corpus scan touches n_probed/n_centroids of
    the files.

    ``list_vec``: Column mapping the stored list schema to the double[]
    vector to re-rank on (e.g. dequantize_col(mins, scales) when the
    lists store int8) — default reads `vec_col` as written.

    The probed-cid collect is bounded by the centroid count (distinct
    probed cids <= n_centroids, itself driver-materialized by
    kmeans_fit), never by corpus or query cardinality."""
    # eager: the probe frame's lineage (query projection + centroid
    # crossJoin + window) would otherwise evaluate twice — once for the
    # cid collect, again uncached inside the broadcast join.  Bounded
    # at <= |Q| * n_probe rows.
    probes = ivf_probes(
        queries, centroids, n_probe, q_id_col, vec_col
    ).localCheckpoint(eager=True)
    cids = sorted(
        r["cid"] for r in probes.select("cid").distinct().collect()
    )
    lists = ivf_read_lists(spark, path, cids)
    if list_vec is not None:
        lists = lists.withColumn(vec_col, list_vec)
    # project to exactly (id, cid, vector) — a stored payload column
    # (e.g. q_embedding int8 lists) must not collide with the probe
    # frame's q_embedding
    cand = lists.select(id_col, "cid", vec_col).join(
        F.broadcast(probes), "cid"
    ).filter(F.col(id_col) != F.col(q_id_col))
    return _top_k(
        cand.withColumn("cosine", _cosine(vec_col, "q_embedding")), k, q_id_col, id_col
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    vec_col: str = "embedding",
    max_broadcast_rows: int = 100_000,
) -> DataFrame:
    """Exact top-k via an Arrow/BLAS kernel: each corpus partition does
    ONE float64 matmul against the broadcast query matrix (mapInPandas,
    BLAS) and emits only its local top-k per query; the global top-k
    then ranks |partitions| x k x |queries| rows — never the full score
    matrix.  A JVM aggregate() fold would instead evaluate the cosine
    as a scalar expression per dimension for every (query, row) pair.

    Tie-break is cosine desc, corpus id asc, on round-6 scores:
    candidates within 1e-6 of the raw kth value are kept (a superset of
    every 6-dp tie) and the kept few are rounded with
    util.round_half_up — the exact Spark/DuckDB rounding, so scores
    equal ``_cosine``'s (np.round would be half-even on the binary
    double and is NOT used on scores).  An empty query side yields an
    empty result.

    ``max_broadcast_rows`` guards the driver collect of the query side
    (same contract as asof_join_broadcast): this kernel is for many
    corpus rows x a bounded query set."""
    import pandas as _pd

    from gfwspark.util import round_half_up

    qrows = queries.select(q_id_col, vec_col).limit(max_broadcast_rows + 1).collect()
    if len(qrows) > max_broadcast_rows:
        raise ValueError(
            f"brute_force_topk: query side exceeds "
            f"max_broadcast_rows={max_broadcast_rows}; the query side "
            "is driver-collected and broadcast"
        )
    spark = corpus.sparkSession
    id_t = corpus.schema[id_col].dataType.simpleString()
    qid_t = queries.schema[q_id_col].dataType.simpleString()
    out_schema = f"{q_id_col} {qid_t}, {id_col} {id_t}, cosine double"
    if not qrows:  # no (Q, D) matrix to build, nothing to rank
        return spark.createDataFrame([], f"{out_schema}, rank int")
    q_ids = [r[0] for r in qrows]
    qm = np.array([r[1] for r in qrows], dtype=np.float64)  # (Q, D)
    qn = np.linalg.norm(qm, axis=1)
    bq = spark.sparkContext.broadcast((q_ids, qm, qn))

    def _part(batches):
        q_ids_b, qm_b, qn_b = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            X = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            cn = np.linalg.norm(X, axis=1)
            S = (X @ qm_b.T) / (cn[:, None] * qn_b[None, :])  # (N, Q) raw
            res = []
            for qi in range(len(q_ids_b)):
                col = S[:, qi]
                cand_idx = np.nonzero(ids != q_ids_b[qi])[0]
                if not len(cand_idx):
                    continue
                sel = cand_idx
                if len(cand_idx) > k:
                    vals = col[cand_idx]
                    kth = -np.partition(-vals, k - 1)[k - 1]
                    # 1e-6 slack keeps every candidate that could tie
                    # with the kth value after 6-dp rounding
                    sel = cand_idx[vals >= kth - 1e-6]
                r6 = {int(i): round_half_up(float(col[i])) for i in sel}
                order = sorted(sel, key=lambda i: (-r6[int(i)], ids[i]))[:k]
                res.append(
                    _pd.DataFrame(
                        {
                            q_id_col: [q_ids_b[qi]] * len(order),
                            id_col: [ids[i] for i in order],
                            "cosine": [r6[int(i)] for i in order],
                        }
                    )
                )
            if res:
                yield _pd.concat(res, ignore_index=True)

    local = corpus.select(id_col, vec_col).mapInPandas(_part, out_schema)
    return _top_k(local, k, q_id_col, id_col)


def quantization_params(emb: DataFrame, dim: int, vec_col: str = "embedding"):
    """Per-dimension (min, scale) for affine int8 quantization, from
    one posexplode + groupBy(pos) pass.  round(·, 6) on both so the
    params are engine-exact; scale floors at 1e-6 (a constant
    dimension must not divide by zero)."""
    rows = (
        emb.select(F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("pos")
        .agg(
            F.round(F.min(F.col("v").cast("double")), 6).alias("mn"),
            F.round(F.max(F.col("v").cast("double")), 6).alias("mx"),
        )
        .collect()
    )
    if len(rows) != dim:
        raise ValueError(f"expected {dim} dims, saw {len(rows)}")
    from gfwspark.util import round_half_up

    mins = [0.0] * dim
    scales = [0.0] * dim
    for r in rows:
        mins[r["pos"]] = float(r["mn"])
        scales[r["pos"]] = max(
            round_half_up((float(r["mx"]) - float(r["mn"])) / 255.0, 6), 1e-6
        )
    return mins, scales


def quantize_embeddings(
    emb: DataFrame, mins: list, scales: list, vec_col: str = "embedding"
) -> DataFrame:
    """Affine uint8 quantization q_i = clamp(round((v_i - mn_i) /
    scale_i), 0, 255), stored as array<smallint> — 4x smaller at rest
    and over the wire than float32, the standard first compression
    step for a 10^12-vector corpus (product quantization refines it;
    this is the exact, oracle-checkable base).  Params broadcast as
    literals; pure codegen."""
    mn = F.array(*[F.lit(float(m)) for m in mins])
    sc = F.array(*[F.lit(float(s)) for s in scales])
    q = F.transform(
        F.col(vec_col),
        lambda v, i: F.least(
            F.lit(255),
            F.greatest(
                F.lit(0),
                F.round(
                    (v.cast("double") - F.element_at(mn, i + 1))
                    / F.element_at(sc, i + 1),
                    0,
                ).cast("int"),
            ),
        ).cast("smallint"),
    )
    return emb.withColumn("q_embedding", q)


def dequantize_col(mins: list, scales: list, q_col: str = "q_embedding"):
    """Reconstruction v~_i = mn_i + q_i * scale_i (array<double>)."""
    mn = F.array(*[F.lit(float(m)) for m in mins])
    sc = F.array(*[F.lit(float(s)) for s in scales])
    return F.transform(
        F.col(q_col),
        lambda q, i: F.element_at(mn, i + 1)
        + q.cast("double") * F.element_at(sc, i + 1),
    )
