"""Deduplication at training-data scale.

Five strategies, each a standard technique re-expressed Spark-first:

- exact:          groupBy(md5(text))                       (1 shuffle)
- ngram Jaccard:  shingle explode → pair join → |∩|/|∪|    (co-partitioned)
- MinHash + LSH:  K permutation mins → band buckets → join candidates
- SimHash:        per-bit majority vote of token hashes → hamming buckets
- embedding:      cosine near-dup via similarity.py

Everything is built-in functions (the token/shingle hash is the shared
32-bit md5 prefix, text.token_hash32) so the DuckDB oracle can replay
each pipeline exactly.  At 100 TB: the shingle explode is the big
intermediate — band bucketing (LSH) keeps the candidate join linear in
near-duplicates instead of quadratic in documents.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from gfwspark.text import ensure_explode_parallelism as _ensure_explode_parallelism
from gfwspark.text import token_hash32, tokens_col
from gfwspark.util import release

# MinHash permutation parameters: h_i(x) = (A_i * x + B_i) mod P.
# P = 2^31-1 (prime); A,B fixed (seeded offline, public constants) so
# runs and the oracle agree.  x < 2^32, A < 2^13 → A*x + B < 2^45: ANSI-safe.
MINHASH_P = (1 << 31) - 1
MINHASH_AB = [
    (4129, 4987), (5843, 1021), (6709, 7919), (3251, 6571),
    (7127, 911), (2341, 5519), (4451, 3733), (6991, 2063),
    (3517, 6367), (5279, 433), (7561, 3181), (2711, 7247),
]


def shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    distinct: bool = True,
    partition_by: str | None = None,
) -> DataFrame:
    """Distinct k-token shingle hashes per document: slide a k-window
    over the token array (transform over indices — JVM-only), hash each
    shingle string, explode, distinct.

    ``distinct=False`` returns the raw exploded stream (duplicates
    possible within a doc) for callers that fold the dedup into their
    own partitioning — e.g. ngram_jaccard_pairs dedups under a
    sh_hash-keyed exchange so the df-count window reuses the same
    clustering with zero extra shuffles.

    ``partition_by``: key the explode-parallelism repartition by this
    column (e.g. ``id_col``) so a downstream per-doc aggregation reuses
    the single exchange instead of re-shuffling the exploded stream."""
    df = _ensure_explode_parallelism(df, key=partition_by)
    toks = tokens_col(text_col)
    # sequence(0, size-k) inclusive gives size-k+1 windows; guard short docs
    sh = F.when(F.size(toks) >= k, F.transform(
        F.sequence(F.lit(0), F.size(toks) - k),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )).otherwise(F.array(F.concat_ws(" ", toks)))
    out = (
        df.select(F.col(id_col), F.explode(sh).alias("shingle"))
        .withColumn("sh_hash", token_hash32("shingle"))
        .select(id_col, "sh_hash")
    )
    return out.distinct() if distinct else out


def cap_hot_shingles(
    sh: DataFrame, max_df: int, id_col: str = "doc_id"
) -> DataFrame:
    """Document-frequency cap: drop shingles appearing in more than
    `max_df` documents BEFORE any self-join.

    At web scale one boilerplate shingle ("all rights reserved") can
    appear in millions of docs; a posting-list self-join is QUADRATIC in
    that list, so an uncapped hot shingle turns the whole job into a
    cross join.  Capped shingles carry almost no similarity signal
    (they are corpus-wide stopword n-grams) — dropping them is the
    standard df-cap used by every production MinHash pipeline.  Use
    ``dropped_shingle_mass`` to report what the cap removed (no silent
    truncation)."""
    dfreq = sh.groupBy("sh_hash").agg(F.count(F.lit(1)).alias("_df"))
    keep = dfreq.filter(F.col("_df") <= max_df).select("sh_hash")
    # co-partitioned equi-join on sh_hash — reuses the self-join's shuffle key
    return sh.join(keep, "sh_hash").select(id_col, "sh_hash")


def dropped_shingle_mass(sh: DataFrame, max_df: int) -> DataFrame:
    """One-row report of what cap_hot_shingles(max_df) removes:
    (n_dropped_shingles, n_dropped_postings, max_df_seen).  Log this
    alongside any capped run."""
    dfreq = sh.groupBy("sh_hash").agg(F.count(F.lit(1)).alias("_df"))
    return dfreq.agg(
        F.sum(F.when(F.col("_df") > max_df, 1).otherwise(0)).alias("n_dropped_shingles"),
        F.sum(F.when(F.col("_df") > max_df, F.col("_df")).otherwise(0)).alias(
            "n_dropped_postings"
        ),
        F.max("_df").alias("max_df_seen"),
    )


def minhash_signatures(sh: DataFrame, id_col: str = "doc_id", n_hashes: int = 12) -> DataFrame:
    """K-permutation MinHash signature: one row per doc, columns mh_0..mh_{K-1}."""
    aggs = [
        F.min((F.col("sh_hash") * A + B) % MINHASH_P).alias(f"mh_{i}")
        for i, (A, B) in enumerate(MINHASH_AB[:n_hashes])
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidates(
    sig: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 12,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signature (rows = n_hashes/bands) and self-join on
    (band_idx, band_key) → candidate pairs (a < b).  The join is on the
    band key: cost linear in bucket collisions, not |docs|^2.

    `max_bucket_size` drops band buckets holding more docs than the cap
    before the self-join — the bucket-level analog of the shingle df
    cap (a near-universal boilerplate cluster makes one bucket
    quadratic).  Dropped buckets are hyper-connected components a
    downstream clusterer should handle wholesale, not pairwise."""
    rows = n_hashes // bands
    banded = sig.select(
        F.col(id_col),
        *[
            F.concat_ws("_", *[F.col(f"mh_{b * rows + r}") for r in range(rows)]).alias(
                f"band_{b}"
            )
            for b in range(bands)
        ],
    )
    stacked = banded.selectExpr(
        id_col,
        "stack({}, {}) as (band_idx, band_key)".format(
            bands, ", ".join(f"{b}, band_{b}" for b in range(bands))
        ),
    )
    if max_bucket_size is not None:
        sizes = stacked.groupBy("band_idx", "band_key").agg(
            F.count(F.lit(1)).alias("_bsz")
        )
        stacked = (
            stacked.join(sizes, ["band_idx", "band_key"])
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    a = stacked.alias("a")
    b = stacked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH pipeline: candidates verified with the exact
    shingle-set Jaccard (estimate never reported — only true J >= t).
    `max_bucket_size` bounds the band-bucket self-join (see
    lsh_candidates)."""
    sh = shingles(df, id_col, text_col, k)
    sig = minhash_signatures(sh, id_col, n_hashes)
    cand = lsh_candidates(sig, id_col, n_hashes, bands, max_bucket_size)
    return jaccard_verify(cand, sh, id_col, threshold)


def jaccard_verify(
    pairs: DataFrame, sh: DataFrame, id_col: str = "doc_id", threshold: float = 0.5
) -> DataFrame:
    """Exact Jaccard for candidate pairs from their shingle sets.

    r7 shape: ONE pass over the posting frame collects each doc's
    shingle set as an array; candidates then attach both sides and
    verify with size(array_intersect) — replacing the old
    pairs->postings->postings chain (two joins that re-shuffled the
    full posting frame per verify, plus two size joins) with one
    groupBy and two candidate-sized joins.  The n_inter > 0 guard
    preserves the old inner-join semantics (a candidate pair sharing
    no shingle emitted nothing rather than jaccard 0).  collect_set
    (not _list) makes the verify correct over a RAW shingle stream
    too, so callers can skip the posting distinct entirely — set
    semantics are what Jaccard is defined on either way."""
    docs = sh.groupBy(id_col).agg(F.collect_set("sh_hash").alias("_sh"))
    return (
        pairs.join(
            docs.select(F.col(id_col).alias("doc_a"), F.col("_sh").alias("_sa")),
            "doc_a",
        )
        .join(
            docs.select(F.col(id_col).alias("doc_b"), F.col("_sh").alias("_sb")),
            "doc_b",
        )
        .withColumn("n_inter", F.size(F.array_intersect("_sa", "_sb")))
        .filter(F.col("n_inter") > 0)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.size("_sa") + F.size("_sb") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All-pairs exact n-gram Jaccard >= threshold, via the shingle
    inverted index (pairs generated only for docs sharing a shingle —
    the standard positional-join prune, never a cross join).

    `max_shingle_df` caps posting-list length before the self-join
    (see cap_hot_shingles) — without it one boilerplate shingle makes
    the join quadratic in its document frequency.  When set, Jaccard is
    computed over the CAPPED shingle universe (both intersection and
    sizes), the standard df-capped approximation — so capping changes
    the returned values, and is therefore OPT-IN: the default (None) is
    the exact uncapped form the function's name promises.  At corpus
    scale always pass a cap (the registered query uses 100).

    Candidate generation uses EXACT prefix filtering (Bayardo et al.'s
    All-Pairs / PPJoin prefix filter): order each document's shingles
    rarest-first (ascending document frequency, hash tiebreak — one
    global total order) and keep only the first
    n - ceil(t * n) + 1 as its PREFIX.  Any pair with true Jaccard
    >= t shares >= ceil(t * max(|A|, |B|)) shingles, so its smallest
    common shingle in the global order must sit inside BOTH prefixes —
    joining prefixes only therefore loses no qualifying pair, while the
    frequent (high-fanout) shingles sit in suffixes and never generate
    candidates.  A length filter (t*|A| <= |B| <= |A|/t, from
    J <= min/max) prunes further at generation.  Surviving candidate
    pairs are verified EXACTLY: each side's full (capped) shingle set
    is carried as a sorted array and n_inter = size(array_intersect).
    Both filters are necessary conditions of J >= t, so the output is
    identical to the naive posting self-join (pinned by the oracle);
    measured at sf1.0 the candidate set falls 67M -> a few hundred K
    and the posting-join fan-out disappears."""
    t = float(threshold)
    # ONE sh_hash-keyed exchange serves the whole shingle prep: the
    # posting dedup (dropDuplicates clustering is satisfied by the
    # sh_hash subset), the document-frequency count (a window over the
    # same clustering — no groupBy+join back), and the df cap filter.
    raw = shingles(df, id_col, text_col, k, distinct=False)
    sh = raw.repartition("sh_hash").dropDuplicates([id_col, "sh_hash"])
    ranked = sh.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("sh_hash"))
    )
    if max_shingle_df is not None:
        ranked = ranked.filter(F.col("_df") <= max_shingle_df)
    docs = (
        ranked.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_df", "sh_hash"))
            ).alias("_arr")
        )
        .select(
            F.col(id_col),
            F.expr("transform(_arr, s -> s.sh_hash)").alias("_sh"),
            F.size("_arr").alias("n_sh"),
        )
        .localCheckpoint(eager=True)  # feeds prefix explode + 2 verify joins
    )
    # prefix length n - ceil(t*n) + 1; the 1e-9 nudge only ever LENGTHENS
    # the prefix (float ceil must never undershoot the exact rational)
    plen = (
        F.col("n_sh")
        - F.ceil(F.lit(t) * F.col("n_sh") - F.lit(1e-9)).cast("int")
        + 1
    )
    pref = docs.select(
        F.col(id_col),
        F.col("n_sh"),
        F.posexplode(F.slice("_sh", F.lit(1), plen)).alias("_p0", "sh_hash"),
    )
    a = pref.select(
        F.col(id_col).alias("doc_a"),
        F.col("n_sh").alias("n_a"),
        (F.col("_p0") + 1).alias("_pa"),
        "sh_hash",
    )
    b = pref.select(
        F.col(id_col).alias("doc_b"),
        F.col("n_sh").alias("n_b"),
        (F.col("_p0") + 1).alias("_pb"),
        "sh_hash",
    )
    # PPJoin positional filter: for the SMALLEST common shingle (order
    # rank _pa in A, _pb in B) every other common shingle ranks after
    # it, so n_inter <= min(n_a - _pa, n_b - _pb) + 1; J >= t needs
    # n_inter >= t/(1+t) * (n_a + n_b).  A non-smallest common shingle
    # may fail the row test spuriously, but the smallest one always
    # passes for a qualifying pair, so the pair survives — rows are a
    # superset of one-row-per-qualifying-pair and the final distinct
    # collapses duplicates AFTER the exact verify.
    rows = a.join(b, ["sh_hash"]).filter(
        (F.col("doc_a") < F.col("doc_b"))
        # length filter: J >= t forces t*|A| <= |B| <= |A|/t
        # (epsilon-guarded so float rounding never drops a true pair)
        & (F.col("n_a") >= F.lit(t) * F.col("n_b") - F.lit(1e-9))
        & (F.col("n_b") >= F.lit(t) * F.col("n_a") - F.lit(1e-9))
        & (
            F.least(F.col("n_a") - F.col("_pa"), F.col("n_b") - F.col("_pb"))
            + 1
            >= F.lit(t / (1.0 + t)) * (F.col("n_a") + F.col("n_b")) - F.lit(1e-9)
        )
    )
    # exact verify: attach both (tiny, checkpointed) shingle-array sides
    # map-side — broadcast keeps the multi-million candidate-row stream
    # OUT of any exchange; only the verified survivors (plus positional
    # duplicates of the same pair, collapsed by the final distinct) ever
    # shuffle.  The doc-array frame is one row per SURVIVING document
    # of the df-cap — for corpora where that no longer broadcasts, the
    # MinHash-LSH path (minhash_near_dups) is the production operator.
    return (
        rows.select("doc_a", "doc_b", "n_a", "n_b")
        .join(
            F.broadcast(
                docs.select(F.col(id_col).alias("doc_a"), F.col("_sh").alias("_sa"))
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                docs.select(F.col(id_col).alias("doc_b"), F.col("_sh").alias("_sb"))
            ),
            "doc_b",
        )
        .withColumn("n_inter", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .distinct()
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32) -> DataFrame:
    """Per-document SimHash: bit b set iff the majority of token hashes
    have bit b set.  Explode tokens → per-bit sums → recombine.  All
    shifts/sums are int64-safe."""
    df = _ensure_explode_parallelism(df)
    toks = df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("tok"))
    h = toks.withColumn("th", token_hash32("tok"))
    votes = h.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tok"),
        *[
            F.sum(F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1))).alias(f"bit_{b}")
            for b in range(bits)
        ],
    )
    sim = F.lit(0).cast("long")
    for b in range(bits):
        sim = sim + F.when(
            F.col(f"bit_{b}") * 2 > F.col("n_tok"), F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return votes.select(F.col(id_col), sim.alias("simhash"), "n_tok")


def dup_clusters(pairs: DataFrame, max_iter: int = 15) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate CLUSTERS (connected
    components) and a keep/drop decision — what a production dedup
    actually consumes: pairs (a,b) say nothing about which of a
    3-document chain {a-b, b-c} to keep.

    Hash-min label propagation WITH pointer jumping: each round every
    node takes min(own root, neighbors' roots, root-of-root).  The
    jumping step halves the remaining depth each round, so convergence
    is O(log(diameter)) rounds — max_iter=15 covers diameters beyond
    2^14 — and the loop RAISES if a pathological graph still hasn't
    converged rather than returning silently split components (a wrong
    keep-set would re-admit duplicates downstream).  Each round is two
    joins + a groupBy co-partitioned on the node id; lineage is
    truncated with localCheckpoint so the plan stays flat across
    iterations — the standard Spark shape for iterative graph
    algorithms.

    Returns (doc_id, cluster_root, cluster_size, keep): keep the
    minimum id per component, drop the rest.
    """
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    edges = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("a").alias("id")).distinct().withColumn("root", F.col("id"))
    ).localCheckpoint(eager=True)
    held = labels  # the checkpointed frame behind `labels`
    n_changed = 0
    for _ in range(max_iter):
        nbr = (
            edges.join(labels.withColumnRenamed("id", "b"), "b")
            .groupBy("a")
            .agg(F.min("root").alias("nbr_root"))
            .withColumnRenamed("a", "id")
        )
        # pointer jumping: my root's current root (halves depth/round)
        jump = labels.alias("l").join(
            labels.select(
                F.col("id").alias("root"), F.col("root").alias("jump_root")
            ),
            "root",
        ).select("id", "jump_root")
        new = (
            labels.join(nbr, "id", "left")
            .join(jump, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("root"),
                    F.coalesce("nbr_root", "root"),
                    F.coalesce("jump_root", "root"),
                ).alias("root"),
                F.col("root").alias("_old"),
            )
            .localCheckpoint(eager=True)
        )
        # the last round's labels are read no more: release them now
        release(held)
        held = new
        # change detection off the already-checkpointed frame: a cheap
        # filter+count, not a second full join over all nodes
        n_changed = new.filter(F.col("root") != F.col("_old")).count()
        labels = new.drop("_old")
        if n_changed == 0:
            break
    release(edges)
    if n_changed != 0:
        raise RuntimeError(
            f"dup_clusters: not converged after {max_iter} rounds "
            f"({n_changed} labels still moving) — raise max_iter"
        )
    sizes = labels.groupBy("root").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "root").select(
        F.col("id").alias("doc_id"),
        F.col("root").alias("cluster_root"),
        "cluster_size",
        (F.col("id") == F.col("root")).alias("keep"),
    )


def phash_near_dups(
    df: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Image near-duplicate pairs by perceptual-hash Hamming distance,
    via the pigeonhole band index: split the 64-bit phash into
    `n_bands` equal bands — two hashes within Hamming distance
    d < n_bands must agree on at least ONE band — bucket-join on
    (band_idx, band_value), then verify with the exact popcount.
    Candidates are linear in band-bucket occupancy, never
    |corpus|^2 (the same shape as the text-side MinHash/LSH and
    SimHash paths).  Requires max_hamming < n_bands for the guarantee.

    (phash >> 16b) & 0xFFFF is arithmetic-shift-then-mask — identical
    on Spark and DuckDB for negative int64 hashes, so the oracle
    replays bit-for-bit.  `max_bucket_size` drops degenerate buckets
    (e.g. an all-zero band over solid-color images) like
    lsh_candidates does."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming < n_bands "
            f"(got {max_hamming} >= {n_bands})"
        )
    width = 64 // n_bands
    mask = (1 << width) - 1
    bands = df.select(
        F.col(id_col),
        F.col(phash_col),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(phash_col), width * b).bitwiseAND(
                        F.lit(mask)
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    if max_bucket_size is not None:
        counts = bands.groupBy("band_idx", "band_val").agg(
            F.count(F.lit(1)).alias("_bn")
        )
        bands = bands.join(
            counts.filter(F.col("_bn") <= max_bucket_size),
            ["band_idx", "band_val"],
        ).drop("_bn")
    a = bands.select(
        F.col(id_col).alias("id_a"),
        F.col(phash_col).alias("_pa"),
        "band_idx",
        "band_val",
    )
    b = bands.select(
        F.col(id_col).alias("id_b"),
        F.col(phash_col).alias("_pb"),
        "band_idx",
        "band_val",
    )
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_pa").bitwiseXOR(F.col("_pb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """DIRECTIONAL shingle containment |A ∩ B| / |A| — the asymmetric
    twin of Jaccard that symmetric dedup misses: a short document
    quoted verbatim inside a long one has low Jaccard (the union is
    dominated by the long doc) but containment ~1.  This is the
    standard subset/quote-dedup measure (Broder's containment, the
    basis of SlimPajama-style low-length-ratio near-dup handling).

    Same inverted-index prune as ngram_jaccard_pairs: candidate pairs
    only for docs sharing a shingle, never a cross join; the same
    opt-in `max_shingle_df` posting-list cap applies at corpus scale
    (capping changes values — exact by default).

    Returns (contained_id, container_id, containment) for ordered
    pairs with containment >= threshold; both directions of a pair are
    evaluated independently (a ⊆ b does not imply b ⊆ a)."""
    sh = shingles(df, id_col, text_col, k)
    if max_shingle_df is not None:
        sh = cap_hot_shingles(sh, max_shingle_df, id_col)
    a = sh.withColumnRenamed(id_col, "contained_id")
    b = sh.withColumnRenamed(id_col, "container_id")
    pairs = (
        a.join(b, ["sh_hash"])
        .filter(F.col("contained_id") != F.col("container_id"))
        .groupBy("contained_id", "container_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    return (
        pairs.join(
            sizes.withColumnRenamed(id_col, "contained_id").withColumnRenamed(
                "n_sh", "n_a"
            ),
            "contained_id",
        )
        .withColumn(
            "containment",
            F.round(F.col("n_inter").cast("double") / F.col("n_a"), 6),
        )
        .filter(F.col("containment") >= threshold)
        .select("contained_id", "container_id", "containment")
    )
