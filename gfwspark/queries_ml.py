"""Training-data-ops queries: dedup, text analysis, similarity search.

Registered into the same catalog as gfwspark.queries; every oracle
replays the exact pipeline in DuckDB using the shared md5-prefix token
hash (text.token_hash32), fixed MinHash constants and fixed LSH
hyperplanes, so value-hashes match.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from gfwspark import dedup, similarity, tables, text
from gfwspark.queries import _D_TOKS, _LANGID_ORACLE, register
from gfwspark.text import _FP_MOD

# embeddings table vector width (TESTDATA.md) — passed explicitly so no
# plan-build-time Spark job infers it
_EMB_DIM = 64

# ---------------------------------------------------------------- SQL bits

# DuckDB 32-bit md5-prefix hash of a string expression {x}
def _d_hash32(x: str) -> str:
    return f"('0x' || substr(md5({x}), 1, 8))::BIGINT"


def _gate_scale_pandas(df: DataFrame, cap: int = 200_000):
    """Materialize a round-trip query's read-back via toPandas, but
    only at driver-gate scale: the upsert/compact round-trip queries
    exist to verify an on-disk write path against a closed-form
    oracle, and their full-table collect is safe ONLY because the gate
    runs at sf<=0.01.  The cap makes that constraint mechanical — a
    future migration into a large-sf bench set raises instead of
    silently collecting the table onto the driver."""
    n = df.count()
    if n > cap:
        raise ValueError(
            f"gate-scale round-trip query materializes {n} rows > cap "
            f"{cap}; this query is for the sf<=0.01 correctness gate, "
            "not large-sf benching"
        )
    return df.toPandas()


# shingle CTE: k=3 token windows, short docs → whole text, distinct hashes
_D_SHINGLES = f"""
SELECT DISTINCT doc_id, {_d_hash32('shingle')} AS sh_hash FROM (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= 3 THEN
      list_transform(generate_series(1, len(toks) - 2),
                     i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
    ELSE [array_to_string(toks, ' ')] END) AS shingle
  FROM (SELECT doc_id, {_D_TOKS} AS toks FROM documents)
)
"""


# ---------------------------------------------------------------- queries

_TOKCOUNT_ORACLE = f"""
SELECT doc_id,
  cast(len({_D_TOKS}) AS int) AS n_tokens,
  cast(len(regexp_extract_all(lower(text), '[a-z0-9]{{1,4}}')) AS int) AS n_subwords
FROM documents
"""


@register("token_counts", _TOKCOUNT_ORACLE)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load_table(spark, sf_dir, "documents")
    return text.with_token_counts(d).select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_subwords").cast("int").alias("n_subwords"),
    )


_QUALITY_ORACLE = """
WITH q AS (
  SELECT doc_id,
    cast(length(text) AS bigint) AS n_chars_actual,
    round(cast(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS double)
          / greatest(length(text), 1), 6) AS alpha_ratio,
    round(cast(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS double)
          / greatest(length(text), 1), 6) AS punct_ratio
  FROM documents
)
SELECT doc_id, n_chars_actual, alpha_ratio, punct_ratio,
  round(
    (CASE WHEN n_chars_actual BETWEEN 20 AND 5000 THEN 1.0 ELSE 0.5 END)
    * least(1.0, alpha_ratio * 1.25)
    * (1.0 - least(1.0, punct_ratio * 5)), 6) AS quality
FROM q
"""


@register("doc_quality", _QUALITY_ORACLE)
def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load_table(spark, sf_dir, "documents")
    return text.with_quality_score(d).select(
        "doc_id", "n_chars_actual", "alpha_ratio", "punct_ratio", "quality"
    )


@register("lang_id", _LANGID_ORACLE)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load_table(spark, sf_dir, "documents")
    return text.lang_id(d).select("doc_id", "lang", "pred_lang", "hits")


_FP_ORACLE = f"""
SELECT doc_id,
  list_reduce(
    list_prepend(0::BIGINT,
                 list_transform({_D_TOKS}, t -> {_d_hash32('t')})),
    (acc, x) -> (acc * 31 + x) % {_FP_MOD}) AS fingerprint
FROM documents
"""


@register("doc_fingerprint", _FP_ORACLE)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load_table(spark, sf_dir, "documents")
    return text.with_fingerprint(d).select("doc_id", "fingerprint")


_mh_exprs = ", ".join(
    f"min((sh_hash * {A} + {B}) % {dedup.MINHASH_P}) AS mh_{i}"
    for i, (A, B) in enumerate(dedup.MINHASH_AB)
)
_MINHASH_ORACLE = f"""
WITH sh AS ({_D_SHINGLES})
SELECT doc_id, {_mh_exprs} FROM sh GROUP BY doc_id
"""


@register("minhash_signatures", _MINHASH_ORACLE)
def q_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r7: min() is duplicate-insensitive, so the signature over the RAW
    # exploded shingle stream equals the signature over the distinct
    # set — skipping the (doc_id, sh_hash) distinct removes one full
    # shuffle of the shingle stream.  Keying the explode-parallelism
    # repartition by doc_id (instead of round-robin) lets the final
    # groupBy(doc_id) reuse that one exchange: the whole query is a
    # single shuffle of the (pre-explode) document rows.
    d = tables.load_table(spark, sf_dir, "documents")
    return dedup.minhash_signatures(
        dedup.shingles(d, distinct=False, partition_by="doc_id")
    )


# mirrors ngram_jaccard_pairs(max_shingle_df=100): shingles above the
# df cap are dropped from BOTH intersection and sizes (no effect at
# sf0.01 — max df there is 7 — but the oracle replays the capped
# pipeline, not an idealized one)
_NGRAM_JACCARD_ORACLE = f"""
WITH sh0 AS ({_D_SHINGLES}),
keep AS (SELECT sh_hash FROM sh0 GROUP BY sh_hash HAVING count(*) <= 100),
sh AS (SELECT sh0.doc_id, sh0.sh_hash FROM sh0 JOIN keep USING (sh_hash)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh_hash = b.sh_hash AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc_a, p.doc_b,
  round(cast(p.n_inter AS double) / (sa.n_sh + sb.n_sh - p.n_inter), 6) AS jaccard
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
WHERE round(cast(p.n_inter AS double) / (sa.n_sh + sb.n_sh - p.n_inter), 6) >= 0.5
"""


@register("ngram_jaccard_dups", _NGRAM_JACCARD_ORACLE)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, threshold=0.5, max_shingle_df=100)


@register("minhash_lsh_dups", None)  # approx candidate set: rows-only check
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load_table(spark, sf_dir, "documents")
    return dedup.minhash_near_dups(d, threshold=0.5)


_simhash_bits = 16
_sim_sums = ", ".join(
    f"sum((th >> {b}) & 1) AS bit_{b}" for b in range(_simhash_bits)
)
_sim_combine = " + ".join(
    f"(CASE WHEN bit_{b} * 2 > n_tok THEN {1 << b} ELSE 0 END)"
    for b in range(_simhash_bits)
)
_SIMHASH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_d_hash32('tok')} AS th
  FROM (SELECT doc_id, unnest({_D_TOKS}) AS tok FROM documents)
),
votes AS (
  SELECT doc_id, count(*) AS n_tok, {_sim_sums}
  FROM toks GROUP BY doc_id
)
SELECT doc_id, cast({_sim_combine} AS bigint) AS simhash, n_tok
FROM votes
"""


@register("simhash", _SIMHASH_ORACLE)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    return dedup.simhash(d, bits=_simhash_bits)


# ------------------------------------------------------ similarity search

def _d_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(generate_series(1, len({a})), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)), (acc, x) -> acc + x)"
    )


def _d_norm(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform({a}, x -> x::DOUBLE * x::DOUBLE)), (acc, x) -> acc + x))"
    )


_BRUTE_TOPK_ORACLE = f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.q_id, c.vec_id,
    round({_d_dot('c.embedding', 'q.q_emb')}
          / ({_d_norm('c.embedding')} * {_d_norm('q.q_emb')}), 6) AS cosine
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id <> q.q_id
),
r AS (
  SELECT q_id, vec_id, cosine,
    cast(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS int) AS rank
  FROM scored
)
SELECT q_id, vec_id, cosine, rank FROM r WHERE rank <= 5
"""


@register("ann_brute_topk", _BRUTE_TOPK_ORACLE)
def q_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the Arrow/BLAS kernel: one matmul per partition instead of a
    # per-(query, row) scalar aggregate() fold; its scores are rounded
    # exactly as the oracle's round(), so the check is value-for-value
    emb = tables.load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.brute_force_topk(emb, q, k=5)


@register("ann_lsh_topk", None)  # approximate: rows-only check
def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.lsh_topk(emb, q, k=5, dim=_EMB_DIM)


@register("embedding_near_dups", None)  # approximate: rows-only check
def q_embed_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plant exact duplicates (vec_id < 15 re-inserted under id+100000) so
    # the correctness row is NON-vacuous at sf0.01: the pipeline must
    # bucket each planted copy with its source and report cosine 1.0
    emb = tables.load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") < 15).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    return similarity.embedding_near_dups(
        emb.unionByName(planted), threshold=0.9, dim=_EMB_DIM
    )


# ---------------------------------------------------------------------
# Full-oracle versions of the LSH pipelines.  Everything is
# deterministic (fixed minhash constants; hyperplane component (h,d) =
# sin(1 + h*131 + d*7), computable identically in SQL), so even the
# "approximate" ops are value-checked end-to-end.
# ---------------------------------------------------------------------

_N_BANDS, _ROWS_PER_BAND = 4, 3
_band_rows = [
    (b, ", ".join(f"mh_{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)))
    for b in range(_N_BANDS)
]
_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_idx, concat_ws('_', {cols}) AS band_key FROM sig"
    for b, cols in _band_rows
)

_MINHASH_LSH_ORACLE = f"""
WITH sh AS ({_D_SHINGLES}),
sig AS (SELECT doc_id, {_mh_exprs} FROM sh GROUP BY doc_id),
bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh_hash = sa.sh_hash
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
  round(cast(i.n_inter AS double) / (sa.n_sh + sb.n_sh - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE round(cast(i.n_inter AS double) / (sa.n_sh + sb.n_sh - i.n_inter), 6) >= 0.5
"""

# upgrade minhash_lsh_dups from rows-only to full oracle
register("minhash_lsh_dups", _MINHASH_LSH_ORACLE)(q_minhash_lsh)


def _d_bucket(emb: str, n_planes: int = 8) -> str:
    terms = []
    for h in range(n_planes):
        dot = (
            f"list_reduce(list_prepend(0.0::DOUBLE, "
            f"list_transform(generate_series(1, len({emb})), "
            f"i -> {emb}[i]::DOUBLE * sin(1.0 + {h} * 131 + (i - 1) * 7))), "
            f"(acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << h} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


_LSH_TOPK_ORACLE = f"""
WITH c AS (
  SELECT vec_id, embedding, {_d_bucket('embedding')} AS bucket FROM embeddings
),
q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM c WHERE vec_id < 10),
scored AS (
  SELECT q.q_id, x.vec_id,
    round({_d_dot('x.embedding', 'q.q_emb')}
          / ({_d_norm('x.embedding')} * {_d_norm('q.q_emb')}), 6) AS cosine
  FROM c x JOIN q ON x.bucket = q.bucket AND x.vec_id <> q.q_id
),
r AS (
  SELECT q_id, vec_id, cosine,
    cast(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS int) AS rank
  FROM scored
)
SELECT q_id, vec_id, cosine, rank FROM r WHERE rank <= 5
"""

register("ann_lsh_topk", _LSH_TOPK_ORACLE)(q_lsh_topk)


_EMBED_NEAR_DUP_ORACLE = f"""
WITH base AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id < 15
),
c AS (
  SELECT vec_id, embedding, {_d_bucket('embedding')} AS bucket FROM base
)
SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
  round({_d_dot('a.embedding', 'b.embedding')}
        / ({_d_norm('a.embedding')} * {_d_norm('b.embedding')}), 6) AS cosine
FROM c a JOIN c b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round({_d_dot('a.embedding', 'b.embedding')}
        / ({_d_norm('a.embedding')} * {_d_norm('b.embedding')}), 6) >= 0.9
"""

register("embedding_near_dups", _EMBED_NEAR_DUP_ORACLE)(q_embed_near_dups)


# ---------------------------------------------------------------------
# Multiprobe LSH + IVF — the two classic ANN scale paths, both fully
# deterministic (fixed hyperplanes; deterministic centroid stand-in =
# smallest vec_ids) and therefore value-exact against DuckDB.
# ---------------------------------------------------------------------

# Hamming<=2 probe set (1 + 8 + 28 buckets of 256): recall 0.87 vs
# 0.62 at Hamming-1 on clustered corpora at ~3x brute-force savings
# (test_multiprobe_recall_on_clustered_corpus)
_PROBE_MASKS = (
    [0]
    + [1 << h for h in range(8)]
    + [(1 << i) | (1 << j) for i in range(8) for j in range(i + 1, 8)]
)
_PROBE_LIST = "[" + ", ".join(f"xor(c.bucket, {m})" for m in _PROBE_MASKS) + "]"

_LSH_MULTIPROBE_ORACLE = f"""
WITH c AS (
  SELECT vec_id, embedding, {_d_bucket('embedding')} AS bucket FROM embeddings
),
qp AS (
  SELECT c.vec_id AS q_id, c.embedding AS q_emb, unnest({_PROBE_LIST}) AS bucket
  FROM c WHERE c.vec_id < 10
),
scored AS (
  SELECT qp.q_id, x.vec_id,
    round({_d_dot('x.embedding', 'qp.q_emb')}
          / ({_d_norm('x.embedding')} * {_d_norm('qp.q_emb')}), 6) AS cosine
  FROM c x JOIN qp ON x.bucket = qp.bucket AND x.vec_id <> qp.q_id
),
r AS (
  SELECT q_id, vec_id, cosine,
    cast(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS int) AS rank
  FROM scored
)
SELECT q_id, vec_id, cosine, rank FROM r WHERE rank <= 5
"""


@register("ann_lsh_multiprobe", _LSH_MULTIPROBE_ORACLE)
def q_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.lsh_topk(emb, q, k=5, dim=_EMB_DIM, probe_hamming=2)


_IVF_N_CENT, _IVF_N_PROBE = 16, 4

_IVF_ORACLE = f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS c_vec FROM embeddings
  WHERE vec_id < {_IVF_N_CENT}
),
asg AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        round({_d_dot('e.embedding', 'c.c_vec')}
              / ({_d_norm('e.embedding')} * {_d_norm('c.c_vec')}), 6) DESC, c.cid) AS rnk
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rnk = 1
),
qprob AS (
  SELECT q_id, q_emb, cid FROM (
    SELECT q.vec_id AS q_id, q.embedding AS q_emb, c.cid,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        round({_d_dot('q.embedding', 'c.c_vec')}
              / ({_d_norm('q.embedding')} * {_d_norm('c.c_vec')}), 6) DESC, c.cid) AS pr
    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10
  ) WHERE pr <= {_IVF_N_PROBE}
),
scored AS (
  SELECT p.q_id, a.vec_id,
    round({_d_dot('a.embedding', 'p.q_emb')}
          / ({_d_norm('a.embedding')} * {_d_norm('p.q_emb')}), 6) AS cosine
  FROM asg a JOIN qprob p ON a.cid = p.cid AND a.vec_id <> p.q_id
),
r AS (
  SELECT q_id, vec_id, cosine,
    cast(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS int) AS rank
  FROM scored
)
SELECT q_id, vec_id, cosine, rank FROM r WHERE rank <= 5
"""


@register("ann_ivf_topk", _IVF_ORACLE)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < _IVF_N_CENT).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.ivf_topk(emb, q, cent, k=5, n_probe=_IVF_N_PROBE)


# ---------------------------------------------------------------------
# Duplicate-cluster resolution: pairs -> connected components -> keep
# set.  Oracle: DuckDB recursive CTE computes min reachable id per
# node (exact components on the same LSH-verified pair list).
# ---------------------------------------------------------------------

_DUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE
sh AS ({_D_SHINGLES}),
sig AS (SELECT doc_id, {_mh_exprs} FROM sh GROUP BY doc_id),
bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh_hash = sa.sh_hash
  GROUP BY c.doc_a, c.doc_b
),
dups AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE round(cast(i.n_inter AS double) / (sa.n_sh + sb.n_sh - i.n_inter), 6) >= 0.5
),
edges AS (SELECT doc_a AS a, doc_b AS b FROM dups UNION SELECT doc_b, doc_a FROM dups),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
),
roots AS (SELECT id, min(r) AS cluster_root FROM reach GROUP BY id)
SELECT r.id AS doc_id, r.cluster_root,
  s.cluster_size, r.id = r.cluster_root AS keep
FROM roots r
JOIN (SELECT cluster_root, count(*) AS cluster_size
      FROM roots GROUP BY cluster_root) s USING (cluster_root)
"""


@register("dedup_clusters", _DUP_CLUSTERS_ORACLE)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dups(d, threshold=0.5)
    return dedup.dup_clusters(pairs)


# ---------------------------------------------------------------------
# K-means centroid training (Lloyd, 2 unrolled iterations) — the IVF
# build step (similarity.kmeans_fit).  Fully deterministic: init = the
# k smallest vec_ids, squared-euclidean distances in decimal(38,12)
# (exact, order-free on both engines), means = decimal sum -> one IEEE
# division, ties to the smaller cid, empty clusters keep the previous
# centroid.  The oracle unrolls both Lloyd iterations in SQL.
# Registered round 3 (past the driver window; local parity this round).
# ---------------------------------------------------------------------

_KM_K, _KM_DIM = 8, 64


def _kmeans_ctes(base_select: str) -> str:
    """The 2-iteration Lloyd chain (c0..m2) over a caller-chosen base
    select producing (vec_id, v double[]) — shared by the float-trained
    oracles (base = embeddings) and the int8 one (base = the
    dequantized reconstruction)."""
    return f"""base AS (
  {base_select}
),
dims AS (SELECT unnest(generate_series(0, {_KM_DIM - 1})) AS pos),
c0 AS (
  SELECT cast(row_number() OVER (ORDER BY vec_id) - 1 AS int) AS cid, v AS c
  FROM base ORDER BY vec_id LIMIT {_KM_K}
),
d1 AS (
  SELECT b.vec_id, c.cid,
    sum(cast((b.v[d.pos+1] - c.c[d.pos+1]) * (b.v[d.pos+1] - c.c[d.pos+1])
             AS decimal(38,12))) AS d2
  FROM base b CROSS JOIN c0 c CROSS JOIN dims d
  GROUP BY b.vec_id, c.cid
),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
      row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rnk
    FROM d1
  ) WHERE rnk = 1
),
m1 AS (
  SELECT a.cid, d.pos,
    round(cast(sum(cast(b.v[d.pos+1] AS decimal(38,12))) AS double)
          / cast(count(*) AS double), 6) AS val
  FROM a1 a JOIN base b USING (vec_id) CROSS JOIN dims d
  GROUP BY a.cid, d.pos
),
c1 AS (
  SELECT c0.cid, d.pos, coalesce(m1.val, c0.c[d.pos+1]) AS val
  FROM c0 CROSS JOIN dims d
  LEFT JOIN m1 ON m1.cid = c0.cid AND m1.pos = d.pos
),
d2_ AS (
  SELECT b.vec_id, c.cid,
    sum(cast((b.v[c.pos+1] - c.val) * (b.v[c.pos+1] - c.val)
             AS decimal(38,12))) AS d2
  FROM base b CROSS JOIN c1 c
  GROUP BY b.vec_id, c.cid
),
a2 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
      row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rnk
    FROM d2_
  ) WHERE rnk = 1
),
m2 AS (
  SELECT a.cid, d.pos,
    round(cast(sum(cast(b.v[d.pos+1] AS decimal(38,12))) AS double)
          / cast(count(*) AS double), 6) AS val
  FROM a2 a JOIN base b USING (vec_id) CROSS JOIN dims d
  GROUP BY a.cid, d.pos
)
"""


_KMEANS_CTES = _kmeans_ctes(
    "SELECT vec_id, list_transform(embedding, x -> cast(x AS double)) AS v\n"
    "  FROM embeddings"
)

_KMEANS_ORACLE = f"""
WITH {_KMEANS_CTES}
SELECT c1.cid, cast(c1.pos AS int) AS pos,
       coalesce(m2.val, c1.val) AS c_val
FROM c1 LEFT JOIN m2 ON m2.cid = c1.cid AND m2.pos = c1.pos
"""


@register("kmeans_refine", _KMEANS_ORACLE)
def q_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load_table(spark, sf_dir, "embeddings")
    cent = similarity.kmeans_fit(emb, k=_KM_K, n_iter=2)
    return cent.select(
        "cid", F.posexplode("embedding").alias("pos", "c_val")
    ).select("cid", F.col("pos").cast("int").alias("pos"), "c_val")


# ---------------------------------------------------------------------
# End-to-end trained IVF: centroids from kmeans_fit (2 Lloyd
# iterations) feed ivf_topk — the full production ANN path (train ->
# bucket -> probe -> exact re-rank), one composed oracle.  Registered
# round 3 (past the driver window; local parity this round).
# ---------------------------------------------------------------------

_IVT_NPROBE = 2

_IVF_TRAINED_ORACLE = f"""
WITH {_KMEANS_CTES},
kcent AS (
  SELECT c1.cid, list(coalesce(m2.val, c1.val) ORDER BY c1.pos) AS c_vec
  FROM c1 LEFT JOIN m2 ON m2.cid = c1.cid AND m2.pos = c1.pos
  GROUP BY c1.cid
),
asg AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, k.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        round({_d_dot('e.embedding', 'k.c_vec')}
              / ({_d_norm('e.embedding')} * {_d_norm('k.c_vec')}), 6) DESC, k.cid) AS rnk
    FROM embeddings e CROSS JOIN kcent k
  ) WHERE rnk = 1
),
qprob AS (
  SELECT q_id, q_emb, cid FROM (
    SELECT q.vec_id AS q_id, q.embedding AS q_emb, k.cid,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        round({_d_dot('q.embedding', 'k.c_vec')}
              / ({_d_norm('q.embedding')} * {_d_norm('k.c_vec')}), 6) DESC, k.cid) AS pr
    FROM embeddings q CROSS JOIN kcent k WHERE q.vec_id < 10
  ) WHERE pr <= {_IVT_NPROBE}
),
scored AS (
  SELECT p.q_id, a.vec_id,
    round({_d_dot('a.embedding', 'p.q_emb')}
          / ({_d_norm('a.embedding')} * {_d_norm('p.q_emb')}), 6) AS cosine
  FROM asg a JOIN qprob p ON a.cid = p.cid AND a.vec_id <> p.q_id
),
r AS (
  SELECT q_id, vec_id, cosine,
    cast(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS int) AS rank
  FROM scored
)
SELECT q_id, vec_id, cosine, rank FROM r WHERE rank <= 5
"""


@register("ann_ivf_trained", _IVF_TRAINED_ORACLE)
def q_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load_table(spark, sf_dir, "embeddings")
    cent = similarity.kmeans_fit(emb, k=_KM_K, n_iter=2)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.ivf_topk(emb, q, cent, k=5, n_probe=_IVT_NPROBE)


# ---------------------------------------------------------------------
# TF-IDF top terms per document (training-data text analysis).
# Registered round 3 (past the driver window; local parity this round).
# ---------------------------------------------------------------------

_TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lower(tok) AS tok
  FROM (SELECT doc_id, unnest({_D_TOKS}) AS tok FROM documents)
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
n AS (SELECT cast(count(*) AS double) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
    round(cast(tf.tf AS double) * ln((n.n_docs + 1.0) / (cast(dfreq.df AS double) + 1.0)), 6) AS tfidf
  FROM tf JOIN dfreq USING (tok) CROSS JOIN n
)
SELECT doc_id, tok AS token, cast(tf AS bigint) AS tf, cast(df AS bigint) AS df,
  tfidf,
  cast(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS int) AS rank
FROM scored
QUALIFY rank <= 3
"""


@register("tfidf_top_terms", _TFIDF_ORACLE)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load_table(spark, sf_dir, "documents")
    return text.tfidf_top_terms(d, k=3)


# ---------------------------------------------------------------------
# End-to-end embedding dedup: near-dup PAIRS (hyperplane-bucketed
# cosine) resolved into duplicate CLUSTERS with keep/drop — the image
# near-dedup pipeline a 10^12-image corpus actually runs (pairs alone
# cannot decide which of a chain {a-b, b-c} survives).  Composes
# similarity.embedding_near_dups with dedup.dup_clusters (hash-min +
# pointer jumping); the oracle composes the bucketed-cosine SQL with a
# recursive-CTE connected components.  Registered round 3 (past the
# driver window; local parity this round).
# ---------------------------------------------------------------------

_EMBED_DEDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE
base AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id < 15
),
c AS (
  SELECT vec_id, embedding, {_d_bucket('embedding')} AS bucket FROM base
),
dups AS (
  SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM c a JOIN c b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE round({_d_dot('a.embedding', 'b.embedding')}
          / ({_d_norm('a.embedding')} * {_d_norm('b.embedding')}), 6) >= 0.9
),
edges AS (SELECT doc_a AS a, doc_b AS b FROM dups UNION SELECT doc_b, doc_a FROM dups),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
),
roots AS (SELECT id, min(r) AS cluster_root FROM reach GROUP BY id)
SELECT r.id AS doc_id, r.cluster_root,
  s.cluster_size, r.id = r.cluster_root AS keep
FROM roots r
JOIN (SELECT cluster_root, count(*) AS cluster_size
      FROM roots GROUP BY cluster_root) s USING (cluster_root)
"""


@register("embed_dedup_clusters", _EMBED_DEDUP_CLUSTERS_ORACLE)
def q_embed_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") < 15).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    pairs = similarity.embedding_near_dups(
        emb.unionByName(planted), threshold=0.9, dim=_EMB_DIM
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    return dedup.dup_clusters(pairs)


# ---------------------------------------------------------------------
# Perceptual-hash near-dup pairs (image dedup): pigeonhole band index
# over the 64-bit phash, exact popcount verify.  Planted copies with 2
# flipped bits (xor 5) make the row non-vacuous.  Registered round 3
# (past the driver window; local parity this round).
# ---------------------------------------------------------------------

_DUCK_IMG_ML = tables.sql_image_caption("duckdb").strip()

_PHASH_DUPS_ORACLE = f"""
WITH img AS ({_DUCK_IMG_ML}),
base AS (
  SELECT image_id, phash FROM img
  UNION ALL
  SELECT image_id || '_copy' AS image_id, xor(phash, 5) AS phash
  FROM img WHERE image_id <= 'img_000014' AND ts < timestamp '2024-01-02'
),
bands AS (
  SELECT image_id, phash, b.band_idx,
    ((phash >> (16 * b.band_idx)) & 65535) AS band_val
  FROM base, (SELECT unnest(generate_series(0, 3)) AS band_idx) b
)
SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b,
  cast(bit_count(xor(a.phash, b.phash)) AS int) AS hamming
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
 AND a.image_id < b.image_id
WHERE bit_count(xor(a.phash, b.phash)) <= 3
"""


@register("phash_near_dups", _PHASH_DUPS_ORACLE)
def q_phash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = tables.image_caption_from_events(spark, sf_dir).select("image_id", "ts", "phash")
    planted = img.filter(
        (F.col("image_id") <= "img_000014") & (F.col("ts") < F.lit("2024-01-02").cast("timestamp"))
    ).select(
        F.concat(F.col("image_id"), F.lit("_copy")).alias("image_id"),
        F.col("phash").bitwiseXOR(F.lit(5)).alias("phash"),
    )
    base = img.select("image_id", "phash").unionByName(planted)
    out = dedup.phash_near_dups(base, max_hamming=3, n_bands=4)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# ---------------------------------------------------------------------
# End-to-end pHash image dedup: pigeonhole-banded near-dup PAIRS
# resolved into duplicate CLUSTERS with keep/drop — the image-axis twin
# of embed_dedup_clusters, and the pipeline a 10^12-image corpus runs
# to actually shed near-duplicate images (reference analog: the
# dedup-with-priority consolidation the metadata pipeline performs,
# metadata.py:268-272; here the similarity key is the perceptual hash).
# Same planted 2-bit copies as phash_near_dups keep the row non-vacuous
# and chain a->a_copy so clusters have size > 1.
# ---------------------------------------------------------------------

_PHASH_DEDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE
img AS ({_DUCK_IMG_ML}),
base AS (
  SELECT image_id, phash FROM img
  UNION ALL
  SELECT image_id || '_copy' AS image_id, xor(phash, 5) AS phash
  FROM img WHERE image_id <= 'img_000014' AND ts < timestamp '2024-01-02'
),
bands AS (
  SELECT image_id, phash, b.band_idx,
    ((phash >> (16 * b.band_idx)) & 65535) AS band_val
  FROM base, (SELECT unnest(generate_series(0, 3)) AS band_idx) b
),
dups AS (
  SELECT DISTINCT a.image_id AS doc_a, b.image_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.image_id < b.image_id
  WHERE bit_count(xor(a.phash, b.phash)) <= 3
),
edges AS (SELECT doc_a AS a, doc_b AS b FROM dups UNION SELECT doc_b, doc_a FROM dups),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
),
roots AS (SELECT id, min(r) AS cluster_root FROM reach GROUP BY id)
SELECT r.id AS doc_id, r.cluster_root,
  s.cluster_size, r.id = r.cluster_root AS keep
FROM roots r
JOIN (SELECT cluster_root, count(*) AS cluster_size
      FROM roots GROUP BY cluster_root) s USING (cluster_root)
"""


@register("phash_dedup_clusters", _PHASH_DEDUP_CLUSTERS_ORACLE)
def q_phash_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = tables.image_caption_from_events(spark, sf_dir).select(
        "image_id", "ts", "phash"
    )
    planted = img.filter(
        (F.col("image_id") <= "img_000014")
        & (F.col("ts") < F.lit("2024-01-02").cast("timestamp"))
    ).select(
        F.concat(F.col("image_id"), F.lit("_copy")).alias("image_id"),
        F.col("phash").bitwiseXOR(F.lit(5)).alias("phash"),
    )
    base = img.select("image_id", "phash").unionByName(planted)
    pairs = dedup.phash_near_dups(base, max_hamming=3, n_bands=4).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    return dedup.dup_clusters(pairs)


# ---------------------------------------------------------------------
# Bloom-filter runtime join pruning (gfwspark/bloom.py): facts SEMI
# JOIN keys with a broadcast Bloom sketch applied at the fact scan —
# the 100-TB membership-join shape (Spark InjectRuntimeFilter / Trino
# runtime filters, rebuilt as DataFrame ops since PySpark exposes no
# bloom builtin).  Exact by construction (final left_semi removes the
# false positives), so the oracle is the plain semi join.
# ---------------------------------------------------------------------

_BLOOM_SEMI_ORACLE = """
SELECT o_orderkey, o_custkey, cast(o_totalprice AS double) AS total
FROM orders
WHERE o_custkey IN (
  SELECT c_custkey FROM customer WHERE c_acctbal > 9000.0
)
"""


@register("bloom_semi_join", _BLOOM_SEMI_ORACLE)
def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gfwspark import bloom

    orders = tables.load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("double").alias("total"),
    )
    cust = tables.load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > 9000.0
    ).select(F.col("c_custkey").alias("o_custkey"))
    return bloom.bloom_semi_join(orders, cust, "o_custkey")


# ---------------------------------------------------------------------
# Leakage-free temporal split with embargo (sources.temporal_split_
# embargo): last `horizon` of each entity's timeline is validation,
# the embargo band before the cutoff is dropped so no trailing window
# computed at a val timestamp can overlap a train row.
# ---------------------------------------------------------------------

_TEMPORAL_SPLIT_ORACLE = f"""
WITH img AS ({_DUCK_IMG_ML}),
m AS (
  SELECT image_id, ts, event_id,
    epoch_us(ts) AS t_us,
    max(epoch_us(ts)) OVER (PARTITION BY image_id) - 604800000000 AS cutoff_us
  FROM img
)
SELECT image_id, ts, event_id,
  CASE WHEN t_us > cutoff_us THEN 'val' ELSE 'train' END AS split
FROM m
WHERE t_us > cutoff_us OR t_us <= cutoff_us - 86400000000
"""


@register("temporal_split_embargo", _TEMPORAL_SPLIT_ORACLE)
def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = tables.image_caption_from_events(spark, sf_dir).select(
        "image_id", "ts", "event_id"
    )
    from gfwspark import sources

    # horizon = last week of each entity's timeline; embargo = 1 day
    # (longest trailing feature window in the flagship pipeline)
    return sources.temporal_split_embargo(
        img, horizon_s=7 * 86400, embargo_s=86400
    )


# ---------------------------------------------------------------------
# Aspect-ratio-bucketed pixel-budget batch packing: the image-training
# batch assembly pattern (batches must be shape-homogeneous, so bucket
# by w/h first, then pack a pixel budget per bucket) — composes the
# image metadata columns with sources.pack_token_budget_batches; the
# per-bucket partitioned window is also what keeps the running sum
# distributed at corpus scale.
# ---------------------------------------------------------------------

_ASPECT_PACK_ORACLE = f"""
WITH img AS ({_DUCK_IMG_ML}),
t AS (
  SELECT image_id, event_id,
    cast(w AS double) / h AS aspect,
    cast(w AS bigint) * h AS px
  FROM img
),
s AS (
  SELECT image_id, event_id, aspect, px,
    cast(sum(px) OVER (PARTITION BY aspect ORDER BY image_id, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - px AS bigint)
      AS batch_start_offset
  FROM t
)
SELECT image_id, event_id, aspect, px,
  cast(floor(batch_start_offset / 49152.0) AS bigint) AS batch_id,
  batch_start_offset
FROM s
"""


@register("aspect_bucket_batches", _ASPECT_PACK_ORACLE)
def q_aspect_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gfwspark import sources

    img = tables.image_caption_from_events(spark, sf_dir).select(
        "image_id",
        "event_id",
        (F.col("w").cast("double") / F.col("h")).alias("aspect"),
        (F.col("w").cast("long") * F.col("h")).alias("px"),
    )
    return sources.pack_token_budget_batches(
        img, "px", budget=49152, order_cols=["image_id", "event_id"],
        partition_col="aspect",
    )


# ---------------------------------------------------------------------
# Intra-document repetition (duplicate-n-gram fraction — the public
# Gopher/MassiveText repetition quality gates) and benchmark
# decontamination by exact 13-gram collision (the public GPT-3 /
# The Pile method).  The benchmark set is synthesized from the corpus
# itself (verbatim token spans 11..40 of every doc_id % 50 == 0), so
# contamination is PLANTED deterministically and the driver row is
# non-vacuous on both engines.
# ---------------------------------------------------------------------

_D_TOKS_GUARDED = """CASE WHEN length(trim(text)) = 0 THEN []
    ELSE regexp_split_to_array(trim(text), '\\s+') END"""

_REPETITION_ORACLE = f"""
WITH d AS (SELECT doc_id, {_D_TOKS_GUARDED} AS toks FROM documents),
u2 AS (
  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram
  FROM (SELECT doc_id, toks,
        unnest(generate_series(1, len(toks) - 1)) AS i FROM d)
),
u3 AS (
  SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS gram
  FROM (SELECT doc_id, toks,
        unnest(generate_series(1, len(toks) - 2)) AS i FROM d)
),
s2 AS (SELECT doc_id,
  cast(count(*) - count(DISTINCT gram) AS double) / count(*) AS f2
  FROM u2 GROUP BY doc_id),
s3 AS (SELECT doc_id,
  cast(count(*) - count(DISTINCT gram) AS double) / count(*) AS f3
  FROM u3 GROUP BY doc_id)
SELECT d.doc_id, coalesce(s2.f2, 0.0) AS dup_2gram_frac,
  coalesce(s3.f3, 0.0) AS dup_3gram_frac
FROM d LEFT JOIN s2 USING (doc_id) LEFT JOIN s3 USING (doc_id)
"""


@register("doc_repetition", _REPETITION_ORACLE)
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load_table(spark, sf_dir, "documents")
    return text.with_repetition_stats(d).select(
        "doc_id", "dup_2gram_frac", "dup_3gram_frac"
    )


_DECONTAM_ORACLE = f"""
WITH d AS (SELECT doc_id, {_D_TOKS_GUARDED} AS toks FROM documents),
cg AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+12], ' ') AS gram
  FROM (SELECT doc_id, toks,
        unnest(generate_series(1, len(toks) - 12)) AS i FROM d)
),
bg AS (
  SELECT DISTINCT array_to_string(btoks[i:i+12], ' ') AS gram
  FROM (SELECT btoks, unnest(generate_series(1, len(btoks) - 12)) AS i
        FROM (SELECT toks[11:40] AS btoks FROM d WHERE doc_id % 50 = 0))
)
SELECT cg.doc_id, cast(count(*) AS bigint) AS n_shared_grams
FROM cg JOIN bg ON cg.gram = bg.gram
GROUP BY cg.doc_id
"""


@register("decontaminate_13gram", _DECONTAM_ORACLE)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        F.concat_ws(" ", F.slice(text.tokens_col("text"), 11, 30)).alias("text")
    )
    return text.ngram_decontaminate(d, bench, n=13)


# ---------------------------------------------------------------------
# Directional containment dedup (Broder containment |A∩B|/|A|): the
# quote/subset near-dup measure symmetric Jaccard misses.  Planted:
# every doc_id % 40 == 0 spawns a sub-document of its first 20 tokens
# at doc_id + 200000 — containment(sub ⊆ parent) == 1.0 while
# Jaccard(sub, parent) stays far below any dedup threshold.
# ---------------------------------------------------------------------

_CONTAINMENT_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, array_to_string(toks[1:20], ' ') AS text
  FROM (SELECT doc_id, {_D_TOKS} AS toks FROM documents)
  WHERE doc_id % 40 = 0
),
sh AS (
  SELECT DISTINCT doc_id, {_d_hash32('shingle')} AS sh_hash FROM (
    SELECT doc_id, unnest(
      CASE WHEN len(toks) >= 3 THEN
        list_transform(generate_series(1, len(toks) - 2),
                       i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
      ELSE [array_to_string(toks, ' ')] END) AS shingle
    FROM (SELECT doc_id, {_D_TOKS} AS toks FROM base)
  )
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
         count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh_hash = b.sh_hash AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.contained_id, p.container_id,
  round(cast(p.n_inter AS double) / sa.n_sh, 6) AS containment
FROM pairs p JOIN sizes sa ON sa.doc_id = p.contained_id
WHERE round(cast(p.n_inter AS double) / sa.n_sh, 6) >= 0.9
"""


@register("containment_dups", _CONTAINMENT_ORACLE)
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat_ws(" ", F.slice(text.tokens_col("text"), 1, 20)).alias("text"),
    )
    return dedup.containment_pairs(d.unionByName(planted), threshold=0.9)


# ---------------------------------------------------------------------
# llm_corpus_prep — the COMPOSED end-to-end corpus-preparation flagship
# (gfwspark/corpus.py): quality gate -> repetition gate -> exact dedup
# -> MinHash near-dedup -> 13-gram decontamination -> embargoed
# temporal split -> per-(split, source) token-budget packing, one
# DataFrame pipeline.  Every stage's failure mode is PLANTED so each
# gate is non-vacuous at sf0.01:
#   doc_id <  25        -> verbatim copy at +100000  (exact dedup)
#   doc_id % 100 == 0   -> punct junk at +300000     (quality gate)
#   doc_id % 100 == 1   -> 'spam'*40 at +400000      (repetition gate)
#   doc_id % 100 == 2   -> first-token-swapped copy at +500000
#                          (MinHash near-dedup; J ~ (n-5)/(n+1) >> 0.5)
#   doc_id % 50  == 0   -> its own token span 11..40 is the benchmark
#                          (decontamination)
# Ingestion ts is synthesized deterministically (doc_id hours), so the
# per-source embargoed split is reproducible in both engines.
# ---------------------------------------------------------------------

_CP_HORIZON_US = 100 * 3600 * 1_000_000
_CP_EMBARGO_US = 40 * 3600 * 1_000_000

# The WITH-chain is shared between the survivors oracle
# (llm_corpus_prep) and the stage-audit oracle (corpus_stage_audit):
# s1..s5 are the post-gate survivor sets, s6 the post-split set, p the
# packed output — so per-stage counts fall straight out of the chain.
_CORPUS_PREP_CTES = f"""
WITH base AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text, source
  FROM documents WHERE doc_id < 25
  UNION ALL
  SELECT doc_id + 300000 AS doc_id, txt AS text, source FROM (
    SELECT doc_id, '!!!! ;;;; ???? ' || cast(doc_id AS varchar) AS txt, source
    FROM documents WHERE doc_id % 100 = 0)
  UNION ALL
  SELECT doc_id + 400000 AS doc_id, txt AS text, source FROM (
    SELECT doc_id, repeat('spam ', 40) || cast(doc_id AS varchar) AS txt, source
    FROM documents WHERE doc_id % 100 = 1)
  UNION ALL
  SELECT doc_id + 500000 AS doc_id, txt AS text, source FROM (
    SELECT doc_id,
      CASE WHEN len(toks) > 1
        THEN 'NEARDUP ' || array_to_string(toks[2:len(toks)], ' ')
        ELSE 'NEARDUP' END AS txt,
      source
    FROM (SELECT doc_id, {_D_TOKS} AS toks, source FROM documents)
    WHERE doc_id % 100 = 2)
),
q AS (
  SELECT base.*,
    round(cast(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS double)
          / greatest(length(text), 1), 6) AS alpha_ratio,
    round(cast(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS double)
          / greatest(length(text), 1), 6) AS punct_ratio
  FROM base
),
s1 AS (
  SELECT doc_id, text, source,
    round(
      (CASE WHEN length(text) BETWEEN 20 AND 5000 THEN 1.0 ELSE 0.5 END)
      * least(1.0, alpha_ratio * 1.25)
      * (1.0 - least(1.0, punct_ratio * 5)), 6) AS quality
  FROM q
  WHERE round(
      (CASE WHEN length(text) BETWEEN 20 AND 5000 THEN 1.0 ELSE 0.5 END)
      * least(1.0, alpha_ratio * 1.25)
      * (1.0 - least(1.0, punct_ratio * 5)), 6) >= 0.999
),
t2 AS (SELECT doc_id, {_D_TOKS_GUARDED} AS toks FROM s1),
u2 AS (
  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram
  FROM (SELECT doc_id, toks,
        unnest(generate_series(1, len(toks) - 1)) AS i FROM t2)
),
r2 AS (SELECT doc_id,
  cast(count(*) - count(DISTINCT gram) AS double) / count(*) AS f2
  FROM u2 GROUP BY doc_id),
s2 AS (
  SELECT s1.*, coalesce(r2.f2, 0.0) AS dup_2gram_frac
  FROM s1 LEFT JOIN r2 USING (doc_id)
  WHERE coalesce(r2.f2, 0.0) <= 0.1
),
s3 AS (
  SELECT doc_id, text, source, quality, dup_2gram_frac FROM (
    SELECT s2.*, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM s2)
  WHERE rn = 1
),
t3 AS (SELECT doc_id, {_D_TOKS_GUARDED} AS toks FROM s3),
sh AS (
  SELECT DISTINCT doc_id, {_d_hash32('shingle')} AS sh_hash FROM (
    SELECT doc_id, unnest(
      CASE WHEN len(toks) >= 3 THEN
        list_transform(generate_series(1, len(toks) - 2),
                       i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
      ELSE [array_to_string(toks, ' ')] END) AS shingle
    FROM t3
  )
),
sig AS (SELECT doc_id, {_mh_exprs} FROM sh GROUP BY doc_id),
bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh_hash = sa.sh_hash
  GROUP BY c.doc_a, c.doc_b
),
dropb AS (
  SELECT DISTINCT i.doc_b AS doc_id
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE round(cast(i.n_inter AS double)
              / (sa.n_sh + sb.n_sh - i.n_inter), 6) >= 0.5
),
s4 AS (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM dropb)),
t4 AS (SELECT doc_id, {_D_TOKS_GUARDED} AS toks FROM s4),
cg AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+12], ' ') AS gram
  FROM (SELECT doc_id, toks,
        unnest(generate_series(1, len(toks) - 12)) AS i FROM t4)
),
bg AS (
  SELECT DISTINCT array_to_string(btoks[i:i+12], ' ') AS gram
  FROM (SELECT btoks, unnest(generate_series(1, len(btoks) - 12)) AS i
        FROM (SELECT toks[11:40] AS btoks
              FROM (SELECT doc_id, {_D_TOKS_GUARDED} AS toks FROM documents)
              WHERE doc_id % 50 = 0))
),
contam AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg USING (gram)),
s5 AS (SELECT * FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
m AS (
  SELECT s5.*, doc_id * 3600000000 AS t_us,
    max(doc_id * 3600000000) OVER (PARTITION BY source) - {_CP_HORIZON_US}
      AS cutoff_us
  FROM s5
),
s6 AS (
  SELECT doc_id, text, source, quality, dup_2gram_frac,
    CASE WHEN t_us > cutoff_us THEN 'val' ELSE 'train' END AS split
  FROM m
  WHERE t_us > cutoff_us OR t_us <= cutoff_us - {_CP_EMBARGO_US}
),
s7 AS (
  SELECT doc_id, source, quality, dup_2gram_frac, split,
    cast(len({_D_TOKS_GUARDED}) AS bigint) AS n_tokens
  FROM s6
),
p AS (
  SELECT s7.*,
    cast(sum(n_tokens) OVER (PARTITION BY split, source ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
      AS bigint) AS batch_start_offset
  FROM s7
)
"""

_CORPUS_PREP_ORACLE = (
    _CORPUS_PREP_CTES
    + """
SELECT doc_id, source, quality, dup_2gram_frac, n_tokens, split,
  cast(floor(batch_start_offset / 512.0) AS bigint) AS batch_id,
  batch_start_offset
FROM p
"""
)

# Per-stage attrition accounting over the same chain; stage names must
# match gfwspark.corpus.STAGES.  Packing (stage 7) drops nothing by
# construction — its row makes that auditable instead of assumed.
#
# AS MATERIALIZED on every CTE: the 8 per-stage counts each reference
# the chain's suffix, and DuckDB's default inline-per-reference
# planning re-expands the (already self-referencing) dedup subtrees
# once PER COUNT — combinatorial blowup that turns a 2.4 s chain into
# minutes.  Materialization makes each stage evaluate exactly once,
# as on the Spark side, where one inline Observation per stage counts
# its rows in the pipeline's own jobs.
_CORPUS_AUDIT_ORACLE = (
    _CORPUS_PREP_CTES.replace(" AS (", " AS MATERIALIZED (")
    + """
, c AS (
  SELECT
    (SELECT count(*) FROM base) AS n0,
    (SELECT count(*) FROM s1) AS n1,
    (SELECT count(*) FROM s2) AS n2,
    (SELECT count(*) FROM s3) AS n3,
    (SELECT count(*) FROM s4) AS n4,
    (SELECT count(*) FROM s5) AS n5,
    (SELECT count(*) FROM s6) AS n6,
    (SELECT count(*) FROM p) AS n7
)
SELECT stage_idx, stage,
  cast(rows_in AS bigint) AS rows_in,
  cast(rows_out AS bigint) AS rows_out,
  cast(rows_in - rows_out AS bigint) AS dropped
FROM (
  SELECT cast(1 AS integer) AS stage_idx, 'quality_gate' AS stage,
         n0 AS rows_in, n1 AS rows_out FROM c
  UNION ALL SELECT 2, 'repetition_gate', n1, n2 FROM c
  UNION ALL SELECT 3, 'exact_dedup', n2, n3 FROM c
  UNION ALL SELECT 4, 'minhash_near_dedup', n3, n4 FROM c
  UNION ALL SELECT 5, 'decontaminate', n4, n5 FROM c
  UNION ALL SELECT 6, 'temporal_split_embargo', n5, n6 FROM c
  UNION ALL SELECT 7, 'token_budget_pack', n6, n7 FROM c
)
"""
)


def _corpus_prep_inputs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(base, benchmark) with the planted per-stage failures — shared
    by the survivors query and the stage-audit query so both run the
    identical pipeline input."""
    d = tables.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    toks = text.tokens_col("text")
    copies = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "source"
    )
    junk = d.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(F.lit("!!!! ;;;; ???? "), F.col("doc_id").cast("string")).alias(
            "text"
        ),
        "source",
    )
    spammy = d.filter(F.col("doc_id") % 100 == 1).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.concat(F.repeat(F.lit("spam "), 40), F.col("doc_id").cast("string")).alias(
            "text"
        ),
        "source",
    )
    near = d.filter(F.col("doc_id") % 100 == 2).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.when(
            F.size(toks) > 1,
            F.concat(
                F.lit("NEARDUP "),
                F.concat_ws(" ", F.slice(toks, 2, 2147483000)),
            ),
        ).otherwise(F.lit("NEARDUP")).alias("text"),
        "source",
    )
    base = (
        d.unionByName(copies)
        .unionByName(junk)
        .unionByName(spammy)
        .unionByName(near)
        .withColumn(
            "ts", F.timestamp_micros(F.col("doc_id") * F.lit(3_600_000_000))
        )
    )
    bench = d.filter(F.col("doc_id") % 50 == 0).select(
        F.concat_ws(" ", F.slice(toks, 11, 30)).alias("text")
    )
    return base, bench


@register("llm_corpus_prep", _CORPUS_PREP_ORACLE)
def q_llm_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gfwspark import corpus

    base, bench = _corpus_prep_inputs(spark, sf_dir)
    # materialize_survivors: the production configuration — the
    # survivor frame feeds four branches (see corpus.prepare_corpus)
    return corpus.prepare_corpus(base, bench, materialize_survivors=True)


@register("corpus_stage_audit", _CORPUS_AUDIT_ORACLE)
def q_corpus_stage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage data-loss accounting of the corpus-prep pipeline as a
    first-class frame (stage_idx, stage, rows_in, rows_out, dropped) —
    every planted-failure family makes its stage's `dropped` non-zero,
    so the audit itself is oracle-checked non-vacuously."""
    from gfwspark import corpus

    base, bench = _corpus_prep_inputs(spark, sf_dir)
    return corpus.prepare_corpus_audit(base, bench)


# ---------------------------------------------------------------------
# Storage-maintenance round-trips, driver-surfaced: the upsert sink and
# the compaction rewrite run FOR REAL against a scratch parquet table
# on every invocation, and the query returns the READ-BACK rows — so
# the oracle (pure SQL over the source table) checks the on-disk
# result of the full write -> merge -> rewrite cycle, not a simulation.
#   upsert_roundtrip: seed table = events; batch updates value+1000 on
#     event_id % 10 == 0 and inserts event_id + 1000000 copies of
#     event_id % 100 == 0; expected state is closed-form over events.
#   compact_roundtrip: fragment events into 64 files, compact to the
#     byte-sized target, return the read-back rows + real file count.
# ---------------------------------------------------------------------

_UPSERT_RT_ORACLE = """
SELECT event_id, user_id,
  CASE WHEN event_id % 10 = 0 THEN value + 1000.0 ELSE value END AS val
FROM events
UNION ALL
SELECT event_id + 1000000 AS event_id, user_id, -1.0 AS val
FROM events WHERE event_id % 100 = 0
"""


@register("upsert_roundtrip", _UPSERT_RT_ORACLE)
def q_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from gfwspark import sources

    ev = tables.load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("value").alias("val")
    )
    path = tempfile.mkdtemp(prefix="gfw_upsert_rt_")
    shutil.rmtree(path)  # the sink owns the directory lifecycle
    try:
        sources.upsert_partitioned(spark, ev, path, keys=["event_id"], entity="user_id")
        updates = ev.filter(F.col("event_id") % 10 == 0).withColumn(
            "val", F.col("val") + 1000.0
        )
        inserts = ev.filter(F.col("event_id") % 100 == 0).select(
            (F.col("event_id") + 1000000).alias("event_id"),
            "user_id",
            F.lit(-1.0).alias("val"),
        )
        sources.upsert_partitioned(
            spark, updates.unionByName(inserts), path, keys=["event_id"],
            entity="user_id",
        )
        out = spark.read.parquet(path).select("event_id", "user_id", "val")
        # the scratch table is deleted below; materialize before return
        return spark.createDataFrame(_gate_scale_pandas(out))
    finally:
        shutil.rmtree(path, ignore_errors=True)


_COMPACT_RT_ORACLE = """
SELECT event_id, user_id, value, cast(1 AS bigint) AS n_files FROM events
"""


@register("compact_roundtrip", _COMPACT_RT_ORACLE)
def q_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from gfwspark import sources

    ev = tables.load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    path = tempfile.mkdtemp(prefix="gfw_compact_rt_")
    shutil.rmtree(path)
    try:
        ev.repartition(64).write.parquet(path)
        r = sources.compact_table(
            spark, path, target_mb=1024, sort_cols=["user_id", "event_id"]
        )
        out = spark.read.parquet(path).withColumn(
            "n_files", F.lit(int(r["files_after"])).cast("long")
        )
        return spark.createDataFrame(_gate_scale_pandas(out))
    finally:
        shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------
# PII scrub (text.scrub_pii): per-row regex redaction counts + the
# redacted text.  PII strings are PLANTED (doc_id % 30 == 0 gets an
# email, two phone formats, and an IPv4 appended) since the synthetic
# corpus contains none.  Patterns live in text.PII_PATTERNS, in the
# common Java-regex / RE2 / DuckDB-RE2 subset, applied in fixed order;
# counts are taken on the original text.
# ---------------------------------------------------------------------

_PII_SQL_TMPL = """
WITH base AS (
  SELECT doc_id,
    CASE WHEN doc_id % 30 = 0
      THEN text || ' reach user' || cast(doc_id AS varchar)
           || '@mail.example.com or call 555-867-5309 / 555 123 4567,'
           || ' host 10.0.' || cast(doc_id % 256 AS varchar) || '.77'
      ELSE text END AS text
  FROM documents
)
SELECT doc_id,
  cast(len(regexp_extract_all(text, '@EMAIL@')) AS int) AS n_email,
  cast(len(regexp_extract_all(text, '@PHONE@')) AS int) AS n_phone,
  cast(len(regexp_extract_all(text, '@IPV4@')) AS int) AS n_ipv4,
  regexp_replace(
    regexp_replace(
      regexp_replace(text, '@EMAIL@', '<EMAIL>', 'g'),
      '@PHONE@', '<PHONE>', 'g'),
    '@IPV4@', '<IP>', 'g') AS scrubbed
FROM base
"""

_PII_ORACLE = (
    _PII_SQL_TMPL.replace("@EMAIL@", text.PII_PATTERNS[0][1])
    .replace("@PHONE@", text.PII_PATTERNS[1][1])
    .replace("@IPV4@", text.PII_PATTERNS[2][1])
)


@register("pii_scrub", _PII_ORACLE)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = F.concat(
        F.col("text"),
        F.lit(" reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call 555-867-5309 / 555 123 4567, host 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".77"),
    )
    d = d.withColumn(
        "text", F.when(F.col("doc_id") % 30 == 0, planted).otherwise(F.col("text"))
    )
    out = text.scrub_pii(d)
    return out.select(
        "doc_id",
        F.col("n_email").cast("int").alias("n_email"),
        F.col("n_phone").cast("int").alias("n_phone"),
        F.col("n_ipv4").cast("int").alias("n_ipv4"),
        "scrubbed",
    )


# ---------------------------------------------------------------------
# Model-based quality filter: full-batch logistic-regression training
# (classify.logreg_fit, 2 GD iterations) on doc-stat features, plus
# the trained model's accuracy — the iterative-algorithm sibling of
# kmeans_refine, oracle-unrolled the same way.  Features: alpha_ratio,
# punct_ratio (round-6 doubles from the quality pass), n_tokens/100;
# label: long doc (>= 60 tokens).  Every sigmoid is round(6) with z
# clipped to [-30,30] before exp; every gradient sum routes through
# decimal(20,12); weights re-round to 6 each step — so two unrolled
# SQL iterations reproduce the distributed fit bit-for-bit.
# ---------------------------------------------------------------------

_LR_FEATS = f"""
SELECT
  round(cast(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS double)
        / greatest(length(text), 1), 6) AS x_alpha,
  round(cast(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS double)
        / greatest(length(text), 1), 6) AS x_punct,
  round(cast(len({_D_TOKS_GUARDED}) AS double) / 100.0, 6) AS x_ntok,
  CASE WHEN len({_D_TOKS_GUARDED}) >= 60 THEN 1.0 ELSE 0.0 END AS y
FROM documents
"""


def _lr_sig(z: str) -> str:
    return f"round(1.0 / (1.0 + exp(-greatest(-30.0, least(30.0, {z})))), 6)"


_LOGREG_ORACLE = f"""
WITH feats AS ({_LR_FEATS}),
g1 AS (
  SELECT count(*) AS n,
    sum(cast(round(x_alpha * (y - 0.5), 6) AS decimal(20,12))) AS ga,
    sum(cast(round(x_punct * (y - 0.5), 6) AS decimal(20,12))) AS gp,
    sum(cast(round(x_ntok  * (y - 0.5), 6) AS decimal(20,12))) AS gt,
    sum(cast(round(y - 0.5, 6)            AS decimal(20,12))) AS gb
  FROM feats
),
w1 AS (
  SELECT n,
    round(round(cast(ga AS double) / n, 6), 6) AS wa,
    round(round(cast(gp AS double) / n, 6), 6) AS wp,
    round(round(cast(gt AS double) / n, 6), 6) AS wt,
    round(round(cast(gb AS double) / n, 6), 6) AS b
  FROM g1
),
p2 AS (
  SELECT f.*, w1.n, w1.wa, w1.wp, w1.wt, w1.b,
    {_lr_sig("round(w1.b + w1.wa * f.x_alpha + w1.wp * f.x_punct + w1.wt * f.x_ntok, 6)")} AS p
  FROM feats f CROSS JOIN w1
),
g2 AS (
  SELECT any_value(n) AS n, any_value(wa) AS wa, any_value(wp) AS wp,
    any_value(wt) AS wt, any_value(b) AS b,
    sum(cast(round(x_alpha * (y - p), 6) AS decimal(20,12))) AS ga,
    sum(cast(round(x_punct * (y - p), 6) AS decimal(20,12))) AS gp,
    sum(cast(round(x_ntok  * (y - p), 6) AS decimal(20,12))) AS gt,
    sum(cast(round(y - p, 6)            AS decimal(20,12))) AS gb
  FROM p2
),
w2 AS (
  SELECT n,
    round(wa + round(cast(ga AS double) / n, 6), 6) AS wa,
    round(wp + round(cast(gp AS double) / n, 6), 6) AS wp,
    round(wt + round(cast(gt AS double) / n, 6), 6) AS wt,
    round(b  + round(cast(gb AS double) / n, 6), 6) AS b
  FROM g2
),
acc AS (
  SELECT round(cast(sum(CASE WHEN
      ({_lr_sig("round(w2.b + w2.wa * f.x_alpha + w2.wp * f.x_punct + w2.wt * f.x_ntok, 6)")} >= 0.5)
      = (f.y = 1.0) THEN 1 ELSE 0 END) AS double) / any_value(w2.n), 6) AS a
  FROM feats f CROSS JOIN w2
)
SELECT 'accuracy' AS coef, a AS value FROM acc
UNION ALL SELECT 'bias', b FROM w2
UNION ALL SELECT 'w_alpha', wa FROM w2
UNION ALL SELECT 'w_ntok', wt FROM w2
UNION ALL SELECT 'w_punct', wp FROM w2
"""


@register("quality_classifier", _LOGREG_ORACLE)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gfwspark import classify

    d = tables.load_table(spark, sf_dir, "documents")
    n_tok = F.size(text.tokens_col("text"))
    feats = text.with_quality_score(d).select(
        F.col("alpha_ratio").alias("x_alpha"),
        F.col("punct_ratio").alias("x_punct"),
        F.round(n_tok.cast("double") / 100.0, 6).alias("x_ntok"),
        F.when(n_tok >= 60, F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
    )
    w, b = classify.logreg_fit(
        feats, ["x_alpha", "x_punct", "x_ntok"], "y", n_iter=2
    )
    scored = classify.logreg_score(feats, w, b)
    acc = scored.agg(
        F.round(
            F.sum(
                F.when(
                    (F.col("p_quality") >= 0.5) == (F.col("y") == 1.0), 1
                ).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("a")
    ).first()["a"]
    rows = [
        ("accuracy", float(acc)),
        ("bias", float(b)),
        ("w_alpha", float(w["x_alpha"])),
        ("w_ntok", float(w["x_ntok"])),
        ("w_punct", float(w["x_punct"])),
    ]
    return spark.createDataFrame(rows, "coef string, value double")


# ---------------------------------------------------------------------
# int8 affine quantization for vector search (similarity.quantization_
# params / quantize_embeddings / dequantize_col): per-dim (min, scale)
# from one posexplode pass, q = clamp(round((v-mn)/sc), 0, 255) stored
# 4x smaller; ANN runs on the dequantized reconstruction.  The oracle
# recomputes params, quantization, reconstruction, and the top-k
# end-to-end in SQL.
# ---------------------------------------------------------------------

_Q8_DQ = (
    "list_transform(generate_series(1, len({e})), "
    "i -> p.mns[i] + least(255.0, greatest(0.0, "
    "round(({e}[i]::DOUBLE - p.mns[i]) / p.scs[i]))) * p.scs[i])"
)

# quantize -> reconstruct chain shared by the brute-force int8 oracle
# and the int8-IVF one: dq = (vec_id, dv double[]) is the dequantized
# reconstruction every downstream stage runs on.
_Q8_CTES = f"""ex AS (
  SELECT vec_id, i, embedding[i]::DOUBLE AS v
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
),
pp AS (
  SELECT i, round(min(v), 6) AS mn,
    greatest(round((round(max(v), 6) - round(min(v), 6)) / 255.0, 6), 0.000001)
      AS sc
  FROM ex GROUP BY i
),
p AS (SELECT list(mn ORDER BY i) AS mns, list(sc ORDER BY i) AS scs FROM pp),
dq AS (
  SELECT vec_id, {_Q8_DQ.format(e='embedding')} AS dv
  FROM embeddings CROSS JOIN p
)"""

_INT8_TOPK_ORACLE = f"""
WITH {_Q8_CTES},
q AS (SELECT vec_id AS q_id, dv AS q_dv FROM dq WHERE vec_id < 10),
scored AS (
  SELECT q.q_id, c.vec_id,
    round({_d_dot('c.dv', 'q.q_dv')}
          / ({_d_norm('c.dv')} * {_d_norm('q.q_dv')}), 6) AS cosine
  FROM dq c CROSS JOIN q
  WHERE c.vec_id <> q.q_id
),
r AS (
  SELECT q_id, vec_id, cosine,
    cast(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS int) AS rank
  FROM scored
)
SELECT q_id, vec_id, cosine, rank FROM r WHERE rank <= 5
"""


@register("ann_int8_topk", _INT8_TOPK_ORACLE)
def q_ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load_table(spark, sf_dir, "embeddings")
    mins, scales = similarity.quantization_params(emb, dim=_EMB_DIM)
    qz = similarity.quantize_embeddings(emb, mins, scales).select(
        "vec_id", similarity.dequantize_col(mins, scales).alias("embedding")
    )
    q = qz.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.brute_force_topk(qz, q, k=5)


# ---------------------------------------------------------------------
# The production 100-TB ANN shape, end-to-end: int8 inverted lists AT
# REST.  quantization_params -> quantize_embeddings -> kmeans_fit on
# the dequantized reconstruction (what the at-rest data can reproduce)
# -> ivf_write storing ONLY the smallint vectors, cid-partitioned ->
# probe the persisted lists through partition pruning -> dequantize ->
# exact cosine re-rank.  The query runs the REAL write to a scratch
# dir each invocation (the read-back path is the one measured), and
# the oracle recomputes quantization + 2-iteration Lloyd + assignment
# + probe + re-rank entirely in SQL.  Output is bounded at k x |Q|
# rows, so the pre-cleanup materialization is scale-safe.
# ---------------------------------------------------------------------

_IVF_INT8_ORACLE = f"""
WITH {_Q8_CTES},
{_kmeans_ctes("SELECT vec_id, dv AS v FROM dq")},
kcent AS (
  SELECT c1.cid, list(coalesce(m2.val, c1.val) ORDER BY c1.pos) AS c_vec
  FROM c1 LEFT JOIN m2 ON m2.cid = c1.cid AND m2.pos = c1.pos
  GROUP BY c1.cid
),
asg AS (
  SELECT vec_id, dv, cid FROM (
    SELECT e.vec_id, e.dv, k.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        round({_d_dot('e.dv', 'k.c_vec')}
              / ({_d_norm('e.dv')} * {_d_norm('k.c_vec')}), 6) DESC, k.cid) AS rnk
    FROM dq e CROSS JOIN kcent k
  ) WHERE rnk = 1
),
qprob AS (
  SELECT q_id, q_dv, cid FROM (
    SELECT q.vec_id AS q_id, q.dv AS q_dv, k.cid,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        round({_d_dot('q.dv', 'k.c_vec')}
              / ({_d_norm('q.dv')} * {_d_norm('k.c_vec')}), 6) DESC, k.cid) AS pr
    FROM dq q CROSS JOIN kcent k WHERE q.vec_id < 10
  ) WHERE pr <= {_IVT_NPROBE}
),
scored AS (
  SELECT p.q_id, a.vec_id,
    round({_d_dot('a.dv', 'p.q_dv')}
          / ({_d_norm('a.dv')} * {_d_norm('p.q_dv')}), 6) AS cosine
  FROM asg a JOIN qprob p ON a.cid = p.cid AND a.vec_id <> p.q_id
),
r AS (
  SELECT q_id, vec_id, cosine,
    cast(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS int) AS rank
  FROM scored
)
SELECT q_id, vec_id, cosine, rank FROM r WHERE rank <= 5
"""


@register("ann_ivf_int8", _IVF_INT8_ORACLE)
def q_ann_ivf_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    emb = tables.load_table(spark, sf_dir, "embeddings")
    mins, scales = similarity.quantization_params(emb, dim=_EMB_DIM)
    dq = similarity.quantize_embeddings(emb, mins, scales).select(
        "vec_id",
        "q_embedding",
        similarity.dequantize_col(mins, scales).alias("embedding"),
    )
    cent = similarity.kmeans_fit(dq, k=_KM_K, n_iter=2)
    q = dq.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    scratch = tempfile.mkdtemp(prefix="gfw_ivf_int8_")
    try:
        path = scratch + "/lists"
        similarity.ivf_write(dq, cent, path, store_cols=["q_embedding"])
        out = similarity.ivf_topk_at_rest(
            spark,
            path,
            q,
            cent,
            k=5,
            n_probe=_IVT_NPROBE,
            list_vec=similarity.dequantize_col(mins, scales),
        )
        # materialize the (<= k x |Q|)-row result before the scratch
        # lists vanish
        return spark.createDataFrame(out.toPandas(), schema=out.schema)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
