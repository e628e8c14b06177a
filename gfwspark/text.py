"""Text analysis for large-scale training-data pipelines.

All operators are built-in-function-only (JVM-side, codegen'd) except
where noted; each has a `queries()` entry with a DuckDB oracle.

- token counting: whitespace split + a BPE-ish subword regex count
- quality scoring: length / punctuation / stopword / uppercase ratios
- language ID: stopword-hit heuristic over a tiny per-language lexicon
  (broadcast join, no Python)
- document fingerprinting: rolling polynomial hash over tokens
  (expressed with aggregate() — stays in codegen)
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# tiny per-language stopword lexicons (public common words)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "den"],
    "fr": ["le", "la", "et", "les", "des", "est", "pas", "une", "dans", "que"],
    "es": ["el", "la", "de", "que", "los", "una", "es", "por", "con", "para"],
}

# rolling-hash modulus: 2^45 keeps acc*31 + 2^32 within int64 under ANSI
_FP_MOD = 1 << 45


def tokens_col(text_col: str = "text"):
    """Whitespace tokens of trimmed text; empty text → empty array."""
    t = F.trim(F.col(text_col))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def ensure_explode_parallelism(df: DataFrame, key: str | None = None) -> DataFrame:
    """Explosive operators (shingle/token explode: ~100-200x row
    multiplication) need parallelism sized for their OUTPUT, but scan
    splits are sized for INPUT bytes — a small/single-row-group file
    arrives as one task and the whole explode runs on one core.  A
    pre-explode repartition costs an input-proportional shuffle and
    buys output-proportional parallelism — at any scale the shuffle is
    <1% of the explode's downstream work.

    Target = max(defaultParallelism, spark.sql.shuffle.partitions):
    defaultParallelism alone undersizes under dynamic allocation, where
    the executor count at plan time is not the executor count at run
    time; shuffle.partitions is the operator-parallelism knob the rest
    of the plan already uses.

    Unconditional: reading the input's partition count would run every
    shuffle stage under it as a job on an adaptive plan.  So an input
    that is already wide pays the shuffle too: one wider than
    ``target`` (thousands of files at scale) is narrowed to the
    session's shuffle width, the width every downstream shuffle of
    these operators uses anyway; the price is the one input-sized
    shuffle above.

    ``key``: hash-partition by that column instead of round-robin, so a
    downstream groupBy/join on the same key reuses this one exchange
    (guide §2.4) — e.g. minhash_signatures' per-doc agg."""
    spark = df.sparkSession
    target = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
    )
    return df.repartition(target, F.col(key)) if key else df.repartition(target)


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + a BPE-ish subword count: greedy
    alphanumeric runs of length <= 4 approximate byte-pair segments
    (a cheap, deterministic proxy for tokenizer load estimation)."""
    return df.withColumn("n_tokens", F.size(tokens_col(text_col))).withColumn(
        "n_subwords",
        F.size(F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(r"[a-z0-9]{1,4}"), 0)),
    )


def token_hash32(col):
    """Shared 32-bit token hash: first 8 hex digits of md5, as bigint.
    Bit-identical in Spark (conv(substr(md5,1,8),16,10)) and DuckDB
    (('0x'||substr(md5,1,8))::bigint) — the cross-engine currency for
    minhash/simhash/fingerprints.  (The reference's stable_hash is the
    same shape: last 8 hex digits of blake2b, metadata.py:130-133.)"""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality in [0,1]: penalize very short or very
    long docs, high punctuation density, low alpha ratio.  All ratios
    are single IEEE divisions → oracle-exact."""
    length = F.length(F.col(text_col))
    alpha = F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z]", ""))
    punct = F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?]", ""))
    df = (
        df.withColumn("n_chars_actual", length.cast("bigint"))
        .withColumn(
            "alpha_ratio",
            F.round(alpha.cast("double") / F.greatest(length, F.lit(1)), 6),
        )
        .withColumn(
            "punct_ratio",
            F.round(punct.cast("double") / F.greatest(length, F.lit(1)), 6),
        )
    )
    len_ok = F.when((length >= 20) & (length <= 5000), F.lit(1.0)).otherwise(F.lit(0.5))
    return df.withColumn(
        "quality",
        F.round(
            len_ok
            * F.least(F.lit(1.0), F.col("alpha_ratio") * 1.25)
            * (F.lit(1.0) - F.least(F.lit(1.0), F.col("punct_ratio") * 5)),
            6,
        ),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit language ID: explode tokens, broadcast-join the
    lexicon, count hits per (doc, lang), keep argmax.  Ties break
    alphabetically; docs with zero hits → 'und'."""
    df = ensure_explode_parallelism(df)
    spark = df.sparkSession
    lex = spark.createDataFrame(
        [(w, lang) for lang, ws in STOPWORDS.items() for w in ws],
        "word string, cand_lang string",
    )
    toks = df.select(
        "doc_id", F.explode(tokens_col(text_col)).alias("word")
    ).withColumn("word", F.lower(F.regexp_replace("word", r"[^A-Za-z]", "")))
    hits = (
        toks.join(F.broadcast(lex), "word")
        .groupBy("doc_id", "cand_lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("hits").desc(), F.col("cand_lang"))
    best = (
        hits.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("cand_lang").alias("pred_lang"), "hits")
    )
    return df.join(best, "doc_id", "left").withColumn(
        "pred_lang", F.coalesce("pred_lang", F.lit("und"))
    ).withColumn("hits", F.coalesce("hits", F.lit(0)))


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Order-sensitive rolling token hash (document fingerprint):
    fp = fold(tokens, acc -> (acc*31 + hash32(token)) mod 2^45).
    Entirely in aggregate() — no Python, distribution-safe; the modulus
    keeps acc*31 + 2^32 < 2^51, ANSI-overflow-proof on both engines."""
    return df.withColumn(
        "fingerprint",
        F.aggregate(
            tokens_col(text_col),
            F.lit(0).cast("long"),
            lambda acc, x: (acc * 31 + token_hash32(x)) % F.lit(_FP_MOD),
        ),
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k terms per document by tf-idf (whitespace tokens,
    lowercased): score = tf * ln((N+1)/(df+1)), rounded to 6 on both
    engines; ties broken by token.  Corpus-scale shape: one explode
    (pre-repartitioned for output parallelism), tf via
    groupBy(doc, token), df via a second agg on token, the scalar N
    broadcast via a 1-row cross join — no driver-side collect, every
    join keyed or broadcast."""
    toks = ensure_explode_parallelism(df).select(
        id_col, F.explode(tokens_col(text_col)).alias("_tok")
    ).select(id_col, F.lower("_tok").alias("_tok"))
    tf = toks.groupBy(id_col, "_tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("_tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(
        F.count(F.lit(1)).cast("double").alias("_n_docs")
    )
    scored = (
        tf.join(dfreq, "_tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf").cast("double")
                * F.log((F.col("_n_docs") + 1.0) / (F.col("df").cast("double") + 1.0)),
                6,
            ),
        )
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("_tok").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            F.col("_tok").alias("token"),
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            "tfidf",
            "rank",
        )
    )


def ngrams_col(toks, n: int):
    """All word n-grams of a token array as space-joined strings, pure
    JVM: transform over a sequence of start offsets + slice.  Empty
    array when the document is shorter than n."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def with_repetition_stats(df: DataFrame, text_col: str = "text",
                          ns: tuple[int, ...] = (2, 3)) -> DataFrame:
    """Intra-document repetition metrics — the duplicate-n-gram
    fraction family of quality gates (the public Gopher/MassiveText
    repetition rules: a document whose text is dominated by repeated
    n-grams is boilerplate/spam and is filtered before training).

    For each n: dup_{n}gram_frac = 1 - distinct/total n-grams (0 when
    the doc has < n tokens).  The single IEEE division is bit-identical
    across engines (engine float policy) — no rounding needed.
    Everything is per-row array arithmetic: no shuffle beyond the
    parallelism repartition.

    Perf shape: the n-gram transform must appear ONCE per expression —
    Catalyst does not common-subexpression-eliminate nested
    higher-order functions, so `size(grams)` + `array_distinct(grams)`
    + a guard referencing grams evaluates the whole transform three
    times (measured 13 s -> 0.8 s at sf0.1 for the single-reference
    form).  The total n-gram count is free arithmetic
    (size(toks) - n + 1), so only the distinct count touches the
    array.  ensure_explode_parallelism first: a single-row-group
    parquet scan otherwise runs every per-row transform on one core."""
    df = ensure_explode_parallelism(df)
    t = tokens_col(text_col)
    out = df
    for n in ns:
        total = F.greatest(F.size(t) - (n - 1), F.lit(0))
        # r7: count distinct n-grams as STRUCTS of the n token slices
        # (arrays_zip of n shifted slices) instead of building a
        # space-joined string per gram — identical counts (whitespace
        # tokens cannot collide across a join boundary) without one
        # string allocation per position; measured 2.07 s -> 0.67 s at
        # sf1.0 for the n=2 gate projection.
        cnt = F.size(t) - (n - 1)
        fields = ",".join(f"`{i}`:string" for i in range(n))
        grams = F.when(
            F.size(t) >= n,
            F.arrays_zip(*[F.slice(t, i + 1, cnt) for i in range(n)]),
        ).otherwise(F.array().cast(f"array<struct<{fields}>>"))
        distinct = F.size(F.array_distinct(grams))
        out = out.withColumn(
            f"dup_{n}gram_frac",
            F.when(
                total > 0,
                (total - distinct).cast("double") / total.cast("double"),
            ).otherwise(F.lit(0.0)),
        )
    return out


def ngram_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination by exact n-gram collision — the
    public method (GPT-3 appendix C / The Pile / most open LLM data
    pipelines): a training document is CONTAMINATED if it shares any
    verbatim 13-gram with an evaluation benchmark.

    Returns (doc_id, n_shared_grams) for contaminated docs only —
    n_shared_grams = how many DISTINCT benchmark n-grams the doc
    contains (the triage signal: 1 collision is a coincidence
    candidate, dozens mean verbatim inclusion).

    Scale shape: the corpus side explodes to (id, gram) rows and is
    SEMI-JOINED BEFORE any distinct — the benchmark side is tiny next
    to a training corpus, so Catalyst broadcasts it and the semi join
    runs map-side; only the matched grams (a sliver of the corpus)
    ever shuffle, for the per-doc distinct+count.  The reverse order
    (distinct first) shuffles every corpus gram — the whole corpus's
    token stream × n — before the filter.  The join key is the raw
    gram string for oracle transparency; at extreme scale hash it
    first (text.token_hash32) so matched rows carry 8 bytes."""
    c = ensure_explode_parallelism(corpus).select(
        F.col(id_col), F.explode(ngrams_col(tokens_col(text_col), n)).alias("gram")
    )
    b = benchmark.select(
        F.explode(ngrams_col(tokens_col(bench_text_col), n)).alias("gram")
    ).distinct()
    return (
        c.join(F.broadcast(b), "gram", "left_semi")
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
    )


# ordered PII patterns: email first (its local part could otherwise be
# chewed up by a later pattern), then phone, then IPv4.  Patterns stay
# in the common Java-regex / RE2 subset (no lookaround, no \b-adjacent
# quirks) so Spark and an ANSI-SQL oracle match byte-for-byte.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}", "<PHONE>"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
)


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction — the public corpus-prep scrub pass (C4 removed
    lines with certain tokens; most open pipelines regex-redact
    emails/phones/IPs before training).  Adds per-row match counts
    (n_email / n_phone / n_ipv4) and `scrubbed`, the text with each
    match replaced by its placeholder, in the fixed PII_PATTERNS
    order.  Pure per-row regex — map-side only, no shuffle, sits in
    whole-stage codegen; counts are taken BEFORE any replacement so a
    later pattern never counts a placeholder fragment."""
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pat)).alias(f"n_{name}")
        for name, pat, _repl in PII_PATTERNS
    ]
    scrubbed = F.col(text_col)
    for _name, pat, repl in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return df.select("*", *counts, scrubbed.alias("scrubbed"))
