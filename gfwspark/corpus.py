"""End-to-end LLM training-corpus preparation: the composed pipeline
the individual text/dedup/split/pack operators exist for.

Stage order (the public web-corpus recipe — C4/MassiveText/The Pile
lineage, each stage an already-oracled operator in this engine):

1. quality gate        — text.with_quality_score       (length/alpha/punct)
2. repetition gate     — text.with_repetition_stats    (Gopher dup-ngram)
3. exact dedup         — md5(text) keep-min-id         (dedup_exact form)
4. near dedup          — dedup.minhash_near_dups       (MinHash-LSH + exact
                         Jaccard verify; drop the GREATER id of each pair)
5. decontamination     — text.ngram_decontaminate      (13-gram collision)
6. temporal split      — sources.temporal_split_embargo (purged/embargoed)
7. batch packing       — sources.pack_token_budget_batches per
                         (split, entity) composite key

Cheap row-local gates run FIRST so the shuffle-bearing stages (3-5)
see the smallest possible corpus; the split runs after dedup so a
val-set document can't survive via a train-set duplicate (that is
itself a leakage channel: near-identical train/val rows).

Scale shape: stages 1-2 are map-side only.  Stage 3 is one shuffle on
the content hash.  Stages 4-5 shuffle on shingle/gram keys (explode
widths bounded by token counts; the LSH band join is linear in bucket
collisions).  Stages 6-7 share ONE (entity)-clustered exchange: the
split's window partitions by entity and the packer by (split, entity)
— a subset-keyed window over an already entity-partitioned frame needs
no new exchange... but (split, entity) is NOT a subset of (entity)
hash-clustering's guarantee in Spark's required-distribution model, so
the plan test pins the observed exchange count instead of assuming.

Reference parity: this composes the same prepare-then-featurize data
flow as the reference's pipeline stages (vessel-classification
pipe_features' filter -> dedup -> split -> write flow); semantics per
stage are cited in each operator's own docstring.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, Window

from gfwspark import dedup, sources, text
from gfwspark.util import observed_rows, release

#: (stage_idx, stage_name) in pipeline order — the audit vocabulary.
STAGES: tuple[tuple[int, str], ...] = (
    (1, "quality_gate"),
    (2, "repetition_gate"),
    (3, "exact_dedup"),
    (4, "minhash_near_dedup"),
    (5, "decontaminate"),
    (6, "temporal_split_embargo"),
    (7, "token_budget_pack"),
)


def _pipeline(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    entity: str,
    ts: str,
    quality_min: float,
    max_dup_2gram: float,
    near_dup_threshold: float,
    decontam_n: int,
    horizon_s: int,
    embargo_s: int,
    token_budget: int,
    materialize_survivors: bool,
) -> tuple[DataFrame, list[Observation]]:
    """The pipeline's final frame, beside 8 row-count Observations (the
    input, then each stage in STAGES order) inline in the chain: the
    first job to run a stage's rows, a survivor checkpoint or the final
    write, counts them."""
    obs: list[Observation] = []

    def _counted(d: DataFrame) -> DataFrame:
        obs.append(Observation())
        return d.observe(obs[-1], F.count(F.lit(1)).alias("n"))

    # 1-2: row-local quality + repetition gates (no shuffle beyond the
    # explode-parallelism repartition), both gate columns computed in
    # one projection and then filtered in stage order.
    # Gate barrier (materializing runs only): Catalyst pushes a filter
    # on a computed column below Exchanges all the way to the scan,
    # (a) re-deriving the gate expression inside the predicate — the
    # built-in analog of the guide's duplicated-UDF pushdown — and
    # (b) evaluating it at SCAN parallelism, which for a small-file
    # corpus is ONE task.  One localCheckpoint between computing the
    # gate columns and filtering on them pins the expensive expressions
    # to one evaluation at repartitioned parallelism (measured at
    # sf1.0: repetition gate 31 s -> ~3 s on local[32]).
    # dup_2gram_frac is evaluated on the (few) quality-rejected rows
    # too, but one checkpoint pass beats two; the audit's stage-1 and
    # stage-2 counts are two filters over the same block.  The quality
    # columns are computed on the repetition frame, so its one
    # explode-parallelism repartition serves both gates.
    d = text.with_repetition_stats(docs, text_col, ns=(2,))
    d = _counted(text.with_quality_score(d, text_col))
    if materialize_survivors:
        gate = d = d.localCheckpoint(eager=True)
    d = _counted(d.filter(F.col("quality") >= quality_min))
    d = _counted(d.filter(F.col("dup_2gram_frac") <= max_dup_2gram))
    # 3: exact dedup — keep the smallest id per content hash
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    d = _counted(
        d.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if materialize_survivors:
        # stage-3 output feeds 4 branches; nothing reads the gate frame
        # once it is materialized, so its blocks go now
        d = d.localCheckpoint(eager=True)
        release(gate)
    # 4: MinHash-LSH near dedup (exact-Jaccard verified) — drop doc_b.
    # Staged rather than via dedup.minhash_near_dups so the shingle
    # frame can share the materialization point: both consumers
    # (signatures, the verify's set-collect) would otherwise re-run
    # the tokenize+shingle+hash explode.  The stream stays RAW
    # (distinct=False): minhash min() is duplicate-insensitive and
    # jaccard_verify collects a SET, so the posting distinct and its
    # full-stream exchange are pure overhead here.
    sh = dedup.shingles(d, id_col=id_col, text_col=text_col, distinct=False)
    if materialize_survivors:
        sh = sh.localCheckpoint(eager=True)
    sig = dedup.minhash_signatures(sh, id_col=id_col)
    cand = dedup.lsh_candidates(sig, id_col=id_col)
    pairs = dedup.jaccard_verify(cand, sh, id_col=id_col, threshold=near_dup_threshold)
    drop_b = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    d = _counted(d.join(drop_b, id_col, "left_anti"))
    # 5: benchmark decontamination — drop any doc sharing an n-gram
    contaminated = text.ngram_decontaminate(
        d, benchmark, n=decontam_n, id_col=id_col, text_col=text_col
    ).select(id_col)
    d = _counted(d.join(contaminated, id_col, "left_anti"))
    # 6: leakage-free temporal split (drops the embargo band)
    d = sources.temporal_split_embargo(
        d, horizon_s=horizon_s, embargo_s=embargo_s, entity=entity, ts=ts
    )
    d = _counted(d)
    # 7: token counting + contiguous budget packing per (split, entity)
    d = d.withColumn("n_tokens", F.size(text.tokens_col(text_col)).cast("long"))
    d = sources.pack_token_budget_batches(
        d,
        "n_tokens",
        budget=token_budget,
        order_cols=[id_col],
        partition_col=["split", entity],
    )
    return _counted(d), obs


def prepare_corpus(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    entity: str = "source",
    ts: str = "ts",
    quality_min: float = 0.999,
    max_dup_2gram: float = 0.1,
    near_dup_threshold: float = 0.5,
    decontam_n: int = 13,
    horizon_s: int = 100 * 3600,
    embargo_s: int = 40 * 3600,
    token_budget: int = 512,
    materialize_survivors: bool = False,
) -> DataFrame:
    """Run the 7-stage corpus-prep pipeline; returns one row per
    SURVIVING document: (id, entity, quality, dup_2gram_frac,
    n_tokens, split, batch_id, batch_start_offset).

    ``benchmark`` is the evaluation-suite frame for decontamination
    (one text column named ``text``).  Near-dup semantics: from every
    verified pair (a < b), b is dropped — the deterministic keep-min
    greedy, not transitive-closure clustering (dedup.dedup_clusters
    does that when cluster identity itself is wanted).

    ``materialize_survivors``: the exact-dedup survivor frame feeds
    FOUR downstream branches (minhash pairs, its own anti-join,
    decontamination, the split) and Spark's column pruning makes each
    branch's subtree physically distinct, defeating ReuseExchange — so
    lazily each branch re-runs scan + gates + dedup window.  True
    localCheckpoints the gate frame, the survivor frame and the shingle
    stream once each (the survivor checkpoint alone buys back three
    full recomputes), and releases the gate frame's blocks once the
    survivors are materialized: the result holds 2 checkpoints.  Every
    production caller passes True: the ``llm_corpus_prep`` query,
    ``jobs/corpus_prep_job.py`` and the benchmark; the lazy default
    serves tests that compare the two forms or count the jobs a plan
    build starts."""
    out, _ = _pipeline(
        docs, benchmark, id_col, text_col, entity, ts, quality_min,
        max_dup_2gram, near_dup_threshold, decontam_n, horizon_s,
        embargo_s, token_budget, materialize_survivors,
    )
    return out.select(
        id_col,
        entity,
        "quality",
        "dup_2gram_frac",
        "n_tokens",
        "split",
        "batch_id",
        "batch_start_offset",
    )


def prepare_corpus_audit(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    entity: str = "source",
    ts: str = "ts",
    quality_min: float = 0.999,
    max_dup_2gram: float = 0.1,
    near_dup_threshold: float = 0.5,
    decontam_n: int = 13,
    horizon_s: int = 100 * 3600,
    embargo_s: int = 40 * 3600,
    token_budget: int = 512,
) -> DataFrame:
    """The pipeline's data-loss accounting as a first-class frame:
    one row per stage — (stage_idx int, stage string, rows_in long,
    rows_out long, dropped long) — so a 100-TB run's per-gate
    attrition is queryable/persistable rather than scraped from
    stdout.  Stage 7 (packing) drops nothing by construction; its row
    makes that auditable instead of assumed.

    Counting strategy: the stage Observations ride the pipeline's own
    jobs — the survivor checkpoints, then one noop write of the stage-7
    frame — so counting adds no job and no re-scan of any stage.  The
    7 rows are then built locally: the audit runs the pipeline when
    called and returns a frame over those rows."""
    out, obs = _pipeline(
        docs, benchmark, id_col, text_col, entity, ts, quality_min,
        max_dup_2gram, near_dup_threshold, decontam_n, horizon_s,
        embargo_s, token_budget, materialize_survivors=True,
    )
    out.write.format("noop").mode("overwrite").save()
    n = [observed_rows(o) for o in obs]
    return docs.sparkSession.createDataFrame(
        [(idx, name, n[idx - 1], n[idx], n[idx - 1] - n[idx]) for idx, name in STAGES],
        "stage_idx int, stage string, rows_in long, rows_out long, dropped long",
    )
