"""Windowed featurization: backfill, lag/lead, sliding/tumbling windows.

Maps the reference's window kernels (SURVEY.md §2.5) onto Spark Window
specs where SQL can express them, and onto Arrow grouped-map kernels
where it can't (repeat-pad, alignment padding):

- W1  sliding fixed-count windows with stride  → stride_blocks → shared
                                                 anchor stage → assemble
                                                 (or zero-copy refs)
- W2  edge backfill (repeat first/last row)    → closed-form source-row
                                                 join (aligned_windows)
- W5  repeat-pad of short series               → applyInPandas kernel
- W7  month-grid sliding time ranges           → month grid + interval join
- W9  sessionization                           → see sessionize.py
- W11 tumbling windows                         → date_trunc / F.window
- W12 per-window ts bounds                     → win_start_ts/win_end_ts of
                                                 every W1 form (endpoint
                                                 element_at, _ts_at)

All frames are backward-only (rowsBetween(-k, 0)) — zero temporal
leakage by construction (north rule).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, Window

from gfwspark.util import entity_time_window, observed_rows, release


def with_lag_lead(
    df: DataFrame,
    cols: list[str],
    entity: str = "image_id",
    ts: str = "ts",
    order_tiebreak: str | None = None,
    lags: tuple[int, ...] = (1,),
    leads: tuple[int, ...] = (),
) -> DataFrame:
    """lag/lead of `cols` over the per-entity time order.

    Ties in ts are broken by `order_tiebreak` so results are
    deterministic at any partition count (SURVEY.md §7 determinism).
    Leads look forward: only for label/target construction, never
    features (documented leakage boundary).
    """
    w = entity_time_window(entity, ts, order_tiebreak)
    out = df
    for c in cols:
        for k in lags:
            out = out.withColumn(f"{c}_lag{k}", F.lag(c, k).over(w))
        for k in leads:
            out = out.withColumn(f"{c}_lead{k}", F.lead(c, k).over(w))
    return out


def with_sliding_agg(
    df: DataFrame,
    agg_col: str,
    window_size: int,
    entity: str = "image_id",
    ts: str = "ts",
    order_tiebreak: str | None = None,
    aggs: tuple[str, ...] = ("avg", "min", "max", "count"),
    prefix: str | None = None,
) -> DataFrame:
    """Backward sliding fixed-count aggregates: frame [-(w-1), 0].

    The SQL analog of W1's window extraction when the downstream
    consumer wants per-point statistics rather than materialized
    windows.  Whole-stage-codegen'd; one shuffle on entity.
    """
    w = entity_time_window(entity, ts, order_tiebreak).rowsBetween(-(window_size - 1), 0)
    p = prefix or f"{agg_col}_w{window_size}"
    fns = {"avg": F.avg, "min": F.min, "max": F.max, "sum": F.sum,
           "count": F.count, "stddev": F.stddev}
    out = df
    for a in aggs:
        out = out.withColumn(f"{p}_{a}", fns[a](agg_col).over(w))
    return out


def with_sliding_agg_large(
    df: DataFrame,
    agg_col: str,
    window_size: int,
    entity: str = "image_id",
    ts: str = "ts",
    order_tiebreak: str | None = None,
    prefix: str | None = None,
    with_var: bool = False,
) -> DataFrame:
    """O(n) large-window sliding sum/count/avg (and optional population
    variance/stddev) via running-sum difference:
    frame_sum[i] = cumsum[i] - cumsum[i - W];
    variance = E[x^2] - E[x]^2 from a second running sum of squares.

    Spark evaluates a bounded rowsBetween frame by re-aggregating the
    frame PER ROW — O(W) per row, so the naive with_sliding_agg at the
    reference's production geometry (window_max_points = 12800,
    vessel_characterization.py:59-69) does ~12,800x more work than
    this difference form, which is two O(n) window passes over one
    entity hashpartitioning.  Exactness: the running sum is carried in
    decimal(38,6), so the subtraction is exact and order-independent
    (a float cumsum would drift and break oracle bit-parity); count is
    null-aware (difference of running non-null counts).  The variance
    is the normalization statistic of the reference's feature scaling
    (run_training.py:26-40) in leakage-free trailing-window form;
    E[x^2]-E[x]^2 is computed from exact decimal sums rounded to 6
    decimals (engine float policy), so catastrophic cancellation of a
    float cumsum never enters.

    Precision contract: inputs are QUANTIZED to 6 decimal digits by
    the decimal(38,6) cast before summing — the engine-wide float
    policy (and what the DuckDB oracle computes).  Equality with the
    naive with_sliding_agg therefore holds exactly for values
    representable in 6 decimals (ints, fixed-point measurements);
    values with |x| < 1e-6 or more than 6 fractional digits diverge
    by the quantization error.  Min/max need order statistics that
    have no difference form — at big W use chunked_time_range_agg's
    two-stack kernel instead."""
    w_row = entity_time_window(entity, ts, order_tiebreak)
    w_cum = w_row.rowsBetween(Window.unboundedPreceding, 0)
    p = prefix or f"{agg_col}_W{window_size}"
    dec = "decimal(38,6)"
    out = (
        df.withColumn("_cum", F.sum(F.col(agg_col).cast(dec)).over(w_cum))
        .withColumn("_ccnt", F.count(agg_col).over(w_cum))
        .withColumn(
            "_s",
            F.col("_cum")
            - F.coalesce(
                F.lag("_cum", window_size).over(w_row), F.lit(0).cast(dec)
            ),
        )
        .withColumn(
            f"{p}_cnt",
            (
                F.col("_ccnt")
                - F.coalesce(F.lag("_ccnt", window_size).over(w_row), F.lit(0))
            ).cast("long"),
        )
    )
    nonzero = F.col(f"{p}_cnt") > 0
    out = out.withColumn(
        f"{p}_sum", F.when(nonzero, F.col("_s").cast("double"))
    ).withColumn(
        # exact decimal sum -> double, then ONE IEEE division by the
        # count: bit-identical on both engines (float policy)
        f"{p}_avg",
        F.when(
            nonzero,
            F.col("_s").cast("double") / F.col(f"{p}_cnt").cast("double"),
        ),
    )
    drop = ["_cum", "_ccnt", "_s"]
    if with_var:
        sq = F.col(agg_col).cast("double") * F.col(agg_col).cast("double")
        out = out.withColumn(
            "_cum2", F.sum(sq.cast(dec)).over(w_cum)
        ).withColumn(
            "_s2",
            F.col("_cum2")
            - F.coalesce(
                F.lag("_cum2", window_size).over(w_row), F.lit(0).cast(dec)
            ),
        )
        n_d = F.col(f"{p}_cnt").cast("double")
        mean = F.col("_s").cast("double") / n_d
        var = F.round(
            F.greatest(
                F.lit(0.0), F.col("_s2").cast("double") / n_d - mean * mean
            ),
            6,
        )
        out = out.withColumn(f"{p}_var", F.when(nonzero, var)).withColumn(
            f"{p}_std", F.when(nonzero, F.round(F.sqrt(var), 6))
        )
        drop += ["_cum2", "_s2"]
    return out.drop(*drop)


# ------------------------------------------------------------------
# Materialized sliding windows (reference W1: one output row per
# window position, stride `shift`, each carrying the window's feature
# vector).  Emits windows anchored at the series END stepping back by
# `shift`, exactly like np_array_extract_all_fixed_slices
# (feature_utilities.py:350-368).
#
# Plan shape (scale-critical): the naive form — collect_list over a
# rowsBetween(-(W-1), 0) frame, THEN the stride filter — materializes
# a W-element array for EVERY input row and throws away
# (shift-1)/shift of them.  At the reference's vessel-char geometry
# (W=12800, shift=767) that is ~12,800x row amplification, 99.87%
# discarded.  Instead the pipeline is three stages, each built once:
#   stride_blocks      rows -> ordered stride-sized blocks (each input
#                      row aggregated exactly once);
#   _window_anchors    each block explodes, in closed form, into the
#                      anchors whose window covers it (at most
#                      ceil(W/shift)+1 of them);
#   groupBy(entity, anchor)  slices/flattens the covered blocks
#                      (windows_from_stride_blocks) or reads only the
#                      endpoint timestamps (sliding_feature_window_refs).
# Fan-out is W/shift block copies, never W row copies, and every stage
# reuses the entity hash-partitioning of the block build
# (HashPartitioning(entity) satisfies ClusteredDistribution(entity,
# anchor)), so the whole operator is a single exchange.
# ------------------------------------------------------------------

def sliding_feature_windows(
    df: DataFrame,
    feature_col: str | list[str],
    window_size: int,
    shift: int,
    entity: str = "image_id",
    ts: str = "ts",
) -> DataFrame:
    """All full windows of `window_size` points stepping back from the
    series end by `shift`.  Output: (entity, win_end_ts, win_start_ts,
    n_points, features array) — `features[i]` is a scalar when
    feature_col is a string, or the per-position feature VECTOR
    (array<double>, column order) when a list is passed, matching the
    reference's full-matrix slices (np_array_extract_all_fixed_slices
    returns [window, n_features] tensors).

    anchor rule: row i (1-based from series start, length n) hosts a
    window iff (n - i) % shift == 0 and i >= window_size — the same
    index set as the reference's  `range(end, start, -shift)` walk.  A
    series shorter than window_size therefore emits no window.

    Block-assembled plan: stride_blocks aggregates rows ONCE into
    stride-sized blocks (block k = rows with (rn-1) div shift == k,
    ordered), then windows_from_stride_blocks assembles each anchor's
    window by slicing the <= ceil(W/shift)+1 blocks it covers and
    flattening.  Overlapping windows SHARE blocks, so the heavy
    per-element aggregation touches each input row exactly once (the
    earlier anchor-explode form pushed W/shift copies of every row
    through the hash aggregate — ~2x slower at the reference geometry;
    the round-2 per-row collect_list form was ~12x slower still).
    Every stage reuses the entity hashpartitioning: one exchange total.
    """
    return windows_from_stride_blocks(
        stride_blocks(df, feature_col, shift, entity, ts), window_size, shift, entity
    )


def windows_from_stride_blocks(
    blocks: DataFrame,
    window_size: int,
    shift: int,
    entity: str = "image_id",
) -> DataFrame:
    """Materialize sliding windows FROM a stride_blocks table (schema:
    entity, block_id, values, ts_arr — what stride_blocks() emits).

    At rest this skips the per-row block-build stage entirely — the
    100 TB shape the W1m sweep (BENCH/HISTORY.md) points at: the sweep
    showed the scaling floor of the one-shot extractor is the
    W-INDEPENDENT block build (row_number + collect_list over every
    input row), not the W/shift assemble amplification.  Persist
    stride_blocks ONCE — layout.write_bucketed(..., [entity], n) — and
    every window job over it (any W stepping by the same shift) reads
    pre-grouped blocks whose bucketed scan already provides
    hashpartitioning(entity): the whole materialization then plans
    with ZERO Exchange (pinned in tests/test_layout.py), amortizing
    the floor across consumers exactly like the bucketed as-of.

    Assemble: slice each covered block to the window's [lo, arn]
    sub-range (block k holds rns k*S+1 .. k*S+len), then flatten in
    block order."""
    S = shift
    slice_expr = (
        "flatten(transform(sort_array(collect_list(struct(_blk, _arr))),"
        " b -> slice(b._arr,"
        "  int(greatest(1L, _lo - b._blk * CAST_S)),"
        "  int(least(CAST(size(b._arr) AS bigint), _arn - b._blk * CAST_S)"
        "      - greatest(1L, _lo - b._blk * CAST_S) + 1L))))"
    ).replace("CAST_S", f"CAST({S} AS bigint)")
    return (
        _window_anchors(blocks, window_size, S, entity)
        .groupBy(entity, "_arn", "_lo")
        .agg(
            F.expr(slice_expr).alias("_w"),
            _ts_at("_arn", S).alias("win_end_ts"),
            _ts_at("_lo", S).alias("win_start_ts"),
        )
        .select(
            F.col(entity),
            "win_end_ts",
            "win_start_ts",
            F.size("_w").alias("n_points"),
            F.col("_w").alias("features"),
        )
    )


def _window_anchors(blocks: DataFrame, W: int, S: int, entity: str) -> DataFrame:
    """The anchor stage shared by the materialized and the refs form:
    stride blocks (entity, block_id, ts_arr[, values]) -> one row per
    (window anchor, covered block) with columns (entity, _blk, [_arr,]
    _tss, _arn, _lo), where _arn/_lo are the window's end/start row
    numbers and _tss is nulled except on the (<= 2) blocks holding an
    endpoint.  Blocks are sized from ts_arr (one element per source
    row, like values), so the refs form never needs a value array.

    Every operation needs only ClusteredDistribution(entity), so
    whatever partitioning the blocks arrive with (the block-build
    exchange, or a bucketed scan at rest) is reused throughout — this
    stage adds zero exchanges.  n per entity is a window-sum over the
    blocks — ONE lineage branch (a join against a separately-derived
    anchor frame would duplicate the fact shuffle: column pruning makes
    the two subtrees physically different and defeats ReuseExchange)."""
    carry = ["_arr"] if "values" in blocks.columns else []
    blocks = blocks.select(
        F.col(entity),
        F.col("block_id").alias("_blk"),
        F.col("ts_arr").alias("_tss"),
        *[F.col("values").alias(c) for c in carry],
    ).withColumn("_n", F.sum(F.size("_tss")).over(Window.partitionBy(entity)))
    # anchors a = n - j*S, a >= W.  Block k holds rns
    # [k*S+1, k*S+size]; anchor a covers the block iff
    # a >= k*S+1 and a-W+1 <= k*S+size, giving the closed j-range:
    lo_rn = F.col("_blk") * S + 1
    hi_rn = F.col("_blk") * S + F.size("_tss")
    j_hi = F.floor((F.col("_n") - F.greatest(lo_rn, F.lit(W).cast("long"))) / S)
    j_lo = F.greatest(
        F.lit(0).cast("long"),
        -F.floor((hi_rn + F.lit(W - 1) - F.col("_n")) / S),
    )

    def in_block(rn: str):
        return (F.col(rn) >= lo_rn) & (F.col(rn) <= hi_rn)

    return (
        blocks.select(
            entity, "_blk", *carry, "_tss", "_n",
            j_lo.alias("_jlo"), j_hi.alias("_jhi"),
        )
        .filter(F.col("_jhi") >= F.col("_jlo"))
        .select(
            entity, "_blk", *carry, "_tss", "_n",
            F.explode(F.sequence("_jlo", "_jhi")).alias("_j"),
        )
        .select(
            entity, "_blk", *carry, "_tss",
            (F.col("_n") - F.col("_j") * S).alias("_arn"),
        )
        .withColumn("_lo", F.col("_arn") - F.lit(W - 1))
        # ts is needed only from the block(s) holding rn = _lo or
        # rn = _arn — null it out everywhere else so the aggregate's
        # hash map carries one ts array per window, not W/shift copies.
        .withColumn("_tss", F.when(in_block("_arn") | in_block("_lo"), F.col("_tss")))
    )


def _ts_at(rn: str, S: int):
    """Aggregate over _window_anchors rows: the timestamp at row number
    `rn`, read by conditional element_at from the (<= 2) unmasked
    per-block ts arrays — the guard both keeps ANSI element_at in
    bounds and skips the masked copies."""
    return F.expr(
        "max(CASE WHEN _tss IS NOT NULL"
        f" AND {rn} >= _blk * CAST({S} AS bigint) + 1"
        f" AND {rn} <= _blk * CAST({S} AS bigint) + CAST(size(_tss) AS bigint)"
        f" THEN element_at(_tss, int({rn} - _blk * CAST({S} AS bigint))) END)"
    )


def stride_blocks(
    df: DataFrame,
    feature_col: str | list[str],
    shift: int,
    entity: str = "image_id",
    ts: str = "ts",
) -> DataFrame:
    """The shared block table behind every W1 form: one row per
    (entity, block_id) holding the stride-sized ordered value slice
    (block k = rows with (row_number-1) div shift == k) and its
    timestamps.  Written once — e.g. bucketed by entity via
    layout.write_bucketed — it serves EVERY window of any W that steps
    by `shift`: windows_from_stride_blocks materializes them, and a
    window [lo, end] (1-based row numbers) is reconstructed by slicing
    blocks floor((lo-1)/shift) .. floor((end-1)/shift), which is what
    sliding_feature_window_refs' output addresses."""
    rows = _block_rows(df, feature_col, entity, ts).withColumn(
        "_rn", F.row_number().over(Window.partitionBy(entity).orderBy("_ts"))
    )
    return _block_agg(rows, shift, entity)


def _block_rows(
    df: DataFrame, feature_col: str | list[str], entity: str, ts: str
) -> DataFrame:
    """(entity, _ts, _val) projection shared by the one-shot and
    incremental block builders — ONE definition of the value cast so
    the pinned incremental==rebuild equality cannot drift."""
    if isinstance(feature_col, (list, tuple)):
        val_expr = F.array(
            *[F.col(c).cast("double") for c in feature_col]
        ).alias("_val")
    else:
        val_expr = F.col(feature_col).alias("_val")
    return df.select(F.col(entity), F.col(ts).alias("_ts"), val_expr)


def _block_agg(rows: DataFrame, shift: int, entity: str) -> DataFrame:
    """(entity, _ts[, _val], _rn) -> one row per (entity, block_id) with
    ordered ts_arr[/values] slices.  `_rn` is the 1-based GLOBAL row
    number (the incremental builder passes stored-count offsets).
    Without a `_val` column (the refs form) no values array is built.
    Any other column of `rows` is kept per block as its first non-NULL
    value (the incremental builder's stored file of an extended block).

    Values and timestamps are split on purpose: the assemble stage
    slices/flattens every covered block copy, but each window reads ts
    at only TWO positions (win start / end), so carrying ts per element
    through the W/shift block copies would double the bytes pushed
    through the DRAM-bound object aggregate."""
    vals = ["_val"] if "_val" in rows.columns else []
    extra = [c for c in rows.columns if c not in (entity, "_ts", "_val", "_rn")]
    fields = ", ".join(["_rn", *vals, "_ts"])
    return (
        rows.groupBy(entity, F.floor((F.col("_rn") - 1) / shift).alias("_blk"))
        .agg(
            F.expr(f"sort_array(collect_list(struct({fields})))").alias("_s"),
            *[F.first(c, ignorenulls=True).alias(c) for c in extra],
        )
        .select(
            entity,
            F.col("_blk").alias("block_id"),
            *[F.expr(f"transform(_s, x -> x.{c})").alias("values") for c in vals],
            F.expr("transform(_s, x -> x._ts)").alias("ts_arr"),
            *extra,
        )
    )


def append_stride_blocks(
    blocks: DataFrame,
    new_rows: DataFrame,
    feature_col: str | list[str],
    shift: int,
    entity: str = "image_id",
    ts: str = "ts",
    changed_only: bool = False,
    on_late: str = "error",
) -> DataFrame:
    """Incremental maintenance of an at-rest stride_blocks table under
    ingestion appends: merge `new_rows` (whose timestamps are strictly
    AFTER each entity's existing rows — the ingestion-time
    monotonicity the engine's as-of semantics already assume) into the
    block table WITHOUT rebuilding it.  Row numbers of existing rows
    are unchanged under append-at-end, so the only rows touched are
    each appended entity's final (possibly partial) block plus the new
    blocks after it — per batch that is O(entities_in_batch x
    (1 + new_rows/shift)) block rows, not the table.

    Everything the append needs of the stored table comes from each
    entity's last block, read in ONE per-entity window over the stored
    blocks and the new rows together (one shuffle, no join): its row
    count so far is block_id*shift + size(ts_arr) (every earlier block
    is full; the largest such count picks the last block), its max ts
    the last element of that block's ts_arr, and, when it is open
    (shorter than shift), its elements rejoin the new rows, so the
    block a new row lands in is rebuilt old prefix first.  Only open
    blocks carry their arrays through the shuffle.  No entity is ever
    matched by equality, so a NULL entity is a series like any other.
    Columns of `blocks` beyond (entity, block_id, values, ts_arr) —
    e.g. the stored file of each block — ride along from the extended
    block onto its changed row, and are NULL on a new block.

    ``changed_only=True`` returns just those touched block rows — the
    MERGE payload for sources.upsert_partitioned / a foreachBatch CDC
    sink over the persisted blocks table (keys=[entity, block_id]).
    ``changed_only=False`` returns the full updated frame
    (untouched blocks pass through), equal to
    stride_blocks(old_rows UNION new_rows) — pinned by pytest.

    ``on_late`` controls rows that are NOT strictly after their
    entity's stored max ts (an out-of-order append would corrupt row
    numbering):
      - "error" (default): one count() on the batch-sized join, raise
        on violation — the batch-job setting.
      - "drop": silently exclude them.  Under the monotonic-ingestion
        contract the only such rows are ones ALREADY APPLIED, so a
        crash-replayed batch becomes a natural no-op — the idempotency
        mode streaming.stream_stride_blocks_sink relies on.  Genuinely
        late data is dropped too; use "error" if that must be loud.
      - "ignore": skip the check (caller guarantees monotonicity).
    """
    riders = [c for c in blocks.columns if c not in (entity, "block_id", "values", "ts_arr")]
    size = F.size("ts_arr")
    stored = blocks.select(
        entity,
        (F.col("block_id") * shift + size).alias("_end"),  # rows so far
        F.element_at("ts_arr", -1).alias("_last"),
        # only an open (partial) block can be extended: only it ships
        # its arrays through the shuffle
        F.when(size < shift, F.struct("block_id", "values", "ts_arr", *riders))
        .alias("_open"),
    )
    is_new = F.col("_end").isNull()
    per_entity = Window.partitionBy(entity)
    both = (
        _block_rows(new_rows, feature_col, entity, ts)
        .unionByName(stored, allowMissingColumns=True)
        .withColumns({
            "_n_old": F.coalesce(F.max("_end").over(per_entity), F.lit(0)),
            "_max_ts": F.max("_last").over(per_entity),
        })
    )
    late = is_new & F.col("_max_ts").isNotNull() & (F.col("_ts") <= F.col("_max_ts"))
    if on_late == "error":
        bad = both.filter(late).count()
        if bad:
            raise ValueError(
                f"append_stride_blocks: {bad} new rows are not strictly "
                "after their entity's stored max ts — an out-of-order "
                "append would corrupt block row numbering; backfill "
                "requires a rebuild of the affected entities"
            )
    elif on_late == "drop":
        both = both.filter(~late)
    elif on_late != "ignore":
        raise ValueError(f"on_late must be error|drop|ignore, got {on_late!r}")
    # the new rows, numbered on from the stored count, and the elements
    # of the open last block of each entity that has new rows: only
    # that block can share an id with a new block (append-at-end), and
    # rebuilding it from its elements puts the old prefix first
    extended = (
        (F.col("_end") == F.col("_n_old")) & F.col("_open").isNotNull()
        & F.max(is_new).over(per_entity)
    )
    old = F.transform(
        "_open.ts_arr",
        lambda t, i: F.struct(
            (F.col("_open.block_id") * shift + i + 1).alias("_rn"),
            F.col("_open.values")[i].alias("_val"),
            t.alias("_ts"),
            *[F.col(f"_open.{c}").alias(c) for c in riders],
        ),
    )
    new = F.array(F.struct(
        "_rn", "_val", "_ts",
        *[F.lit(None).cast(blocks.schema[c].dataType).alias(c) for c in riders],
    ))
    rows = (
        both.withColumns({
            "_x": F.when(extended, old),
            "_rn": F.col("_n_old") + F.row_number().over(
                Window.partitionBy(entity, is_new).orderBy("_ts")
            ),
        })
        .filter(is_new | F.col("_x").isNotNull())
        .select(entity, F.inline(F.coalesce("_x", new)))
    )
    merged = _block_agg(rows, shift, entity)
    if changed_only:
        return merged
    keys = merged.select(F.col(entity).alias("_e"), F.col("block_id").alias("_k"))
    untouched = blocks.join(
        keys,
        F.col(entity).eqNullSafe(F.col("_e")) & (F.col("block_id") == F.col("_k")),
        "left_anti",
    )
    return untouched.unionByName(merged)


def merge_append_into_blocks_table(
    spark,
    batch: DataFrame,
    path: str,
    feature_col: str | list[str],
    shift: int,
    entity: str = "image_id",
    ts: str = "ts",
    n_buckets: int = 16,
    on_late: str = "drop",
) -> dict:
    """The ONE merge step behind both CDC surfaces of the at-rest
    window layout (streaming.stream_stride_blocks_sink per micro-batch,
    jobs/blocks_maintain_job.py --mode append per run).  A missing
    table bootstraps from the batch (stride_blocks).  An append:

    1. checkpoints the batch's (entity, ts, feature) columns once; the
       buckets it touches ride that job as an Observation;
    2. reads the stored blocks of those buckets (sources.read_table: the
       manifest's schema, no schema job; per-call cost tracks batch
       size, not table size), each with its `_metadata.file_path`;
    3. merges via append_stride_blocks (changed_only): each entity's
       last block gives its row count, its max ts and the block to
       extend, and the extended block's file rides onto its changed row;
    4. upserts the changed block rows on (entity, block_id), naming that
       file column as the upsert's ``hit_file_col``: an append changes
       no stored row but the last block of an entity, so the files
       holding the extended last blocks are exactly the files the
       upsert rewrites, and no key search runs;
    5. releases the batch checkpoint.

    The upsert's file group is "open block" (size(ts_arr) < shift, each
    entity's last, partial block): open blocks live in files apart from
    sealed ones, and an append at the end of the series changes only
    open blocks, so it rewrites only the open-tail files that hold a
    touched tail; sealed files stay as they are (compact_table folds
    the groups together; the next append splits them again).
    upsert_partitioned validates n_buckets against the table's
    manifest, so a mismatched modulus raises before anything is
    written; the manifest additionally records the layout's `shift`
    and `feature_cols`, and a merge called with a DIFFERENT shift or
    feature set raises here — mismatched block ids / value columns
    would silently corrupt every window reconstructed from the table
    (the same hazard class the bucket-count contract mechanizes).
    Returns the upsert summary."""
    import os

    from gfwspark import sources
    from gfwspark.checkpoint import bucket_of

    # keep caller order: with multiple feature columns the block value
    # layout is order-sensitive, so a reordered list is a real mismatch
    feature_cols = (
        [feature_col] if isinstance(feature_col, str) else list(feature_col)
    )
    # finish (or discard) an upsert cut short BEFORE reading the table:
    # half a commit holds rewritten tails twice, and a discarded
    # bootstrap must bootstrap again rather than merge
    sources.recover_upsert(path)
    meta = sources._read_table_meta(path) if os.path.exists(path) else None
    if meta is not None:
        for key, got in (("shift", shift), ("feature_cols", feature_cols)):
            want = meta.get(key)
            if want is not None and want != got:
                raise ValueError(
                    f"merge_append_into_blocks_table: table at {path} was "
                    f"built with {key}={want!r} but this merge passed "
                    f"{key}={got!r} — merging would corrupt block ids / "
                    "window reconstruction; rebuild the table or pass the "
                    "recorded value"
                )
    upsert = dict(
        keys=[entity, "block_id"], entity=entity, n_buckets=n_buckets,
        extra_meta={"shift": shift, "feature_cols": feature_cols},
        file_group=F.size("ts_arr") < shift,
    )
    if not os.path.exists(path):
        changed = stride_blocks(batch, feature_col, shift, entity=entity, ts=ts)
        return sources.upsert_partitioned(spark, changed, path, **upsert)
    seen = Observation()
    rows = (
        batch.select(entity, ts, *feature_cols)
        .observe(
            seen, F.count(F.lit(1)).alias("n"),
            F.collect_set(bucket_of(entity, n_buckets)).alias("touched"),
        )
        .localCheckpoint(eager=True)
    )
    try:
        touched = seen.get["touched"] if observed_rows(seen) else []
        blocks = (
            sources.read_table(spark, path)
            .filter(F.col("_bucket").isin(touched))
            .withColumn("_file", F.col("_metadata.file_path"))
            .drop("_bucket")
        )
        changed = append_stride_blocks(
            blocks, rows, feature_col, shift,
            entity=entity, ts=ts, changed_only=True, on_late=on_late,
        )
        return sources.upsert_partitioned(
            spark, changed, path, hit_file_col="_file", **upsert
        )
    finally:
        release(rows)


def sliding_feature_window_refs(
    df: DataFrame,
    window_size: int,
    shift: int,
    entity: str = "image_id",
    ts: str = "ts",
) -> DataFrame:
    """The ZERO-COPY form of sliding_feature_windows: the same window
    index set (anchor rule: row i hosts a window iff (n-i) % shift == 0
    and i >= window_size), but each output row is a window REFERENCE —
    (entity, win_end_ts, win_start_ts, n_points, win_start_rn,
    win_end_rn, blk_lo, blk_hi) — not a flattened W-element copy.

    Why this exists at 100 TB: materializing overlapping windows
    amplifies bytes by exactly W/shift (16.7x at the reference
    production geometry W=12800/shift=767) through the shuffle, the
    object aggregate, and the sink.  When the consumer streams windows
    block-locally (a training-data loader assembling tensors, a
    per-window reduction), ship the stride_blocks() table once and the
    refs frame instead: a window is blocks blk_lo..blk_hi sliced to
    [win_start_rn, win_end_rn] (block k holds row numbers k*shift+1 ..
    k*shift+len).  tests/test_engine_golden.py
    (test_sliding_window_refs_reconstruct) proves refs ⋈ blocks
    reconstructs the materialized output bit-identically.

    Plan: the materialized form's anchor stage (one entity exchange)
    over ts-only blocks, so the explode fan-out carries ONLY scalars +
    the <=2 endpoint-masked ts arrays — no value array is ever built
    and the W/shift value amplification never happens."""
    W, S = window_size, shift
    rows = df.select(F.col(entity), F.col(ts).alias("_ts")).withColumn(
        "_rn", F.row_number().over(Window.partitionBy(entity).orderBy("_ts"))
    )
    return (
        _window_anchors(_block_agg(rows, S, entity), W, S, entity)
        .groupBy(entity, "_arn", "_lo")
        .agg(
            _ts_at("_arn", S).alias("win_end_ts"),
            _ts_at("_lo", S).alias("win_start_ts"),
        )
        .select(
            F.col(entity),
            "win_end_ts",
            "win_start_ts",
            F.lit(W).alias("n_points"),  # full windows only, by the anchor rule
            F.col("_lo").alias("win_start_rn"),
            F.col("_arn").alias("win_end_rn"),
            F.floor((F.col("_lo") - 1) / S).alias("blk_lo"),
            F.floor((F.col("_arn") - 1) / S).alias("blk_hi"),
        )
    )


# ------------------------------------------------------------------
# Repeat-pad backfill (reference W5, np_pad_repeat_slice
# feature_utilities.py:26-45): tile a short series until it reaches
# window_size.  Not SQL-expressible — Arrow grouped-map kernel.
# ------------------------------------------------------------------

def repeat_pad_windows(
    df: DataFrame,
    feature_cols: list[str],
    window_size: int,
    entity: str = "image_id",
    ts: str = "ts",
) -> DataFrame:
    """One output row per entity: the last `window_size` points of its
    series, repeat-tiled when the series is shorter
    (np.concatenate([slice]*reps)[:window_size] — reference W5).

    Output: (entity, n_src_points, win_end_ts, features
    array<array<double>>) with len(features) == window_size always.
    """
    import pyspark.sql.types as T

    out_schema = T.StructType(
        [
            T.StructField(entity, df.schema[entity].dataType),
            T.StructField("n_src_points", T.IntegerType()),
            T.StructField("win_end_ts", df.schema[ts].dataType),
            T.StructField(
                "features", T.ArrayType(T.ArrayType(T.DoubleType()))
            ),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts, kind="mergesort")
        mat = pdf[feature_cols].to_numpy(dtype=np.float64)[-window_size:]
        n = len(mat)
        if n < window_size:
            reps = int(np.ceil(window_size / n))
            mat = np.concatenate([mat] * reps, axis=0)[:window_size]
        return pd.DataFrame(
            {
                entity: [pdf[entity].iloc[0]],
                "n_src_points": [int(len(pdf))],
                "win_end_ts": [pdf[ts].iloc[-1]],
                "features": [[list(r) for r in mat]],
            }
        )

    return df.groupBy(entity).applyInPandas(kernel, schema=out_schema)


def tumbling_agg(
    df: DataFrame,
    value_col: str,
    duration: str = "1 day",
    entity: str | None = "image_id",
    ts: str = "ts",
) -> DataFrame:
    """W11 tumbling time windows via F.window (fixed-duration buckets)."""
    keys = [F.window(ts, duration).alias("win")]
    if entity:
        keys.insert(0, F.col(entity))
    return (
        df.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(value_col).alias("avg_val"),
            F.min(value_col).alias("min_val"),
            F.max(value_col).alias("max_val"),
        )
        .select(
            *([entity] if entity else []),
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "n", "avg_val", "min_val", "max_val",
        )
    )


def month_grid_ranges(
    df: DataFrame,
    ts: str = "ts",
    window_months: int = 6,
) -> DataFrame:
    """W7: month-boundary-anchored sliding ranges covering the data span.

    Spark's F.window only slides by fixed seconds; calendar-month slides
    need an explicit grid: derive [min,max] of ts, generate month starts
    with sequence(), each range spans `window_months`.  The grid is tiny
    (driver-scale) and broadcast into the interval join.
    """
    bounds = df.agg(
        F.date_trunc("month", F.min(ts)).alias("lo"),
        F.date_trunc("month", F.max(ts)).alias("hi"),
    )
    return bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 month"))
        ).alias("range_start")
    ).select(
        "range_start",
        (F.col("range_start") + F.expr(f"interval {window_months} month")).alias(
            "range_end"
        ),
    )


# ------------------------------------------------------------------
# Forward-fill of missing values (north-rule "backfill"): ffill carries
# the last non-null observation forward (backward-only frame → no
# leakage).
# ------------------------------------------------------------------

def with_ffill(
    df: DataFrame,
    cols: list[str],
    entity: str = "image_id",
    ts: str = "ts",
    order_tiebreak: str | None = None,
) -> DataFrame:
    w = entity_time_window(entity, ts, order_tiebreak).rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = df
    for c in cols:
        out = out.withColumn(f"{c}_ffill", F.last(c, ignorenulls=True).over(w))
    return out


# ------------------------------------------------------------------
# W2: aligned windows with edge backfill — reference-exact port of the
# SEMANTICS of process_fixed_window_features (feature_utilities.py:
# 372-460), re-expressed as a pure-DataFrame plan.
#
# Reference behavior, with window=(win_start, win_end) and
# shift == win_end - win_start - 1:
#   pad_end   = window_size - win_end
#   pad_start = win_start
#   raw_end_i   = searchsorted(ts, end_ts, 'right')   (len(ts) if None)
#   n_pad_end   = max(pad_end - (n - raw_end_i), 0)
#   end_i       = raw_end_i + pad_end
#   raw_start_i = searchsorted(ts, start_ts, 'left')  (0 if None)
#   start_i     = raw_start_i - pad_start, then decremented until
#                 (end_i - start_i - window_size) % shift == 0
#   empty when start_i >= n or end_i < 1 (or n == 0)
#   series is tail-padded with features[-1] replicas when the data
#   runs out before end_i; when start_i < 0 the reference APPENDS
#   (-start_i) replicas of features[0] AT THE TAIL
#   (feature_utilities.py:452 — contradicting its own comment; we
#   reproduce that behavior verbatim and pin it in the oracle), else
#   slices from start_i.  Windows then step by `shift`.
#
# All of that collapses to a closed-form source-row index for window
# position i in [0, end_i - start_i):
#   start_i >= 0 -> rn = min(start_i + i, n - 1)     (tail-pad)
#   start_i <  0 -> rn = min(i, n - 1) if i < end_i  (base series +
#                    tail-pad), else 0               (the head-pad-
#                                                     at-tail quirk)
# so the plan is: per-entity scalar agg -> explode(win_idx, pos) ->
# equi-join back to the facts on (entity, rn).  No Python, no arrays
# materialized per row; both join sides stay on the entity hash
# partitioning.  Zero points and zero-overlap entities emit zero
# windows (fishing_feature_generation_test.py:58-82).
# ------------------------------------------------------------------

def aligned_windows(
    df: DataFrame,
    feature_cols: list[str],
    window_size: int,
    shift: int,
    start_ts=None,
    end_ts=None,
    entity: str = "image_id",
    ts: str = "ts",
    win_start: int = 0,
) -> DataFrame:
    """Exploded aligned windows: one row per (entity, win_idx, pos)
    with each feature cast to double, plus n_real_points (real source
    rows inside the [start_i, end_i) span) and n_pad (replicated pad
    rows).  win_end is derived as win_start + shift + 1 per the
    reference's assert; win_start=0, shift=window_size-1 gives the
    pad-free "window=None" mode of its caller
    (fishing_feature_generation.py:106-110)."""
    W, S = window_size, shift
    win_end = win_start + S + 1
    if win_end > W:
        raise ValueError(
            f"win_start + shift + 1 = {win_end} exceeds window_size {W}"
        )
    pad_end, pad_start = W - win_end, win_start

    rows = df.select(
        F.col(entity),
        F.col(ts).alias("_ts"),
        *[F.col(c).cast("double").alias(f"_f_{c}") for c in feature_cols],
    ).select(
        "*",
        (
            F.row_number().over(Window.partitionBy(entity).orderBy("_ts")) - 1
        ).alias("_rn"),
    )

    aggs = [F.count(F.lit(1)).alias("_n")]
    if end_ts is not None:
        aggs.append(
            F.sum(F.when(F.col("_ts") <= F.lit(end_ts), 1).otherwise(0)).alias("_rei")
        )
    if start_ts is not None:
        aggs.append(
            F.sum(F.when(F.col("_ts") < F.lit(start_ts), 1).otherwise(0)).alias("_rsi")
        )
    meta = rows.groupBy(entity).agg(*aggs)
    if end_ts is None:
        meta = meta.withColumn("_rei", F.col("_n"))
    if start_ts is None:
        meta = meta.withColumn("_rsi", F.lit(0).cast("long"))
    # Python-mod (always non-negative) for the alignment decrement:
    # start_i = start_i0 - ((W + start_i0 - end_i) mod S)
    align = F.lit(W) + F.col("_si0") - F.col("_end_i")
    meta = (
        meta.withColumn("_end_i", F.col("_rei") + F.lit(pad_end))
        .withColumn("_si0", F.col("_rsi") - F.lit(pad_start))
        .filter((F.col("_si0") < F.col("_n")) & (F.col("_end_i") >= 1))
        .withColumn("_start_i", F.col("_si0") - (((align % S) + S) % S))
        .withColumn("_L", F.col("_end_i") - F.col("_start_i"))
        .filter(F.col("_L") >= W)
        .withColumn(
            "n_real_points",
            (
                F.least("_end_i", "_n") - F.greatest("_start_i", F.lit(0).cast("long"))
            ).cast("int"),
        )
        .withColumn("n_pad", (F.col("_L") - F.col("n_real_points")).cast("int"))
    )
    posg = (
        meta.select(
            entity,
            "_n",
            "_end_i",
            "_start_i",
            "n_real_points",
            "n_pad",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"), F.floor((F.col("_L") - W) / S)
                )
            ).alias("win_idx"),
        )
        .select(
            "*",
            F.explode(F.sequence(F.lit(0), F.lit(W - 1))).alias("pos"),
        )
        .withColumn("_i", F.col("win_idx") * S + F.col("pos"))
        .withColumn(
            "_src",
            F.when(
                F.col("_start_i") >= 0,
                F.least(F.col("_start_i") + F.col("_i"), F.col("_n") - 1),
            )
            .when(F.col("_i") < F.col("_end_i"), F.least(F.col("_i"), F.col("_n") - 1))
            .otherwise(F.lit(0).cast("long")),
        )
    )
    joined = posg.join(
        rows.withColumnRenamed(entity, "_e"),
        (F.col(entity) == F.col("_e")) & (F.col("_src") == F.col("_rn")),
    )
    return joined.select(
        F.col(entity),
        F.col("win_idx").cast("int").alias("win_idx"),
        "n_real_points",
        "n_pad",
        F.col("pos").cast("int").alias("pos"),
        *[F.col(f"_f_{c}").alias(c) for c in feature_cols],
    )


# ------------------------------------------------------------------
# W3: fixed-duration (time-range) backward windows
# (extract_n_random_fixed_times, feature_utilities.py:246-294 — the
# deterministic per-point form: every point aggregates its trailing
# `duration_s` of history).  rangeBetween over epoch-microseconds.
# ------------------------------------------------------------------

def with_time_range_agg(
    df: DataFrame,
    agg_col: str,
    duration_s: int,
    entity: str = "image_id",
    ts: str = "ts",
    prefix: str | None = None,
) -> DataFrame:
    from gfwspark.util import epoch_us

    w = (
        Window.partitionBy(entity)
        .orderBy(epoch_us(ts))
        .rangeBetween(-duration_s * 1_000_000, 0)
    )
    p = prefix or f"{agg_col}_t{duration_s}"
    return (
        df.withColumn(f"{p}_cnt", F.count(agg_col).over(w))
        .withColumn(f"{p}_min", F.min(agg_col).over(w))
        .withColumn(f"{p}_max", F.max(agg_col).over(w))
    )


# ------------------------------------------------------------------
# W6: repeat-pad + seeded roll augmentation (np_pad_repeat_slice_2,
# feature_utilities.py:73-102): mark the gap, tile, roll by a seeded
# offset that is a pure function of (entity, seed) — reproducible,
# unlike the reference's unseeded RandomState.  The offset uses the
# engine's shared md5 32-bit draw (sampling._md5_draw construction),
# so a DuckDB oracle replays it exactly.
# ------------------------------------------------------------------

def repeat_pad_roll_windows(
    df: DataFrame,
    feature_cols: list[str],
    window_size: int,
    seed: int = 42,
    entity: str = "image_id",
    ts: str = "ts",
) -> DataFrame:
    import hashlib

    import pyspark.sql.types as T

    out_schema = T.StructType(
        [
            T.StructField(entity, df.schema[entity].dataType),
            T.StructField("n_src_points", T.IntegerType()),
            T.StructField("roll", T.IntegerType()),
            T.StructField("features", T.ArrayType(T.ArrayType(T.DoubleType()))),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts, kind="mergesort")
        eid = pdf[entity].iloc[0]
        mat = pdf[feature_cols].to_numpy(dtype=np.float64)[-window_size:]
        n = len(mat)
        if n < window_size:
            reps = int(np.ceil(window_size / n))
            mat = np.concatenate([mat] * reps, axis=0)[:window_size]
        h = hashlib.md5(f"{eid}:roll:{seed}".encode()).hexdigest()[:8]
        roll = int(h, 16) % window_size
        mat = np.roll(mat, roll, axis=0)
        return pd.DataFrame(
            {
                entity: [eid],
                "n_src_points": [int(len(pdf))],
                "roll": [roll],
                "features": [[list(r) for r in mat]],
            }
        )

    return df.groupBy(entity).applyInPandas(kernel, schema=out_schema)


# ------------------------------------------------------------------
# Expanding (backward-only) z-score: normalization whose statistics at
# time t use ONLY points <= t — the leakage-free online variant of the
# reference's global normalization constants (run_training.py:26-40,
# vessel_characterization.py:31-40).  Decimal expanding moments keep it
# deterministic and oracle-exact.
# ------------------------------------------------------------------

def with_expanding_zscore(
    df: DataFrame,
    value_col: str,
    entity: str = "image_id",
    ts: str = "ts",
    order_tiebreak: str | None = None,
) -> DataFrame:
    w = entity_time_window(entity, ts, order_tiebreak).rowsBetween(
        Window.unboundedPreceding, 0
    )
    dec = F.col(value_col).cast("decimal(18,6)")
    n = F.count(value_col).over(w)
    s = F.sum(dec).over(w).cast("double")
    ss = F.sum(dec * dec).over(w).cast("double")
    var = (ss - s * s / n) / (n - 1)
    z = F.when((n < 2) | ((ss - s * s / n) <= 0), F.lit(0.0)).otherwise(
        F.round((F.col(value_col) - s / n) / F.sqrt(var), 6)
    )
    return df.withColumn(f"{value_col}_zexp", z)


# ------------------------------------------------------------------
# Hot-entity parallelism: chunked backward time-range aggregates.
#
# A Window.partitionBy(entity) puts an entity's WHOLE series in one
# task — the real 100 TB failure mode for a hot key with 10^7+ rows.
# For backward fixed-DURATION windows the fix is map-side time
# chunking: chunk = floor(ts / chunk_duration); every row whose ts
# falls within `duration` of a chunk's end is ALSO replicated into the
# next chunk as carry context.  groupBy(entity, chunk) then computes
# exact backward aggregates for its own rows using the carry — no
# global per-entity sort, task size bounded by chunk occupancy, and a
# hot entity spreads over ceil(span/chunk_duration) parallel tasks.
# (layout.salted covers mergeable per-entity AGGREGATES; this covers
# per-POINT window features, which salting cannot.)
# ------------------------------------------------------------------

def _monotone_window_agg(vals: np.ndarray, lo: np.ndarray, hi: np.ndarray, ufunc) -> np.ndarray:
    """Exact `ufunc` over variable windows vals[lo_i:hi_i) where lo and hi
    are both non-decreasing and every window is non-empty.

    Batched two-stack sliding-window sweep: each flip builds a suffix
    aggregate over one segment with a single ufunc.accumulate and serves
    every query whose lo falls inside it; the tail past the segment is a
    prefix aggregate.  Successive S and P segments are disjoint, so total
    accumulate work is <= 2n and the Python loop runs once per FLIP, not
    per row — O(n) with no float round-trip (exact for int64 hashes)."""
    n = len(lo)
    out = np.empty(n, dtype=vals.dtype)
    i = 0
    while i < n:
        a, b = int(lo[i]), int(hi[i])
        j = int(np.searchsorted(lo, b, side="left"))  # block: queries with lo < b
        S = ufunc.accumulate(vals[a:b][::-1])[::-1]  # S[k] = agg vals[a+k : b]
        left = S[lo[i:j] - a]
        end = int(hi[j - 1])
        if end > b:
            P = ufunc.accumulate(vals[b:end])  # P[k] = agg vals[b : b+k+1]
            hb = hi[i:j]
            right = hb > b
            res = left.copy()
            res[right] = ufunc(left[right], P[hb[right] - b - 1])
            out[i:j] = res
        else:
            out[i:j] = left
        i = j
    return out


def chunked_time_range_agg(
    df: DataFrame,
    agg_col: str,
    duration_s: int,
    chunk_s: int,
    entity: str = "image_id",
    ts: str = "ts",
    prefix: str | None = None,
) -> DataFrame:
    import pyspark.sql.types as T

    from gfwspark.util import epoch_us

    if chunk_s < duration_s:
        raise ValueError(
            f"chunk_s={chunk_s} must cover the window duration_s={duration_s}"
        )
    p = prefix or f"{agg_col}_t{duration_s}"
    dur_us = duration_s * 1_000_000
    chunk_us = chunk_s * 1_000_000

    us = epoch_us(ts)
    own = df.withColumn("_chunk", F.floor(us / chunk_us).cast("long")).withColumn(
        "_carry", F.lit(False)
    )
    # rows near a chunk's end also serve the next chunk's lookback
    carry = (
        df.withColumn("_us", us)
        .filter(
            F.col("_us") >= (F.floor(F.col("_us") / chunk_us) + 1) * chunk_us - dur_us
        )
        .withColumn("_chunk", (F.floor(F.col("_us") / chunk_us) + 1).cast("long"))
        .withColumn("_carry", F.lit(True))
        .drop("_us")
    )
    both = own.unionByName(carry)

    out_schema = T.StructType(
        [f for f in df.schema.fields]
        + [
            T.StructField(f"{p}_cnt", T.LongType()),
            T.StructField(f"{p}_min", df.schema[agg_col].dataType),
            T.StructField(f"{p}_max", df.schema[agg_col].dataType),
        ]
    )
    in_cols = [f.name for f in df.schema.fields]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts, kind="mergesort")
        ts_us = pdf[ts].astype("datetime64[us]").astype("int64").to_numpy()
        vals = pdf[agg_col].to_numpy()
        own_mask = ~pdf["_carry"].to_numpy()
        # RANGE BETWEEN includes ALL equal-ts peers (even those sorting
        # after the current row), so every row in an equal-ts run shares
        # the window [lo, hi): lo = first idx with ts >= t - dur, hi =
        # first idx with ts > t.
        lo = np.searchsorted(ts_us, ts_us - dur_us, side="left")
        hi = np.searchsorted(ts_us, ts_us, side="right")
        if vals.dtype.kind == "f":
            # pandas' Cython offset-rolling: O(n), NaN-aware, exact for
            # floats (values pass through untouched).  It computes
            # per-POSITION results (window ends at that row); indexing
            # at hi-1 (the last equal-ts peer) yields the per-RUN result.
            s = pd.Series(vals, index=pd.DatetimeIndex(ts_us.astype("datetime64[us]")))
            r = s.rolling(pd.Timedelta(microseconds=dur_us), closed="both", min_periods=1)
            last = hi - 1
            cnt = r.count().to_numpy()[last].astype(np.int64)
            vmin = r.min().to_numpy()[last]
            vmax = r.max().to_numpy()[last]
            # all-NULL window: rolling yields NaN but SQL MIN/MAX over
            # zero non-null values is NULL — mask to None so Arrow
            # emits null, not NaN (matches the RANGE BETWEEN oracle)
            if (cnt == 0).any():
                # index=pdf.index so the later column assignment aligns
                # positionally with the sorted frame
                vmin = pd.Series(vmin, dtype="object", index=pdf.index).where(
                    cnt > 0, None
                )
                vmax = pd.Series(vmax, dtype="object", index=pdf.index).where(
                    cnt > 0, None
                )
        else:
            # int64 (e.g. 64-bit perceptual hashes) would lose exactness
            # through rolling's float64 path — use the exact vectorized
            # two-stack sweep instead (no NaN possible in an int column).
            cnt = (hi - lo).astype(np.int64)
            vmin = _monotone_window_agg(vals, lo, hi, np.minimum)
            vmax = _monotone_window_agg(vals, lo, hi, np.maximum)
        out = pdf[in_cols].copy()
        out[f"{p}_cnt"], out[f"{p}_min"], out[f"{p}_max"] = cnt, vmin, vmax
        return out[own_mask]

    return both.groupBy(entity, "_chunk").applyInPandas(kernel, schema=out_schema)
