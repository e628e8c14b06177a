"""Point-in-time / as-of joins — the heart of the engine.

Reference semantics being reproduced (SURVEY.md §2.3 J1–J3):

- *backward as-of*: for each fact row (entity, ts), attach the most
  recent annotation with start_ts <= ts.  Backward-only ⇒ zero temporal
  leakage (the reference's dense-label fill walks ranges already in the
  past, fishing_feature_generation.py:52-68).
- *point-in-interval*: attach the label of an interval [start_ts,
  end_ts] covering ts; boundary convention start-inclusive /
  end-inclusive per the reference's searchsorted sides
  (fishing_feature_generation.py:59-60); -1.0 (UNCLASSIFIED) elsewhere.

Three physical strategies, same results (all gate-checked against the
same DuckDB ASOF oracle):

1. ``asof_join_union`` — pure DataFrame plan: interleave facts and
   annotations on one timeline (``_interleave``), then one window
   ``last(value, ignorenulls=True)`` over (entity, ts)
   rowsBetween(unboundedPreceding, 0) (``_carried``).  One shuffle,
   fully JVM-side, whole-stage-codegen'd; the default at scale.  Over
   two tables bucketed by entity (layout.write_bucketed) it still
   plans one Exchange (Union discards its children's partitioning).
   ``interval_label_join`` is this join over interval starts plus a
   coverage test.
2. ``asof_join_broadcast`` — the driver builds a time-bucketed segment
   index from the collected annotations (numpy + pyarrow); the facts
   probe it with two broadcast hash joins that share one broadcast
   relation: ZERO shuffle of the fact table and no Python worker.  The
   pick when the annotation dim is small, which at 10^12 fact rows is
   the difference between moving nothing and moving everything.  It
   takes a streaming fact frame unchanged (stream-static as-of).
3. ``asof_join_chunked`` — time-salted + re-merged: for SKEWED
   entities, where the union form serializes each entity into one task.
   Salt = time chunk; the same interleave and carry per (entity,
   chunk); terminal annotation state re-merged through a tiny
   per-chunk carry frame.  Measured on one 12.8M-row hot entity at 8
   cores: 11.3 s (union, serial window) -> 4.1 s (2.8x; the gap grows
   linearly with hot-entity size).

``asof_join`` is the front door: 'union', 'broadcast', or 'auto' — a
layout.collect_entity_stats profile routes only the hot entities
through the chunked kernel (chunk floor ``CHUNK_FLOOR_S``).

NULL entities group like any other value (SQL grouping semantics): a
NULL-entity fact takes the latest NULL-entity annotation in every
strategy.

A NULL-valued annotation is skipped, not in force: a fact takes the
latest non-NULL value at or before it (the union form's
``last(ignorenulls)``; the broadcast index drops NULL-valued rows), so
a value of 1.0 at 01:00 then NULL at 02:00 labels a 03:00 fact 1.0 in
every strategy.  A plain DuckDB ``ASOF JOIN`` would return NULL there;
the oracle fixtures take ``max(label)`` per (entity, start), which
never holds such a row.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


#: floor of the chunk size asof_join(strategy='auto') derives: coarse
#: chunks keep the carry frame tiny and amortize per-chunk overhead
CHUNK_FLOOR_S = 3600

#: 0001-01-01T00:00:00Z in epoch microseconds: where the broadcast
#: as-of puts a NULL timestamp, before every instant Spark can hold
_EARLIEST_US = -62_135_596_800_000_000


def _interleave(
    facts: DataFrame,
    annotations: DataFrame,
    entity: str,
    ts: str,
    ann_ts: str,
    value_cols: tuple[str, ...],
) -> DataFrame:
    """facts UNION annotations on one timeline: annotation rows sit at
    their ``ann_ts`` with ``_src`` 0 and carry ``_v_<c>``; fact rows
    keep every column, get ``_src`` 1 and NULL ``_v_<c>``."""
    a = annotations.select(
        F.col(entity),
        F.col(ann_ts).alias(ts),
        F.lit(0).alias("_src"),
        *[F.col(c).alias(f"_v_{c}") for c in value_cols],
    )
    f = facts.select(
        "*",
        F.lit(1).alias("_src"),
        *[F.lit(None).cast(a.schema[f"_v_{c}"].dataType).alias(f"_v_{c}") for c in value_cols],
    )
    return f.unionByName(a, allowMissingColumns=True)


def _carried(
    partition_cols: list[str], ts: str, value_cols: tuple[str, ...], prefix: str
) -> list[Column]:
    """``last(_v_<c>, ignorenulls)`` over (ts, _src) up to the current
    row, aliased ``<prefix><c>``: the latest annotation value at or
    before each row of an interleaved frame (annotations sort first on
    a ts tie, so a same-ts annotation is visible)."""
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.col(ts).asc(), F.col("_src").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return [
        F.last(F.col(f"_v_{c}"), ignorenulls=True).over(w).alias(f"{prefix}{c}")
        for c in value_cols
    ]


def _check_chunk_s(chunk_s) -> None:
    # a zero chunk divides by zero at action time, and a negative one
    # flips the chunk order so later chunks carry into earlier ones
    if chunk_s is None or chunk_s < 1:
        raise ValueError(f"chunk_s must be a number of seconds >= 1, got {chunk_s!r}")


def asof_join_union(
    facts: DataFrame,
    annotations: DataFrame,
    entity: str = "image_id",
    ts: str = "ts",
    ann_ts: str = "start_ts",
    value_cols: tuple[str, ...] = ("label",),
) -> DataFrame:
    """Backward as-of via union + last(ignorenulls) window.

    Annotation rows are interleaved at their start_ts; `last(...,
    ignorenulls=True)` over an unbounded-preceding frame carries the
    latest annotation value forward onto every fact row.  Tie at equal
    ts: annotation sorts *before* the fact row (`_src` ordering), so a
    same-timestamp annotation is visible — matching searchsorted
    side='right' start-inclusion in the reference.

    Plan shape: one shuffle on (entity), window sort (entity, ts, _src),
    then a filter — no join node at all, so there is no skew-join risk
    and AQE coalesces the output.
    """
    fact_cols = facts.columns
    out = _interleave(facts, annotations, entity, ts, ann_ts, value_cols)
    out = out.select("*", *_carried([entity], ts, value_cols, "asof_"))
    return out.filter(F.col("_src") == 1).select(
        *fact_cols, *[f"asof_{c}" for c in value_cols]
    )


def interval_label_join(
    facts: DataFrame,
    intervals: DataFrame,
    entity: str = "image_id",
    ts: str = "ts",
    start: str = "start_ts",
    end: str = "end_ts",
    value: str = "value",
    default: float = -1.0,
) -> DataFrame:
    """Dense point-in-interval labelling (reference J1).

    Each fact row gets the value of the LATEST-STARTING interval with
    start <= ts, IF that interval still covers ts (start <= ts <= end,
    both inclusive per fishing_feature_generation.py:59-60); `default`
    (-1.0, the reference's UNCLASSIFIED fill) otherwise.

    Overlapping-interval caveat: this diverges from the reference's
    sequential overwrite (add_labels, fishing_feature_generation.py:
    52-68) when intervals NEST — a point past a later-starting
    interval's end but still inside an earlier interval gets `default`
    here, whereas the reference keeps the earlier interval's label
    (it only overwrites [start_ndx:end_ndx]).  For non-overlapping or
    merely abutting intervals (the reference's actual fishing-range
    data) the two agree.  For reference-exact resolution on nested
    intervals use ``interval_label_join_covering``.

    Implementation: ``asof_join_union`` on interval starts carrying
    (end, value), then a coverage test — one shuffle, no join.
    """
    lab = asof_join_union(facts, intervals, entity, ts, start, (end, value))
    return lab.select(
        *facts.columns,
        F.when(F.col(ts) <= F.col(f"asof_{end}"), F.col(f"asof_{value}"))
        .otherwise(F.lit(default))
        .alias("label"),
    )


def interval_label_join_covering(
    facts: DataFrame,
    intervals: DataFrame,
    entity: str = "image_id",
    ts: str = "ts",
    start: str = "start_ts",
    end: str = "end_ts",
    value: str = "value",
    default: float = -1.0,
) -> DataFrame:
    """Reference-EXACT point-in-interval labelling for overlapping /
    nested intervals: each point takes the value of the latest-STARTING
    interval that actually COVERS it — equivalent to the reference's
    sequential overwrite of the dense label array in start order
    (add_labels, fishing_feature_generation.py:52-68), which only
    writes inside [start_ndx:end_ndx] so an enclosing earlier interval
    survives past a nested one's end.

    Implementation — interval flattening on the DIM side, zero fact
    shuffle: the interval table (an annotation dim, small by contract)
    is decomposed into DISJOINT segments at every start / end+1
    boundary (epoch-microsecond integers); each segment carries the
    label of the latest-starting interval covering it (ties on start
    resolve to the larger value, deterministically).  Facts then take a
    single broadcast hash join on entity with the range predicate as
    the join residual — at most ONE matching segment per fact row, so
    no argmax, no groupBy, and the fact table never moves.
    """
    from gfwspark.util import epoch_us

    fact_cols = facts.columns
    iv = intervals.select(
        F.col(entity).alias("_e"),
        epoch_us(start).alias("_start_us"),
        epoch_us(end).alias("_end_us"),
        F.col(value).alias("_val"),
    )
    bounds = (
        iv.select("_e", F.col("_start_us").alias("_b"))
        .unionByName(iv.select("_e", (F.col("_end_us") + 1).alias("_b")))
        .distinct()
    )
    w = Window.partitionBy("_e").orderBy("_b")
    seg = (
        bounds.withColumn("_b_next", F.lead("_b").over(w))
        .filter(F.col("_b_next").isNotNull())
    )
    segments = (
        seg.alias("s")
        .join(
            iv.alias("i"),
            (F.col("s._e") == F.col("i._e"))
            & (F.col("i._start_us") <= F.col("s._b"))
            & (F.col("i._end_us") >= F.col("s._b")),
        )
        .groupBy(F.col("s._e").alias("_e"), "_b", "_b_next")
        .agg(F.max_by("_val", F.struct("_start_us", "_val")).alias("_val"))
    )
    ts_us = epoch_us(ts)
    out = facts.join(
        F.broadcast(segments),
        (F.col(entity) == F.col("_e"))
        & (ts_us >= F.col("_b"))
        & (ts_us < F.col("_b_next")),
        "left",
    )
    return out.select(
        *fact_cols, F.coalesce(F.col("_val"), F.lit(default)).alias("label")
    )


def _segment_index(ann):
    """The broadcast as-of's driver-built index, from the collected
    annotation side ``ann`` (pyarrow: ``_e`` entity, ``_start`` epoch
    microseconds, ``_val`` non-NULL value).  One relation
    ``(_key struct<e, b>, _lo, _hi, _val)`` holds two kinds of row:

    - one *entity row* per entity, ``b`` = -1: ``_lo`` its last start,
      ``_hi`` its bucket width ``span // count + 1`` µs, ``_val`` the
      last annotation's value, in force from ``_lo`` on;
    - *segment rows*: every other annotation ``i`` in start order is in
      force on ``[_lo, _hi)`` = ``[start_i, start_(i+1))`` and is
      repeated for each bucket that range touches.  Bucket ``b`` of an
      entity holds the instants ``t < last start`` with
      ``(last start - 1 - t) div width == b``, counted back from the
      last start, so an entity has at most ``count`` buckets and an
      instant before its first start falls past them.

    The annotations are ordered by (entity, start) on pyarrow's exact
    entity codes, so int64 keys above 2^53 and NULL keep their
    identity; the entity and value columns are gathered with ``take``,
    in their own Arrow types."""
    import numpy as np
    import pyarrow as pa

    ent = ann.column("_e").combine_chunks()
    codes = ent.dictionary_encode("encode").indices.to_numpy(zero_copy_only=False)
    starts = ann.column("_start").to_numpy()
    order = np.lexsort((starts, codes))
    codes, starts = codes[order], starts[order]
    last = np.ones(len(codes), bool)
    last[:-1] = codes[1:] != codes[:-1]
    ends = np.flatnonzero(last)
    counts = np.diff(ends, prepend=-1)
    s_last = starts[ends]
    width = (s_last - starts[ends - counts + 1]) // counts + 1

    seg = np.flatnonzero(~last)
    group = np.repeat(np.arange(len(ends)), counts)[seg]
    lo, hi = starts[seg], starts[seg + 1]
    b_first = (s_last[group] - hi) // width[group]
    reps = (s_last[group] - 1 - lo) // width[group] - b_first + 1
    rep_of = np.repeat(np.arange(len(seg)), reps)
    bucket = b_first[rep_of] + np.arange(len(rep_of)) - np.repeat(np.cumsum(reps) - reps, reps)

    src = order[np.concatenate([ends, seg[rep_of]])]
    return pa.StructArray.from_arrays(
        [
            pa.StructArray.from_arrays(
                [ent.take(src), np.concatenate([np.full(len(ends), -1), bucket])],
                names=["e", "b"],
            ),
            np.concatenate([s_last, lo[rep_of]]),
            np.concatenate([width, hi[rep_of]]),
            ann.column("_val").combine_chunks().take(src),
        ],
        names=["_key", "_lo", "_hi", "_val"],
    )


def asof_join_broadcast(
    facts: DataFrame,
    annotations: DataFrame,
    entity: str = "image_id",
    ts: str = "ts",
    ann_ts: str = "start_ts",
    value_col: str = "label",
    max_broadcast_rows: int = 2_000_000,
) -> DataFrame:
    """Backward as-of with a BROADCAST annotation side — zero shuffle
    of the fact table, and no Python past the driver.

    When the annotation dim is small (the common production shape: a
    label/config table versioned over time), shuffling 10^12 fact rows
    to meet it is absurd.  Here the non-NULL-valued annotations are
    collected once and the driver builds a time-bucketed segment index
    from them (``_segment_index``, numpy + pyarrow, no Spark job).  The
    facts then probe it with two broadcast hash joins of the SAME
    relation (one broadcast, reused): on (entity, -1), which gives a
    fact at or after its entity's last start the last value and every
    other fact its bucket, then on (entity, bucket) with the segment
    range ``lo <= ts < hi`` as the join residual, which matches at most
    one segment.  Both join keys are a struct holding the entity, so a
    NULL entity matches a NULL entity.  Any fact partitioning works,
    nothing moves, and a streaming fact frame joins as is (stream-
    static: the index is a static side).

    The driver-side collect is guarded: more than `max_broadcast_rows`
    non-NULL annotation rows raises ValueError (use asof_join_union or
    asof_join_chunked for large annotation sides) instead of silently
    OOMing the driver.  No-match rows get SQL NULL; values cross the
    driver as Arrow in the annotation column's own type (ints above
    2^53, strings, bools stay exact — nothing goes through float64).
    A NULL ``ts`` or ``ann_ts`` sorts before every instant, as in the
    union form's window.

    Physical analog of J5 (broadcast dict lookup, metadata.py:142-161)
    fused with J1's searchsorted.
    """
    import pyarrow as pa
    import pyspark.sql.types as T

    from gfwspark.util import epoch_us

    ann = (
        annotations.select(
            F.col(entity).alias("_e"),
            F.coalesce(epoch_us(ann_ts), F.lit(_EARLIEST_US)).alias("_start"),
            F.col(value_col).alias("_val"),
        )
        .filter(F.col("_val").isNotNull())
        .limit(max_broadcast_rows + 1)
        .toArrow()
    )
    if ann.num_rows > max_broadcast_rows:
        raise ValueError(
            f"asof_join_broadcast: annotation side exceeds "
            f"max_broadcast_rows={max_broadcast_rows}; use asof_join_union "
            f"or asof_join_chunked for large annotation tables"
        )
    row_type = T.StructType([
        T.StructField("_key", T.StructType([
            T.StructField("e", annotations.schema[entity].dataType),
            T.StructField("b", T.LongType()),
        ])),
        T.StructField("_lo", T.LongType()),
        T.StructField("_hi", T.LongType()),
        T.StructField("_val", annotations.schema[value_col].dataType),
    ])
    rows = _segment_index(ann)
    # one row holding the index as an array, unpacked by inline() inside
    # the broadcast job: the optimizer copies the rows of a many-row
    # local relation on every expression pass (0.13 s at 100k rows)
    index = F.broadcast(
        facts.sparkSession.createDataFrame(
            pa.table({"_rows": pa.ListArray.from_arrays(
                pa.array([0, len(rows)], pa.int32()), rows
            )}),
            T.StructType([T.StructField("_rows", T.ArrayType(row_type))]),
        )
        .select(F.inline("_rows"))
        # the non-NULL join columns, stated once: filters that each join
        # would infer differ between the two and defeat the reuse
        .filter(F.col("_key").isNotNull() & F.col("_lo").isNotNull() & F.col("_hi").isNotNull())
    )

    def key(bucket: Column) -> Column:
        return F.struct(F.col(entity).alias("e"), bucket.cast("long").alias("b"))

    # the entity row gives a fact at or after the last start the last
    # value and an earlier fact its bucket, whose segment rows hold the
    # one range that covers ts
    ent, seg = index.alias("_i"), index.alias("_s")
    t = F.col("_t")
    late = t >= F.col("_i._lo")
    bucket = F.when(~late, F.call_function("div", F.col("_i._lo") - 1 - t, F.col("_i._hi")))
    return (
        # ts in microseconds once: the joins re-evaluate their keys and
        # residuals per row, a TIMESTAMP_NTZ cast included
        facts.select("*", F.coalesce(epoch_us(ts), F.lit(_EARLIEST_US)).alias("_t"))
        .join(ent, key(F.lit(-1)) == F.col("_i._key"), "left")
        .join(
            seg,
            (key(bucket) == F.col("_s._key"))
            & (t >= F.col("_s._lo"))
            & (t < F.col("_s._hi")),
            "left",
        )
        .select(
            *facts.columns,
            F.coalesce(F.when(late, F.col("_i._val")), F.col("_s._val")).alias(f"asof_{value_col}"),
        )
    )


def asof_join_chunked(
    facts: DataFrame,
    annotations: DataFrame,
    chunk_s: int,
    entity: str = "image_id",
    ts: str = "ts",
    ann_ts: str = "start_ts",
    value_cols: tuple[str, ...] = ("label",),
    hot_ids: list | None = None,
) -> DataFrame:
    """Backward as-of for SKEWED entities: time-salted + re-merged.

    Observationally identical to ``asof_join_union``, but each entity's
    timeline is salted into ``ceil(span / chunk_s)`` time chunks so a
    hot entity (one image_id holding a large fraction of a 10^12-row
    table) spreads over many parallel tasks instead of serializing one
    window task.  This is the north-star's "skewed keys salted and
    re-merged" applied to the as-of merge itself:

    1. *salt*: union facts+annotations, chunk = epoch_us(ts) / chunk_s
       (deterministic, content-derived — no RNG);
    2. *local merge*: the union-form window runs per (entity, chunk);
    3. *re-merge*: each chunk's terminal annotation state — one tiny
       row per (entity, chunk) from a groupBy — is forward-carried
       across chunks by a window over the summary frame (strictly
       prior chunks only), then joined back and coalesced under the
       within-chunk result.  The carry frame is |entities| x |chunks|
       rows, so the cross-chunk dependency costs a near-zero shuffle
       while the heavy stages are embarrassingly parallel in
       (entity, chunk).

    Same tie semantics as asof_join_union (annotation at ts == fact ts
    is visible: searchsorted side='right' start-inclusion,
    fishing_feature_generation.py:59-60).  Annotations are assumed
    deduped to one row per (entity, ann_ts) — same contract as the
    other strategies.  Chunk sizing follows chunked_time_range_agg:
    pick chunk_s coarse (thousands of rows per chunk) so the summary
    frame stays tiny and per-chunk Arrow/agg overhead is amortized;
    ``chunk_s`` < 1 raises ValueError (a zero chunk cannot salt, and a
    negative one reverses the chunk order and leaks later labels).

    ``hot_ids``: when given (the layout.salted pattern: salt only the
    skewed keys), ONLY those entities are time-chunked; every other
    entity gets the constant chunk 0, i.e. exactly the union-form
    single window per entity, inside the SAME single pipeline — one
    scan of the fact table, one (entity, chunk) shuffle, one tiny
    carry join.  This is how asof_join(strategy='auto') mixes the two
    strategies without running two pipelines over the input.
    """
    from gfwspark.util import epoch_us

    _check_chunk_s(chunk_s)
    fact_cols = facts.columns
    chunk_us = int(chunk_s) * 1_000_000
    chunk_expr = F.floor(epoch_us(ts) / F.lit(chunk_us))
    if hot_ids is not None:
        non_null = [h for h in hot_ids if h is not None]
        is_hot = F.col(entity).isin(non_null) if non_null else F.lit(False)
        if any(h is None for h in hot_ids):
            # isin() never matches NULL (SQL semantics); a NULL hot
            # group must be salted explicitly or it would serialize
            # into the single chunk-0 window auto exists to prevent
            is_hot = is_hot | F.col(entity).isNull()
        chunk_expr = F.when(is_hot, chunk_expr).otherwise(F.lit(0).cast("long"))
    u = _interleave(facts, annotations, entity, ts, ann_ts, value_cols).withColumn(
        "_chunk", chunk_expr
    )
    # local merge: the union-form carry, salted by (entity, chunk)
    within = u.select("*", *_carried([entity, "_chunk"], ts, value_cols, "_in_"))
    # terminal annotation state per (entity, chunk) — max-of-struct so
    # fact rows (null value) and annotation-less chunks fold to NULL.
    # Every (entity, chunk) present in the union gets a summary row, so
    # the cross-chunk ffill below covers annotation-less fact chunks.
    summ = u.groupBy(entity, "_chunk").agg(
        *[
            F.max(
                F.when(
                    F.col(f"_v_{c}").isNotNull(),
                    F.struct(F.col(ts).alias("_t"), F.col(f"_v_{c}").alias("_v")),
                )
            )["_v"].alias(f"_last_{c}")
            for c in value_cols
        ]
    )
    # re-merge: carry = latest terminal state from STRICTLY PRIOR chunks
    w_carry = (
        Window.partitionBy(entity)
        .orderBy("_chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = summ.select(
        entity,
        "_chunk",
        *[
            F.last(F.col(f"_last_{c}"), ignorenulls=True)
            .over(w_carry)
            .alias(f"_carry_{c}")
            for c in value_cols
        ],
    )
    # join strategy deliberately left to the planner (sort-merge with
    # the big side's window sort REUSED — no re-sort of `within`): an
    # r7 experiment hinting the tiny carry side to shuffled-hash
    # measured faster standalone (1.97 -> 1.73 s interleaved minima)
    # but ~2x SLOWER inside the full bench session (2.06 -> 3.87 s,
    # asof_skew_auto 2.13 -> 5.56 s) — under AQE the hint forces
    # partition alignment against the coalesced window shuffle and the
    # big side pays a fresh exchange.  Reverted; measure in context.
    out = within.join(carry, on=[entity, "_chunk"], how="left")
    return out.filter(F.col("_src") == 1).select(
        *fact_cols,
        *[
            F.coalesce(F.col(f"_in_{c}"), F.col(f"_carry_{c}")).alias(f"asof_{c}")
            for c in value_cols
        ],
    )


def asof_join(
    facts: DataFrame,
    annotations: DataFrame,
    entity: str = "image_id",
    ts: str = "ts",
    ann_ts: str = "start_ts",
    value_cols: tuple[str, ...] = ("label",),
    strategy: str = "auto",
    hot_threshold_rows: int = 3_000_000,
    chunk_s: int | None = None,
    entity_stats: DataFrame | None = None,
    max_hot_ids: int = 256,
) -> DataFrame:
    """Strategy-dispatched backward as-of join (the engine's front door).

    ``strategy`` picks the physical plan; all strategies are
    observationally identical (shared DuckDB ASOF oracle + goldens):

    - ``'union'``    — asof_join_union (default at scale; one shuffle).
    - ``'broadcast'``— asof_join_broadcast (zero fact shuffle, two
      broadcast hash joins on a driver-built segment index; small
      annotation dims only — raises past its row cap).  Single value
      column (each index row carries one value).
    - ``'auto'``     — profile per-entity fact counts once
      (layout.collect_entity_stats: a tiny groupBy count + min/max-ts
      agg, of which only the keys above ``hot_threshold_rows`` are
      collected), then run ONE asof_join_chunked pipeline in which
      only the hot keys are time-salted (``hot_ids``) — cold entities
      get the constant chunk 0, which degenerates to exactly the
      union-form window per entity.  Single scan of the facts, single
      (entity, chunk) shuffle, one tiny carry join; no second pipeline
      over the input.  With no hot key it is asof_join_union.  The
      crossover default (3M rows/entity) is the measured break-even of
      chunked-vs-union on this engine (BENCH/HISTORY.md r3: 2.8x at
      12.8M rows/entity, ~parity at 3-5M).  Cold traffic pays only the
      salting CASE expression; hot traffic stops serializing into
      single window tasks.

    The time-salted kernel has no strategy name: call
    asof_join_chunked directly when the skew and chunk size are known.

    ``entity_stats`` (auto mode): a precomputed profile in the
    layout.collect_entity_stats shape (entity, n_rows, lo_us, hi_us),
    e.g. read back with layout.read_entity_stats, skips the profile
    pass over the facts.  Count-only stats (entity, n_rows) work too;
    the time span is then probed from the facts only if ``chunk_s`` is
    unset.

    ``chunk_s`` (auto mode): derived so each hot entity spans roughly
    ``4 x defaultParallelism`` chunks of its observed time span,
    floored at ``CHUNK_FLOOR_S`` — coarse chunks, per the chunked-kernel
    sizing rule (thousands of rows per chunk; Arrow overhead amortized).
    Pass an explicit ``chunk_s`` (>= 1 s, else ValueError) to override.
    """
    if strategy == "union":
        return asof_join_union(facts, annotations, entity, ts, ann_ts, value_cols)
    if strategy == "broadcast":
        if len(value_cols) != 1:
            raise ValueError(
                "asof_join(strategy='broadcast') supports exactly one "
                f"value column, got {value_cols!r}"
            )
        return asof_join_broadcast(
            facts, annotations, entity, ts, ann_ts, value_col=value_cols[0]
        )
    if strategy != "auto":
        raise ValueError(f"unknown as-of strategy {strategy!r}")
    if chunk_s is not None:
        _check_chunk_s(chunk_s)

    from gfwspark import layout
    from gfwspark.util import epoch_us

    # a caller-supplied profile (layout.read_entity_stats, a checkpoint
    # manifest, table stats) spares the scan of the facts
    stats = (
        layout.collect_entity_stats(facts, entity, ts)
        if entity_stats is None
        else entity_stats
    )
    have_span = {"lo_us", "hi_us"} <= set(stats.columns)
    sel = [entity, "n_rows"] + (["lo_us", "hi_us"] if have_span else [])
    hot_rows = (
        stats.select(*sel)
        .filter(F.col("n_rows") > hot_threshold_rows)
        .limit(max_hot_ids + 1)
        .collect()
    )
    if not hot_rows:
        return asof_join_union(facts, annotations, entity, ts, ann_ts, value_cols)

    if chunk_s is None:
        if have_span:
            span_s = max((r["hi_us"] - r["lo_us"]) // 1_000_000 for r in hot_rows)
        else:
            g = facts.agg(
                F.min(epoch_us(ts)).alias("lo"), F.max(epoch_us(ts)).alias("hi")
            ).first()
            span_s = (g["hi"] - g["lo"]) // 1_000_000
        n_chunks = 4 * facts.sparkSession.sparkContext.defaultParallelism
        chunk_s = max(int(span_s // n_chunks) + 1, CHUNK_FLOOR_S)

    if len(hot_rows) > max_hot_ids:
        # hot set too large to embed as an isin()/CASE literal on the
        # driver — the skew is broad, so time-chunk EVERY entity
        # (hot_ids=None): cold keys pay the salting arithmetic but the
        # plan stays bounded regardless of key cardinality.
        return asof_join_chunked(
            facts, annotations, chunk_s, entity, ts, ann_ts, value_cols,
            hot_ids=None,
        )

    # a NULL entity group is the classic dirty-data hot key: it groups
    # like any value in groupBy/window, but isin() never matches NULL,
    # so it must be carried explicitly (sorted() would also choke on
    # None next to strings)
    hot_ids = sorted(
        (r[entity] for r in hot_rows), key=lambda v: (v is None, v)
    )
    return asof_join_chunked(
        facts, annotations, chunk_s, entity, ts, ann_ts, value_cols,
        hot_ids=hot_ids,
    )
