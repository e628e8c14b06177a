"""Gap-based sessionization + run-length consolidation (reference W9/W10).

The reference collapses consecutive equal per-point predictions into
[start, end, score] ranges, splitting runs at day boundaries
(objectives.py:340-380) and rasterizes intervals onto a minute grid for
comparison (compute_fishing_metrics.py:263-324).

Spark-native: lag() marks boundaries → cumulative sum assigns session
ids → groupBy(session) consolidates.  One shuffle (entity), reused by
the window layer's layout.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from gfwspark.util import entity_time_window, epoch_us


def with_session_id(
    df: DataFrame,
    entity: str = "image_id",
    ts: str = "ts",
    gap_seconds: int = 3600,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """New session when the gap to the previous point exceeds
    `gap_seconds`.  Adds `session_id` (0-based per entity, stable under
    any partitioning: pure function of the ordered series)."""
    w = entity_time_window(entity, ts, order_tiebreak)
    gap = epoch_us(ts) - F.lag(epoch_us(ts)).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds * 1_000_000), 1).otherwise(0)
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn("_new", is_new).withColumn(
        "session_id", (F.sum("_new").over(wc) - 1).cast("long")
    ).drop("_new")


def consolidate_runs(
    df: DataFrame,
    value_col: str,
    entity: str = "image_id",
    ts: str = "ts",
    split_days: bool = True,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Run-length encode consecutive equal `value_col` per entity into
    (entity, run_start, run_end, value, n_points) ranges — the
    sessionize step of build_json_results (objectives.py:340-380).
    `split_days` additionally breaks runs at UTC day boundaries, like
    the reference's day-chunked output.

    Null-safe: a NULL value starts/extends its own run (NULL == NULL
    for run grouping, via eqNullSafe) rather than silently merging into
    the preceding run; the representative value is min() over the run
    (homogeneous by construction, deterministic even for first-row
    ties).  Pass `order_tiebreak` when (entity, ts) is not unique —
    without it duplicate timestamps make run segmentation
    partition-order-dependent."""
    w = entity_time_window(entity, ts, order_tiebreak)
    first_row = F.row_number().over(w) == 1
    changed = F.when(
        first_row | ~F.lag(value_col).over(w).eqNullSafe(F.col(value_col)), 1
    ).otherwise(0)
    if split_days:
        day_changed = F.when(
            F.lag(F.to_date(ts)).over(w) != F.to_date(ts), 1
        ).otherwise(0)
        changed = F.greatest(changed, day_changed)
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    runs = df.withColumn("_chg", changed).withColumn(
        "run_id", F.sum("_chg").over(wc)
    )
    return (
        runs.groupBy(entity, "run_id")
        .agg(
            F.min(ts).alias("run_start"),
            F.max(ts).alias("run_end"),
            F.min(value_col).alias("value"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .drop("run_id")
    )


def session_stats(
    df: DataFrame,
    value_col: str,
    entity: str = "image_id",
    ts: str = "ts",
    gap_seconds: int = 3600,
) -> DataFrame:
    """Sessionize then aggregate: (entity, session_id, start, end,
    n_points, avg value, duration)."""
    s = with_session_id(df, entity=entity, ts=ts, gap_seconds=gap_seconds)
    return s.groupBy(entity, "session_id").agg(
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        F.count(F.lit(1)).alias("n_points"),
        F.avg(value_col).alias("avg_value"),
        (F.max(epoch_us(ts)) - F.min(epoch_us(ts))).alias(
            "duration_us"
        ),
    )


def minute_grid_compare(
    true_ranges: DataFrame,
    pred_ranges: DataFrame,
    entity: str = "image_id",
    start: str = "run_start",
    end: str = "run_end",
    value: str = "value",
) -> DataFrame:
    """W10: rasterize two interval sets onto a per-minute grid and
    full-outer join on (entity, minute) — the reference's agreement
    raster (compute_fishing_metrics.py:263-324).

    sequence() + explode keeps the expansion distributed; at 100 TB the
    grid explodes inside each task (no driver materialization) and the
    join co-partitions on (entity, minute)."""

    def raster(df: DataFrame, out: str) -> DataFrame:
        return df.select(
            F.col(entity),
            F.explode(
                F.sequence(
                    F.floor(epoch_us(start) / 60_000_000).cast("long"),
                    F.floor(epoch_us(end) / 60_000_000).cast("long"),
                )
            ).alias("minute"),
            F.col(value).alias(out),
        ).groupBy(entity, "minute").agg(F.max(out).alias(out))

    t = raster(true_ranges, "true_value")
    p = raster(pred_ranges, "pred_value")
    return t.join(p, [entity, "minute"], "full_outer")
