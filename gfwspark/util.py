"""Small shared expression helpers."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql.window import WindowSpec


def epoch_s(col: str | Column) -> Column:
    """Epoch seconds from a timestamp column, NTZ-safe.

    Parquet timestamps may arrive as TIMESTAMP_NTZ (Spark 4 cannot cast
    those straight to BIGINT); routing through TIMESTAMP interprets the
    wall-clock in the session timezone (pinned to UTC in session.py),
    matching DuckDB's epoch()."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp").cast("long")


def epoch_us(col: str | Column) -> Column:
    """Exact epoch microseconds (bigint) — the only safe currency for
    gap/duration arithmetic shared with the DuckDB oracle, whose
    ``epoch()`` returns a rounding double while Spark's long-cast
    truncates (off-by-one at sub-second boundaries)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def entity_time_window(
    entity: str, ts: str, order_tiebreak: str | None = None
) -> WindowSpec:
    """Per-entity window in deterministic time order: ts ascending, ties
    broken by `order_tiebreak` so results do not depend on the partition
    count (SURVEY.md §7 determinism)."""
    order = [F.col(ts).asc()] + ([F.col(order_tiebreak).asc()] if order_tiebreak else [])
    return Window.partitionBy(entity).orderBy(*order)


def round_half_up(x: float, nd: int = 6) -> float:
    """Driver-side rounding that matches Spark F.round and DuckDB
    round(): half-AWAY-from-zero on the double's SHORTEST-DECIMAL
    representation (see classify._round6 docstring for the two ways
    naive python disagrees).  Use for any driver-computed constant
    that an oracle recomputes in SQL."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-nd)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def observed_rows(obs: Observation) -> int:
    """``n`` of an Observation of ``count(1) AS n`` after a job ran it.
    Adaptive execution drops a subtree it proved empty from the final
    plan and Spark completes its Observation with an empty row (on which
    ``get`` raises); callers observe only frames dropped only when
    empty, so that reads as 0 rows."""
    return obs.get["n"] if obs._jo.getRow().size() else 0


def release(df: DataFrame) -> None:
    """Drop the blocks of the localCheckpoint'ed frame ``df`` now rather
    than at the next JVM GC (when the ContextCleaner would).  Nothing may
    read ``df`` afterwards.  SparkContext.unpersistRDD is the call
    RDD.unpersist makes after it warns that a locally checkpointed RDD
    cannot be recomputed: the release is intended, so it skips the
    warning."""
    rdd = df._jdf.logicalPlan().rdd()
    rdd.sparkContext().unpersistRDD(rdd.id(), False)
