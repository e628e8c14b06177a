"""Scalar function catalog (SURVEY §2.8).

Most F1–F12 functions are pure built-ins used inline throughout the
engine; the ones centralized here either need Python (blake2b — no JVM
builtin, vectorized pandas UDF over Arrow batches, never per-row) or
are small reusable compositions.
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf


def stable_hash(col: str | Column) -> Column:
    """The reference's stable id hash: int of the LAST 8 hex digits of
    blake2b (classification/metadata.py:130-133).  xxhash64/crc32 are
    NOT equivalent — parity requires blake2b, hence a (vectorized)
    pandas UDF: one Arrow batch in, one out, no per-row Python calls
    into Spark.  Built lazily: pandas_udf registration needs an active
    session."""

    @pandas_udf("long")
    def _blake2b_hash(ids: pd.Series) -> pd.Series:
        return ids.map(
            lambda s: int(hashlib.blake2b(str(s).encode()).hexdigest()[-8:], 16)
        ).astype("int64")

    return _blake2b_hash(F.col(col) if isinstance(col, str) else col)


def argmax_array(arr: str | Column) -> Column:
    """1-based index of the max element (F11, argmax of score vector:
    compute_vessel_metrics.py:589-593)."""
    c = F.col(arr) if isinstance(arr, str) else arr
    return F.array_position(c, F.array_max(c)).cast("int")


def clip(col: str | Column, lo: float, hi: float) -> Column:
    """F12 clip via least/greatest."""
    c = F.col(col) if isinstance(col, str) else col
    return F.least(F.greatest(c, F.lit(lo)), F.lit(hi))


def split_multilabel(col: str | Column, sep: str = r"\|") -> Column:
    """F6: '|'-separated multi-label → trimmed non-empty array
    (metadata.py:318-321)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.transform(F.split(c, sep), lambda x: F.trim(x)),
        lambda x: F.length(x) > 0,
    )
