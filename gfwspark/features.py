"""Per-image derived features + the flagship featurization pipeline.

The graft replaces the reference's 14 AIS movement features
(vessel_characterization.py:204) with image-native ones (SURVEY.md
§2.8 "graft-specific derived features"), all built-in-function only —
no Python in the hot path:

- phash hamming delta vs previous version:  bit_count(phash ^ lag(phash))
- aspect ratio stats:                        w / h
- caption token count:                       size(split(caption, '\\s+'))
- time delta / log-gap (the reference's GAP feature, GAP_LOGDT
  feature_utilities.py:73-102):              log1p(ts - lag(ts))

The flagship pipeline = layout → derived features → backward as-of
label join → sliding window aggregates → sessionization.  One shuffle
on entity feeds every window stage (they share the partitioning), which
is what keeps the plan scalable at 10^12 rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from gfwspark.util import entity_time_window, epoch_s

from gfwspark import asof, sessionize


def with_row_features(df: DataFrame) -> DataFrame:
    """Per-row derived features — no window, no shuffle.  Applied
    BEFORE the entity shuffle so wide payload columns (caption) reduce
    to small ints map-side and never cross the network."""
    return df.withColumn(
        "aspect", F.col("w").cast("double") / F.col("h")
    ).withColumn(
        "caption_tokens",
        F.when(F.length(F.trim("caption")) == 0, F.lit(0)).otherwise(
            F.size(F.split(F.trim("caption"), r"\s+"))
        ),
    )


def with_lag_features(
    df: DataFrame,
    entity: str = "image_id",
    ts: str = "ts",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Neighbor-based derived features (lag over the entity time order)."""
    w = entity_time_window(entity, ts, order_tiebreak)
    prev_phash = F.lag("phash").over(w)
    prev_ts = F.lag(epoch_s(ts)).over(w)
    return df.withColumn(
        "phash_hamming",
        F.when(prev_phash.isNull(), F.lit(None).cast("int")).otherwise(
            F.bit_count(F.col("phash").bitwiseXOR(prev_phash))
        ),
    ).withColumn(
        "log_dt",
        F.when(prev_ts.isNull(), F.lit(None).cast("double")).otherwise(
            F.log1p(epoch_s(ts) - prev_ts)
        ),
    )


def _labelled_base(
    images: DataFrame,
    annotations: DataFrame | None,
    entity: str,
    ts: str,
    order_tiebreak: str | None,
    asof_strategy: str,
) -> DataFrame:
    """Row features, payload drop, as-of label, then lag features: the
    base both featurizations add their sliding aggregates to."""
    feat = with_row_features(images).drop("caption", "bytes", "fmt")
    if annotations is not None:
        feat = asof.asof_join(
            feat, annotations, entity=entity, ts=ts,
            ann_ts="start_ts", value_cols=("label",),
            strategy=asof_strategy,
        )
    return with_lag_features(feat, entity=entity, ts=ts, order_tiebreak=order_tiebreak)


def featurize(
    images: DataFrame,
    annotations: DataFrame | None = None,
    entity: str = "image_id",
    ts: str = "ts",
    window_size: int = 8,
    session_gap_s: int = 3600,
    order_tiebreak: str | None = None,
    asof_strategy: str = "union",
) -> DataFrame:
    """Flagship pipeline: derived features + as-of label + backward
    sliding aggregates + session ids.

    ``asof_strategy``: 'union' (default — one shuffle whose entity
    hashpartitioning every later window stage reuses; the measured
    best on balanced data) or any asof.asof_join strategy; pass
    'auto' when the entity distribution is skewed so hot keys route
    through the time-salted chunked kernel (asof.py).

    Plan shape (at any scale): the as-of union-merge runs FIRST — its
    window node establishes hashpartitioning(entity), and every later
    window stage (derived features, sliding aggs, session ids) reuses
    that partitioning, so the fact table is shuffled exactly once.
    (As-of last would union post-window facts with annotations, and a
    union discards partitioning info → a second full-data exchange —
    the difference between 1× and 2× the dataset through the network
    at 10^12 rows.)

    Output is the FEATURE table: payload columns (caption, bytes, fmt)
    are consumed map-side into per-row features and dropped before the
    shuffle — join them back post-hoc by (entity, ts) if needed.
    """
    feat = _labelled_base(images, annotations, entity, ts, order_tiebreak, asof_strategy)

    wslide = entity_time_window(entity, ts, order_tiebreak).rowsBetween(
        -(window_size - 1), 0
    )
    feat = (
        feat.withColumn("ham_w_avg", F.avg("phash_hamming").over(wslide))
        .withColumn("ham_w_max", F.max("phash_hamming").over(wslide))
        .withColumn("tok_w_avg", F.avg("caption_tokens").over(wslide))
        .withColumn("aspect_w_min", F.min("aspect").over(wslide))
        .withColumn("n_in_window", F.count(F.lit(1)).over(wslide))
    )

    return sessionize.with_session_id(
        feat, entity=entity, ts=ts, gap_seconds=session_gap_s,
        order_tiebreak=order_tiebreak,
    )


def featurize_full(
    images: DataFrame,
    annotations: DataFrame | None = None,
    entity: str = "image_id",
    ts: str = "ts",
    window_sizes: tuple[int, ...] = (4, 16, 64),
    session_gap_s: int = 3600,
    order_tiebreak: str | None = None,
    asof_strategy: str = "union",
) -> DataFrame:
    """Full-width featurization: the 14-feature analog of the reference
    production config (--feature_dimensions 14,
    train/deploy_cloudml.yaml:7) — per-row features, lag deltas, and
    min/avg/max/stddev sliding aggregates at three window geometries
    (vessel-char 12800 / fishing 1024 / scored 256 analogs), all over
    the single entity shuffle."""
    feat = _labelled_base(images, annotations, entity, ts, order_tiebreak, asof_strategy)

    w_time = entity_time_window(entity, ts, order_tiebreak)
    for ws in window_sizes:
        w = w_time.rowsBetween(-(ws - 1), 0)
        feat = (
            feat.withColumn(f"ham_w{ws}_avg", F.avg("phash_hamming").over(w))
            .withColumn(f"ham_w{ws}_max", F.max("phash_hamming").over(w))
            .withColumn(f"ham_w{ws}_std", F.stddev("phash_hamming").over(w))
            .withColumn(f"tok_w{ws}_avg", F.avg("caption_tokens").over(w))
            .withColumn(f"aspect_w{ws}_min", F.min("aspect").over(w))
            .withColumn(f"dt_w{ws}_avg", F.avg("log_dt").over(w))
        )
    return sessionize.with_session_id(
        feat, entity=entity, ts=ts, gap_seconds=session_gap_s,
        order_tiebreak=order_tiebreak,
    )
