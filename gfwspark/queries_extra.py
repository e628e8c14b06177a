"""Remaining operator-surface queries: backfill, weighted sampling,
log/exp rescaling, argmax, multilabel explode, window kernels
(rows-only where the output is array-valued or Python-hashed)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from gfwspark import functions, sources, tables, windows
from gfwspark.queries import register

# ---------------------------------------------------------------------
# ffill (north-rule backfill): carry last non-null forward
# ---------------------------------------------------------------------

_FFILL_ORACLE = """
SELECT user_id, ts, event_id, v,
  last_value(v IGNORE NULLS) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
FROM (
  SELECT user_id, ts, event_id,
    CASE WHEN event_id % 4 = 0 THEN NULL ELSE value END AS v
  FROM events
)
"""


@register("ffill_backfill", _FFILL_ORACLE)
def q_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_id") % 4 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    return windows.with_ffill(
        ev, ["v"], entity="user_id", ts="ts", order_tiebreak="event_id"
    )


# ---------------------------------------------------------------------
# Deterministic weighted sampling (S2 weighted source, skew cap)
# ---------------------------------------------------------------------

_WSAMPLE_ORACLE = """
WITH w AS (
  SELECT event_id, user_id, ts,
    CASE WHEN user_id % 5 = 0 THEN 4.0 ELSE 1.0 END AS weight
  FROM events
)
SELECT event_id, user_id, ts FROM w
WHERE ('0x' || substr(md5(
        cast(event_id AS varchar) || '|' || '7'), 1, 8))::BIGINT / 4294967296.0
      < least(weight, 100.0) * 0.1
"""


@register("weighted_sample", _WSAMPLE_ORACLE)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("user_id") % 5 == 0, 4.0).otherwise(1.0).alias("weight"),
    )
    return sources.weighted_sample(
        ev, "weight", ["event_id"], fraction=0.1, seed=7
    ).select("event_id", "user_id", "ts")


# ---------------------------------------------------------------------
# F8: log/exp rescale (temperature softmax per group,
# rescale_scores compute_vessel_metrics.py:750-755) — decimal-routed
# ---------------------------------------------------------------------

_RESCALE_ORACLE = """
WITH e AS (
  SELECT event_id, event_type, value,
    cast(cast(exp(least(greatest(value, -5.0), 5.0)) AS double) AS decimal(18,6)) AS ev
  FROM events
),
s AS (SELECT event_type, sum(ev) AS sev FROM e GROUP BY event_type)
SELECT e.event_id, e.event_type,
  round(cast(e.ev AS double) / cast(s.sev AS double), 6) AS softmax
FROM e JOIN s ON e.event_type = s.event_type
"""


@register("score_rescale_softmax", _RESCALE_ORACLE)
def q_rescale(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.exp(functions.clip("value", -5.0, 5.0)).cast("decimal(18,6)").alias("ev"),
    )
    s = ev.groupBy("event_type").agg(F.sum("ev").alias("sev"))
    return ev.join(s, "event_type").select(
        "event_id",
        "event_type",
        F.round(F.col("ev").cast("double") / F.col("sev").cast("double"), 6).alias(
            "softmax"
        ),
    )


# ---------------------------------------------------------------------
# F11: argmax over array column
# ---------------------------------------------------------------------

_ARGMAX_ORACLE = """
SELECT vec_id, cast(list_position(embedding, list_max(embedding)) AS int) AS argmax_dim,
       round(cast(list_max(embedding) AS double), 6) AS max_val
FROM embeddings
"""


@register("argmax_array", _ARGMAX_ORACLE)
def q_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        functions.argmax_array("embedding").alias("argmax_dim"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_val"),
    )


# ---------------------------------------------------------------------
# F6: multilabel split + explode on a '|'-joined synthetic label
# ---------------------------------------------------------------------

_MULTILABEL_ORACLE = """
SELECT label, count(*) AS n FROM (
  SELECT unnest(list_filter(
    list_transform(string_split(concat(event_type, '|', props), '|'),
                   x -> trim(x)),
    x -> length(x) > 0)) AS label
  FROM events WHERE props IS NOT NULL
) GROUP BY label
"""


@register("multilabel_explode", _MULTILABEL_ORACLE)
def q_multilabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load_table(spark, sf_dir, "events").filter(
        F.col("props").isNotNull()
    )
    lab = ev.select(
        F.explode(
            functions.split_multilabel(F.concat_ws("|", "event_type", "props"))
        ).alias("label")
    )
    return lab.groupBy("label").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------
# stable_hash (F1, blake2b pandas UDF).  DuckDB has no blake2b, so the
# oracle is a GOLDEN-AS-ORACLE VALUES table: expected values for the
# deterministic sf0.01 input, generated independently with Python
# hashlib from the documented rule (see gfwspark/golden.py; reference
# style: classification/metadata_test.py:77 pins hash values the same
# way).  Exact pinned goldens also live in tests/test_sources.py.
# ---------------------------------------------------------------------

from gfwspark.golden import stable_hash_values_sql as _stable_hash_values_sql


@register("stable_hash_ids", _stable_hash_values_sql())
def q_stable_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = tables.load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey", functions.stable_hash(F.col("c_name")).alias("id_hash")
    )


# ---------------------------------------------------------------------
# W5 repeat-pad + W2 aligned windows — FULL oracles in exploded scalar
# form (one row per window position; the repeat-pad index rule
# out[k] = series[offset + k % c] is replayed in SQL, same trick as the
# W3 sampler in queries_sampling.py)
# ---------------------------------------------------------------------

_DUCK_IMG_X = tables.sql_image_caption("duckdb").strip()

_REPEAT_PAD_ORACLE = f"""
WITH img AS ({_DUCK_IMG_X}),
f AS (
  SELECT image_id, ts, cast(phash AS double) AS phash, cast(w AS double) AS wd,
    row_number() OVER (PARTITION BY image_id ORDER BY ts) - 1 AS rn,
    count(*) OVER (PARTITION BY image_id) AS n
  FROM img
),
meta AS (
  SELECT image_id, cast(max(n) AS int) AS n_src_points,
    greatest(0, max(n) - 16) AS off, least(max(n), 16) AS c,
    max(ts) AS win_end_ts
  FROM f GROUP BY image_id
),
posg AS (SELECT *, unnest(generate_series(0, 15)) AS pos FROM meta)
SELECT p.image_id, p.n_src_points, p.win_end_ts, cast(p.pos AS int) AS pos,
       f.phash, f.wd
FROM posg p
JOIN f ON f.image_id = p.image_id AND f.rn = p.off + (p.pos % p.c)
"""


@register("repeat_pad_windows", _REPEAT_PAD_ORACLE)
def q_repeat_pad(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = tables.image_caption_from_events(spark, sf_dir)
    w = windows.repeat_pad_windows(
        img.withColumn("wd", F.col("w").cast("double")),
        ["phash", "wd"],
        window_size=16,
    )
    return w.select(
        "image_id",
        "n_src_points",
        "win_end_ts",
        F.posexplode("features").alias("pos", "e"),
    ).select(
        "image_id",
        "n_src_points",
        "win_end_ts",
        "pos",
        F.col("e")[0].alias("phash"),
        F.col("e")[1].alias("wd"),
    )


# W2 geometry for the gate: window=(2, 7) -> shift 4, pad_start 2,
# pad_end 9 (process_fixed_window_features with window=(b,e),
# fishing_feature_generation.py:106-110).  END sits half a day before
# the data's max ts so some entities tail-pad with features[-1]
# replicas (n_pad_end > 0) and others don't; START five days in so
# entities with < 2 earlier rows take the start_i < 0 branch and
# exercise the reference's head-pad-appended-at-tail quirk.
_ALIGNED_START, _ALIGNED_END = "2024-01-05 00:00:00", "2024-01-29 12:00:00"
_AW_W, _AW_S, _AW_B = 16, 4, 2  # window_size, shift, win_start
_AW_PE, _AW_PS = _AW_W - (_AW_B + _AW_S + 1), _AW_B  # pad_end, pad_start

_ALIGNED_ORACLE = f"""
WITH img AS ({_DUCK_IMG_X}),
f AS (
  SELECT image_id, ts, cast(phash AS double) AS phash, cast(w AS double) AS wd,
    row_number() OVER (PARTITION BY image_id ORDER BY ts) - 1 AS rn
  FROM img
),
m0 AS (
  SELECT image_id, cast(count(*) AS bigint) AS n,
    cast(sum(CASE WHEN ts <= timestamp '{_ALIGNED_END}' THEN 1 ELSE 0 END) AS bigint) AS rei,
    cast(sum(CASE WHEN ts < timestamp '{_ALIGNED_START}' THEN 1 ELSE 0 END) AS bigint) AS rsi
  FROM f GROUP BY image_id
),
m1 AS (
  SELECT image_id, n, rei + {_AW_PE} AS end_i, rsi - {_AW_PS} AS si0
  FROM m0 WHERE rsi - {_AW_PS} < n AND rei + {_AW_PE} >= 1
),
m2 AS (
  SELECT *, si0 - ((({_AW_W} + si0 - end_i) % {_AW_S} + {_AW_S}) % {_AW_S}) AS start_i
  FROM m1
),
m3 AS (
  SELECT *, end_i - start_i AS L,
    cast(least(end_i, n) - greatest(start_i, 0) AS int) AS n_real_points,
    cast((end_i - start_i) - (least(end_i, n) - greatest(start_i, 0)) AS int) AS n_pad
  FROM m2 WHERE end_i - start_i >= {_AW_W}
),
wins AS (
  SELECT *, unnest(generate_series(0, (L - {_AW_W}) // {_AW_S})) AS win_idx FROM m3
),
posg AS (
  SELECT *, unnest(generate_series(0, {_AW_W - 1})) AS pos,
    win_idx * {_AW_S} + unnest(generate_series(0, {_AW_W - 1})) AS i
  FROM wins
)
SELECT p.image_id, cast(p.win_idx AS int) AS win_idx, p.n_real_points, p.n_pad,
  cast(p.pos AS int) AS pos, f.phash, f.wd
FROM posg p
JOIN f ON f.image_id = p.image_id
  AND f.rn = CASE WHEN p.start_i >= 0 THEN least(p.start_i + p.i, p.n - 1)
                  WHEN p.i < p.end_i THEN least(p.i, p.n - 1)
                  ELSE 0 END
"""


@register("aligned_windows", _ALIGNED_ORACLE)
def q_aligned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    img = tables.image_caption_from_events(spark, sf_dir)
    return windows.aligned_windows(
        img.withColumn("wd", F.col("w").cast("double")),
        ["phash", "wd"],
        window_size=_AW_W,
        shift=_AW_S,
        start_ts=pd.Timestamp(_ALIGNED_START),
        end_ts=pd.Timestamp(_ALIGNED_END),
        win_start=_AW_B,
    )


# ---------------------------------------------------------------------
# W6: repeat-pad + seeded roll augmentation — full oracle: the rolled
# element at position k is series[off + ((k - roll) mod L) mod c] with
# roll = md5(entity:roll:seed) % L, all SQL-expressible.
# ---------------------------------------------------------------------

_ROLL_L, _ROLL_SEED = 16, 42

_ROLL_ORACLE = f"""
WITH img AS ({_DUCK_IMG_X}),
f AS (
  SELECT image_id, ts, cast(phash AS double) AS phash, cast(w AS double) AS wd,
    row_number() OVER (PARTITION BY image_id ORDER BY ts) - 1 AS rn,
    count(*) OVER (PARTITION BY image_id) AS n
  FROM img
),
meta AS (
  SELECT image_id, cast(max(n) AS int) AS n_src_points,
    greatest(0, max(n) - {_ROLL_L}) AS off, least(max(n), {_ROLL_L}) AS c,
    cast(cast(('0x' || substr(md5(concat_ws(':', image_id, 'roll', {_ROLL_SEED})), 1, 8)) AS bigint)
         % {_ROLL_L} AS int) AS roll
  FROM f GROUP BY image_id
),
posg AS (SELECT *, unnest(generate_series(0, {_ROLL_L - 1})) AS pos FROM meta)
SELECT p.image_id, p.n_src_points, p.roll, cast(p.pos AS int) AS pos,
       f.phash, f.wd
FROM posg p
JOIN f ON f.image_id = p.image_id
  AND f.rn = p.off + ((((p.pos - p.roll) % {_ROLL_L} + {_ROLL_L}) % {_ROLL_L}) % p.c)
"""


@register("repeat_pad_roll", _ROLL_ORACLE)
def q_repeat_pad_roll(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = tables.image_caption_from_events(spark, sf_dir)
    w = windows.repeat_pad_roll_windows(
        img.withColumn("wd", F.col("w").cast("double")),
        ["phash", "wd"],
        window_size=_ROLL_L,
        seed=_ROLL_SEED,
    )
    return w.select(
        "image_id",
        "n_src_points",
        "roll",
        F.posexplode("features").alias("pos", "e"),
    ).select(
        "image_id",
        "n_src_points",
        "roll",
        "pos",
        F.col("e")[0].alias("phash"),
        F.col("e")[1].alias("wd"),
    )


# ---------------------------------------------------------------------
# W3: fixed-duration backward time window (rangeBetween)
# ---------------------------------------------------------------------

_TIME_RANGE_ORACLE = """
SELECT user_id, ts, event_id,
  count(value) OVER w AS v_t3600_cnt,
  min(value) OVER w AS v_t3600_min,
  max(value) OVER w AS v_t3600_max
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


@register("time_range_window", _TIME_RANGE_ORACLE)
def q_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    return windows.with_time_range_agg(
        ev, "value", duration_s=3600, entity="user_id", ts="ts", prefix="v_t3600"
    ).drop("value")


# Hot-entity chunked form of the same computation: identical results,
# but each entity spreads over ceil(span/chunk) parallel tasks (the
# 10^7-row hot-key path).  The oracle is the plain RANGE BETWEEN window
# — chunk+carry must be observationally invisible.
_CHUNKED_TIME_RANGE_ORACLE = """
SELECT user_id, ts, event_id,
  count(value) OVER w AS v_t3600_cnt,
  min(value) OVER w AS v_t3600_min,
  max(value) OVER w AS v_t3600_max
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


@register("chunked_time_range", _CHUNKED_TIME_RANGE_ORACLE)
def q_chunked_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    # chunk = 5 days: ~6 chunks per entity-month.  Pick chunk_s so a
    # chunk's occupancy bounds task memory AND groups stay coarse —
    # thousands of near-empty chunks just buy Arrow round-trip overhead.
    return windows.chunked_time_range_agg(
        ev, "value", duration_s=3600, chunk_s=86400 * 5,
        entity="user_id", ts="ts", prefix="v_t3600",
    ).drop("value")


# ---------------------------------------------------------------------
# A9: log-scaled weighted mean (AveragingLengthsAcrossTime.py:79-87):
# scale = 10*ln(active+1) + ln(pos+1); mean = sum(x*scale)/sum(scale)
# ---------------------------------------------------------------------

_LOGW_MEAN_ORACLE = """
WITH pc AS (
  SELECT o_custkey, count(*) AS n_orders,
    cast(sum(cast(o_totalprice AS decimal(14,2))) AS decimal(14,2)) AS spend
  FROM orders GROUP BY o_custkey
),
s AS (
  SELECT o_custkey, spend, n_orders,
    cast(cast(10 * ln(n_orders + 1) AS double) AS decimal(8,6)) AS scale
  FROM pc
)
SELECT round(cast(sum(cast(spend * scale AS decimal(30,8))) AS double)
       / cast(sum(scale) AS double), 4) AS weighted_mean_spend,
       count(*) AS n_entities
FROM s
"""


@register("log_weighted_mean", _LOGW_MEAN_ORACLE)
def q_log_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tables.load_table(spark, sf_dir, "orders")
    pc = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)")).cast("decimal(14,2)").alias("spend"),
    )
    s = pc.select(
        "spend",
        (10 * F.log(F.col("n_orders") + 1)).cast("double").cast("decimal(8,6)").alias("scale"),
    )
    return s.agg(
        F.round(
            F.sum((F.col("spend") * F.col("scale")).cast("decimal(30,8)")).cast("double")
            / F.sum("scale").cast("double"),
            4,
        ).alias("weighted_mean_spend"),
        F.count(F.lit(1)).alias("n_entities"),
    )


# ---------------------------------------------------------------------
# P2: finiteness predicate (np.isfinite guard, feature_utilities.py:144)
# ---------------------------------------------------------------------

_FINITE_ORACLE = """
WITH v AS (
  SELECT event_id,
    CASE WHEN event_id % 7 = 0 THEN 'NaN'::DOUBLE ELSE value END AS val
  FROM events
)
SELECT
  count(CASE WHEN NOT isnan(val) THEN 1 END) AS n_finite,
  count(CASE WHEN isnan(val) THEN 1 END) AS n_dropped
FROM v
"""


@register("finiteness_filter", _FINITE_ORACLE)
def q_finite(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.lit(float("nan")))
        .otherwise(F.col("value"))
        .alias("val"),
    )
    return ev.agg(
        F.count(F.when(~F.isnan("val"), 1)).alias("n_finite"),
        F.count(F.when(F.isnan("val"), 1)).alias("n_dropped"),
    )


# ---------------------------------------------------------------------
# Skew path through the correctness gate: two-phase salted aggregation
# must be indistinguishable from the direct aggregate (the oracle IS
# the plain GROUP BY — salting is a physical rewrite, not a semantic
# one).  Salt = md5-prefix hash of the row key (deterministic at any
# partitioning), 16 sub-keys per entity.
# ---------------------------------------------------------------------

_SALTED_AGG_ORACLE = """
SELECT user_id, count(*) AS n_events,
  cast(sum(cast(value AS decimal(18,6))) AS double) AS sum_value
FROM events GROUP BY user_id
"""


@register("salted_two_phase_agg", _SALTED_AGG_ORACLE)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gfwspark.text import token_hash32

    ev = tables.load_table(spark, sf_dir, "events")
    salted = ev.withColumn(
        "salt", (token_hash32(F.col("event_id").cast("string")) % 16).cast("int")
    )
    partial = salted.groupBy("user_id", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("ps"),
    )
    return partial.groupBy("user_id").agg(
        F.sum("pn").alias("n_events"),
        F.sum("ps").cast("double").alias("sum_value"),
    )


# ---------------------------------------------------------------------
# Exact interpolated percentiles (A-layer extension; Spark percentile()
# and DuckDB quantile_cont() share the a+(b-a)*f formula; round(6)
# guards the interpolation arithmetic).
# ---------------------------------------------------------------------

_PERCENTILE_ORACLE = """
SELECT event_type,
  round(quantile_cont(value, 0.25), 6) AS p25,
  round(quantile_cont(value, 0.5), 6) AS p50,
  round(quantile_cont(value, 0.75), 6) AS p75,
  count(*) AS n
FROM events GROUP BY event_type
"""


@register("percentiles", _PERCENTILE_ORACLE)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.75)), 6).alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------
# Per-entity z-score normalization (A11 applied per entity — the
# backward-only variant uses expanding decimal moments so features stay
# leakage-free; here the batch-global per-entity form used at training
# time, run_training.py:26-40).
# ---------------------------------------------------------------------

_ZSCORE_ORACLE = """
WITH m AS (
  SELECT user_id, count(*) AS n,
    cast(sum(cast(value AS decimal(18,6))) AS double) AS s,
    cast(sum(cast(value AS decimal(18,6)) * cast(value AS decimal(18,6))) AS double) AS ss
  FROM events GROUP BY user_id
)
SELECT e.event_id, e.user_id,
  CASE WHEN m.n < 2 OR (m.ss - m.s * m.s / m.n) <= 0 THEN 0.0
       ELSE round((e.value - m.s / m.n)
                  / sqrt((m.ss - m.s * m.s / m.n) / (m.n - 1)), 6)
  END AS value_z
FROM events e JOIN m ON e.user_id = m.user_id
"""


@register("per_entity_zscore", _ZSCORE_ORACLE)
def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,6)")
    m = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).cast("double").alias("s"),
        F.sum(dec * dec).cast("double").alias("ss"),
    )
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    return ev.join(m, "user_id").select(
        "event_id",
        "user_id",
        F.when(
            (F.col("n") < 2)
            | ((F.col("ss") - F.col("s") * F.col("s") / F.col("n")) <= 0),
            F.lit(0.0),
        )
        .otherwise(F.round((F.col("value") - F.col("s") / F.col("n")) / F.sqrt(var), 6))
        .alias("value_z"),
    )


# ---------------------------------------------------------------------
# Third as-of strategy: broadcast map-side (zero fact shuffle) — must
# agree with the same DuckDB ASOF oracle as the other two strategies.
# ---------------------------------------------------------------------

from gfwspark import asof as _asof
from gfwspark.queries import _ASOF_ORACLE, _ann_dedup


@register("asof_join_broadcast", _ASOF_ORACLE)
def q_asof_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = tables.image_caption_from_events(spark, sf_dir).select(
        "image_id", "ts", "event_id"
    )
    return _asof.asof_join_broadcast(img, _ann_dedup(spark, sf_dir))


# ---------------------------------------------------------------------
# Expanding backward-only z-score (leakage-free online normalization)
# ---------------------------------------------------------------------

_ZEXP_ORACLE = """
WITH m AS (
  SELECT event_id, user_id, ts, value,
    count(value) OVER w AS n,
    cast(sum(cast(value AS decimal(18,6))) OVER w AS double) AS s,
    cast(sum(cast(value AS decimal(18,6)) * cast(value AS decimal(18,6))) OVER w AS double) AS ss
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts, value,
  CASE WHEN n < 2 OR (ss - s * s / n) <= 0 THEN 0.0
       ELSE round((value - s / n) / sqrt((ss - s * s / n) / (n - 1)), 6)
  END AS value_zexp
FROM m
"""


@register("expanding_zscore", _ZEXP_ORACLE)
def q_expanding_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return windows.with_expanding_zscore(
        ev, "value", entity="user_id", ts="ts", order_tiebreak="event_id"
    )


# ---------------------------------------------------------------------
# Stratified exact-count sampling + token-budget batch packing — the
# class-rebalancing and batch-sharding steps of a training pipeline.
# ---------------------------------------------------------------------

_STRAT_ORACLE = """
WITH ranked AS (
  SELECT doc_id, lang,
    row_number() OVER (PARTITION BY lang ORDER BY
      ('0x' || substr(md5(concat_ws('|', cast(doc_id AS varchar), '42')), 1, 8))::BIGINT,
      doc_id) AS rk
  FROM documents
)
SELECT doc_id, lang FROM ranked WHERE rk <= 50
"""


@register("stratified_sample", _STRAT_ORACLE)
def q_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return sources.stratified_sample(d, "lang", n_per_class=50, key_cols=["doc_id"], seed=42)


_PACK_ORACLE = """
WITH t AS (
  SELECT doc_id, lang,
    cast(CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS bigint) AS n_tokens
  FROM documents
),
s AS (
  SELECT doc_id, lang, n_tokens,
    cast(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS bigint)
      AS batch_start_offset
  FROM t
)
SELECT doc_id, lang, n_tokens,
  cast(floor(batch_start_offset / 512.0) AS bigint) AS batch_id,
  batch_start_offset
FROM s
"""


@register("pack_token_batches", _PACK_ORACLE)
def q_pack_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load_table(spark, sf_dir, "documents")
    from gfwspark.text import tokens_col

    t = d.select(
        "doc_id",
        "lang",
        F.size(tokens_col("text")).cast("long").alias("n_tokens"),
    )
    return sources.pack_token_budget_batches(
        t, "n_tokens", budget=512, order_cols=["doc_id"], partition_col="lang"
    )


# ---------------------------------------------------------------------
# W1 materialized form: every full window stepping back from the series
# end by `shift`, exploded to one row per window position (the
# np_array_extract_all_fixed_slices payload, feature_utilities.py:350-368)
# ---------------------------------------------------------------------

_SFW_W, _SFW_SHIFT = 12, 4

_SFW_ORACLE = f"""
WITH f AS (
  SELECT user_id, ts, value,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
    count(*) OVER (PARTITION BY user_id) AS n
  FROM events
),
anchors AS (
  SELECT user_id, rn AS end_rn, ts AS win_end_ts
  FROM f
  WHERE (n - rn) % {_SFW_SHIFT} = 0 AND rn >= {_SFW_W}
),
posg AS (
  SELECT *, unnest(generate_series(0, {_SFW_W - 1})) AS pos FROM anchors
),
joined AS (
  SELECT p.user_id, p.win_end_ts, p.pos, f.ts, f.value
  FROM posg p
  JOIN f ON f.user_id = p.user_id AND f.rn = p.end_rn - {_SFW_W} + 1 + p.pos
)
SELECT user_id, win_end_ts,
  min(ts) OVER (PARTITION BY user_id, win_end_ts) AS win_start_ts,
  cast({_SFW_W} AS int) AS n_points,
  cast(pos AS int) AS pos, value AS feature
FROM joined
"""


def _exploded_windows(w: DataFrame) -> DataFrame:
    """Materialized windows exploded to one scalar row per window
    position — the row shape _SFW_ORACLE emits."""
    return w.select(
        "user_id",
        "win_end_ts",
        "win_start_ts",
        F.col("n_points").cast("int").alias("n_points"),
        F.posexplode("features").alias("pos", "feature"),
    ).select(
        "user_id",
        "win_end_ts",
        "win_start_ts",
        "n_points",
        F.col("pos").cast("int").alias("pos"),
        "feature",
    )


@register("sliding_feature_windows", _SFW_ORACLE)
def q_sliding_feature_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load_table(spark, sf_dir, "events")
    # exercise the ENGINE operator (windows.sliding_feature_windows),
    # exploded to scalar rows for the driver hash; the events table has
    # unique per-user ts so the operator's ts-only ordering is
    # deterministic here
    w = windows.sliding_feature_windows(
        ev.select("user_id", "ts", "value"),
        "value",
        window_size=_SFW_W,
        shift=_SFW_SHIFT,
        entity="user_id",
        ts="ts",
    )
    return _exploded_windows(w)


# ---------------------------------------------------------------------
# W1 refs form: the same window index set as sliding_feature_windows,
# but emitted as zero-copy references (row-number + stride-block
# addresses into windows.stride_blocks) instead of flattened W-element
# copies — the shape that avoids the W/shift byte amplification at
# 100 TB.  Golden reconstruction equality in test_engine_golden.py.
# ---------------------------------------------------------------------

_SWR_ORACLE = f"""
WITH f AS (
  SELECT user_id, ts,
    row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn,
    count(*) OVER (PARTITION BY user_id) AS n
  FROM events
),
anchors AS (
  SELECT user_id, rn AS end_rn, ts AS win_end_ts FROM f
  WHERE (n - rn) % {_SFW_SHIFT} = 0 AND rn >= {_SFW_W}
)
SELECT a.user_id, a.win_end_ts, s.ts AS win_start_ts,
  cast({_SFW_W} AS int) AS n_points,
  cast(a.end_rn - {_SFW_W - 1} AS bigint) AS win_start_rn,
  cast(a.end_rn AS bigint) AS win_end_rn,
  cast((a.end_rn - {_SFW_W}) // {_SFW_SHIFT} AS bigint) AS blk_lo,
  cast((a.end_rn - 1) // {_SFW_SHIFT} AS bigint) AS blk_hi
FROM anchors a
JOIN f s ON s.user_id = a.user_id AND s.rn = a.end_rn - {_SFW_W - 1}
"""


@register("append_blocks_windows", _SFW_ORACLE)
def q_append_blocks_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-maintenance path end-to-end against the SAME
    oracle as sliding_feature_windows: split each user's series at its
    midpoint (the late half is a strictly-later-ts append batch; the
    events table has unique per-user ts), build stride blocks from the
    early half, merge the append via append_stride_blocks, assemble
    windows from the maintained blocks — the result must be value-
    identical to one-shot windows over the full series."""
    from pyspark.sql import Window as W_

    ev = tables.load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "value"
    )
    w_ = W_.partitionBy("user_id").orderBy("ts")
    tagged = ev.withColumn("_rn", F.row_number().over(w_)).withColumn(
        "_n", F.count(F.lit(1)).over(W_.partitionBy("user_id"))
    )
    early = tagged.filter(F.col("_rn") <= F.col("_n") / 2).drop("_rn", "_n")
    late = tagged.filter(F.col("_rn") > F.col("_n") / 2).drop("_rn", "_n")
    blocks = windows.append_stride_blocks(
        windows.stride_blocks(early, "value", shift=_SFW_SHIFT,
                              entity="user_id", ts="ts"),
        late, "value", shift=_SFW_SHIFT, entity="user_id", ts="ts",
        on_late="ignore",  # split-by-rank guarantees monotonicity; skip the count
    )
    w = windows.windows_from_stride_blocks(
        blocks, window_size=_SFW_W, shift=_SFW_SHIFT, entity="user_id"
    )
    return _exploded_windows(w)


@register("sliding_window_refs", _SWR_ORACLE)
def q_sliding_window_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load_table(spark, sf_dir, "events")
    r = windows.sliding_feature_window_refs(
        ev.select("user_id", "ts"),
        window_size=_SFW_W,
        shift=_SFW_SHIFT,
        entity="user_id",
        ts="ts",
    )
    return r.select(
        "user_id",
        "win_end_ts",
        "win_start_ts",
        F.col("n_points").cast("int").alias("n_points"),
        F.col("win_start_rn").cast("long").alias("win_start_rn"),
        F.col("win_end_rn").cast("long").alias("win_end_rn"),
        F.col("blk_lo").cast("long").alias("blk_lo"),
        F.col("blk_hi").cast("long").alias("blk_hi"),
    )


# ---------------------------------------------------------------------
# W1 large-window scalarized form: O(n) running-sum difference instead
# of Spark's O(W)-per-row bounded frame — the path for the reference's
# production window geometry (window_max_points = 12800,
# vessel_characterization.py:59-69).  Registered round 3 (local parity
# gate this round; rotate into the driver window next round).
# ---------------------------------------------------------------------

_SAL_W = 50

_SLIDING_LARGE_ORACLE = f"""
WITH base AS (
  SELECT user_id, ts, value,
    sum(cast(value AS decimal(38,6))) OVER w AS s,
    sum(cast(value * value AS decimal(38,6))) OVER w AS s2,
    cast(count(value) OVER w AS bigint) AS cnt
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN {_SAL_W - 1} PRECEDING AND CURRENT ROW)
),
v AS (
  SELECT *,
    CASE WHEN cnt > 0 THEN round(greatest(0.0,
      cast(s2 AS double) / cast(cnt AS double)
      - (cast(s AS double) / cast(cnt AS double))
        * (cast(s AS double) / cast(cnt AS double))), 6) END AS v_var
  FROM base
)
SELECT user_id, ts, value,
  CASE WHEN cnt > 0 THEN cast(s AS double) END AS v_sum,
  cnt AS v_cnt,
  CASE WHEN cnt > 0 THEN cast(s AS double) / cast(cnt AS double) END AS v_avg,
  v_var,
  CASE WHEN cnt > 0 THEN round(sqrt(v_var), 6) END AS v_std
FROM v
"""


@register("sliding_agg_large", _SLIDING_LARGE_ORACLE)
def q_sliding_agg_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    return windows.with_sliding_agg_large(
        ev, "value", window_size=_SAL_W, entity="user_id", ts="ts", prefix="v",
        with_var=True,
    )


# ---------------------------------------------------------------------
# J1, fourth physical strategy: time-salted + re-merged as-of for
# skewed entities (north-star: "skewed keys salted and re-merged").
# Same oracle as the other three strategies — observational identity.
# ---------------------------------------------------------------------


@register("asof_join_chunked", _ASOF_ORACLE)
def q_asof_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = tables.image_caption_from_events(spark, sf_dir).select(
        "image_id", "ts", "event_id"
    )
    # ~1-week chunks over the sf events' ~2-year span: every entity
    # salts into dozens of parallel slices at any sf
    return _asof.asof_join_chunked(
        img, _ann_dedup(spark, sf_dir), chunk_s=7 * 86400, value_cols=("label",)
    )


# ---------------------------------------------------------------------
# J1 front door: strategy='auto' dispatch.  hot_threshold_rows is set
# low here so the sf0.01 fixture genuinely exercises the MIXED plan
# (some entities routed through the chunked kernel, the rest through
# the union form) — production keeps the measured 3M-row crossover.
# ---------------------------------------------------------------------


@register("asof_join_auto", _ASOF_ORACLE)
def q_asof_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = tables.image_caption_from_events(spark, sf_dir).select(
        "image_id", "ts", "event_id"
    )
    return _asof.asof_join(
        img,
        _ann_dedup(spark, sf_dir),
        value_cols=("label",),
        strategy="auto",
        hot_threshold_rows=50,
    )


# ---------------------------------------------------------------------
# Winsorized per-entity feature clipping (leakage-safe feature
# scaling's outlier step): clip each entity's values to its own
# [p05, p95] — the standard robust-scaling preparation before
# normalization_stats.  The bounds are computed with percentile() OVER
# an entity-partitioned window, NOT a groupBy + join back: the
# entity-keyed percentile "dim" has one row per entity, so at 10^12
# rows it is itself a billion-row frame — broadcasting it is a driver
# OOM and shuffle-joining it doubles the fact shuffle, while the
# window form computes and applies the bounds inside the single
# entity partitioning (plan pinned join-free in
# tests/test_plans.py::test_winsorize_plan_single_exchange_no_join).
# round(6) on the percentile bounds per the interpolation policy; the
# clip itself is exact.
# ---------------------------------------------------------------------

_WINSORIZE_ORACLE = """
WITH b AS (
  SELECT user_id,
    round(quantile_cont(value, 0.05), 6) AS lo,
    round(quantile_cont(value, 0.95), 6) AS hi
  FROM events GROUP BY user_id
)
SELECT e.event_id, e.user_id, e.value,
  least(greatest(e.value, b.lo), b.hi) AS value_w,
  cast(e.value < b.lo OR e.value > b.hi AS boolean) AS clipped
FROM events e JOIN b USING (user_id)
"""


@register("winsorize_features", _WINSORIZE_ORACLE)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = tables.load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    w = Window.partitionBy("user_id")
    lo = F.round(F.percentile("value", F.lit(0.05)).over(w), 6)
    hi = F.round(F.percentile("value", F.lit(0.95)).over(w), 6)
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.least(F.greatest(F.col("value"), lo), hi).alias("value_w"),
        ((F.col("value") < lo) | (F.col("value") > hi)).alias("clipped"),
    )


# ---------------------------------------------------------------------
# Z-order (Morton) clustering key — the OPTIMIZE ZORDER analog
# (layout.zorder_table(spark, path, cols) re-sorts a managed table in
# place by it, through compaction's rewrite; the pytest pins the
# narrow-envelope property).  This query oracles the MATH: per-column
# quantile bucketing (exact interpolated percentiles, round-6 — the
# shared Spark percentile()/DuckDB quantile_cont() convention) and the
# bit interleave, over (user_id, value) with 8 buckets per dimension.
# ---------------------------------------------------------------------

_Z_BITS = 3
_Z_PROBS = [k / (1 << _Z_BITS) for k in range(1, 1 << _Z_BITS)]


def _z_oracle() -> str:
    bcols = []
    for i, c in enumerate(["user_id", "value"]):
        qs = ", ".join(
            f"round(quantile_cont({c}, {p}), 6) AS b_{i}_{k}"
            for k, p in enumerate(_Z_PROBS)
        )
        bcols.append(qs)
    bucket = []
    for i in range(2):
        terms = " + ".join(
            f"(CASE WHEN e.c_{i} >= b.b_{i}_{k} THEN 1 ELSE 0 END)"
            for k in range(len(_Z_PROBS))
        )
        bucket.append(f"({terms}) AS bk_{i}")
    inter = " + ".join(
        f"(((bk_{i} >> {j}) & 1) << {j * 2 + i})"
        for i in range(2)
        for j in range(_Z_BITS)
    )
    return f"""
WITH b AS (SELECT {bcols[0]}, {bcols[1]} FROM events),
e AS (SELECT event_id, cast(user_id AS double) AS c_0, value AS c_1 FROM events),
k AS (
  SELECT e.event_id, {bucket[0]}, {bucket[1]}
  FROM e CROSS JOIN b
)
SELECT event_id, cast(bk_0 AS int) AS bucket_user,
  cast(bk_1 AS int) AS bucket_value,
  cast({inter} AS bigint) AS zkey
FROM k
"""


@register("zorder_key", _z_oracle())
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gfwspark import layout

    ev = tables.load_table(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").cast("double").alias("c_0"),
        F.col("value").alias("c_1"),
    )
    bounds = ev.agg(
        *[
            F.round(F.percentile(f"c_{i}", F.lit(p)), 6).alias(f"b_{i}_{k}")
            for i in range(2)
            for k, p in enumerate(_Z_PROBS)
        ]
    ).first()
    bs = [
        [float(bounds[f"b_{i}_{k}"]) for k in range(len(_Z_PROBS))]
        for i in range(2)
    ]
    buckets = [layout.zorder_bucket(f"c_{i}", bs[i]) for i in range(2)]
    out = ev.select(
        "event_id",
        buckets[0].cast("int").alias("bucket_user"),
        buckets[1].cast("int").alias("bucket_value"),
    )
    zk = layout.zorder_key(
        [F.col("bucket_user"), F.col("bucket_value")], bits=_Z_BITS
    )
    return out.withColumn("zkey", zk.cast("long"))
