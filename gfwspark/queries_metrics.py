"""Metrics / consolidation / set-op queries (SURVEY §2.4, §2.5 W7/W10,
§2.7, §2.8 F7) — the compute_vessel_metrics + create_train_info layer
re-expressed over the driver tables.

Float policy as in gfwspark.queries: decimal-routed sums, round(…, 6)
after any division/sqrt.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from gfwspark import sessionize, tables, text, windows
from gfwspark.queries import _LANGID_ORACLE, register

# ---------------------------------------------------------------------
# A3: score-vector consolidation + argmax (consolidate_across_dates,
# compute_vessel_metrics.py:548-597): per label, elementwise sum of
# embedding vectors across rows, then argmax dimension.
# ---------------------------------------------------------------------

_CONSOLIDATE_ORACLE = """
WITH expl AS (
  SELECT label, unnest(list_transform(generate_series(1, len(embedding)),
         i -> struct_pack(i := i, v := embedding[i]))) AS s
  FROM embeddings
),
dims AS (
  SELECT label, s.i AS dim,
    cast(sum(cast(cast(s.v AS double) AS decimal(18,6))) AS double) AS dim_sum
  FROM expl GROUP BY label, s.i
),
r AS (
  SELECT label, dim, dim_sum,
    row_number() OVER (PARTITION BY label ORDER BY dim_sum DESC, dim) AS rk
  FROM dims
),
n AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY label)
SELECT r.label, cast(r.dim AS int) AS argmax_dim, r.dim_sum AS max_sum, n.n_vecs
FROM r JOIN n ON r.label = n.label WHERE r.rk = 1
"""


@register("score_consolidation", _CONSOLIDATE_ORACLE)
def q_consolidate(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load_table(spark, sf_dir, "embeddings")
    dims = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(F.sum(F.col("v").cast("double").cast("decimal(18,6)")).cast("double").alias("dim_sum"))
    )
    w = Window.partitionBy("label").orderBy(F.col("dim_sum").desc(), F.col("dim"))
    n = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    return (
        dims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .join(n, "label")
        .select(
            "label",
            F.col("dim").cast("int").alias("argmax_dim"),
            F.col("dim_sum").alias("max_sum"),
            "n_vecs",
        )
    )


# ---------------------------------------------------------------------
# A4: masked attribute mean (consolidate_attribute_across_dates,
# compute_vessel_metrics.py:600-639): mean of non-negative balances.
# ---------------------------------------------------------------------

_MASKED_MEAN_ORACLE = """
SELECT c_nationkey,
  count(CASE WHEN c_acctbal >= 0 THEN 1 END) AS n_valid,
  round(cast(sum(CASE WHEN c_acctbal >= 0
                      THEN cast(c_acctbal AS decimal(18,4)) END) AS double)
        / nullif(count(CASE WHEN c_acctbal >= 0 THEN 1 END), 0), 6) AS mean_bal
FROM customer GROUP BY c_nationkey
"""


@register("masked_attribute_mean", _MASKED_MEAN_ORACLE)
def q_masked_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = tables.load_table(spark, sf_dir, "customer")
    valid = F.when(F.col("c_acctbal") >= 0, F.lit(1))
    return c.groupBy("c_nationkey").agg(
        F.count(valid).alias("n_valid"),
        F.round(
            F.sum(
                F.when(F.col("c_acctbal") >= 0, F.col("c_acctbal").cast("decimal(18,4)"))
            ).cast("double")
            / F.nullif(F.count(valid), F.lit(0)),
            6,
        ).alias("mean_bal"),
    )


# ---------------------------------------------------------------------
# A6: time-weighted entity weight (metadata.py:254-272): per image_id
# sum of annotation durations, normalized by global min, capped at 100.
# ---------------------------------------------------------------------

_DUCK_ANN = tables.sql_annotations("duckdb").strip()
_TIME_WEIGHT_ORACLE = f"""
WITH ann AS ({_DUCK_ANN}),
d AS (
  SELECT image_id, count(*) AS n_ranges,
    sum(cast(label AS decimal(18,6))) AS dur_sum
  FROM ann GROUP BY image_id
),
m AS (SELECT min(dur_sum) AS min_sum FROM d WHERE dur_sum > 0)
SELECT d.image_id, d.n_ranges,
  round(least(100.0, cast(d.dur_sum AS double) / cast(m.min_sum AS double)), 6) AS weight
FROM d CROSS JOIN m
"""


@register("time_weighted_entity_weight", _TIME_WEIGHT_ORACLE)
def q_time_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    ann = tables.annotations_from_events(spark, sf_dir)
    d = ann.groupBy("image_id").agg(
        F.count(F.lit(1)).alias("n_ranges"),
        F.sum(F.col("label").cast("decimal(18,6)")).alias("dur_sum"),
    )
    m = d.filter(F.col("dur_sum") > 0).agg(F.min("dur_sum").alias("min_sum"))
    return d.crossJoin(F.broadcast(m)).select(
        "image_id",
        "n_ranges",
        F.round(
            F.least(
                F.lit(100.0),
                F.col("dur_sum").cast("double") / F.col("min_sum").cast("double"),
            ),
            6,
        ).alias("weight"),
    )


# ---------------------------------------------------------------------
# A7: confusion matrix (base_confusion_matrix,
# compute_vessel_metrics.py:290-304): true lang × predicted lang counts.
# ---------------------------------------------------------------------

_CONFUSION_ORACLE = f"""
WITH pred AS ({_LANGID_ORACLE})
SELECT lang AS true_lang, pred_lang, count(*) AS n
FROM pred GROUP BY lang, pred_lang
"""


@register("confusion_matrix", _CONFUSION_ORACLE)
def q_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load_table(spark, sf_dir, "documents")
    pred = text.lang_id(d)
    return pred.groupBy(
        F.col("lang").alias("true_lang"), F.col("pred_lang")
    ).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------
# A8: per-class precision / recall / F1 (compute_vessel_metrics.py:221-263)
# ---------------------------------------------------------------------

_PRF_ORACLE = f"""
WITH pred AS ({_LANGID_ORACLE}),
classes AS (SELECT DISTINCT lang AS cls FROM pred),
stats AS (
  SELECT c.cls,
    cast(sum(CASE WHEN p.lang = c.cls AND p.pred_lang = c.cls THEN 1 ELSE 0 END) AS bigint) AS tp,
    cast(sum(CASE WHEN p.lang <> c.cls AND p.pred_lang = c.cls THEN 1 ELSE 0 END) AS bigint) AS fp,
    cast(sum(CASE WHEN p.lang = c.cls AND p.pred_lang <> c.cls THEN 1 ELSE 0 END) AS bigint) AS fn
  FROM pred p CROSS JOIN classes c GROUP BY c.cls
)
SELECT cls, tp, fp, fn,
  round(cast(tp AS double) / nullif(tp + fp, 0), 6) AS precision,
  round(cast(tp AS double) / nullif(tp + fn, 0), 6) AS recall,
  round(cast(2 * tp AS double) / nullif(2 * tp + fp + fn, 0), 6) AS f1
FROM stats
"""


@register("precision_recall_f1", _PRF_ORACLE)
def q_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load_table(spark, sf_dir, "documents")
    pred = text.lang_id(d).select("lang", "pred_lang")
    classes = pred.select(F.col("lang").alias("cls")).distinct()
    joined = pred.crossJoin(F.broadcast(classes))
    stats = joined.groupBy("cls").agg(
        F.sum(
            F.when((F.col("lang") == F.col("cls")) & (F.col("pred_lang") == F.col("cls")), 1).otherwise(0)
        ).alias("tp"),
        F.sum(
            F.when((F.col("lang") != F.col("cls")) & (F.col("pred_lang") == F.col("cls")), 1).otherwise(0)
        ).alias("fp"),
        F.sum(
            F.when((F.col("lang") == F.col("cls")) & (F.col("pred_lang") != F.col("cls")), 1).otherwise(0)
        ).alias("fn"),
    )
    return stats.select(
        "cls", "tp", "fp", "fn",
        F.round(F.col("tp").cast("double") / F.nullif(F.col("tp") + F.col("fp"), F.lit(0)), 6).alias("precision"),
        F.round(F.col("tp").cast("double") / F.nullif(F.col("tp") + F.col("fn"), F.lit(0)), 6).alias("recall"),
        F.round((2 * F.col("tp")).cast("double") / F.nullif(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(0)), 6).alias("f1"),
    )


# ---------------------------------------------------------------------
# A10: composite rollup via mapping table (assemble_composite,
# compute_vessel_metrics.py:860-907): fine event_type → coarse bucket.
# ---------------------------------------------------------------------

_ROLLUP_ORACLE = """
SELECT CASE
    WHEN event_type IN ('click', 'view') THEN 'browse'
    WHEN event_type IN ('purchase', 'add_to_cart') THEN 'commerce'
    ELSE 'other' END AS coarse,
  count(*) AS n,
  cast(sum(cast(value AS decimal(18,6))) AS double) AS sum_value
FROM events GROUP BY 1
"""


@register("composite_rollup", _ROLLUP_ORACLE)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load_table(spark, sf_dir, "events")
    coarse = (
        F.when(F.col("event_type").isin("click", "view"), "browse")
        .when(F.col("event_type").isin("purchase", "add_to_cart"), "commerce")
        .otherwise("other")
    )
    return ev.groupBy(coarse.alias("coarse")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


# ---------------------------------------------------------------------
# A11: global normalization stats (run_training.py:26-40): mean/std from
# decimal moments — order-independent, engine-exact.
# ---------------------------------------------------------------------

_NORM_STATS_ORACLE = """
WITH m AS (
  SELECT count(*) AS n,
    cast(sum(cast(l_quantity AS decimal(18,4))) AS double) AS s,
    cast(sum(cast(l_quantity AS decimal(18,4)) * cast(l_quantity AS decimal(18,4))) AS double) AS ss
  FROM lineitem
)
SELECT n, round(s / n, 6) AS mean_qty,
  round(sqrt((ss - s * s / n) / (n - 1)), 6) AS std_qty
FROM m
"""


@register("normalization_stats", _NORM_STATS_ORACLE)
def q_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load_table(spark, sf_dir, "lineitem")
    dec = F.col("l_quantity").cast("decimal(18,4)")
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).cast("double").alias("s"),
        F.sum(dec * dec).cast("double").alias("ss"),
    )
    return m.select(
        "n",
        F.round(F.col("s") / F.col("n"), 6).alias("mean_qty"),
        F.round(
            F.sqrt((F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)),
            6,
        ).alias("std_qty"),
    )


# ---------------------------------------------------------------------
# A12: class prevalence fractions (load_class_weights,
# compute_vessel_metrics.py:708-728)
# ---------------------------------------------------------------------

_PREVALENCE_ORACLE = """
WITH t AS (SELECT count(*) AS total FROM documents)
SELECT lang, count(*) AS n,
  round(cast(count(*) AS double) / any_value(t.total), 6) AS fraction
FROM documents CROSS JOIN t GROUP BY lang
"""


@register("class_prevalence", _PREVALENCE_ORACLE)
def q_prevalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load_table(spark, sf_dir, "documents")
    t = d.agg(F.count(F.lit(1)).alias("total"))
    return (
        d.crossJoin(F.broadcast(t))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.any_value("total"), 6
            ).alias("fraction"),
        )
    )


# ---------------------------------------------------------------------
# F7: multihot encoding (metadata.py:436-463): bitmask over the set of
# order-priority classes seen per customer.
# ---------------------------------------------------------------------

_MULTIHOT_ORACLE = """
SELECT o_custkey,
  cast(sum(DISTINCT cast(1 AS bigint) << cast(substr(o_orderpriority, 1, 1) AS int)) AS bigint) AS prio_multihot,
  count(DISTINCT o_orderpriority) AS n_classes
FROM orders GROUP BY o_custkey
"""


@register("multihot_encode", _MULTIHOT_ORACLE)
def q_multihot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tables.load_table(spark, sf_dir, "orders")
    bit = F.expr("shiftleft(cast(1 as bigint), cast(substr(o_orderpriority, 1, 1) as int))")
    return o.groupBy("o_custkey").agg(
        F.sum_distinct(bit).alias("prio_multihot"),
        F.count_distinct("o_orderpriority").alias("n_classes"),
    )


# ---------------------------------------------------------------------
# U1/U4: union of two half-year aggregates (AveragingLengthsAcrossTime)
# ---------------------------------------------------------------------

_UNION_ORACLE = """
SELECT 'H1' AS half, o_orderpriority, count(*) AS n
FROM orders WHERE extract(month FROM o_orderdate) <= 6
GROUP BY o_orderpriority
UNION ALL
SELECT 'H2' AS half, o_orderpriority, count(*) AS n
FROM orders WHERE extract(month FROM o_orderdate) > 6
GROUP BY o_orderpriority
"""


@register("semiyear_union", _UNION_ORACLE)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tables.load_table(spark, sf_dir, "orders")
    h1 = (
        o.filter(F.month("o_orderdate") <= 6)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("H1").alias("half"), "o_orderpriority", "n")
    )
    h2 = (
        o.filter(F.month("o_orderdate") > 6)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("H2").alias("half"), "o_orderpriority", "n")
    )
    return h1.unionByName(h2)


# ---------------------------------------------------------------------
# U2/U3: intersect + except (metadata id-set ops)
# ---------------------------------------------------------------------

_SETOPS_ORACLE = """
SELECT
  (SELECT count(*) FROM
    (SELECT c_nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier)
  ) AS n_both,
  (SELECT count(*) FROM
    (SELECT c_nationkey FROM customer EXCEPT SELECT s_nationkey FROM supplier)
  ) AS n_customer_only
"""


@register("id_set_ops", _SETOPS_ORACLE)
def q_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = tables.load_table(spark, sf_dir, "customer").select("c_nationkey")
    s = tables.load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("c_nationkey")
    )
    # one distributed job: intersect/except both reduce to whether a
    # distinct customer key also appears on the supplier side
    hits = c.distinct().join(
        s.distinct().withColumn("_s", F.lit(1)), "c_nationkey", "left"
    )
    return hits.agg(
        F.count("_s").alias("n_both"),
        F.sum(F.when(F.col("_s").isNull(), 1).otherwise(0)).alias("n_customer_only"),
    )


# ---------------------------------------------------------------------
# W7: month-grid sliding ranges (run_inference.py:50-73): 3-month
# windows anchored on month starts, events counted per range.
# ---------------------------------------------------------------------

_MONTH_GRID_ORACLE = """
WITH bounds AS (
  SELECT cast(date_trunc('month', min(ts)) AS timestamp) AS lo,
         cast(date_trunc('month', max(ts)) AS timestamp) AS hi
  FROM events
),
grid AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS range_start
  FROM bounds
),
ranges AS (
  SELECT range_start, range_start + INTERVAL 3 MONTH AS range_end FROM grid
)
SELECT r.range_start, r.range_end, count(e.event_id) AS n_events,
  cast(sum(cast(e.value AS decimal(18,6))) AS double) AS sum_value
FROM ranges r LEFT JOIN events e
  ON e.ts >= r.range_start AND e.ts < r.range_end
GROUP BY r.range_start, r.range_end
"""


@register("month_grid_windows", _MONTH_GRID_ORACLE)
def q_month_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load_table(spark, sf_dir, "events")
    ranges = windows.month_grid_ranges(ev, ts="ts", window_months=3)
    joined = ev.join(
        F.broadcast(ranges),
        (F.col("ts") >= F.col("range_start")) & (F.col("ts") < F.col("range_end")),
        "right",
    )
    return joined.groupBy("range_start", "range_end").agg(
        F.count("event_id").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


# ---------------------------------------------------------------------
# W10: minute-grid interval agreement (compare_fishing_localisation,
# compute_fishing_metrics.py:263-324): sessions of high-value vs
# all-activity intervals rasterized to minutes, per-user agreement.
# ---------------------------------------------------------------------

_MINUTE_GRID_ORACLE = """
WITH s AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
t AS (
  SELECT user_id, ts, value,
    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM s
),
sess AS (
  SELECT user_id, session_id, min(ts) AS run_start, max(ts) AS run_end,
    max(CASE WHEN value >= 0.5 THEN 1.0 ELSE 0.0 END) AS value
  FROM t GROUP BY user_id, session_id
),
truth AS (SELECT user_id, run_start, run_end, value FROM sess WHERE value = 1.0),
pred AS (SELECT user_id, run_start, run_end, 1.0 AS value FROM sess),
traster AS (
  SELECT DISTINCT user_id, m.minute, 1 AS t_flag FROM truth,
    LATERAL (SELECT unnest(generate_series(
      epoch_us(run_start) // 60000000, epoch_us(run_end) // 60000000)) AS minute) m
),
praster AS (
  SELECT DISTINCT user_id, m.minute, 1 AS p_flag FROM pred,
    LATERAL (SELECT unnest(generate_series(
      epoch_us(run_start) // 60000000, epoch_us(run_end) // 60000000)) AS minute) m
)
SELECT coalesce(t.user_id, p.user_id) AS user_id,
  count(CASE WHEN t_flag = 1 AND p_flag = 1 THEN 1 END) AS n_agree,
  count(CASE WHEN t_flag IS NULL THEN 1 END) AS n_pred_only,
  count(CASE WHEN p_flag IS NULL THEN 1 END) AS n_true_only
FROM traster t FULL OUTER JOIN praster p
  ON t.user_id = p.user_id AND t.minute = p.minute
GROUP BY coalesce(t.user_id, p.user_id)
"""


@register("minute_grid_agreement", _MINUTE_GRID_ORACLE)
def q_minute_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    sess = sessionize.with_session_id(
        ev, entity="user_id", ts="ts", gap_seconds=1800, order_tiebreak="event_id"
    )
    runs = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("run_start"),
        F.max("ts").alias("run_end"),
        F.max(F.when(F.col("value") >= 0.5, 1.0).otherwise(0.0)).alias("value"),
    )
    truth = runs.filter(F.col("value") == 1.0).select(
        "user_id", "run_start", "run_end", "value"
    )
    pred = runs.select("user_id", "run_start", "run_end", F.lit(1.0).alias("value"))
    grid = sessionize.minute_grid_compare(truth, pred, entity="user_id")
    return grid.groupBy("user_id").agg(
        F.count(
            F.when(F.col("true_value").isNotNull() & F.col("pred_value").isNotNull(), 1)
        ).alias("n_agree"),
        F.count(F.when(F.col("true_value").isNull(), 1)).alias("n_pred_only"),
        F.count(F.when(F.col("pred_value").isNull(), 1)).alias("n_true_only"),
    )


# ---------------------------------------------------------------------
# J7: multi-table CTE join with overlap theta + window dedup — the
# create_train_info.py:131-188 "vessel database" analog.
# ---------------------------------------------------------------------

_TRAIN_INFO_ORACLE = """
WITH cust_orders AS (
  SELECT c.c_custkey, c.c_mktsegment, n.n_name,
    min(o.o_orderdate) AS first_order, max(o.o_orderdate) AS last_order,
    count(*) AS n_orders
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_mktsegment, n.n_name
),
quick AS (
  SELECT o.o_custkey, count(*) AS n_quick
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_shipdate >= o.o_orderdate
    AND l.l_shipdate < o.o_orderdate + INTERVAL 15 DAY
  GROUP BY o.o_custkey
),
ranked AS (
  SELECT co.*, coalesce(q.n_quick, 0) AS n_quick,
    row_number() OVER (PARTITION BY co.n_name
                       ORDER BY co.n_orders DESC, co.c_custkey) AS rk
  FROM cust_orders co LEFT JOIN quick q ON q.o_custkey = co.c_custkey
)
SELECT c_custkey, c_mktsegment, n_name, first_order, last_order,
       n_orders, n_quick, cast(rk AS int) AS rk
FROM ranked WHERE rk <= 5
"""


@register("train_info_cte", _TRAIN_INFO_ORACLE)
def q_train_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = tables.load_table(spark, sf_dir, "customer")
    n = tables.load_table(spark, sf_dir, "nation")
    o = tables.load_table(spark, sf_dir, "orders")
    li = tables.load_table(spark, sf_dir, "lineitem")

    cust_orders = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_mktsegment", "n_name")
        .agg(
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    quick = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (F.col("l_shipdate") < F.col("o_orderdate") + F.expr("interval 15 day"))
        )
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_quick"))
    )
    w = Window.partitionBy("n_name").orderBy(F.col("n_orders").desc(), F.col("c_custkey"))
    return (
        cust_orders.join(quick, cust_orders.c_custkey == quick.o_custkey, "left")
        .withColumn("n_quick", F.coalesce("n_quick", F.lit(0)))
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 5)
        .select(
            "c_custkey", "c_mktsegment", "n_name", "first_order", "last_order",
            "n_orders", "n_quick", "rk",
        )
    )
