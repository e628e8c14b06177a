"""Physical layout: per-entity time-sorted partitions + skew handling.

The reference stores one sorted series per vessel file and *asserts*
sortedness at runtime (feature_utilities.py:405-407).  Spark partitions
hold many entities, so the equivalent invariant is:

    repartitionByRange(entity)  →  entities range-clustered
    sortWithinPartitions(entity, ts)  →  secondary sort

After this, every per-entity kernel (as-of merge, sliding windows,
sessionization) sees its entity's rows contiguous and time-ascending —
searchsorted runs linear, exactly like the reference's numpy
hot path.

Skew: a hot entity (millions of rows at 100 TB) would overflow one
task.  ``detect_skew`` finds hot keys from a cheap count aggregate;
``salted`` splits them into `n_salts` sub-keys for shuffle-heavy stages
whose semantics are per-row or mergeable, and the caller re-merges.
AQE skew-join splitting remains on as a second line of defense
(session.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession


def partition_sorted(
    df: DataFrame,
    entity: str = "image_id",
    ts: str = "ts",
    num_partitions: int | None = None,
) -> DataFrame:
    """Range-partition by entity, secondary-sort by (entity, ts).

    At 100 TB this is the one big shuffle of the featurization job;
    every downstream per-entity operator reuses the layout (no further
    shuffles), mirroring how the reference pays its sort cost once at
    feature-file creation.
    """
    if num_partitions:
        df = df.repartitionByRange(num_partitions, F.col(entity))
    else:
        df = df.repartitionByRange(F.col(entity))
    return df.sortWithinPartitions(entity, ts)


def detect_skew(
    df: DataFrame, entity: str = "image_id", hot_threshold_rows: int = 100_000
) -> DataFrame:
    """Cheap per-entity count; rows above threshold are 'hot' keys.

    Returns a small DataFrame (entity, n_rows) of hot keys — broadcast
    it into the salting join.  The reference's analog is the
    MAX_WEIGHT=100 replication cap (metadata.py:268-272).
    """
    return (
        df.groupBy(entity)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > hot_threshold_rows)
    )


def salted(
    df: DataFrame,
    entity: str = "image_id",
    n_salts: int = 16,
    hot_keys: DataFrame | None = None,
) -> DataFrame:
    """Add a `salt` column: 0 for cold keys; crc32(entity,ts)%n_salts for
    hot keys (or for all keys when hot_keys is None).

    Group by (entity, salt) in the heavy stage, then re-merge partials
    with a final groupBy(entity).  Deterministic: the salt is a pure
    function of the row, never rand().
    """
    salt_expr = (F.crc32(F.concat_ws("|", F.col(entity), F.col("ts").cast("string")))
                 % n_salts).cast("int")
    if hot_keys is None:
        return df.withColumn("salt", salt_expr)
    hot = hot_keys.select(F.col(entity), F.lit(True).alias("_hot"))
    return (
        df.join(F.broadcast(hot), entity, "left")
        .withColumn("salt", F.when(F.col("_hot"), salt_expr).otherwise(F.lit(0)))
        .drop("_hot")
    )


def assert_sorted_within_entities(df: DataFrame, entity: str = "image_id", ts: str = "ts") -> int:
    """Test-side invariant check (the Spark analog of the reference's
    assert at feature_utilities.py:405-407).  Returns the number of
    out-of-order rows (0 when the invariant holds)."""
    from pyspark.sql import Window

    w = Window.partitionBy(entity).orderBy(ts)
    return (
        df.withColumn("_prev", F.lag(ts).over(w))
        .filter(F.col("_prev") > F.col(ts))
        .count()
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Write a bucketed (+ optionally sorted) table — the CO-LOCATED
    join layout: two tables bucketed by the same key into the same
    bucket count join WITHOUT any Exchange (each bucket file pair is a
    local sort-merge), which at 100 TB removes the single biggest cost
    of the fact-to-fact join.  Bucket pruning also serves point lookups.

    Spark's bucketing rides the session catalog (saveAsTable);
    `spark.sql.sources.bucketing.enabled` is on by default, and the
    within-bucket sortBy means an as-of/merge join reads pre-sorted
    runs (the at-rest twin of partition_sorted)."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def zorder_bucket(col, boundaries: list[float]):
    """Bucket index of `col` against sorted quantile `boundaries`
    (len = 2^bits - 1): count of boundaries <= value, as a pure
    expression — a searchsorted over a small literal array, evaluated
    map-side (the boundaries come from one driver-side exact-quantile
    pass, the same sampling shape Delta's OPTIMIZE ZORDER uses for its
    range ids).  NULLs land in bucket 0."""
    c = F.col(col) if isinstance(col, str) else col
    return F.aggregate(
        F.array(*[F.lit(float(b)) for b in boundaries]),
        F.lit(0),
        lambda acc, b: acc + F.when(c >= b, 1).otherwise(0),
    )


def zorder_key(bucket_cols: list, bits: int = 8):
    """Bit-interleave per-column bucket ids (already in [0, 2^bits))
    into one Z-order (Morton) key: bit j of column i lands at position
    j * n_cols + i.  Locality property: rows close in the key are close
    in EVERY bucketed dimension, so sorting files by the key gives each
    file a narrow min/max envelope in all dimensions at once — parquet
    row-group / Iceberg file skipping then prunes on ANY of them, not
    just the leading sort column."""
    n = len(bucket_cols)
    key = F.lit(0).cast("long")
    for i, bc in enumerate(bucket_cols):
        for j in range(bits):
            key = key + F.shiftleft(
                F.shiftright(bc.cast("long"), j) % 2, j * n + i
            ).cast("long")
    return key


def zorder_table(
    spark: SparkSession,
    path: str,
    cols: list[str],
    bits: int = 8,
    n_files: int | None = None,
) -> dict:
    """Rewrite the managed table at `path` in place, clustered by the
    Z-order of `cols` — the OPTIMIZE ZORDER analog: one exact-quantile
    pass per column on the driver (approxQuantile(rel=0)), map-side
    bucket + interleave, and the Morton key as the sort key of
    compaction's rewrite (sources._rewrite_table) into `n_files`
    range partitions (default: the default parallelism), so every
    output file owns a contiguous key range (narrow min/max envelope in
    every dimension).  A bucket-partitioned table is Z-clustered within
    each bucket; file skipping still prunes on the per-bucket z-ranges.
    Returns the per-column boundaries for the caller's lineage record.

    The table is read after recovery, with its complete schema, so a
    Z-ordering after a commit cut short sees every row once and an
    evolved table keeps every column; the rewrite is one journal commit,
    crash-safe like compact_table."""
    from gfwspark.sources import _rewrite_table

    n_files = n_files or max(spark.sparkContext.defaultParallelism, 1)
    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = {}

    def plan(df: DataFrame, total_bytes: int) -> tuple[list[Column], int]:
        # ONE exact-quantile pass for all columns (approxQuantile takes a
        # column list) — per-column calls would scan the table k times
        bounds.update(zip(cols, df.stat.approxQuantile(cols, probs, 0.0)))
        buckets = [zorder_bucket(c, bounds[c]) for c in cols]
        return [zorder_key(buckets, bits)], n_files

    _rewrite_table(spark, path, plan)
    return {"boundaries": bounds, "n_files": n_files}


def collect_entity_stats(
    df: DataFrame, entity: str = "image_id", ts: str = "ts"
) -> DataFrame:
    """One profile pass over a table: (entity, n_rows, lo_us, hi_us) —
    the frame asof_join(strategy='auto', entity_stats=...) consumes to
    skip its skew pre-scan, detect_skew's superset, and the per-entity
    slice of what an ANALYZE TABLE would store.  Map-side combined
    (one shuffle of tiny partials); persist with write_entity_stats so
    every downstream job pays the pass once per table version."""
    from gfwspark.util import epoch_us

    return df.groupBy(entity).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(epoch_us(ts)).alias("lo_us"),
        F.max(epoch_us(ts)).alias("hi_us"),
    )


def write_entity_stats(stats: DataFrame, table_path: str) -> str:
    """Persist a profile next to its table (<path>/_entity_stats) —
    the lineage convention checkpoint manifests use.  Overwrites: a
    profile is only valid for the table version it was computed on."""
    out = table_path.rstrip("/") + "/_entity_stats"
    stats.write.mode("overwrite").parquet(out)
    return out


def read_entity_stats(spark, table_path: str) -> DataFrame:
    return spark.read.parquet(table_path.rstrip("/") + "/_entity_stats")


def merge_entity_stats(old: DataFrame, batch: DataFrame,
                       entity: str = "image_id", ts: str = "ts") -> DataFrame:
    """Incremental profile maintenance: fold an APPEND batch's rows
    into an existing (entity, n_rows, lo_us, hi_us) profile without
    rescanning the table — count is additive and the ts bounds are
    min/max-mergeable, so the merged profile is exactly
    collect_entity_stats(table UNION batch).  The CDC companion to the
    upsert sink: per batch the cost is one pass over the batch plus a
    shuffle of profile-sized partials, keeping
    asof_join(strategy='auto', entity_stats=...) dispatch fresh under
    continuous ingestion.  APPEND-only: an upsert that REPLACES rows
    changes neither semantics here nor monotone bounds correctness for
    n_rows (a replaced row is counted twice) — rebuild the profile
    after replace-heavy maintenance."""
    return (
        old.unionByName(collect_entity_stats(batch, entity, ts))
        .groupBy(entity)
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.min("lo_us").alias("lo_us"),
            F.max("hi_us").alias("hi_us"),
        )
    )
