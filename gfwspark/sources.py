"""Sources & sinks (SURVEY §2.1 S6–S11).

The reference reads CSV metadata (DictReader, metadata.py:368-377),
newline id lists (metadata.py:389-402), fishing-range CSVs with UTC
timestamps (metadata.py:418-433), and writes JSON inference rows
(run_inference.py:84-97) and CSV/BQ training tables
(train/create_train_info.py:509-526).  Spark equivalents, schema-first:

- every reader takes an explicit schema (never inferSchema on 100 TB —
  schema inference is a full extra pass)
- sinks write partitioned parquet (the Iceberg-layout stand-in:
  partition columns + deterministic file layout) or JSON/CSV
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame, Observation, SparkSession

# entity metadata CSV: the char_info/det_info analog
# (classification/metadata_test.py:25-41: id,label,length,split,…)
ENTITY_INFO_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("label", T.StringType()),
        T.StructField("length", T.DoubleType()),
        T.StructField("split", T.StringType()),
    ]
)

# interval/annotation CSV: the fishing-range analog
# (id,start_time,end_time,is_fishing — metadata.py:418-433)
ANNOTATION_CSV_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("start_time", T.StringType()),
        T.StructField("end_time", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def read_entity_info(spark: SparkSession, path: str) -> DataFrame:
    """Header CSV → typed rows; blank labels dropped (reference P7,
    metadata.py:313-316), duplicate ids resolved keep-first by file
    order is NOT reproduced — dedup is explicit (A2 rank pattern)."""
    df = spark.read.option("header", True).schema(ENTITY_INFO_SCHEMA).csv(path)
    return df.filter(F.length(F.trim(F.coalesce("label", F.lit("")))) > 0)


def read_id_list(spark: SparkSession, path: str) -> DataFrame:
    """Newline-delimited id list (metadata.py:389-402): one trimmed,
    non-empty id per row."""
    return (
        spark.read.text(path)
        .select(F.trim("value").alias("image_id"))
        .filter(F.length("image_id") > 0)
    )


def read_annotation_csv(spark: SparkSession, path: str) -> DataFrame:
    """Interval CSV with ISO or unix-epoch timestamps, forced UTC
    (metadata.py:405-415 parses both forms)."""
    raw = spark.read.option("header", True).schema(ANNOTATION_CSV_SCHEMA).csv(path)

    def parse(col: str):
        c = F.col(col)
        return F.when(
            c.rlike(r"^\d+(\.\d+)?$"),
            F.timestamp_seconds(c.cast("double")),
        ).otherwise(F.to_timestamp(c))

    return raw.select(
        "image_id",
        parse("start_time").alias("start_ts"),
        parse("end_time").alias("end_ts"),
        "value",
    ).filter(F.col("start_ts") <= F.col("end_ts"))


def with_file_id(
    df: DataFrame,
    pattern: str = r"([^/]+)\.(?:parquet|csv|tfrecord|json)(?:/|$)",
    out: str = "file_id",
) -> DataFrame:
    """S4: filename→entity-id projection.  The reference derives the
    vessel id from the shard filename (`<id>.tfrecord`,
    run_inference.py:44-48, feature_generation paths); the Spark analog
    extracts it from input_file_name() at scan time — pure metadata, no
    extra I/O.  The default pattern matches the OUTERMOST
    `<id>.<ext>` path component, so both flat files (`/data/<id>.csv`)
    and Spark-written dataset dirs (`/data/<id>.parquet/part-….parquet`)
    yield `<id>`."""
    return df.withColumn(out, F.regexp_extract(F.input_file_name(), pattern, 1))


def write_json_results(df: DataFrame, path: str) -> None:
    """JSON-lines sink (run_inference.py:84-97 analog)."""
    df.write.mode("overwrite").json(path)


def iceberg_available(spark: SparkSession) -> bool:
    """Capability probe: is the Iceberg Spark runtime on the classpath?

    Probe result in THIS container (recorded 2026-08-16, see README):
    org.apache.iceberg.spark.SparkCatalog is absent and no network is
    available to fetch spark-runtime jars, so the engine uses the
    documented parquet stand-in (hive partition dirs + manifest/snapshot
    JSON in checkpoint.py).  On a real cluster with
    `spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog`
    configured, write_partitioned upgrades to a true Iceberg table —
    same call sites, no silent substitution either way."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
    iceberg_table: str | None = None,
) -> None:
    """Iceberg-style layout: hive partition dirs + within-file sort so
    downstream as-of scans get clustered, sorted input without
    re-shuffling (the engine's write-side layout contract,
    layout.partition_sorted at rest).

    When `iceberg_table` is given AND the Iceberg runtime is on the
    classpath (iceberg_available), writes a real Iceberg table with the
    same partitioning; otherwise falls back to plain parquet at `path`
    (the documented stand-in — lineage manifests + snapshots come from
    checkpoint.py)."""
    out = df
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    if iceberg_table and iceberg_available(df.sparkSession):
        (
            out.writeTo(iceberg_table)
            .using("iceberg")
            .partitionedBy(*[F.col(c) for c in partition_cols])
            .createOrReplace()
        )
        return
    out.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    key_cols: list[str],
    fraction: float,
    seed: int = 42,
    max_weight: float = 100.0,
) -> DataFrame:
    """Deterministic weighted sampling — the reference's weighted
    training source (S2, feature_generation.py:43-61) without RNG
    state: keep a row iff u(key, seed) < fraction * min(weight,
    max_weight), where u is the md5-prefix hash of the key mapped to
    [0,1).  Pure function of the row → identical samples at any
    partitioning, resumable, and oracle-replayable.  max_weight caps
    replication skew exactly like MAX_WEIGHT=100 (metadata.py:268-272).
    """
    from gfwspark.text import token_hash32

    key = F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols], F.lit(str(seed)))
    u = token_hash32(key).cast("double") / F.lit(float(1 << 32))
    p = F.least(F.col(weight_col).cast("double"), F.lit(max_weight)) * fraction
    return df.filter(u < p)


def stratified_sample(
    df: DataFrame,
    class_col: str,
    n_per_class: int,
    key_cols: list[str],
    seed: int = 42,
) -> DataFrame:
    """Deterministic EXACT-COUNT per-class sampling (class rebalancing
    for training sets): rank rows inside each class by the md5 draw of
    their key and keep the first `n_per_class`.  Pure function of
    (keys, seed) → identical samples at any partition count, and a
    class with fewer rows keeps them all.  One shuffle on class_col;
    rebalances a skewed label distribution without the replication
    blowup of weighted oversampling (weighted_sample covers that
    side)."""
    from pyspark.sql import Window as _W

    from gfwspark.text import token_hash32

    u = token_hash32(
        F.concat_ws("|", *[F.col(c).cast("string") for c in key_cols], F.lit(str(seed)))
    )
    w = _W.partitionBy(class_col).orderBy(u, *[F.col(c) for c in key_cols])
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_class)
        .drop("_rk")
    )


def pack_token_budget_batches(
    df: DataFrame,
    token_col: str,
    budget: int,
    order_cols: list[str],
    partition_col: str | list[str] | None = None,
    allow_global: bool = False,
) -> DataFrame:
    """Contiguous token-budget sharding (training-batch packing): rows
    in deterministic `order_cols` order get batch_id =
    floor(exclusive_running_token_sum / budget) — a new batch starts
    when a row's start offset crosses a budget boundary, so every
    batch's token sum is <= budget + max_row_tokens (classic contiguous
    bin slack; exact greedy closing is inherently sequential and buys
    <1 row per batch).  `partition_col` packs independently per
    partition (e.g. per language) — that is also what keeps the
    running sum distributed at 100 TB: one entity-partitioned window,
    no global serial scan.

    partition_col=None means an UNPARTITIONED running-sum window — the
    whole input collapses onto one task.  That is only sane for small
    frames, so it must be opted into explicitly with
    allow_global=True; otherwise this raises rather than silently
    degrading to a serial plan.  A list packs independently per
    composite key (e.g. (split, source)) — the parallelism is the
    composite cardinality, so prefer the widest key that still means
    "one training shard"."""
    from pyspark.sql import Window as _W

    if partition_col is None and not allow_global:
        raise ValueError(
            "pack_token_budget_batches with partition_col=None runs the "
            "running-sum window on a single task (not distributed). Pass "
            "partition_col=<col> to pack per-partition, or "
            "allow_global=True to accept the serial global scan on a "
            "small frame."
        )
    if partition_col is None:
        part = []
    elif isinstance(partition_col, str):
        part = [partition_col]
    else:
        part = list(partition_col)
    w = (
        _W.partitionBy(*part)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(_W.unboundedPreceding, 0)
    )
    cum_incl = F.sum(F.col(token_col).cast("long")).over(w)
    start = cum_incl - F.col(token_col)
    return df.withColumn("batch_id", F.floor(start / budget).cast("long")).withColumn(
        "batch_start_offset", start
    )


def temporal_split_embargo(
    df: DataFrame,
    horizon_s: int,
    embargo_s: int,
    entity: str = "image_id",
    ts: str = "ts",
) -> DataFrame:
    """Per-entity leakage-free temporal train/validation split with an
    embargo gap — the split a windowed feature pipeline must use so
    that NO trailing-window feature computed at a validation timestamp
    overlaps training rows (the north rule's zero-temporal-leakage
    requirement applied to the split itself, not just the join).

    cutoff(entity) = max(ts) - horizon: the last `horizon_s` seconds
    of each entity's timeline become validation.  Rows inside
    (cutoff - embargo, cutoff] are DROPPED: any validation row's
    trailing feature window of length <= embargo_s ends strictly
    before every surviving training row, so set embargo_s to the
    longest feature window in the pipeline.  (The classic purged /
    embargoed split from leakage-safe backtesting, e.g. de Prado,
    "Advances in Financial Machine Learning" ch. 7 — public method.)

    One window-max over the entity partitioning (reused by every
    downstream per-entity stage — no extra exchange); pure JVM.
    Returns the input rows (minus the embargo band) + `split` column.
    """
    from pyspark.sql import Window as _W

    from gfwspark.util import epoch_us

    cutoff = F.max(epoch_us(ts)).over(_W.partitionBy(entity)) - F.lit(
        int(horizon_s) * 1_000_000
    )
    t = epoch_us(ts)
    return (
        df.withColumn(
            "split",
            F.when(t > cutoff, F.lit("val")).when(
                t <= cutoff - F.lit(int(embargo_s) * 1_000_000), F.lit("train")
            ),
        )
        .filter(F.col("split").isNotNull())
    )


#: Sidecar recording the table's authoritative schema (Iceberg keeps
#: this in its metadata tree; the parquet stand-in needs it too: a
#: plain `spark.read.parquet` infers the schema from ONE arbitrary file
#: — on a mixed-schema table that silently drops the evolved columns
#: from any rewrite — and the inference itself is a Spark job).  Leading
#: underscore keeps Spark's parquet reader from treating it as data.
_SCHEMA_MANIFEST = "_table_schema.json"

#: The staging directory of every write to a managed table
#: (_staged_write), INSIDE the table: the leading underscore hides it
#: from Spark's file index (and from _data_files), and removing the
#: table removes it too.
_UPSERT_STAGING = "_upsert_tmp"

#: The commit journal, kept in the staging directory: the staged files
#: to rename into the table, the data files to delete and the schema
#: manifest.  Present only once the staged write is complete.
_UPSERT_JOURNAL = "_journal.json"


def _read_table_meta(path: str) -> dict | None:
    import json
    import os

    p = os.path.join(path, _SCHEMA_MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _table_meta(schema: T.StructType, extra: dict | None = None) -> dict:
    """The manifest of a table written with ``schema``: ``extra``
    (table-level metadata beyond the schema; today n_buckets for the
    upsert layout) plus the schema in the column order the read returns,
    the `_bucket` partition column last.  (A parquet read makes every
    type nullable, whatever the manifest says.)"""
    fields = [f for f in schema if f.name != "_bucket"]
    fields += [f for f in schema if f.name == "_bucket"]
    return {**(extra or {}), "schema": T.StructType(fields).jsonValue()}


def _write_table_meta(path: str, meta: dict) -> None:
    # tmp + atomic rename: a crash mid-dump must not leave a truncated
    # manifest (which would turn every later read_table into a
    # JSONDecodeError — the sidecar must be as crash-safe as the
    # rewrite protocol it guards)
    import json
    import os

    p = os.path.join(path, _SCHEMA_MANIFEST)
    with open(p + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(p + ".tmp", p)


def _table_extras(path: str) -> dict:
    """The manifest entries of the table at ``path`` other than its
    schema, for a rewrite to pass through."""
    meta = _read_table_meta(path) or {}
    return {k: v for k, v in meta.items() if k != "schema"}


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a managed parquet table with its COMPLETE schema: the schema
    its manifest records (upsert_partitioned, compact_table and
    layout.zorder_table each record the schema they wrote), so no file
    footer is opened, no Spark job starts, and a file written before a
    column was added reads that column as NULL, as mergeSchema would.
    A table without a manifest has an unknown schema history and is read
    with mergeSchema."""
    meta = _read_table_meta(path)
    if meta is None:
        return spark.read.option("mergeSchema", "true").parquet(path)
    return spark.read.schema(T.StructType.fromJson(meta["schema"])).parquet(path)


def _data_files(path: str) -> list[str]:
    """The data files of the table at ``path``: its `.parquet` files
    outside sidecar (`_entity_stats`) and staging directories, which
    start with `_` or `.`; partition directories keep their `=`."""
    import os

    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if "=" in d or not d.startswith(("_", "."))]
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return out


def _upsert_commit(path: str) -> None:
    """Carry out the commit journal staged in ``path`` (_staged_write
    step 4).  Every step is idempotent, so a commit cut short anywhere
    is finished by running this again: a staged file already renamed
    is skipped, a data file already deleted too, and the journal leaves
    last, with the staging directory."""
    import json
    import os
    import shutil

    staging = os.path.join(path, _UPSERT_STAGING)
    with open(os.path.join(staging, _UPSERT_JOURNAL)) as f:
        journal = json.load(f)
    for src, dst in journal["renames"]:
        if os.path.exists(src):
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(src, dst)
    _write_table_meta(path, journal["meta"])
    for f in journal["deletes"]:
        d, name = os.path.split(f)
        for p in (f, os.path.join(d, f".{name}.crc")):
            if os.path.exists(p):
                os.remove(p)
    shutil.rmtree(staging)


def recover_upsert(path: str) -> None:
    """Finish or discard a write cut short at ``path``: the one recovery
    of a managed table, which every writer (upsert_partitioned,
    windows.merge_append_into_blocks_table, and compact_table and
    layout.zorder_table through _rewrite_table) runs at entry, before
    it reads the table.  A staging directory with a journal is a commit
    cut short and is rolled forward; one without is an unfinished write
    and is discarded, which leaves the table as it was before that
    write (and no directory at all when that write was the table's
    first).  Until then a reader may see a commit cut short: old and
    new files side by side."""
    import os
    import shutil

    staging = os.path.join(path, _UPSERT_STAGING)
    if os.path.exists(os.path.join(staging, _UPSERT_JOURNAL)):
        _upsert_commit(path)
    elif os.path.isdir(staging):
        shutil.rmtree(staging)
        if not os.listdir(path):  # it was the table's first merge
            os.rmdir(path)


def _staged_write(
    path: str,
    out: DataFrame,
    deletes: list[str],
    meta: dict,
    group: Column | None,
) -> None:
    """Write ``out`` into the table at ``path`` and delete the data
    files ``deletes`` (local paths) in one journal commit: the one
    commit protocol of every managed-table writer (upsert_partitioned,
    and _rewrite_table for compact_table and layout.zorder_table).

    1. ``out`` is written to the staging directory `path/_upsert_tmp/`,
       partitioned by `_bucket` (when it has that column) and by
       ``group`` (all rows in group 0 when None): rows that differ on
       ``group`` never share a file;
    2. each staged file is to be renamed into its `_bucket=k/` directory
       (the table root when there is no `_bucket`) as
       `g<group>-part-…`: the groups of one bucket reuse file names;
    3. on an existing table the manifest ``meta`` is written now, BEFORE
       the commit: a crash mid-commit leaves mixed-schema files, and the
       already-updated manifest makes read_table read them with the
       union schema (a manifest column not yet in any file reads as
       NULL; the reverse order would let the old manifest's narrower
       schema hide an evolved column and lose it on the next rewrite);
    4. the journal (renames, ``deletes``, ``meta``) is written (tmp +
       os.replace, like the manifest) and _upsert_commit carries it out.

    A crash before step 4 leaves every data file as it was; from then on
    recover_upsert rolls the commit forward.  Sidecar directories are
    never touched."""
    import glob
    import json
    import os

    existed = os.path.exists(path)
    staging = os.path.join(path, _UPSERT_STAGING)
    parts = ["_bucket"] if "_bucket" in out.columns else []
    parts.append("_file_group")
    out = out.withColumn("_file_group", F.lit(0) if group is None else group)
    out.write.partitionBy(*parts).parquet(staging)
    renames = []
    pattern = os.path.join(glob.escape(staging), *["*"] * len(parts), "*.parquet")
    for src in glob.glob(pattern):
        *dirs, group_dir, name = os.path.relpath(src, staging).split(os.sep)
        prefix = "g" + group_dir.split("=", 1)[1]
        renames.append((src, os.path.join(path, *dirs, f"{prefix}-{name}")))
    if existed:
        _write_table_meta(path, meta)
    journal = os.path.join(staging, _UPSERT_JOURNAL)
    with open(journal + ".tmp", "w") as f:
        json.dump({"renames": renames, "deletes": deletes, "meta": meta}, f)
    os.replace(journal + ".tmp", journal)
    _upsert_commit(path)


def upsert_partitioned(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: list[str],
    entity: str = "image_id",
    n_buckets: int = 16,
    allow_schema_evolution: bool = False,
    extra_meta: dict | None = None,
    file_group: Column | None = None,
    hit_file_col: str | None = None,
) -> dict:
    """MERGE-style upsert into a bucket-partitioned parquet table —
    the parquet stand-in for Iceberg MERGE INTO, with file-granular
    copy-on-write as Iceberg does it: only the data FILES that hold a
    key of the batch are rewritten, never a whole partition.

    1. batch rows get `_bucket` = crc32(entity) % n_buckets
       (checkpoint.bucket_of — the table's layout key) and are
       localCheckpoint'ed once (batch-sized); every later step reads
       that checkpoint, and the touched buckets ride its job as an
       Observation;
    2. the hit files: by default one collect finds them, the distinct
       `_metadata.file_path` of stored rows in the touched buckets
       whose keys match a batch row (a key-columns-only scan; untouched
       buckets are never read).  A caller that already knows which
       stored file each batch row replaces names that column in
       ``hit_file_col`` (a `_metadata.file_path` value, NULL for a row
       that replaces nothing): the hit files are then its distinct
       values, observed on the checkpoint job, and no search runs.  The
       column is not written.  The caller vouches that every stored row
       sharing a key with the batch lies in a file the column names;
    3. the rows of the hit files and the batch are shuffled together,
       one task per `_bucket` (one shuffle, no join): there a batch row
       replaces every stored row that shares its keys (a window over
       (`_bucket`, keys); NULL keys match, as MERGE matching must).  A
       key is matched within its bucket, so keys must determine the
       entity (or be unique across entities), as they do for every
       caller here;
    4. the result is written and committed by _staged_write, the
       commit every table writer shares: staged in `path/_upsert_tmp/`,
       partitioned by `_bucket` and by ``file_group`` (each merge adds
       at most one file per touched (bucket, group), and rows that
       differ on ``file_group`` never share a file: the blocks table
       keeps open tail blocks apart from sealed ones this way, so an
       append rewrites only the open files);
    5. the journal renames the staged files into `_bucket=k/` as
       `g<group>-part-…`, writes the schema manifest (the schema of the
       rows written, which read_table then reads with; on an existing
       table it is written before the journal), deletes the hit files
       and their `.crc`, and drops the staging directory.

    Readers do not change: the table stays a plain `_bucket`-partitioned
    parquet directory holding each key once (Spark skips the
    underscore-prefixed staging directory).  Recovery (recover_upsert)
    runs at entry: a journal is rolled forward, staging without one is
    discarded.  Between a crash and the next recovery a reader can see
    a half-committed merge: old and new files side by side.  Untouched
    files are never rewritten, so every merge that adds rows adds
    files: compact_table folds them.  A batch of no rows into an
    existing table (an append whose rows were all applied already)
    writes nothing, once the schema check has passed.

    Returns {touched_buckets, upserted, deleted} for the caller's
    lineage record: the batch's rows and the stored rows it replaced,
    observed on the jobs that checkpoint and write them (a retried
    shuffle stage may count twice: lineage, not results).

    Concurrency contract: single writer (like any filesystem parquet
    table); a real Iceberg catalog upgrades this to optimistic
    snapshot commits with no code change upstream.

    ``extra_meta``: caller-owned table-level metadata recorded in the
    schema-manifest sidecar alongside n_buckets (e.g. the stride-blocks
    layout's shift/feature_cols contract) — the caller is responsible
    for validating it against _read_table_meta before merging.
    """
    import os
    from functools import reduce
    from operator import and_
    from urllib.parse import unquote, urlparse

    from pyspark.sql import Window as _W

    from gfwspark.checkpoint import bucket_of
    from gfwspark.util import observed_rows, release

    recover_upsert(path)
    existed = os.path.exists(path)
    meta = _read_table_meta(path) if existed else None
    if meta is not None and meta.get("n_buckets") not in (None, n_buckets):
        raise ValueError(
            f"upsert_partitioned: table at {path} was built with "
            f"n_buckets={meta['n_buckets']} but this call passed "
            f"n_buckets={n_buckets} — a mismatched bucket modulus would "
            "assign keys to the wrong _bucket dirs and duplicate rows"
        )
    n_rows = F.count(F.lit(1)).alias("n")
    o_up, o_hit, o_keep = Observation(), Observation(), Observation()
    observed = [n_rows, F.collect_set("_bucket").alias("touched")]
    if hit_file_col is not None:
        observed.append(F.collect_set(hit_file_col).alias("files"))
    ckpt = (
        batch.withColumn("_bucket", bucket_of(entity, n_buckets))
        .observe(o_up, *observed)
        .localCheckpoint(eager=True)
    )
    b = ckpt if hit_file_col is None else ckpt.drop(hit_file_col)
    upserted = observed_rows(o_up)
    touched = sorted(o_up.get["touched"]) if upserted else []
    schema = b.schema
    out, hits = b, []
    if existed:
        # read_table reads a table that holds mixed-schema files (a
        # prior evolved upsert) with its recorded union schema, and one
        # without a manifest with mergeSchema — Spark would otherwise
        # infer the schema from one arbitrary file, and an old-schema
        # draw would make this merge silently rewrite the hit files
        # without the evolved columns (permanent data loss).  This
        # upsert then writes the manifest.
        table = read_table(spark, path)
        new_cols = set(b.columns) - set(table.columns)
        lost_cols = set(table.columns) - set(b.columns)
        if (new_cols or lost_cols) and not allow_schema_evolution:
            raise ValueError(
                "upsert batch schema differs from the table "
                f"(added={sorted(new_cols)}, missing={sorted(lost_cols)}); "
                "pass allow_schema_evolution=True to union-by-name with "
                "null padding (Iceberg-style additive evolution), and read "
                "the table with mergeSchema afterwards"
            )
        if not upserted:  # nothing to write: every file stays as it is
            release(ckpt)
            return {"touched_buckets": [], "upserted": 0, "deleted": 0}
        schema = table.unionByName(b, allowMissingColumns=True).schema
        if hit_file_col is not None:
            files = o_up.get["files"]
        else:
            # eqNullSafe: MERGE key matching must treat NULL = NULL as a
            # match, or null-keyed rows duplicate on every re-upsert
            bk = b.select(*keys)
            stored = table.filter(F.col("_bucket").isin(touched)).select(
                *keys, F.col("_metadata.file_path").alias("_file")
            )
            cond = reduce(and_, [stored[k].eqNullSafe(bk[k]) for k in keys])
            files = [
                r["_file"] for r in stored.join(bk, cond, "left_semi")
                .select("_file").distinct().collect()
            ]
        hits = sorted(unquote(urlparse(f).path) for f in files)
        if hits:
            hit = (
                spark.read.schema(table.schema).option("basePath", path)
                .parquet(*hits).observe(o_hit, n_rows)
            )
            out = hit.withColumn("_new", F.lit(False)).unionByName(
                b.withColumn("_new", F.lit(True)),
                allowMissingColumns=allow_schema_evolution,
            )
    out = out.repartition("_bucket")
    if hits:
        # in its bucket's task, a batch row replaces every stored row of
        # the hit files that shares its key (a window partition groups
        # NULL with NULL, as MERGE key matching must, or null-keyed rows
        # would duplicate on every re-upsert)
        replaced = F.max("_new").over(_W.partitionBy("_bucket", *keys))
        out = (
            out.withColumn("_replaced", replaced)
            .filter(F.col("_new") | ~F.col("_replaced"))
            .observe(o_keep, F.count(F.when(~F.col("_new"), 1)).alias("n"))
            .drop("_new", "_replaced")
        )
    table_meta = _table_meta(schema, {"n_buckets": n_buckets, **(extra_meta or {})})
    try:
        _staged_write(path, out, hits, table_meta, file_group)
    finally:
        # every read of the batch is done: release its checkpoint blocks
        # now rather than at the next JVM GC
        release(ckpt)
    deleted = observed_rows(o_hit) - observed_rows(o_keep) if hits else 0
    return {"touched_buckets": touched, "upserted": upserted, "deleted": deleted}


def _rewrite_table(
    spark: SparkSession,
    path: str,
    plan: Callable[[DataFrame, int], tuple[list[Column], int]],
) -> dict:
    """Rewrite every data file of the managed table at ``path`` in one
    journal commit (_staged_write): the one body of compact_table and
    layout.zorder_table, which differ only in ``plan``.  After
    recover_upsert the table is read with read_table (its complete
    schema, so an evolved table keeps every column), and ``plan(table,
    data bytes)`` returns the rewrite's sort key and its file count.

    The rows are range-partitioned on (`_bucket`, key) into that many
    partitions and sorted within them on (`_bucket`, file group, key).
    A bucket-partitioned table keeps its `_bucket=k/` directories (a
    flat rewrite would leave root-level files that collide with the next
    upsert's partition directories), a bucket bigger than one file's
    share spans several files, and the sort already satisfies the
    partitioned writer's required ordering, so no extra sort scrambles
    the key's clustering.  Without a key a seeded rand spreads the rows
    over the files; the table's content does not depend on it.  Each
    row keeps its file group, read from its file's `g<group>-` name
    prefix (0 for a file without one): the blocks table's open tails
    stay out of its sealed files.  A flat table is rewritten to
    `g<group>-part-*` files at its root.  Sidecar directories
    (`_entity_stats`) stay where they are, and the manifest keeps the
    table's other entries (n_buckets).  Returns {files_before,
    files_after, bytes}."""
    import os

    recover_upsert(path)
    files = _data_files(path)
    total_bytes = sum(os.path.getsize(f) for f in files)
    df = read_table(spark, path)
    order, n_files = plan(df, total_bytes)
    keys = {f"_key{i}": c for i, c in enumerate(order)}
    lead = ["_bucket"] if "_bucket" in df.columns else []
    group = F.regexp_extract("_metadata.file_name", "^g([^-]+)-", 1)
    group = F.when(group == "", "0").otherwise(group)
    out = (
        df.withColumns({"_file_group": group, **keys})
        .repartitionByRange(n_files, *lead, *(list(keys) or [F.rand(42)]))
        .sortWithinPartitions(*lead, "_file_group", *keys)
        .drop(*keys)
    )
    meta = _table_meta(df.schema, _table_extras(path))
    _staged_write(path, out, files, meta, F.col("_file_group"))
    return {
        "files_before": len(files),
        "files_after": len(_data_files(path)),
        "bytes": total_bytes,
    }


def compact_table(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
    sort_cols: list[str] | None = None,
) -> dict:
    """Small-file compaction (the Iceberg `rewrite_data_files` /
    OPTIMIZE stand-in): rewrite a parquet directory into
    ceil(bytes / target_mb) files, optionally re-sorting within files
    to restore the engine's at-rest clustering (layout.partition_sorted
    contract) that incremental appends erode.

    The small-files problem is a first-order 100-TB cost: a table
    accreted by per-bucket upserts / streaming commits ends up with
    thousands of KB-sized files, and every downstream scan pays one
    task + one open per file.  Sizing uses the on-disk byte total (not
    row counts), so compressed width is what drives the output count
    (each file group of a bucket is a file of its own on top of it).

    The rewrite is _rewrite_table's one journal commit, in place: a
    crash before the journal leaves every data file as it was; after
    it, the next writer's recover_upsert rolls the commit forward, and
    until then a reader sees old and new files side by side (as after
    an upsert cut short).  Single-writer contract, like the upsert
    sink.  Returns {files_before, files_after, bytes}."""

    def plan(df: DataFrame, total_bytes: int) -> tuple[list[Column], int]:
        n_files = max(1, -(-total_bytes // (target_mb * 1024 * 1024)))
        return [F.col(c) for c in sort_cols or []], n_files

    return _rewrite_table(spark, path, plan)
