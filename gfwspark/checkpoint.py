"""Resumable runs: per-partition checkpoints with lineage manifests.

North-rule requirement: "resumable from per-partition checkpoints with
lineage manifests and per-partition metrics written alongside Iceberg
snapshots".  The reference's operational analog is CloudML resume-from-
checkpoint (README.md:84-89); there is no in-repo equivalent, so this
layer is engine-native:

- The job's input is bucketed into `n_buckets` deterministic entity
  buckets (crc32 of the entity key — stable across runs and cluster
  sizes, unlike spark_partition_id).
- Each completed bucket writes content-versioned
  `fp=<fingerprint-md5>/part=<i>` parquet plus a manifest JSON
  `_manifests/bucket_<fingerprint-md5>_<i>.json` carrying lineage (input
  fingerprint, bucket id, row count, min/max ts, wall time, engine
  version).  Versioned paths mean re-runs never overwrite a committed
  snapshot's files (Iceberg's immutable-file contract).
- ``run_resumable`` skips buckets whose manifest matches the current
  input fingerprint — a restart recomputes only missing buckets and the
  final table is bit-identical (determinism tests guarantee per-bucket
  outputs don't depend on which run produced them).
- Pending buckets run concurrently, at most ``_IN_FLIGHT`` at once (see
  ``run_resumable`` for what a failure or a crash leaves).

On Iceberg (prod) the same manifests ride along as snapshot summary
properties; on the local filesystem they are plain JSON next to the
parquet output.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor, as_completed
from pathlib import Path

import pyspark.sql.functions as F
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation

import gfwspark


def bucket_of(entity_col: str, n_buckets: int):
    """Deterministic bucket id for an entity key (crc32 mod n).

    NULL keys map to a real bucket via a sentinel string (crc32(NULL)
    is NULL, which would otherwise crash partition bookkeeping and
    silently drop the null partition on dynamic overwrite)."""
    key = F.coalesce(F.col(entity_col).cast("string"), F.lit("\x00__null__"))
    return (F.crc32(key) % n_buckets).cast("int")


# Bucket-layout version: bump whenever bucket_of's key->bucket mapping
# changes (v2: NULL keys map to a sentinel bucket instead of a NULL
# bucket).  Baked into every fingerprint so manifests written under an
# older mapping can never be resumed as "ok" — a resumed job would
# otherwise silently skip buckets whose membership moved.
_LAYOUT_VERSION = 2


def input_fingerprint(df: DataFrame, n_buckets: int = 0) -> str:
    """Cheap order-insensitive fingerprint of the input: row count +
    sum of per-row xxhash64 over EVERY column (each term pmod 2^31-1,
    so the long sum cannot overflow below ~4e9 rows), PLUS the bucket
    layout.  Hashing only the (entity, ts) key would let a payload-only
    change resume stale buckets; changing n_buckets or the bucket
    mapping itself must invalidate old manifests too (a bucket id means
    nothing across layouts)."""
    # each name back-quoted: a bare name is parsed as a column path,
    # so a column called "score.v1" would not resolve
    cols = [F.col("`" + c.replace("`", "``") + "`") for c in df.columns]
    agg = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(2147483647))).alias("h"),
    ).first()
    return f"n={agg['n']},h={agg['h']},b={n_buckets},v={_LAYOUT_VERSION}"


def _manifest_dir(output_path: str) -> Path:
    return Path(output_path) / "_manifests"


def _fp_tag(fingerprint: str) -> str:
    """Content-version tag baked into bucket paths + manifest names: a
    re-run with different input or bucket layout writes to FRESH dirs
    instead of overwriting, so a pinned snapshot_id keeps reading
    exactly the files it committed (the Iceberg immutable-file
    contract; old versions are pruned by retention, not overwritten).
    Full md5 digest — a truncated tag's collision would silently
    overwrite a committed snapshot's files."""
    import hashlib

    return hashlib.md5(fingerprint.encode()).hexdigest()


def completed_buckets(output_path: str, fingerprint: str) -> set[int]:
    done = set()
    mdir = _manifest_dir(output_path)
    if not mdir.exists():
        return done
    # match only the CURRENT naming scheme: a legacy bucket_<i>.json
    # from an older layout could carry the same fingerprint but its
    # files live at unversioned paths _commit_snapshot no longer reads
    # -> skipping from it would make the commit step crash.
    for p in mdir.glob(f"bucket_{_fp_tag(fingerprint)}_*.json"):
        try:
            m = json.loads(p.read_text())
        except json.JSONDecodeError:
            continue
        if m.get("input_fingerprint") == fingerprint and m.get("status") == "ok":
            done.add(int(m["bucket"]))
    return done


def _write_json(path: Path, obj) -> None:
    """Temp file + ``os.replace``: a crash mid-write leaves the previous
    file whole (a truncated snapshot log would lose every snapshot)."""
    tmp = path.with_name(path.name + ".tmp")
    tmp.write_text(json.dumps(obj, indent=1))
    os.replace(tmp, path)


# Fixed, not the cluster's width: it bounds the buckets a driver crash
# loses and the plans the driver holds at once.  On featurize with 8 and
# 16 buckets (local[4], local[2]) 2 in flight cut wall time 22-47% from
# 1, and 8 gained nothing over 4 while the peak heap grew 2-13%.
_IN_FLIGHT = 4


def run_resumable(
    df: DataFrame,
    transform,
    output_path: str,
    entity: str = "image_id",
    ts: str = "ts",
    n_buckets: int = 8,
    fail_after_bucket: int | None = None,
) -> dict:
    """Apply `transform(bucket_df) -> DataFrame` per entity bucket,
    writing each bucket + manifest; resume skips completed buckets.

    `fail_after_bucket` injects a mid-job crash (tests): the run stops
    after the first pending bucket >= it commits.  Returns a summary
    dict {completed, skipped, total}, both lists sorted.

    Up to ``_IN_FLIGHT`` pending buckets run at once, each on a worker
    thread that inherits the caller's job group, pool and tags, so one
    bucket's planning overlaps another's jobs.  FIFO scheduling still
    gives the oldest bucket's tasks the slots first; later buckets only
    fill idle slots, and task memory is bounded by cores, not by jobs.
    On a bucket error the in-flight buckets commit, the queued ones never
    start, and the first exception is re-raised.  A bucket is the unit of
    redo: a crash loses at most ``_IN_FLIGHT`` buckets, and a rerun redoes
    only the missing ones, like the reference re-runs only missing vessel
    files (run_inference.py:44-48 skips by path).
    """
    fp = input_fingerprint(df, n_buckets)
    done = completed_buckets(output_path, fp)
    mdir = _manifest_dir(output_path)
    mdir.mkdir(parents=True, exist_ok=True)
    bucketed = df.withColumn("_bucket", bucket_of(entity, n_buckets))
    pending = [b for b in range(n_buckets) if b not in done]
    stop = None
    if fail_after_bucket is not None:
        stop = next((b for b in pending if b >= fail_after_bucket), None)
        pending = [b for b in pending if stop is None or b <= stop]

    def run_bucket(b: int) -> int:
        t0 = time.time()
        # lineage stats ride the bucket's own write, observed at the top
        # of the written plan (the result stage counts a retried task
        # once): the manifest describes exactly the rows on disk
        obs = Observation()
        part = transform(bucketed.filter(F.col("_bucket") == b).drop("_bucket"))
        out_dir = f"{output_path}/fp={_fp_tag(fp)}/part={b}"
        part.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.min(ts).alias("min_ts"),
            F.max(ts).alias("max_ts"),
        ).write.mode("overwrite").parquet(out_dir)
        stats = obs.get
        manifest = {
            "bucket": b,
            "status": "ok",
            "input_fingerprint": fp,
            "rows": stats["rows"],
            "min_ts": str(stats["min_ts"]),
            "max_ts": str(stats["max_ts"]),
            "wall_s": round(time.time() - t0, 3),
            "engine_version": gfwspark.__version__,
            "output": out_dir,
            # read_result opens the output with it, without a schema job
            "schema": part.schema.jsonValue(),
        }
        _write_json(mdir / f"bucket_{_fp_tag(fp)}_{b}.json", manifest)
        return b

    # wrapped in the caller's thread, so the workers inherit its job group
    target = inheritable_thread_target(df.sparkSession)(run_bucket)
    with ThreadPoolExecutor(_IN_FLIGHT) as pool:
        futures = [pool.submit(target, b) for b in pending]
        try:
            completed = sorted(f.result() for f in as_completed(futures))
        except BaseException:
            # in-flight buckets still commit (the pool's exit waits)
            pool.shutdown(wait=False, cancel_futures=True)
            raise
    if stop is not None:
        raise RuntimeError(f"injected failure after bucket {stop}")

    _commit_snapshot(output_path, fp, n_buckets)
    return {"completed": completed, "skipped": sorted(done), "total": n_buckets}


def _commit_snapshot(output_path: str, fingerprint: str, n_buckets: int) -> None:
    """Table-level snapshot (the Iceberg-snapshot stand-in): an
    append-only log of commits, each listing every bucket manifest it
    covers with rows + lineage.  A reader that pins a snapshot id sees
    a consistent set of bucket files."""
    mdir = _manifest_dir(output_path)
    buckets = []
    for b in range(n_buckets):
        p = mdir / f"bucket_{_fp_tag(fingerprint)}_{b}.json"
        m = json.loads(p.read_text())
        buckets.append({"bucket": b, "rows": m["rows"], "output": m["output"],
                        "wall_s": m["wall_s"], "schema": m.get("schema")})
    log_path = mdir / "snapshots.json"
    log = json.loads(log_path.read_text()) if log_path.exists() else []
    log.append(
        {
            "snapshot_id": len(log) + 1,
            "input_fingerprint": fingerprint,
            "engine_version": gfwspark.__version__,
            "total_rows": sum(b["rows"] for b in buckets),
            "buckets": buckets,
        }
    )
    _write_json(log_path, log)


def read_snapshot(output_path: str, snapshot_id: int | None = None) -> dict:
    snap_file = _manifest_dir(output_path) / "snapshots.json"
    try:
        log = json.loads(snap_file.read_text())
    except FileNotFoundError:
        raise ValueError(
            f"no committed snapshot at {output_path!r} — the run never "
            "reached commit_snapshot (partially-completed run?)"
        ) from None
    if snapshot_id is None:
        return log[-1]
    snap = next((s for s in log if s["snapshot_id"] == snapshot_id), None)
    if snap is None:
        known = [s["snapshot_id"] for s in log]
        raise ValueError(
            f"snapshot_id {snapshot_id} not found at {output_path!r}; "
            f"committed snapshots: {known}"
        )
    return snap


def read_result(spark, output_path: str, snapshot_id: int | None = None) -> DataFrame:
    """Read exactly the bucket dirs the (latest or pinned) snapshot
    covers — a leftover part=* dir from a previous bucket layout is
    never mixed in (snapshot isolation, the Iceberg read contract).

    The read uses the output schema every bucket recorded, so it starts
    no Spark job; a snapshot whose buckets do not all record the same
    schema (some committed before buckets recorded it) is read with the
    schema inferred from its files."""
    from pyspark.sql.types import StructType

    snap = read_snapshot(output_path, snapshot_id)
    paths = [b["output"] for b in snap["buckets"]]
    schemas = [b.get("schema") for b in snap["buckets"]]
    if schemas[0] is not None and all(s == schemas[0] for s in schemas):
        return spark.read.schema(StructType.fromJson(schemas[0])).parquet(*paths)
    return spark.read.parquet(*paths)
