"""Resume-from-checkpoint: crash mid-job, restart, identical output."""

from __future__ import annotations

import json

import pandas as pd
import pytest

from gfwspark import checkpoint, features, tables


def _transform(df):
    return features.featurize(df, window_size=4)


def test_resume_after_crash_identical_output(spark, tmp_path):
    df = tables.synthesize_image_caption(spark, n_entities=16, rows_per_entity=8)
    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")

    # uninterrupted reference run
    checkpoint.run_resumable(df, _transform, out_a, n_buckets=4)

    # crashed run: fails after bucket 1, restart completes the rest
    with pytest.raises(RuntimeError, match="injected failure"):
        checkpoint.run_resumable(df, _transform, out_b, n_buckets=4, fail_after_bucket=1)
    summary = checkpoint.run_resumable(df, _transform, out_b, n_buckets=4)
    assert summary["skipped"] == [0, 1]
    assert summary["completed"] == [2, 3]

    cols = ["image_id", "ts", "phash_hamming", "ham_w_avg", "session_id"]
    a = (
        checkpoint.read_result(spark, out_a).select(*cols).toPandas()
        .sort_values(["image_id", "ts"]).reset_index(drop=True)
    )
    b = (
        checkpoint.read_result(spark, out_b).select(*cols).toPandas()
        .sort_values(["image_id", "ts"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_manifests_carry_lineage(spark, tmp_path):
    """Each manifest's rows / min_ts / max_ts equal an aggregate over
    its bucket's parquet, empty buckets included (3 entities, 8
    buckets); a dotted column name is fingerprinted as one column."""
    import pyspark.sql.functions as F

    df = tables.synthesize_image_caption(spark, n_entities=3, rows_per_entity=6)
    df = df.withColumnRenamed("phash", "score.v1")
    out = str(tmp_path / "m")
    checkpoint.run_resumable(df, lambda d: d, out, n_buckets=8)
    paths = (tmp_path / "m" / "_manifests").glob("bucket_*.json")
    manifests = [json.loads(p.read_text()) for p in paths]
    assert len(manifests) == 8 and sum(m["rows"] == 0 for m in manifests) >= 5
    for m in manifests:
        assert {"input_fingerprint", "wall_s", "engine_version"} <= set(m)
        got = spark.read.parquet(m["output"]).agg(
            F.count(F.lit(1)), F.min("ts"), F.max("ts")
        ).first()
        assert (m["rows"], m["min_ts"], m["max_ts"]) == (
            got[0], str(got[1]), str(got[2])
        ), m


def test_changed_input_invalidates_checkpoints(spark, tmp_path):
    df1 = tables.synthesize_image_caption(spark, n_entities=8, rows_per_entity=6)
    df2 = tables.synthesize_image_caption(spark, n_entities=8, rows_per_entity=7)
    out = str(tmp_path / "inv")
    checkpoint.run_resumable(df1, _transform, out, n_buckets=2)
    summary = checkpoint.run_resumable(df2, _transform, out, n_buckets=2)
    assert summary["skipped"] == []  # fingerprint changed → full recompute


def test_changed_payload_invalidates_checkpoints(spark, tmp_path):
    # same (entity, ts) keys, different payload: a key-only fingerprint
    # would resume both buckets and serve stale features
    import pyspark.sql.functions as F

    df1 = tables.synthesize_image_caption(spark, n_entities=8, rows_per_entity=6)
    df2 = df1.withColumn(
        "phash", F.col("phash").bitwiseXOR(F.pmod(F.xxhash64("ts"), F.lit(256)))
    )
    out = str(tmp_path / "payload")
    checkpoint.run_resumable(df1, _transform, out, n_buckets=2)
    summary = checkpoint.run_resumable(df2, _transform, out, n_buckets=2)
    assert summary["skipped"] == []

    cols = ["image_id", "ts", "phash_hamming"]
    got = (
        checkpoint.read_result(spark, out).select(*cols).toPandas()
        .sort_values(["image_id", "ts"]).reset_index(drop=True)
    )
    want = (
        _transform(df2).select(*cols).toPandas()
        .sort_values(["image_id", "ts"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_snapshot_log_append_only(spark, tmp_path):
    df = tables.synthesize_image_caption(spark, n_entities=8, rows_per_entity=6)
    out = str(tmp_path / "snap")
    checkpoint.run_resumable(df, _transform, out, n_buckets=2)
    s1 = checkpoint.read_snapshot(out)
    assert s1["snapshot_id"] == 1
    assert s1["total_rows"] == sum(b["rows"] for b in s1["buckets"])
    assert len(s1["buckets"]) == 2

    # second commit (same input → buckets skipped, snapshot still appended)
    checkpoint.run_resumable(df, _transform, out, n_buckets=2)
    s2 = checkpoint.read_snapshot(out)
    assert s2["snapshot_id"] == 2
    assert checkpoint.read_snapshot(out, 1)["snapshot_id"] == 1


def test_bucket_count_change_invalidates_and_isolates(spark, tmp_path):
    """Rerunning with a different n_buckets recomputes everything (the
    bucket layout is part of the fingerprint) and writes to FRESH
    fp-versioned dirs, so both the new read and a PINNED old snapshot
    stay exactly right — nothing is overwritten in place."""
    df = tables.synthesize_image_caption(spark, n_entities=8, rows_per_entity=6)
    out = str(tmp_path / "relayout")
    checkpoint.run_resumable(df, _transform, out, n_buckets=4)
    rows_4 = checkpoint.read_result(spark, out).count()
    paths_4 = {b["output"] for b in checkpoint.read_snapshot(out, 1)["buckets"]}

    summary = checkpoint.run_resumable(df, _transform, out, n_buckets=2)
    assert summary["skipped"] == []  # layout changed → no stale skips
    snap = checkpoint.read_snapshot(out)
    assert len(snap["buckets"]) == 2
    # the two layouts live in disjoint content-versioned dirs
    paths_2 = {b["output"] for b in snap["buckets"]}
    assert paths_4.isdisjoint(paths_2)
    # latest read: no duplication/mixing
    assert checkpoint.read_result(spark, out).count() == rows_4
    # pinned read of the OLD snapshot is still byte-consistent
    assert checkpoint.read_result(spark, out, snapshot_id=1).count() == rows_4


def test_snapshot_errors_are_actionable(spark, tmp_path):
    """Missing snapshots.json and unknown snapshot_id raise ValueError
    with the path / known-ids in the message (ADVICE r2), not raw
    StopIteration / FileNotFoundError."""
    import pytest

    from gfwspark import checkpoint as ckpt

    with pytest.raises(ValueError, match="no committed snapshot"):
        ckpt.read_snapshot(str(tmp_path / "never_written"))
