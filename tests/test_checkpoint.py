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


def test_snapshot_log_survives_a_crash_mid_write(spark, tmp_path, monkeypatch):
    """A commit that dies halfway through writing the snapshot log
    leaves the previous log whole: the last committed snapshot stays
    readable and a rerun commits the next one."""
    from pathlib import Path

    df = tables.synthesize_image_caption(spark, n_entities=8, rows_per_entity=6)
    out = str(tmp_path / "torn")
    checkpoint.run_resumable(df, _transform, out, n_buckets=2)

    write_text = Path.write_text

    def dies_halfway(self, data, *args, **kwargs):
        if self.name.startswith("snapshots.json"):
            write_text(self, data[: len(data) // 2], *args, **kwargs)
            raise OSError("no space left on device")
        return write_text(self, data, *args, **kwargs)

    monkeypatch.setattr(Path, "write_text", dies_halfway)
    with pytest.raises(OSError, match="no space left"):
        checkpoint.run_resumable(df, _transform, out, n_buckets=2)
    monkeypatch.undo()

    assert checkpoint.read_snapshot(out)["snapshot_id"] == 1
    checkpoint.run_resumable(df, _transform, out, n_buckets=2)
    assert checkpoint.read_snapshot(out)["snapshot_id"] == 2
    assert checkpoint.read_snapshot(out, 1)["snapshot_id"] == 1


def test_pending_buckets_run_concurrently(spark, tmp_path):
    """Both buckets' transforms must be running at once to pass the
    barrier; one bucket after the other breaks it."""
    import threading

    barrier = threading.Barrier(2, timeout=30)

    def meet(d):
        barrier.wait()
        return d

    df = tables.synthesize_image_caption(spark, n_entities=8, rows_per_entity=6)
    summary = checkpoint.run_resumable(df, meet, str(tmp_path / "c"), n_buckets=2)
    assert summary["completed"] == [0, 1]


def test_bucket_jobs_inherit_the_job_group(spark, tmp_path):
    """Every job started during the call, the worker threads' bucket
    writes included, runs in the caller's job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker_job(group):
        sc.setJobGroup(group, group)
        sc.parallelize([1]).count()
        return tracker.getJobIdsForGroup(group)

    df = tables.synthesize_image_caption(spark, n_entities=8, rows_per_entity=6)
    try:
        first = max(marker_job("ckpt-before")) + 1
        sc.setJobGroup("ckpt-run", "resumable run")
        checkpoint.run_resumable(df, _transform, str(tmp_path / "g"), n_buckets=4)
        last = min(marker_job("ckpt-after")) - 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    in_group = set(tracker.getJobIdsForGroup("ckpt-run"))
    started = set(range(first, last + 1))
    assert len(started) > 4  # the fingerprint plus one write per bucket
    assert started <= in_group, sorted(started - in_group)


def test_bucket_error_commits_in_flight_buckets_and_resumes(spark, tmp_path):
    """A transform error in bucket 1 of 4 propagates unchanged; every
    bucket that committed has a manifest matching its parquet, and a
    rerun completes exactly the missing buckets with output equal to an
    uninterrupted run."""
    import pyspark.sql.functions as F

    df = tables.synthesize_image_caption(spark, n_entities=16, rows_per_entity=8)
    out_ref = str(tmp_path / "ref")
    out = str(tmp_path / "err")
    checkpoint.run_resumable(df, _transform, out_ref, n_buckets=4)

    def fails_on_bucket_1(d):
        first = d.select(checkpoint.bucket_of("image_id", 4).alias("b")).first()
        if first is not None and first["b"] == 1:
            raise ValueError("bad bucket 1")
        return _transform(d)

    with pytest.raises(ValueError, match="bad bucket 1") as err:
        checkpoint.run_resumable(df, fails_on_bucket_1, out, n_buckets=4)
    assert type(err.value) is ValueError

    manifests = [
        json.loads(p.read_text())
        for p in (tmp_path / "err" / "_manifests").glob("bucket_*.json")
    ]
    committed = {m["bucket"] for m in manifests}
    assert 1 not in committed
    for m in manifests:
        assert m["status"] == "ok"
        got = spark.read.parquet(m["output"]).agg(F.count(F.lit(1))).first()[0]
        assert m["rows"] == got, m

    summary = checkpoint.run_resumable(df, _transform, out, n_buckets=4)
    assert summary["skipped"] == sorted(committed)
    assert summary["completed"] == sorted(set(range(4)) - committed)

    cols = ["image_id", "ts", "phash_hamming", "ham_w_avg", "session_id"]
    a, b = (
        checkpoint.read_result(spark, o).select(*cols).toPandas()
        .sort_values(["image_id", "ts"]).reset_index(drop=True)
        for o in (out_ref, out)
    )
    pd.testing.assert_frame_equal(a, b)


def test_at_most_four_buckets_in_flight(spark, tmp_path):
    """Eight pending buckets share at most four worker threads, so a
    crash leaves at most four buckets uncommitted."""
    import threading

    threads = set()

    def record(d):
        threads.add(threading.get_ident())
        return d

    df = tables.synthesize_image_caption(spark, n_entities=16, rows_per_entity=4)
    summary = checkpoint.run_resumable(df, record, str(tmp_path / "k"), n_buckets=8)
    assert summary["completed"] == list(range(8))
    assert 1 <= len(threads) <= 4


def test_read_result_starts_no_job(spark, tmp_path, jobs_started):
    """read_result opens a committed snapshot with the output schema its
    buckets recorded: no schema job, and the rows and schema of the
    inferred read.  A snapshot whose buckets recorded no schema (written
    before they did) still reads, by inference."""
    df = tables.synthesize_image_caption(spark, n_entities=8, rows_per_entity=6)
    out = str(tmp_path / "r")
    checkpoint.run_resumable(df, _transform, out, n_buckets=4)
    back, jobs = jobs_started(lambda: checkpoint.read_result(spark, out))
    assert jobs == 0
    paths = [b["output"] for b in checkpoint.read_snapshot(out)["buckets"]]
    inferred = spark.read.parquet(*paths)
    assert back.schema == inferred.schema
    assert back.exceptAll(inferred).count() == 0
    assert inferred.exceptAll(back).count() == 0

    log = tmp_path / "r" / "_manifests" / "snapshots.json"
    snaps = json.loads(log.read_text())
    for b in snaps[-1]["buckets"]:
        del b["schema"]
    log.write_text(json.dumps(snaps))
    old, jobs = jobs_started(lambda: checkpoint.read_result(spark, out))
    assert jobs > 0
    assert old.schema == inferred.schema and old.count() == inferred.count()
