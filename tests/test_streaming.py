"""Streaming mirrors converge to batch results when replayed with
availableNow (the reference's re-run-batch-windows model, §2.10)."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pytest

from gfwspark import sessionize, streaming, tables


@pytest.fixture(scope="module")
def parquet_input(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream") / "img")
    df = tables.synthesize_image_caption(spark, n_entities=10, rows_per_entity=10)
    df = df.select("image_id", F.col("ts").cast("timestamp").alias("ts"), "phash", "w")
    df.write.mode("overwrite").parquet(path)
    return path


def _run_stream(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append" if name in ("ham", "slmean", "asoflbl") else "complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}")


def test_stream_sessionize_matches_batch(spark, parquet_input):
    batch_df = spark.read.parquet(parquet_input)
    stream_df = spark.readStream.schema(batch_df.schema).parquet(parquet_input)

    got = _run_stream(
        spark,
        streaming.stream_sessionize(stream_df, gap="1 hour", value_col="w"),
        "sess",
    ).toPandas()

    want = (
        sessionize.session_stats(batch_df, "w", gap_seconds=3600)
        .toPandas()
    )
    # session_window end = last_ts + gap; compare on (entity, start, n)
    a = got[["image_id", "session_start", "n_points"]].sort_values(
        ["image_id", "session_start"]).reset_index(drop=True)
    b = want.rename(columns={"session_start": "session_start", "n_points": "n_points"})[
        ["image_id", "session_start", "n_points"]
    ].sort_values(["image_id", "session_start"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_stream_tumbling_counts(spark, parquet_input):
    batch_df = spark.read.parquet(parquet_input)
    stream_df = spark.readStream.schema(batch_df.schema).parquet(parquet_input)
    got = _run_stream(
        spark,
        streaming.stream_tumbling(stream_df, "w", duration="1 day", entity="image_id"),
        "tumb",
    ).toPandas()
    assert got["n"].sum() == batch_df.count()


def test_stream_hamming_state_matches_batch_lag(spark, parquet_input):
    from pyspark.sql import Window

    batch_df = spark.read.parquet(parquet_input)
    stream_df = spark.readStream.schema(batch_df.schema).parquet(parquet_input)
    got = _run_stream(
        spark, streaming.stream_hamming_state(stream_df), "ham"
    ).toPandas().sort_values(["image_id", "ts"]).reset_index(drop=True)

    w = Window.partitionBy("image_id").orderBy("ts")
    want = (
        batch_df.withColumn(
            "phash_hamming",
            F.bit_count(F.col("phash").bitwiseXOR(F.lag("phash").over(w))).cast("int"),
        )
        .select("image_id", "ts", "phash", "phash_hamming")
        .toPandas()
        .sort_values(["image_id", "ts"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["image_id", "phash", "phash_hamming"]],
        want[["image_id", "phash", "phash_hamming"]],
        check_dtype=False,
    )


def test_stream_dedup_exact_keeps_one_per_hash(spark, tmp_path):
    """Planted duplicate texts collapse to one row per content hash
    through the streaming dedup (availableNow replay)."""
    import pandas as pd

    from gfwspark import streaming

    base = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": ["aa", "bb", "aa", "cc", "bb"],
            "ts": [base + pd.Timedelta(minutes=k) for k in range(5)],
        }
    )
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string, ts timestamp").parquet(src)
    out = streaming.stream_dedup_exact(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT text, count(*) n FROM dedup_stream GROUP BY text").toPandas()
    assert set(got["text"]) == {"aa", "bb", "cc"}
    assert (got["n"] == 1).all()


def test_stream_sliding_mean_matches_batch(spark, parquet_input):
    """Bounded-state trailing mean (state = last W-1 values) equals the
    batch rowsBetween average at every entity x timestamp."""
    from gfwspark import windows

    batch_df = spark.read.parquet(parquet_input).withColumn(
        "v", F.col("phash").cast("double")
    )
    stream_df = spark.readStream.schema(batch_df.schema).parquet(parquet_input)
    got = (
        _run_stream(
            spark,
            streaming.stream_sliding_mean(
                stream_df.withColumn("v", F.col("phash").cast("double")),
                window_size=5,
            ),
            "slmean",
        )
        .toPandas().sort_values(["image_id", "ts"]).reset_index(drop=True)
    )
    want = (
        windows.with_sliding_agg(batch_df, "v", 5, aggs=("avg",), prefix="b")
        .select("image_id", "ts", F.col("b_avg"))
        .toPandas().sort_values(["image_id", "ts"]).reset_index(drop=True)
    )
    import numpy as np

    assert len(got) == len(want)
    assert np.allclose(got["v_w_avg"], want["b_avg"])


def test_stream_asof_broadcast_matches_batch(spark, parquet_input):
    """The broadcast as-of over a fact stream (stream-static as-of)
    converges to the same join over the batch frame when the stream is
    replayed with availableNow."""
    from gfwspark import asof

    batch_df = spark.read.parquet(parquet_input)
    ann = (
        batch_df.groupBy("image_id")
        .agg(F.min("ts").alias("start_ts"))
        .select("image_id", "start_ts", F.lit("first").alias("label"))
    )
    stream_df = spark.readStream.schema(batch_df.schema).parquet(parquet_input)

    got = _run_stream(
        spark, asof.asof_join_broadcast(stream_df, ann), "asoflbl"
    ).toPandas()
    want = asof.asof_join_broadcast(batch_df, ann).toPandas()

    key = ["image_id", "ts"]
    a = got.sort_values(key).reset_index(drop=True)[key + ["asof_label"]]
    b = want.sort_values(key).reset_index(drop=True)[key + ["asof_label"]]
    pd.testing.assert_frame_equal(a, b)


# ---------------------------------------------------------------------
# Late / out-of-order data: the watermark CONTRACT, not just in-order
# availableNow convergence.  Three files become three micro-batches
# (maxFilesPerTrigger=1; FileStreamSource orders unread files by
# modification time, and the sleeps give the writes distinct mtimes).
# Spark >= 3.4 runs TWO watermarks per stateful operator: state
# EVICTION uses the watermark updated by the previous batch, but
# LATE-EVENT filtering uses the watermark one batch older (so rows
# arriving in the same batch that first advances the watermark are not
# retroactively dropped).  Hence three batches: batch 0's sentinel
# (12:00) advances the watermark to 11:50; batch 1 makes 11:50 the
# late-event bound; batch 2 replays a 10:30 row (older than the bound:
# DROPPED, visible in numRowsDroppedByWatermark) plus an on-time row
# (EMITTED).  Update output mode for the tumbling aggregation so drop
# + eviction are actually in force (complete mode retains all state by
# contract and never drops).
# ---------------------------------------------------------------------


@pytest.fixture(scope="module")
def late_fixture(spark, tmp_path_factory):
    import datetime as dt
    import time

    path = str(tmp_path_factory.mktemp("late") / "img")
    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)

    def mk(rows):
        return spark.createDataFrame(
            [(e, t0 + dt.timedelta(minutes=m), float(v)) for e, m, v in rows],
            "image_id string, ts timestamp, w double",
        ).coalesce(1)

    # batch 0: an old cluster at 10:00-10:02 and a sentinel at 12:00
    # that drags the watermark (10 min delay) up to 11:50
    mk([("e", 0, 1.0), ("e", 1, 2.0), ("e", 2, 3.0), ("e", 120, 9.0)]).write.mode(
        "append"
    ).parquet(path)
    time.sleep(1.1)  # distinct mtimes => deterministic batch order
    # batch 1: on-time row; ages 11:50 into the late-event bound
    mk([("e", 121, 10.0)]).write.mode("append").parquet(path)
    time.sleep(1.1)
    # batch 2: one LATE row at 10:30 (< late-event bound 11:50:
    # dropped) and one on-time row at 12:02 (emitted)
    mk([("e", 30, 100.0), ("e", 122, 11.0)]).write.mode("append").parquet(path)
    return path


def _run_update_stream(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}")


def test_stream_tumbling_drops_late_rows(spark, late_fixture):
    """A row older than the late-event watermark bound never reaches
    the 1-minute tumbling aggregation; the on-time row in the same
    batch does.  (Batch replay of the same files WOULD count the late
    row — the delta is exactly the documented watermark drop.)"""
    batch_df = spark.read.parquet(late_fixture)
    stream_df = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(late_fixture)
    )
    got = _run_update_stream(
        spark,
        streaming.stream_tumbling(
            stream_df, "w", duration="1 minute", entity="image_id",
            watermark="10 minutes",
        ),
        "tumb_late",
    ).toPandas()
    starts = set(got["win_start"].dt.strftime("%H:%M"))
    assert "10:30" not in starts          # late row dropped entirely
    assert {"10:00", "10:01", "10:02", "12:00", "12:01", "12:02"} <= starts
    # emitted mass = all rows minus the one late row
    assert int(got.drop_duplicates(subset=["win_start"], keep="last")["n"].sum()) == 6
    assert batch_df.count() == 7          # batch replay sees all 7


def test_stream_sessionize_drops_late_rows(spark, late_fixture):
    """Same contract through session_window (append mode — Spark
    rejects update mode for session aggregations): the late 10:30 row
    would have opened its own session (gap 5 min) but is dropped, the
    watermark-finalized early session emits complete, and the
    still-open tail session is withheld."""
    batch_df = spark.read.parquet(late_fixture)
    stream_df = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(late_fixture)
    )
    out = streaming.stream_sessionize(
        stream_df, gap="5 minutes", watermark="10 minutes", value_col="w"
    )
    # session windows only support append mode: emission itself is
    # watermark-gated (a session emits once the watermark passes its
    # end), so the contract under test is (a) the late 10:30 row opens
    # no session, (b) the finalized early session emits complete, (c)
    # the 12:00+ session is still open at stream end and does NOT emit
    q = (
        out.writeStream.format("memory")
        .queryName("sess_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from sess_late").toPandas()
    starts = set(got["session_start"].dt.strftime("%H:%M"))
    assert "10:30" not in starts
    assert starts == {"10:00"}
    assert got["n_points"].tolist() == [3]


def test_stream_upsert_sink_merges_batches(spark, tmp_path):
    """Two file micro-batches flow through the foreachBatch MERGE sink:
    batch 2 updates a batch-1 key and inserts a new one; the final
    table is the merged state (no duplicate keys), like the batch
    upsert applied sequentially."""
    import time

    from gfwspark import streaming

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    ck = str(tmp_path / "ck")
    b1 = spark.createDataFrame(
        [("e1", 1, "v1"), ("e2", 2, "v2"), ("e3", 3, "v3")],
        "image_id string, seq int, val string",
    )
    b1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    b2 = spark.createDataFrame(
        [("e2", 2, "UPDATED"), ("e9", 9, "NEW")],
        "image_id string, seq int, val string",
    )
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("image_id string, seq int, val string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming.stream_upsert_sink(
        stream, tbl, keys=["image_id", "seq"], checkpoint_dir=ck
    )
    q.awaitTermination(120)

    got = (
        spark.read.parquet(tbl).drop("_bucket").toPandas()
        .sort_values(["image_id", "seq"]).reset_index(drop=True)
    )
    assert list(got["image_id"]) == ["e1", "e2", "e3", "e9"]
    assert got.set_index("image_id").loc["e2", "val"] == "UPDATED"
    assert got.set_index("image_id").loc["e9", "val"] == "NEW"

    # availableNow replay with the same checkpoint: no new source data,
    # table state unchanged (idempotent restart)
    q2 = streaming.stream_upsert_sink(
        spark.readStream.schema("image_id string, seq int, val string")
        .option("maxFilesPerTrigger", 1).parquet(src),
        tbl, keys=["image_id", "seq"], checkpoint_dir=ck,
    )
    q2.awaitTermination(120)
    again = (
        spark.read.parquet(tbl).drop("_bucket").toPandas()
        .sort_values(["image_id", "seq"]).reset_index(drop=True)
    )
    assert got.equals(again)


def test_stream_upsert_sink_trigger_passthrough(spark, tmp_path):
    """A processingTime trigger turns the sink into a long-lived CDC
    daemon: the query stays active after draining the backlog (unlike
    the availableNow default, which drains and stops) and the merged
    state is identical."""
    from gfwspark import streaming

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    b1 = spark.createDataFrame(
        [("e1", 1, "v1"), ("e2", 2, "v2")],
        "image_id string, seq int, val string",
    )
    b1.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        "image_id string, seq int, val string"
    ).parquet(src)
    q = streaming.stream_upsert_sink(
        stream, tbl, keys=["image_id", "seq"],
        checkpoint_dir=str(tmp_path / "ck"),
        trigger={"processingTime": "500 milliseconds"},
    )
    try:
        # drains b1 but does NOT terminate: awaitTermination times out
        assert q.awaitTermination(15) is False
        assert q.isActive
        got = (
            spark.read.parquet(tbl).drop("_bucket").toPandas()
            .sort_values("image_id").reset_index(drop=True)
        )
        assert list(got["image_id"]) == ["e1", "e2"]
    finally:
        q.stop()


def test_stream_stride_blocks_sink_maintains_block_table(spark, tmp_path):
    """Two micro-batches of strictly-later appends flow through the
    blocks CDC sink; the maintained table must equal stride_blocks over
    the full input, and an availableNow replay with the same checkpoint
    must leave it unchanged (idempotent crash recovery)."""
    import time

    from gfwspark import streaming, windows

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "blocks")
    ck = str(tmp_path / "ck")
    from datetime import datetime

    schema = "image_id string, ts timestamp, v double"

    def t(m):
        return datetime(2024, 1, 1, 0, m)

    b1 = spark.createDataFrame(
        [("e1", t(0), 1.0), ("e1", t(1), 2.0),
         ("e1", t(2), 3.0), ("e2", t(0), 9.0)],
        schema,
    )
    b1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    b2 = spark.createDataFrame(
        [("e1", t(3), 4.0), ("e1", t(4), 5.0),
         ("e2", t(5), 8.0), ("e3", t(0), 7.0)],
        schema,
    )
    b2.coalesce(1).write.mode("append").parquet(src)

    def run():
        q = streaming.stream_stride_blocks_sink(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src),
            tbl, "v", shift=2, checkpoint_dir=ck,
        )
        q.awaitTermination(120)

    run()
    want = (
        windows.stride_blocks(b1.unionByName(b2), "v", shift=2)
        .toPandas().sort_values(["image_id", "block_id"]).reset_index(drop=True)
    )
    got = (
        spark.read.parquet(tbl).drop("_bucket").toPandas()
        .sort_values(["image_id", "block_id"]).reset_index(drop=True)
    )
    assert want[["image_id", "block_id"]].equals(got[["image_id", "block_id"]])
    for (_, ra), (_, rb) in zip(want.iterrows(), got.iterrows()):
        assert list(ra["values"]) == list(rb["values"])
        assert list(ra.ts_arr) == list(rb.ts_arr)

    run()  # replay: no new source data -> table state unchanged
    again = (
        spark.read.parquet(tbl).drop("_bucket").toPandas()
        .sort_values(["image_id", "block_id"]).reset_index(drop=True)
    )
    assert got.equals(again)


def test_stream_upsert_sink_maintains_entity_stats(spark, tmp_path):
    """update_entity_stats=True folds each append batch into the
    persisted profile; for pure-append batches the maintained profile
    equals collect_entity_stats over the full table."""
    import time
    from datetime import datetime

    from gfwspark import layout, streaming

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")

    def t(m):
        return datetime(2024, 1, 1, 0, m)

    schema = "image_id string, seq int, ts timestamp, val double"
    b1 = spark.createDataFrame(
        [("e1", 1, t(0), 1.0), ("e1", 2, t(1), 2.0), ("e2", 1, t(5), 9.0)],
        schema,
    )
    b1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    b2 = spark.createDataFrame(
        [("e1", 3, t(2), 3.0), ("e3", 1, t(9), 7.0)], schema
    )
    b2.coalesce(1).write.mode("append").parquet(src)

    q = streaming.stream_upsert_sink(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        tbl, keys=["image_id", "seq"],
        checkpoint_dir=str(tmp_path / "ck"),
        update_entity_stats=True,
    )
    q.awaitTermination(120)

    want = (
        layout.collect_entity_stats(b1.unionByName(b2))
        .toPandas().sort_values("image_id").reset_index(drop=True)
    )
    got = (
        layout.read_entity_stats(spark, tbl)
        .toPandas().sort_values("image_id").reset_index(drop=True)
    )
    assert want.equals(got[want.columns])
