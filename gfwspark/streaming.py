"""Structured Streaming mirror of the batch window operators (§2.10).

The reference is batch-only (its "near-real-time" mode re-runs monthly
batch windows, run_inference.py:50-73).  This engine is batch-first
too, but the core operators have streaming twins so the same semantics
run incrementally:

- ``stream_sessionize``:   session_window(ts, gap) + watermark — the
  streaming twin of sessionize.session_stats
- ``stream_tumbling``:     window(ts, duration) + watermark — twin of
  windows.tumbling_agg
- ``stream_hamming_state``: applyInPandasWithState carrying the last
  phash per entity across micro-batches — twin of the lag(phash)
  hamming delta in features.with_lag_features

Stream-static backward as-of needs no twin: asof.asof_join_broadcast
takes a streaming fact frame as is (the segment index is built once on
the driver and joined as a static broadcast side by two broadcast hash
joins; zero shuffle, zero streaming state, no Python worker,
append-mode output with no watermark).

Late data beyond the watermark is dropped (the batch engine has no
late data; the watermark bound makes the streaming results converge to
the batch results when the source is replayed with availableNow).
Spark >= 3.4 subtlety, pinned by the late-fixture tests: late-event
FILTERING in batch N uses the watermark as of batch N-1 while state
EVICTION uses the current one, so a row is only dropped once the
watermark that outran it is a full batch old."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def stream_sessionize(
    stream: DataFrame,
    entity: str = "image_id",
    ts: str = "ts",
    gap: str = "1 hour",
    watermark: str = "2 hours",
    value_col: str | None = None,
) -> DataFrame:
    aggs = [F.count(F.lit(1)).alias("n_points")]
    if value_col:
        aggs.append(F.avg(value_col).alias("avg_value"))
    return (
        stream.withWatermark(ts, watermark)
        .groupBy(F.col(entity), F.session_window(ts, gap).alias("win"))
        .agg(*aggs)
        .select(
            entity,
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            *[c for c in ("n_points", "avg_value") if value_col or c == "n_points"],
        )
    )


def stream_tumbling(
    stream: DataFrame,
    value_col: str,
    duration: str = "1 day",
    entity: str | None = None,
    ts: str = "ts",
    watermark: str = "2 days",
) -> DataFrame:
    keys = [F.window(ts, duration).alias("win")]
    if entity:
        keys.insert(0, F.col(entity))
    return (
        stream.withWatermark(ts, watermark)
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
        )
        .select(
            *([entity] if entity else []),
            F.col("win.start").alias("win_start"),
            "n", "min_value", "max_value",
        )
    )


_HAM_OUT = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("phash", T.LongType()),
        T.StructField("phash_hamming", T.IntegerType()),
    ]
)
_HAM_STATE = T.StructType([T.StructField("last_phash", T.LongType())])


def _hamming_state_fn(key, pdfs, state: GroupState):
    import numpy as np

    last = state.get[0] if state.exists else None
    outs = []
    for pdf in pdfs:
        if pdf.empty:
            continue
        pdf = pdf.sort_values("ts", kind="mergesort")
        ph = pdf["phash"].to_numpy(np.int64)
        prev = np.concatenate([[ph[0] if last is None else last], ph[:-1]])
        # vectorized 64-bit popcount of the xor deltas (no per-row Python)
        x = (ph ^ prev).astype(np.uint64)
        # int64, not float: the output schema is IntegerType and the
        # float->int32 coercion pyarrow would otherwise perform is
        # version-fragile.  Only the first-ever row is None.
        ham = (
            np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1)
            .sum(axis=1)
            .astype(np.int64)
        )
        out = pd.DataFrame(
            {"image_id": key[0], "ts": pdf["ts"].to_numpy(), "phash": ph, "phash_hamming": ham}
        )
        out["phash_hamming"] = out["phash_hamming"].astype("object")
        if last is None:
            out.iloc[0, out.columns.get_loc("phash_hamming")] = None
        last = int(ph[-1])
        outs.append(out)
    if last is not None:
        state.update((int(last),))
    yield from outs


def stream_hamming_state(stream: DataFrame) -> DataFrame:
    """Stateful per-entity hamming delta across micro-batches.

    Within a micro-batch rows are processed time-sorted; the last phash
    persists in GroupState between batches.  Equivalent to the batch
    lag(phash) hamming when events arrive entity-ordered (the engine's
    layout contract)."""
    return (
        stream.groupBy("image_id")
        .applyInPandasWithState(
            _hamming_state_fn,
            outputStructType=_HAM_OUT,
            stateStructType=_HAM_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_dedup_exact(
    stream: DataFrame,
    text_col: str = "text",
    ts: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of the exact content dedup (dedup_exact query):
    keep the first document per content hash, with state bounded by the
    watermark (dropDuplicatesWithinWatermark evicts hashes once no
    older-than-watermark duplicate can arrive — the only way exact
    dedup state stays finite on an unbounded stream)."""
    return (
        stream.withColumn("content_hash", F.md5(text_col))
        .withWatermark(ts, watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


_SLMEAN_OUT = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("v_w_avg", T.DoubleType()),
    ]
)
_SLMEAN_STATE = T.StructType(
    [T.StructField("tail", T.ArrayType(T.DoubleType()))]
)


def _sliding_mean_fn_factory(window_size: int):
    W = window_size

    def fn(key, pdfs, state: GroupState):
        import numpy as np

        tail = list(state.get[0]) if state.exists else []
        outs = []
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values("ts", kind="mergesort")
            v = pdf["v"].to_numpy(np.float64)
            full = np.concatenate([np.asarray(tail, np.float64), v])
            k = len(tail)
            # trailing mean of the last <= W values ending at each new row
            means = [
                float(np.mean(full[max(0, k + i - W + 1) : k + i + 1]))
                for i in range(len(v))
            ]
            outs.append(
                pd.DataFrame(
                    {
                        "image_id": key[0],
                        "ts": pdf["ts"].to_numpy(),
                        "v": v,
                        "v_w_avg": means,
                    }
                )
            )
            # plain python floats: numpy scalars don't survive the
            # state pickle round trip (net.razorvine ClassDict error)
            tail = [float(x) for x in full[-(W - 1):]] if W > 1 else []
        state.update((tail,))
        yield from outs

    return fn


def stream_sliding_mean(
    stream: DataFrame, window_size: int = 8, value_col: str = "v"
) -> DataFrame:
    """Stateful trailing fixed-count mean across micro-batches: the
    GroupState carries only the last window_size-1 values per entity
    (BOUNDED state — the contract that makes the operator viable on an
    unbounded stream), so each row's v_w_avg equals the batch
    with_sliding_agg average when events arrive entity-ordered (the
    engine's layout contract, same as stream_hamming_state)."""
    named = stream.select(
        "image_id", "ts", F.col(value_col).cast("double").alias("v")
    )
    return named.groupBy("image_id").applyInPandasWithState(
        _sliding_mean_fn_factory(window_size),
        outputStructType=_SLMEAN_OUT,
        stateStructType=_SLMEAN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_upsert_sink(
    stream: DataFrame,
    path: str,
    keys: list[str],
    entity: str = "image_id",
    n_buckets: int = 16,
    checkpoint_dir: str | None = None,
    trigger: dict | None = None,
    update_entity_stats: bool = False,
    ts: str = "ts",
):
    """MERGE ingestion sink: every micro-batch upserts into the
    bucket-partitioned parquet table via sources.upsert_partitioned —
    the streaming CDC sink (Iceberg MERGE-per-commit shape).  Each
    batch rewrites only the data files that hold one of its keys, so
    steady-state ingestion cost tracks batch size, not table size.

    `trigger` is passed through to writeStream.trigger; the default
    {"availableNow": True} DRAINS THE BACKLOG AND STOPS — the batch
    catch-up shape, not a long-lived daemon.  For continuous CDC pass
    e.g. trigger={"processingTime": "30 seconds"} and the query keeps
    running until stopped.

    foreachBatch is the documented idempotency point: availableNow
    replay after a crash re-runs the last uncommitted batch, and the
    upsert's key-match semantics make the replay a no-op (same keys,
    same values) — exactly-once TABLE STATE from at-least-once batch
    delivery.  Single-writer contract as for the batch sink.

    ``update_entity_stats=True`` additionally folds each batch into
    the table's persisted <path>/_entity_stats profile
    (layout.merge_entity_stats) so asof auto-dispatch stays fresh
    under continuous ingestion.  APPEND-shaped batches keep the
    profile exact; replace-heavy upserts overcount n_rows (see
    merge_entity_stats) — and note the profile update is NOT inside
    the checkpoint transaction: a crash-replayed batch double-counts
    its rows in the profile (bounds stay exact; counts are dispatch
    heuristics, not results).

    Returns the started StreamingQuery; caller owns awaitTermination.
    """
    import os

    from gfwspark import layout, sources

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        sources.upsert_partitioned(
            batch_df.sparkSession, batch_df, path, keys=keys,
            entity=entity, n_buckets=n_buckets,
        )
        if update_entity_stats:
            sp = path.rstrip("/") + "/_entity_stats"
            if os.path.exists(sp):
                merged = layout.merge_entity_stats(
                    layout.read_entity_stats(batch_df.sparkSession, path),
                    batch_df, entity=entity, ts=ts,
                )
            else:
                # bootstrap from the FULL table (the upsert above has
                # already merged this batch into it): a batch-only
                # profile would permanently undercount every row that
                # pre-existed the sink.  One full scan, first batch only
                merged = layout.collect_entity_stats(
                    sources.read_table(batch_df.sparkSession, path)
                    .drop("_bucket"),
                    entity, ts,
                )
            # profile-sized; materialize before overwriting the dir the
            # read above is lazily bound to
            layout.write_entity_stats(
                merged.localCheckpoint(eager=True), path
            )

    w = stream.writeStream.foreachBatch(_sink).trigger(
        **(trigger if trigger is not None else {"availableNow": True})
    )
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w.start()


def stream_stride_blocks_sink(
    stream: DataFrame,
    path: str,
    feature_col,
    shift: int,
    entity: str = "image_id",
    ts: str = "ts",
    n_buckets: int = 16,
    checkpoint_dir: str | None = None,
    trigger: dict | None = None,
):
    """CDC maintenance of an AT-REST stride_blocks table (the window
    layout behind windows.windows_from_stride_blocks): every
    micro-batch is merged via windows.append_stride_blocks(
    changed_only=True) — per batch only each appended entity's tail
    block plus its new blocks are rewritten, through the file-granular
    upsert on keys (entity, block_id): open tail blocks sit in files of
    their own, so only the open-tail files holding an appended tail are
    rewritten, never the sealed blocks around them.  Steady-state
    cost tracks batch size, never table size: the layout that
    amortizes the one-shot extractor's block-build scaling floor
    (BENCH/HISTORY.md r6) stays fresh under continuous ingestion.

    Idempotency: on_late="drop" excludes batch rows at or before each
    entity's stored max ts.  Under the monotonic-ingestion contract
    those are exactly the already-applied rows, so an availableNow
    crash-replay of the last uncommitted batch merges zero new blocks
    and re-upserts nothing new — exactly-once TABLE STATE from
    at-least-once delivery, same contract as stream_upsert_sink.
    Consequence: genuinely out-of-order (late) rows are dropped, not
    an error — a backfill requires rebuilding the affected entities'
    blocks offline.

    `trigger` defaults to {"availableNow": True} (drain-and-stop);
    pass {"processingTime": ...} for a long-lived daemon.  Single
    writer, like the batch sink.  Returns the started StreamingQuery.
    """
    from gfwspark import windows

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        windows.merge_append_into_blocks_table(
            batch_df.sparkSession, batch_df, path, feature_col, shift,
            entity=entity, ts=ts, n_buckets=n_buckets, on_late="drop",
        )

    w = stream.writeStream.foreachBatch(_sink).trigger(
        **(trigger if trigger is not None else {"availableNow": True})
    )
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w.start()
