"""Layout invariants: secondary sort, skew detection, salting."""

from __future__ import annotations

import pyspark.sql.functions as F

from gfwspark import layout, tables
from tests.conftest import cut_short, file_stamps, is_journal


def test_partition_sorted_invariant(spark):
    df = tables.synthesize_image_caption(spark, n_entities=12, rows_per_entity=10)
    sorted_df = layout.partition_sorted(df, num_partitions=4)
    assert layout.assert_sorted_within_entities(sorted_df) == 0

    # entities are contiguous within partitions: each entity maps to
    # exactly one partition id
    pid = sorted_df.withColumn("pid", F.spark_partition_id())
    multi = (
        pid.groupBy("image_id")
        .agg(F.countDistinct("pid").alias("np"))
        .filter(F.col("np") > 1)
        .count()
    )
    assert multi == 0


def test_detect_skew_finds_hot_entity(spark):
    df = tables.synthesize_image_caption(spark, n_entities=12, rows_per_entity=10)
    hot = layout.detect_skew(df, hot_threshold_rows=50).toPandas()
    assert "img_000000" in set(hot.image_id)


def test_salting_partitions_and_remerges(spark):
    df = tables.synthesize_image_caption(spark, n_entities=12, rows_per_entity=10)
    hot = layout.detect_skew(df, hot_threshold_rows=50)
    salted = layout.salted(df, n_salts=4, hot_keys=hot)

    # cold keys keep salt 0; hot key spreads over >1 salt
    cold = salted.filter(F.col("image_id") == "img_000002")
    assert cold.select(F.countDistinct("salt")).first()[0] == 1
    hot_salts = (
        salted.filter(F.col("image_id") == "img_000000")
        .select(F.countDistinct("salt"))
        .first()[0]
    )
    assert hot_salts > 1

    # two-phase agg over (entity, salt) re-merged == direct agg
    direct = df.groupBy("image_id").agg(F.count(F.lit(1)).alias("n")).toPandas()
    twophase = (
        salted.groupBy("image_id", "salt")
        .agg(F.count(F.lit(1)).alias("pn"))
        .groupBy("image_id")
        .agg(F.sum("pn").alias("n"))
        .toPandas()
    )
    a = direct.sort_values("image_id").reset_index(drop=True)
    b = twophase.sort_values("image_id").reset_index(drop=True)
    assert (a["n"].to_numpy() == b["n"].to_numpy()).all()


def test_salt_is_deterministic(spark):
    df = tables.synthesize_image_caption(spark, n_entities=6, rows_per_entity=8)
    a = layout.salted(df, n_salts=8).select("image_id", "ts", "salt").toPandas()
    b = layout.salted(df.repartition(7), n_salts=8).select("image_id", "ts", "salt").toPandas()
    a = a.sort_values(["image_id", "ts"]).reset_index(drop=True)
    b = b.sort_values(["image_id", "ts"]).reset_index(drop=True)
    assert (a["salt"].to_numpy() == b["salt"].to_numpy()).all()


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """Two tables bucketed by the same key/count join with ZERO
    Exchange — the co-located layout the engine prescribes for
    fact-to-fact joins at scale."""
    import pandas as pd
    import pyspark.sql.functions as F

    from gfwspark import layout, tables

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ev = tables.load_table(spark, "/root/testdata/sf0.001", "events")
        a = ev.select("user_id", "ts", "value")
        b = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        layout.write_bucketed(a, "bk_facts", ["user_id"], 8, sort_cols=["user_id", "ts"])
        layout.write_bucketed(b, "bk_dim", ["user_id"], 8)
        joined = spark.table("bk_facts").join(spark.table("bk_dim"), "user_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: no shuffle at all
        assert joined.count() == a.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bk_facts")
        spark.sql("DROP TABLE IF EXISTS bk_dim")


def test_window_ops_reuse_partition_sorted_layout(spark):
    """The north-rule layout sentence, as a plan invariant: per-entity
    window operators over partition_sorted (repartitionByRange +
    sortWithinPartitions) add ZERO exchanges — the one range exchange
    paid at layout time is the only entity-keyed shuffle in the plan
    (RangePartitioning(entity) satisfies the Window's clustering)."""
    from gfwspark import tables, windows

    img = tables.synthesize_image_caption(spark, n_entities=8, rows_per_entity=6, seed=1)
    laid = layout.partition_sorted(
        img.select("image_id", "ts", "phash"), num_partitions=4
    )
    out = windows.with_sliding_agg(laid, "phash", 4, prefix="p")
    plan = out._jdf.queryExecution().executedPlan().toString()
    entity_exchanges = [
        l for l in plan.splitlines() if "Exchange" in l and "image_id" in l
    ]
    assert len(entity_exchanges) == 1, entity_exchanges
    assert "rangepartitioning" in entity_exchanges[0]


def test_zorder_table_envelope_property(spark, tmp_path):
    """Z-order clustering must give every output file a narrow min/max
    envelope in BOTH dimensions simultaneously (a single-column sort
    narrows only its leading column) — the property parquet row-group
    / Iceberg file skipping prunes on.  Also: rewrite preserves rows
    exactly."""
    import pyspark.sql.functions as F

    from gfwspark import layout, tables

    ev = tables.load_table(spark, "/root/testdata/sf0.01", "events").select(
        "event_id", "user_id", "value"
    )
    path = str(tmp_path / "z")
    ev.write.parquet(path)
    r = layout.zorder_table(spark, path, ["user_id", "value"], bits=4, n_files=8)
    assert set(r["boundaries"]) == {"user_id", "value"}
    back = spark.read.parquet(path)
    assert back.count() == ev.count()
    a = ev.toPandas().sort_values("event_id").reset_index(drop=True)
    b = back.toPandas().sort_values("event_id").reset_index(drop=True)[a.columns]
    assert a.equals(b)

    env = (
        back.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(
            (F.max("user_id") - F.min("user_id")).alias("du"),
            (F.max("value") - F.min("value")).alias("dv"),
        )
        .agg(F.avg("du").alias("mu"), F.avg("dv").alias("mv"))
        .first()
    )
    g = ev.agg(
        (F.max("user_id") - F.min("user_id")).alias("gu"),
        (F.max("value") - F.min("value")).alias("gv"),
    ).first()
    # both dimensions narrowed at once (each file spans well under the
    # global range); a lexicographic sort would leave one near 100%
    assert env["mu"] < 0.7 * g["gu"]
    assert env["mv"] < 0.5 * g["gv"]


def test_zorder_key_interleave_locality():
    """Morton-key math: interleaving is exact bit placement, and key
    distance bounds per-dimension bucket distance (locality)."""
    import pyspark.sql.functions as F

    from gfwspark import layout
    from gfwspark.session import get_spark

    spark = get_spark()
    rows = [(a, b) for a in range(8) for b in range(8)]
    df = spark.createDataFrame(rows, "x int, y int")
    out = df.withColumn(
        "z", layout.zorder_key([F.col("x"), F.col("y")], bits=3)
    ).collect()
    for r in out:
        want = sum(((r["x"] >> j) & 1) << (2 * j) for j in range(3)) + sum(
            ((r["y"] >> j) & 1) << (2 * j + 1) for j in range(3)
        )
        assert r["z"] == want, (r["x"], r["y"], r["z"], want)


def test_bucketed_asof_union_equals_adhoc(spark):
    """The as-of over an at-rest layout: with BOTH sides written
    bucketed by entity (layout.write_bucketed), the union form equals
    the union form over the same ad-hoc frames.  The bucketing does not
    remove its shuffle: Union discards its children's partitioning, so
    the window still plans one Exchange (pinned on Spark 4.1.2)."""
    import shutil
    from urllib.parse import urlparse

    import pandas as pd

    from gfwspark import asof

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("zb_facts", "zb_ann"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        # a stale location from a crashed/previous session survives the
        # catalog drop and blocks saveAsTable (LOCATION_ALREADY_EXISTS)
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    img = tables.image_caption_from_events(spark, "/root/testdata/sf0.001").select(
        "image_id", "ts", "event_id"
    )
    ann = (
        tables.synthesize_annotations(spark, n_entities=20, seed=1)
        .groupBy("image_id", "start_ts")
        .agg(F.max("value").alias("label"))
    )
    layout.write_bucketed(img, "zb_facts", ["image_id"], 4, sort_cols=["image_id", "ts"])
    layout.write_bucketed(ann, "zb_ann", ["image_id"], 4, sort_cols=["image_id", "start_ts"])
    f, a = spark.table("zb_facts"), spark.table("zb_ann")

    out = asof.asof_join_union(f, a, value_cols=("label",))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan

    key = ["image_id", "ts", "event_id"]
    want = (
        asof.asof_join_union(img, ann, value_cols=("label",))
        .toPandas().sort_values(key).reset_index(drop=True)
    )
    got = out.toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(want, got, check_dtype=False)


def test_entity_stats_roundtrip_feeds_asof_auto(spark, tmp_path):
    """Profile-once flow: collect_entity_stats -> write beside the
    table -> read back -> asof auto consumes it (no pre-scan) and
    matches the union form."""
    import pandas as pd
    import pyspark.sql.functions as F

    from gfwspark import asof, layout, tables

    img = tables.image_caption_from_events(spark, "/root/testdata/sf0.001").select(
        "image_id", "ts", "event_id"
    )
    ann = (
        tables.synthesize_annotations(spark, n_entities=20, seed=1)
        .groupBy("image_id", "start_ts")
        .agg(F.max("value").alias("label"))
    )
    stats = layout.collect_entity_stats(img)
    p = str(tmp_path / "tbl")
    img.write.parquet(p)
    sp = layout.write_entity_stats(stats, p)
    assert sp.endswith("/_entity_stats")
    back = layout.read_entity_stats(spark, p)

    want = (
        asof.asof_join_union(img, ann, value_cols=("label",))
        .toPandas().sort_values(["image_id", "ts", "event_id"]).reset_index(drop=True)
    )
    got = (
        asof.asof_join(
            img, ann, value_cols=("label",), strategy="auto",
            hot_threshold_rows=10, entity_stats=back,
        )
        .toPandas().sort_values(["image_id", "ts", "event_id"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(want, got, check_dtype=False)


def test_zorder_table_in_place_and_crash_recovery(spark, tmp_path, monkeypatch):
    """zorder_table rewrites its table in place through the upsert
    journal: a flat table is rewritten to `g0-part-*` files at its
    root; a Z-ordering cut short before its journal leaves every data
    file as it was, and one cut short in its delete step (old and new
    files side by side) is rolled forward by the next writer, every row
    once.  After a compaction cut short in its delete step, zorder_table
    reads the table once its recovery has run: it succeeds, every row
    once."""
    import os

    from gfwspark import layout, sources, tables

    ev = tables.load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "value"
    )
    path = str(tmp_path / "z")
    ev.write.parquet(path)
    n = ev.count()

    def zorder():
        layout.zorder_table(spark, path, ["user_id", "value"], bits=3, n_files=4)

    def ids():
        return sorted(r[0] for r in spark.read.parquet(path).select("event_id").collect())

    want = ids()
    assert len(want) == n
    zorder()  # in place
    data = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert data and all(f.startswith("g0-part-") for f in data), data
    assert ids() == want

    def data_stamps():  # the manifest is rewritten before the journal
        return {f: s for f, s in file_stamps(path, ".parquet").items()
                if "/_upsert_tmp/" not in f}

    before = data_stamps()
    cut_short(monkeypatch, "replace", is_journal, zorder)
    assert data_stamps() == before  # the staged files wait in _upsert_tmp
    assert ids() == want

    # the next Z-ordering discards that staging first
    cut_short(monkeypatch, "remove", lambda t: t.startswith(path), zorder)
    assert os.path.exists(os.path.join(path, "_upsert_tmp", "_journal.json"))
    assert spark.read.parquet(path).count() == 2 * n  # old and new side by side
    sources.compact_table(spark, path)  # the next writer rolls it forward
    assert not os.path.exists(os.path.join(path, "_upsert_tmp"))
    assert ids() == want

    cut_short(
        monkeypatch, "remove", lambda t: t.startswith(path),
        lambda: sources.compact_table(spark, path),
    )
    assert spark.read.parquet(path).count() == 2 * n
    zorder()  # rolls the compaction forward, then reads the table
    assert not os.path.exists(os.path.join(path, "_upsert_tmp"))
    assert ids() == want


def test_stride_blocks_at_rest_zero_shuffle_windows(spark):
    """The at-rest answer to the W1m block-build floor (the measured
    scaling limiter, BENCH/HISTORY.md r6 sweep): stride_blocks written
    bucketed by entity, then windows_from_stride_blocks over the
    bucketed read — the whole window materialization plans with ZERO
    Exchange, and the output equals the one-shot
    sliding_feature_windows on the original rows exactly."""
    import shutil
    from urllib.parse import urlparse

    import pandas as pd

    from gfwspark import tables, windows

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    spark.sql("DROP TABLE IF EXISTS zb_blocks")
    shutil.rmtree(f"{wh}/zb_blocks", ignore_errors=True)

    img = tables.image_caption_from_events(spark, "/root/testdata/sf0.001").select(
        "image_id", "ts", "phash"
    )
    W_, S_ = 8, 3
    blocks = windows.stride_blocks(img, "phash", shift=S_)
    layout.write_bucketed(
        blocks, "zb_blocks", ["image_id"], 4, sort_cols=["image_id", "block_id"]
    )
    out = windows.windows_from_stride_blocks(
        spark.table("zb_blocks"), window_size=W_, shift=S_
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0, plan

    key = ["image_id", "win_end_ts"]
    want = (
        windows.sliding_feature_windows(img, "phash", window_size=W_, shift=S_)
        .toPandas().sort_values(key).reset_index(drop=True)
    )
    got = out.toPandas().sort_values(key).reset_index(drop=True)
    assert want[key + ["win_start_ts", "n_points"]].equals(
        got[key + ["win_start_ts", "n_points"]]
    )
    for a, b in zip(want.features, got.features):
        assert list(a) == list(b)


def test_blocks_manifest_records_and_validates_shift(spark, tmp_path):
    """r7 (ADVICE): the blocks-table manifest records the layout's
    shift and feature_cols; a merge with a mismatched shift or feature
    set raises before anything is written (mismatched block ids would
    silently corrupt every window reconstructed from the table)."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from gfwspark import sources, windows

    rows = spark.range(40).select(
        F.concat(F.lit("e"), (F.col("id") % 2).cast("string")).alias("image_id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        F.col("id").cast("double").alias("v"),
    )
    tbl = str(tmp_path / "blocks")
    windows.merge_append_into_blocks_table(
        spark, rows, tbl, "v", shift=4, n_buckets=4
    )
    meta = sources._read_table_meta(tbl)
    assert meta["shift"] == 4
    assert meta["feature_cols"] == ["v"]

    later = spark.range(8).select(
        F.lit("e0").alias("image_id"),
        F.timestamp_seconds(F.lit(1_700_000_100) + F.col("id")).alias("ts"),
        F.col("id").cast("double").alias("v"),
    )
    with _pytest.raises(ValueError, match="shift"):
        windows.merge_append_into_blocks_table(
            spark, later, tbl, "v", shift=5, n_buckets=4
        )
    with _pytest.raises(ValueError, match="feature_cols"):
        windows.merge_append_into_blocks_table(
            spark, later, tbl, "w", shift=4, n_buckets=4
        )
    # the matching contract still merges
    windows.merge_append_into_blocks_table(
        spark, later, tbl, "v", shift=4, n_buckets=4, on_late="drop"
    )


def test_merge_append_counts_extended_tail_blocks(spark, tmp_path):
    """Hand count at shift 4: `upserted` is every block row the append
    changed, `deleted` the stored partial tail blocks it extended.  The
    table's tails: e0 2 rows, e1 3 rows, e3 a full block.  Extended: e0
    block 2, e1 block 1; new: e0 block 3, e2 block 0, e3 block 2."""
    import pyspark.sql.functions as F

    from gfwspark import windows

    def rows(spec):  # {entity: (first second, n rows)}
        return spark.createDataFrame(
            [(e, t0 + i, float(i)) for e, (t0, n) in spec.items() for i in range(n)],
            "image_id string, t long, v double",
        ).select("image_id", F.timestamp_seconds("t").alias("ts"), "v")

    tbl = str(tmp_path / "blocks")
    windows.merge_append_into_blocks_table(
        spark, rows({"e0": (0, 10), "e1": (0, 7), "e3": (0, 8)}), tbl, "v", shift=4
    )
    r = windows.merge_append_into_blocks_table(
        spark, rows({"e0": (99, 3), "e1": (99, 1), "e2": (99, 2), "e3": (99, 1)}),
        tbl, "v", shift=4,
    )
    assert (r["upserted"], r["deleted"]) == (5, 2)


def test_rewrites_preserve_entity_stats_sidecar(spark, tmp_path):
    """compact_table and zorder_table rewrite the table in place and
    leave the _entity_stats sidecar (its content is layout-independent)
    where it is: its files keep their inode and mtime, and compaction
    sizing does not count them."""
    import os

    import pyspark.sql.functions as F

    from gfwspark import layout, sources

    rows = spark.range(200).select(
        F.concat(F.lit("e"), (F.col("id") % 5).cast("string")).alias("image_id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        F.col("id").cast("double").alias("value"),
    )
    p = str(tmp_path / "tbl")
    rows.repartition(8).write.parquet(p)
    sidecar = layout.write_entity_stats(layout.collect_entity_stats(rows), p)
    stamps = file_stamps(sidecar)
    assert stamps
    before = layout.read_entity_stats(spark, p).toPandas().sort_values(
        "image_id").reset_index(drop=True)

    r = sources.compact_table(spark, p, target_mb=1024)
    # the sidecar's files stayed as they were and never counted as data
    assert file_stamps(sidecar) == stamps
    after = layout.read_entity_stats(spark, p).toPandas().sort_values(
        "image_id").reset_index(drop=True)
    import pandas as pd
    pd.testing.assert_frame_equal(before, after)
    data_files = 0
    for root, dirs, files in os.walk(p):
        dirs[:] = [d for d in dirs if "=" in d or not d.startswith(("_", "."))]
        data_files += sum(f.endswith(".parquet") for f in files)
    assert r["files_after"] == data_files

    layout.zorder_table(spark, p, ["value"], bits=2, n_files=2)
    assert file_stamps(sidecar) == stamps
    after_z = layout.read_entity_stats(spark, p).toPandas().sort_values(
        "image_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after_z)


def _series(spark, spec):
    """{entity: (first second, n rows)} -> one row per second, v = t."""
    return spark.createDataFrame(
        [(e, t0 + i, float(t0 + i)) for e, (t0, n) in spec.items() for i in range(n)],
        "image_id string, t long, v double",
    ).select("image_id", F.timestamp_seconds("t").alias("ts"), "v")


def test_blocks_table_keeps_open_tails_in_their_own_files(spark, tmp_path):
    """The blocks table's file groups: no data file holds both a sealed
    block (size(ts_arr) == shift) and an open tail block, after the
    bootstrap and after each of two appends; an append leaves every
    sealed-only file in place (same inode and mtime); and the merged
    table equals stride_blocks over all rows."""
    import os
    from urllib.parse import unquote, urlparse

    from gfwspark import windows

    S = 4

    def files_by_group():  # {local path: {is the block open}}
        out = {}
        for r in (
            spark.read.parquet(tbl)
            .select(
                F.col("_metadata.file_path").alias("f"),
                (F.size("ts_arr") < S).alias("open"),
            )
            .distinct().collect()
        ):
            out.setdefault(unquote(urlparse(r["f"]).path), set()).add(r["open"])
        return out

    def stamp(f):
        st = os.stat(f)
        return st.st_ino, st.st_mtime_ns

    tbl = str(tmp_path / "blocks")
    batches = [
        _series(spark, {f"e{k}": (0, 3 + 5 * k) for k in range(8)}),
        _series(spark, {"e0": (100, 2), "e3": (100, 6), "e5": (100, 1), "new": (100, 9)}),
        _series(spark, {"e0": (200, 1), "e1": (200, 4), "e7": (200, 3)}),
    ]
    sealed = {}
    for batch in batches:  # the bootstrap, then two appends
        windows.merge_append_into_blocks_table(spark, batch, tbl, "v", S, n_buckets=2)
        assert {f: stamp(f) for f in sealed} == sealed
        groups = files_by_group()
        assert all(len(g) == 1 for g in groups.values()), groups
        sealed = {f: stamp(f) for f, g in groups.items() if g == {False}}
        assert 0 < len(sealed) < len(groups)  # both groups present
    allrows = batches[0].unionByName(batches[1]).unionByName(batches[2])
    want = windows.stride_blocks(allrows, "v", S)
    got = spark.read.parquet(tbl).select(*want.columns)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_compaction_keeps_the_blocks_tables_file_groups(spark, tmp_path):
    """compact_table keeps each row's file group (its file's
    `g<group>-` prefix): after a compaction, the next append rewrites
    only open-tail (`gtrue-`) files, every other file keeps its inode
    and mtime, and the table still equals stride_blocks over all
    rows."""
    import os

    from gfwspark import sources, windows

    S = 4
    tbl = str(tmp_path / "blocks")
    batches = [
        _series(spark, {f"e{k}": (0, 3 + 5 * k) for k in range(8)}),
        _series(spark, {"e0": (100, 2), "e3": (100, 6), "e5": (100, 1), "new": (100, 9)}),
        _series(spark, {"e0": (200, 1), "e1": (200, 4), "e7": (200, 3), "e3": (200, 5)}),
    ]
    for batch in batches[:2]:
        windows.merge_append_into_blocks_table(spark, batch, tbl, "v", S, n_buckets=2)
    sources.compact_table(spark, tbl)
    kept = {f: s for f, s in file_stamps(tbl, ".parquet").items()
            if not os.path.basename(f).startswith("gtrue-")}
    assert kept
    windows.merge_append_into_blocks_table(spark, batches[2], tbl, "v", S, n_buckets=2)
    assert {f: s for f, s in file_stamps(tbl, ".parquet").items() if f in kept} == kept
    allrows = batches[0].unionByName(batches[1]).unionByName(batches[2])
    _blocks_equal_rebuild(spark, tbl, allrows, S)


def test_blocks_merge_recovers_a_commit_cut_short(spark, tmp_path, monkeypatch):
    """A bootstrap cut short after its journal (before its first
    rename) and an append cut short in its delete step are both
    finished before anything reads the table again — by the next
    merge, and by compact_table — so the table still equals
    stride_blocks over all rows: no tail twice, no block_id restarted."""
    import os

    from gfwspark import sources, windows

    S = 4
    tbl = str(tmp_path / "blocks")

    def merge(batch):
        return windows.merge_append_into_blocks_table(
            spark, batch, tbl, "v", S, n_buckets=2
        )

    def crashing(batch, name, when):
        cut_short(monkeypatch, name, when, lambda: merge(batch))
        assert os.path.exists(os.path.join(tbl, "_upsert_tmp", "_journal.json"))

    def before_rename(dst):
        return "/_bucket=" in dst and "_upsert_tmp" not in dst

    def in_delete(p):
        return p.startswith(tbl)

    batches = [
        _series(spark, {f"e{k}": (0, 3 + 5 * k) for k in range(6)}),
        _series(spark, {"e0": (100, 2), "e3": (100, 6), "e5": (100, 1)}),
        _series(spark, {"e0": (200, 7), "e1": (200, 4), "new": (200, 3)}),
        _series(spark, {"e0": (300, 1), "e3": (300, 2), "e4": (300, 5)}),
    ]
    crashing(batches[0], "replace", before_rename)  # the bootstrap
    crashing(batches[1], "remove", in_delete)  # rolls it forward first
    sources.compact_table(spark, tbl)  # rolls the append forward first
    crashing(batches[2], "remove", in_delete)
    merge(batches[3])

    allrows = batches[0]
    for batch in batches[1:]:
        allrows = allrows.unionByName(batch)
    want = windows.stride_blocks(allrows, "v", S)
    got = spark.read.parquet(tbl).select(*want.columns)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_blocks_all_late_append_writes_nothing(spark, tmp_path):
    """An append whose rows were all applied already (every row late
    under on_late="drop": the crash replay stream_stride_blocks_sink
    relies on) writes nothing: every file under the table, the manifest
    included, keeps its inode and mtime."""
    from gfwspark import windows

    tbl = str(tmp_path / "blocks")
    batch = _series(spark, {f"e{k}": (0, 3 + 5 * k) for k in range(6)})
    windows.merge_append_into_blocks_table(spark, batch, tbl, "v", 4, n_buckets=2)
    before = file_stamps(tbl)
    r = windows.merge_append_into_blocks_table(
        spark, batch, tbl, "v", 4, n_buckets=2, on_late="drop"
    )
    assert r == {"touched_buckets": [], "upserted": 0, "deleted": 0}
    assert file_stamps(tbl) == before
    _blocks_equal_rebuild(spark, tbl, batch, 4)


def _blocks_equal_rebuild(spark, tbl, allrows, shift):
    """The blocks table at ``tbl`` holds exactly stride_blocks(allrows)."""
    from gfwspark import sources, windows

    want = windows.stride_blocks(allrows, "v", shift)
    got = sources.read_table(spark, tbl).select(*want.columns)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_blocks_append_extends_a_null_entity_series(spark, tmp_path):
    """A NULL entity is a series like any other: appending to it extends
    its last block instead of overwriting its first (the stored blocks
    used to be matched on plain entity equality, so NULL's rows were
    numbered from 1 again)."""
    from gfwspark import windows

    tbl = str(tmp_path / "blocks")
    boot = _series(spark, {None: (0, 4), "a": (0, 4)})
    more = _series(spark, {None: (100, 2), "a": (100, 2)})
    for batch in (boot, more):
        windows.merge_append_into_blocks_table(spark, batch, tbl, "v", 3, n_buckets=2)
    _blocks_equal_rebuild(spark, tbl, boot.unionByName(more), 3)


def test_blocks_append_starts_at_most_8_jobs(spark, tmp_path, jobs_started):
    """An append into an existing blocks table runs in at most 8 Spark
    jobs: no schema inference, no separate collect of the touched
    buckets, no search for the files it rewrites."""
    from gfwspark import windows

    tbl = str(tmp_path / "blocks")
    windows.merge_append_into_blocks_table(
        spark, _series(spark, {f"e{k}": (0, 50 + 7 * k) for k in range(20)}),
        tbl, "v", 8,
    )
    batch = _series(spark, {f"e{k}": (1000, 5 + k) for k in range(0, 20, 3)})
    r, jobs = jobs_started(
        lambda: windows.merge_append_into_blocks_table(spark, batch, tbl, "v", 8)
    )
    assert r["upserted"] > 0
    assert jobs <= 8, jobs


def test_blocks_append_rewrites_the_files_the_key_search_finds(
    spark, tmp_path, monkeypatch
):
    """The files an append rewrites, named by the changed rows
    themselves, are the files the upsert's generic key search finds for
    the same rows: each upsert of the merge is replayed without
    ``hit_file_col`` on a copy of the table, and both delete the same
    files.  The appends cover a tail that extends, a tail exactly
    `shift` long (sealed: its file is not hit), a brand-new entity, a
    NULL entity, a batch whose rows are all late under on_late="drop",
    and on_late="error" (a late row raises and changes nothing).  After
    each append the table equals stride_blocks over all rows."""
    import os
    import shutil

    import pytest

    from gfwspark import sources, windows

    S = 4
    tbl = str(tmp_path / "blocks")
    real_upsert = sources.upsert_partitioned
    rewritten = []

    def data_files(root):
        return {
            os.path.relpath(os.path.join(d, f), root)
            for d, _, fs in os.walk(root) if "/_upsert_tmp" not in d
            for f in fs if f.endswith(".parquet")
        }

    def replayed(spark_, batch, path, hit_file_col=None, **kw):
        if hit_file_col is None:  # the bootstrap
            return real_upsert(spark_, batch, path, **kw)
        ref = str(tmp_path / "ref")
        shutil.rmtree(ref, ignore_errors=True)
        shutil.copytree(path, ref)
        before = data_files(path)
        real_upsert(spark_, batch.drop(hit_file_col), ref, **kw)
        r = real_upsert(spark_, batch, path, hit_file_col=hit_file_col, **kw)
        rewritten.append(before - data_files(path))
        assert rewritten[-1] == before - data_files(ref)
        return r

    monkeypatch.setattr(sources, "upsert_partitioned", replayed)
    boot = _series(spark, {"e0": (0, 6), "e1": (0, 8), "e2": (0, 3), None: (0, 5)})
    appends = [  # (batch, on_late, adds rows)
        (_series(spark, {"e0": (100, 3), "e1": (100, 2), "new": (100, 5),
                         None: (100, 2)}), "drop", True),
        # every row already applied
        (_series(spark, {"e0": (0, 6), "e2": (1, 2), None: (101, 1)}), "drop", False),
        (_series(spark, {"e2": (200, 6), "e1": (200, 1), None: (200, 3)}), "error", True),
    ]
    windows.merge_append_into_blocks_table(spark, boot, tbl, "v", S, n_buckets=2)
    allrows = boot
    for batch, on_late, adds in appends:
        windows.merge_append_into_blocks_table(
            spark, batch, tbl, "v", S, n_buckets=2, on_late=on_late
        )
        if adds:
            allrows = allrows.unionByName(batch)
        _blocks_equal_rebuild(spark, tbl, allrows, S)
    assert rewritten[0] and not rewritten[1] and rewritten[2]
    # only open tails are ever rewritten: e1's sealed tail was not hit
    assert all(
        os.path.basename(f).startswith("gtrue-") for fs in rewritten for f in fs
    )
    before = data_files(tbl)
    with pytest.raises(ValueError, match="not strictly"):
        windows.merge_append_into_blocks_table(
            spark, _series(spark, {"e2": (0, 1)}), tbl, "v", S, n_buckets=2,
            on_late="error",
        )
    assert data_files(tbl) == before
    _blocks_equal_rebuild(spark, tbl, allrows, S)
