"""Sources/sinks (SURVEY §2.1 S6-S11): CSV metadata, id lists,
interval CSVs (ISO + epoch timestamps), JSON sink, partitioned
parquet layout, deterministic weighted sampling."""

from __future__ import annotations

import json
from pathlib import Path

import pyspark.sql.functions as F

from gfwspark import sources, tables
from tests.conftest import SF_MED, cut_short, file_stamps, is_journal


def test_read_entity_info_drops_blank_labels(spark, tmp_path):
    p = tmp_path / "info.csv"
    p.write_text(
        "image_id,label,length,split\n"
        "img_000001,cargo|tanker,42.5,Training\n"
        "img_000002,,10.0,Test\n"          # blank label → dropped (P7)
        "img_000003,  ,11.0,Test\n"         # whitespace label → dropped
        "img_000004,trawler,,Test\n"        # null length kept
    )
    df = sources.read_entity_info(spark, str(p))
    rows = {r.image_id: r for r in df.collect()}
    assert set(rows) == {"img_000001", "img_000004"}
    assert rows["img_000001"].label == "cargo|tanker"
    assert rows["img_000004"].length is None


def test_read_id_list(spark, tmp_path):
    p = tmp_path / "ids.txt"
    p.write_text("img_000001\n  img_000002  \n\nimg_000003\n")
    ids = sorted(r.image_id for r in sources.read_id_list(spark, str(p)).collect())
    assert ids == ["img_000001", "img_000002", "img_000003"]


def test_read_annotation_csv_both_timestamp_forms(spark, tmp_path):
    p = tmp_path / "ann.csv"
    p.write_text(
        "image_id,start_time,end_time,value\n"
        "img_000001,2024-01-01 00:00:00,2024-01-02 00:00:00,1.0\n"
        "img_000002,1704067200,1704153600,0.5\n"   # same instants, epoch form
        "img_000003,2024-01-02 00:00:00,2024-01-01 00:00:00,1.0\n"  # inverted → dropped
    )
    df = sources.read_annotation_csv(spark, str(p)).orderBy("image_id")
    rows = df.collect()
    assert len(rows) == 2
    assert rows[0].start_ts == rows[1].start_ts  # ISO == epoch parse
    assert rows[0].end_ts == rows[1].end_ts


def test_json_sink_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("img_1", 1.0), ("img_2", -1.0)], "image_id string, score double"
    )
    out = tmp_path / "json_out"
    sources.write_json_results(df, str(out))
    lines = []
    for f in Path(out).glob("part-*.json"):
        lines += [json.loads(line) for line in f.read_text().splitlines()]
    assert sorted(d["image_id"] for d in lines) == ["img_1", "img_2"]


def test_partitioned_write_layout(spark, tmp_path):
    df = tables.synthesize_image_caption(spark, n_entities=6, rows_per_entity=5)
    df = df.withColumn("fmt2", F.col("fmt"))
    out = tmp_path / "part_out"
    sources.write_partitioned(df, str(out), ["fmt2"], sort_cols=["image_id", "ts"])
    dirs = {p.name for p in Path(out).iterdir() if p.is_dir()}
    assert {"fmt2=png", "fmt2=qnt"} <= dirs
    back = spark.read.parquet(str(out))
    assert back.count() == df.count()


def test_weighted_sample_deterministic_and_weighted(spark):
    df = tables.synthesize_image_caption(spark, n_entities=30, rows_per_entity=20)
    w = df.withColumn(
        "weight", F.when(F.col("image_id") < "img_000015", 4.0).otherwise(1.0)
    )
    s1 = sources.weighted_sample(w, "weight", ["image_id", "ts"], fraction=0.1, seed=7)
    s2 = sources.weighted_sample(
        w.repartition(13), "weight", ["image_id", "ts"], fraction=0.1, seed=7
    )
    a = s1.select("image_id", "ts").toPandas().sort_values(["image_id", "ts"])
    b = s2.select("image_id", "ts").toPandas().sort_values(["image_id", "ts"])
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))  # partition-invariant

    # ~4x more of the heavy half (statistical, generous bounds)
    heavy = s1.filter(F.col("image_id") < "img_000015").count()
    light = s1.filter(F.col("image_id") >= "img_000015").count()
    n_heavy = w.filter(F.col("image_id") < "img_000015").count()
    n_light = w.filter(F.col("image_id") >= "img_000015").count()
    rate_heavy = heavy / n_heavy
    rate_light = max(light / n_light, 1e-9)
    assert 2.0 < rate_heavy / rate_light < 8.0

    # cap: weight 1000 behaves like max_weight=100 → p = min(1, …) ≤ 1
    capped = sources.weighted_sample(
        w.withColumn("weight", F.lit(1000.0)), "weight", ["image_id", "ts"],
        fraction=0.001, seed=7,
    )
    uncapped_rate = capped.count() / w.count()
    assert uncapped_rate < 0.25  # 0.001*100=0.1 expected, not 0.001*1000=1.0


def test_with_file_id(spark, tmp_path):
    """S4: the entity id rides in the shard filename and is recovered at
    scan time from input_file_name()."""
    import pandas as pd

    from gfwspark import sources

    for eid in ("img_0007", "img_0042"):
        spark.createDataFrame(pd.DataFrame({"v": [1, 2]})).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"{eid}.parquet"))
    df = sources.with_file_id(spark.read.parquet(str(tmp_path / "*.parquet")))
    got = {r.file_id for r in df.select("file_id").distinct().collect()}
    assert got == {"img_0007", "img_0042"}


def test_iceberg_probe_and_fallback(spark, tmp_path):
    """The Iceberg capability probe is honest (no jars in this
    container) and write_partitioned falls back to the parquet stand-in
    rather than failing or silently writing something else."""
    import pandas as pd

    from gfwspark import sources

    assert sources.iceberg_available(spark) is False  # recorded in README
    df = spark.createDataFrame(
        pd.DataFrame({"part": ["a", "a", "b"], "v": [1, 2, 3]})
    )
    out = str(tmp_path / "t")
    sources.write_partitioned(df, out, ["part"], iceberg_table="local.db.t")
    back = spark.read.parquet(out)
    assert back.count() == 3 and set(back.columns) == {"part", "v"}


def test_pack_token_batches_global_requires_optin(spark):
    """partition_col=None collapses the running-sum window onto one
    task — must raise unless explicitly opted into (VERDICT r2 #4)."""
    import pytest

    df = spark.createDataFrame(
        [(i, 10) for i in range(20)], "doc_id int, n_tokens int"
    )
    with pytest.raises(ValueError, match="single task"):
        sources.pack_token_budget_batches(df, "n_tokens", 64, ["doc_id"])
    out = sources.pack_token_budget_batches(
        df, "n_tokens", 64, ["doc_id"], allow_global=True
    )
    pdf = out.toPandas().sort_values("doc_id")
    assert pdf["batch_id"].tolist() == [i * 10 // 64 for i in range(20)]


def test_stable_hash_golden_values(spark):
    """F1 value pinning (VERDICT r2 #5): exact blake2b-last-8-hex
    values for fixed ids, the golden-value style of the reference's
    metadata_test.py.  stable_hash must equal
    int(blake2b(id).hexdigest()[-8:], 16) — xxhash64/crc32 substitutes
    would break reference split parity (metadata.py:130-133)."""
    from gfwspark import functions as fn

    df = spark.createDataFrame(
        [("img_000000",), ("vessel-123",), ("42",)], "id string"
    )
    got = dict(
        df.select("id", fn.stable_hash("id").alias("h")).toPandas().itertuples(
            index=False, name=None
        )
    )
    assert got == {
        "img_000000": 3119122455,
        "vessel-123": 636194754,
        "42": 1563401116,
    }


def test_upsert_partitioned_merge_semantics(spark, tmp_path):
    """MERGE semantics + partition-pruned rewrite: matched keys are
    replaced, unmatched retained, new inserted — and bucket dirs the
    batch does not touch keep their exact files (proof the rewrite
    pruned)."""
    import os

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(f"e{i}", i, f"v{i}") for i in range(40)],
        "image_id string, seq int, val string",
    )
    r0 = sources.upsert_partitioned(spark, base, path, keys=["image_id", "seq"])
    assert r0["upserted"] == 40 and r0["deleted"] == 0

    def files_by_bucket():
        out = {}
        for d in os.listdir(path):
            if d.startswith("_bucket="):
                bdir = os.path.join(path, d)
                out[d] = sorted(
                    (f, os.path.getmtime(os.path.join(bdir, f)))
                    for f in os.listdir(bdir) if f.endswith(".parquet")
                )
        return out

    before = files_by_bucket()
    batch = spark.createDataFrame(
        [("e3", 3, "UPDATED"), ("e999", 0, "NEW")],
        "image_id string, seq int, val string",
    )
    r1 = sources.upsert_partitioned(spark, batch, path, keys=["image_id", "seq"])
    assert r1["upserted"] == 2 and r1["deleted"] == 1

    got = spark.read.parquet(path).drop("_bucket").toPandas()
    assert len(got) == 41
    assert got.set_index(["image_id", "seq"]).loc[("e3", 3), "val"] == "UPDATED"
    assert got.set_index(["image_id", "seq"]).loc[("e999", 0), "val"] == "NEW"
    assert got.set_index(["image_id", "seq"]).loc[("e7", 7), "val"] == "v7"

    after = files_by_bucket()
    touched = {f"_bucket={t}" for t in r1["touched_buckets"]}
    untouched_same = {
        k: v for k, v in before.items() if k not in touched
    }
    for k, v in untouched_same.items():
        assert after[k] == v, f"untouched partition {k} was rewritten"
    assert len(untouched_same) > 0  # the pruning claim is non-vacuous
    # an empty batch (a replayed micro-batch) merges nothing
    r2 = sources.upsert_partitioned(
        spark, batch.limit(0), path, keys=["image_id", "seq"]
    )
    assert (r2["touched_buckets"], r2["upserted"], r2["deleted"]) == ([], 0, 0)
    assert spark.read.parquet(path).count() == 41


def test_approx_count_distinct_error_bound(spark):
    """Approximate distinct (HLL++, Spark-native) stays within its
    configured rsd against the exact count per group — the cheap
    cardinality pass a 100-TB profiler runs before choosing dedup /
    join strategies (exact distinct is a full shuffle; the sketch is
    map-side mergeable)."""
    df = tables.load_table(spark, SF_MED, "events")
    got = (
        df.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
            F.countDistinct("user_id").alias("exact"),
        )
        .toPandas()
    )
    assert len(got) > 0
    rel_err = (got["approx"] - got["exact"]).abs() / got["exact"]
    assert (rel_err < 0.05).all(), got.to_dict("records")


def test_compact_table_reduces_files_preserves_rows(spark, tmp_path):
    """Many tiny files collapse to the byte-sized target count; row
    content is identical; sort_cols restores within-file clustering."""
    import os

    path = str(tmp_path / "frag")
    df = spark.createDataFrame(
        [(f"e{i % 7}", i, float(i)) for i in range(2000)],
        "image_id string, seq int, v double",
    )
    df.repartition(64).write.mode("overwrite").parquet(path)
    n_before = sum(
        f.endswith(".parquet") for f in os.listdir(path)
    )
    assert n_before == 64
    before = spark.read.parquet(path).toPandas().sort_values("seq")

    r = sources.compact_table(
        spark, path, target_mb=128, sort_cols=["image_id", "seq"]
    )
    assert r["files_before"] == 64 and r["files_after"] == 1

    after_df = spark.read.parquet(path)
    after = after_df.toPandas().sort_values("seq")
    assert before.reset_index(drop=True).equals(after.reset_index(drop=True))
    # within-file clustering restored: rows arrive sorted per partition
    import pandas as pd

    part = after_df.toPandas()
    keys = list(zip(part["image_id"], part["seq"]))
    assert keys == sorted(keys)


def test_upsert_partitioned_null_entity_key(spark, tmp_path):
    """NULL entity keys land in a real sentinel bucket: they survive a
    later upsert that does not touch them (the rewrite must not drop
    the null partition), can themselves be updated by key,
    and `deleted` counts exactly the stored rows each batch replaced."""
    path = str(tmp_path / "nulltbl")
    base = spark.createDataFrame(
        [(None, 0, "nullrow"), ("e1", 1, "v1"), ("e2", 2, "v2")],
        "image_id string, seq int, val string",
    )
    r0 = sources.upsert_partitioned(spark, base, path, keys=["image_id", "seq"])
    assert r0["upserted"] == 3

    batch = spark.createDataFrame(
        [("e1", 1, "UPDATED")], "image_id string, seq int, val string"
    )
    r1 = sources.upsert_partitioned(spark, batch, path, keys=["image_id", "seq"])
    assert r1["deleted"] == 1 and r1["upserted"] == 1
    got = spark.read.parquet(path).drop("_bucket").toPandas()
    assert len(got) == 3
    nullrow = got[got["image_id"].isna()]
    assert len(nullrow) == 1 and nullrow["val"].iloc[0] == "nullrow"
    assert got.loc[got["seq"] == 1, "val"].iloc[0] == "UPDATED"

    # null-key rows are themselves updatable (NULL-safe key equality)
    batch2 = spark.createDataFrame(
        [(None, 0, "NULL-UPDATED")], "image_id string, seq int, val string"
    )
    r2 = sources.upsert_partitioned(spark, batch2, path, keys=["image_id", "seq"])
    got2 = spark.read.parquet(path).drop("_bucket").toPandas()
    assert len(got2) == 3
    assert got2[got2["image_id"].isna()]["val"].iloc[0] == "NULL-UPDATED"
    assert r2["deleted"] == 1


def test_upsert_insert_only_batch_rewrites_no_file(spark, tmp_path):
    """Copy-on-write is file-granular: a batch whose keys are all new
    rewrites no stored file, even in the buckets it lands in; it only
    adds files."""
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(f"e{i}", i, f"v{i}") for i in range(40)],
        "image_id string, seq int, val string",
    )
    sources.upsert_partitioned(spark, base, path, keys=["image_id", "seq"], n_buckets=4)
    before = file_stamps(path, ".parquet")
    batch = spark.createDataFrame(
        [(f"new{i}", i, "NEW") for i in range(6)],
        "image_id string, seq int, val string",
    )
    r = sources.upsert_partitioned(
        spark, batch, path, keys=["image_id", "seq"], n_buckets=4
    )
    assert (r["upserted"], r["deleted"]) == (6, 0) and r["touched_buckets"]
    after = file_stamps(path, ".parquet")
    assert {f: after.get(f) for f in before} == before, "a stored file was rewritten"
    assert len(after) > len(before)
    assert spark.read.parquet(path).count() == 46


def test_upsert_rewrites_only_the_files_holding_a_key(spark, tmp_path):
    """One bucket, two files: updating a key of the first replaces that
    file and leaves the second byte-stable.  Readers see a plain
    `_bucket`-partitioned table with each key once and no extra
    column."""
    path = str(tmp_path / "tbl")
    schema = "image_id string, seq int, val string"

    def upsert(rows):
        one_file = spark.createDataFrame(rows, schema).coalesce(1)
        return sources.upsert_partitioned(
            spark, one_file, path, keys=["image_id", "seq"], n_buckets=1
        )

    upsert([(f"a{i}", i, "A") for i in range(10)])
    first = file_stamps(path, ".parquet")
    upsert([(f"b{i}", i, "B") for i in range(10)])
    second = {f: s for f, s in file_stamps(path, ".parquet").items() if f not in first}
    assert len(first) == 1 and len(second) == 1

    r = upsert([("a3", 3, "UPDATED")])
    assert (r["upserted"], r["deleted"]) == (1, 1)
    after = file_stamps(path, ".parquet")
    assert not set(first) & set(after), "the hit file was not replaced"
    assert {f: after.get(f) for f in second} == second, "an unhit file was rewritten"
    for back in (spark.read.parquet(path), sources.read_table(spark, path)):
        assert sorted(back.columns) == ["_bucket", "image_id", "seq", "val"]
        got = back.toPandas()
        assert len(got) == 20 and not got.duplicated(["image_id", "seq"]).any()
        assert got.set_index("image_id").loc["a3", "val"] == "UPDATED"


def test_upsert_commit_journal_recovery(spark, tmp_path, monkeypatch):
    """A commit cut short after its journal is written is rolled forward
    by the next upsert (every key once, with the batch's values); a
    staged write without a journal is discarded and the table reads as
    it was before that merge."""
    import os

    import pytest

    path = str(tmp_path / "tbl")
    staging = os.path.join(path, "_upsert_tmp")
    keys = ["image_id", "seq"]
    schema = "image_id string, seq int, val string"
    base = spark.createDataFrame([(f"e{i}", i, f"v{i}") for i in range(20)], schema)
    sources.upsert_partitioned(spark, base, path, keys=keys, n_buckets=2)

    def table():
        return {
            (r["image_id"], r["seq"]): r["val"]
            for r in spark.read.parquet(path).collect()
        }, spark.read.parquet(path).count()

    empty = base.limit(0)
    real_remove, real_replace = os.remove, os.replace

    def crash_in_delete(p, *a, **kw):
        if str(p).startswith(path):
            raise OSError("crash in the delete step")
        return real_remove(p, *a, **kw)

    batch = spark.createDataFrame(
        [("e1", 1, "NEW1"), ("e6", 6, "NEW6"), ("x", 0, "NEWX")], schema
    )
    monkeypatch.setattr(os, "remove", crash_in_delete)
    with pytest.raises(OSError, match="delete step"):
        sources.upsert_partitioned(spark, batch, path, keys=keys, n_buckets=2)
    monkeypatch.undo()
    assert os.path.exists(os.path.join(staging, "_journal.json"))
    sources.upsert_partitioned(spark, empty, path, keys=keys, n_buckets=2)
    assert not os.path.exists(staging)
    got, n = table()
    want = {(f"e{i}", i): f"v{i}" for i in range(20)}
    want.update({("e1", 1): "NEW1", ("e6", 6): "NEW6", ("x", 0): "NEWX"})
    assert (got, n) == (want, 21)

    def crash_before_journal(src, dst, *a, **kw):
        if str(dst).endswith("_journal.json"):
            raise OSError("crash before the journal")
        return real_replace(src, dst, *a, **kw)

    before = file_stamps(path, ".parquet")
    batch2 = spark.createDataFrame([("e2", 2, "LOST"), ("y", 0, "LOST")], schema)
    monkeypatch.setattr(os, "replace", crash_before_journal)
    with pytest.raises(OSError, match="before the journal"):
        sources.upsert_partitioned(spark, batch2, path, keys=keys, n_buckets=2)
    monkeypatch.undo()
    assert file_stamps(staging, ".parquet") and table() == (want, 21)
    sources.upsert_partitioned(spark, empty, path, keys=keys, n_buckets=2)
    assert not os.path.exists(staging)
    assert file_stamps(path, ".parquet") == before and table() == (want, 21)


def test_compact_table_crash_recovery(spark, tmp_path, monkeypatch):
    """compact_table commits through the upsert journal.  A compaction
    cut short before its journal leaves every data file as it was; one
    cut short in its delete step (old and new files side by side) is
    rolled forward by the next writer, here an upsert, and every row
    appears once."""
    import os

    path = str(tmp_path / "crash")
    staging = os.path.join(path, "_upsert_tmp")
    keys = ["image_id", "seq"]
    schema = "image_id string, seq int, val string"

    def upsert(rows):
        df = spark.createDataFrame(rows, schema)
        return sources.upsert_partitioned(spark, df, path, keys=keys, n_buckets=4)

    for k in range(5):  # five merges: five files in each touched bucket
        upsert([(f"e{i}", i, f"v{k}") for i in range(k, 100, 5)])
    want = {(f"e{i}", i): f"v{i % 5}" for i in range(100)}

    def table():
        got = spark.read.parquet(path).collect()
        return {(r["image_id"], r["seq"]): r["val"] for r in got}, len(got)

    def compact():
        sources.compact_table(spark, path)

    def data_stamps():
        return {f: s for f, s in file_stamps(path, ".parquet").items()
                if not f.startswith(staging)}

    before = data_stamps()
    cut_short(monkeypatch, "replace", is_journal, compact)
    assert file_stamps(staging, ".parquet") and data_stamps() == before
    assert table() == (want, 100)

    # the next compaction discards that staging first
    cut_short(monkeypatch, "remove", lambda t: t.startswith(path), compact)
    assert os.path.exists(os.path.join(staging, "_journal.json"))
    assert table()[1] == 200  # old and new files side by side
    r = upsert([("e7", 7, "NEW"), ("x", 0, "NEWX")])
    assert (r["upserted"], r["deleted"]) == (2, 1)
    assert not os.path.exists(staging)
    want.update({("e7", 7): "NEW", ("x", 0): "NEWX"})
    assert table() == (want, 101)
    assert all(
        os.path.basename(f).startswith("g0-part-")
        for f in file_stamps(path, ".parquet")
    )


def test_upsert_schema_evolution(spark, tmp_path):
    """A batch adding a column is rejected by default (explicit
    evolution, the Iceberg contract) and accepted with
    allow_schema_evolution=True: old rows get NULL for the new column,
    merge semantics otherwise unchanged; the evolved table reads back
    with mergeSchema."""
    import pytest as _pytest

    path = str(tmp_path / "evo")
    base = spark.createDataFrame(
        [("e1", 1, "v1"), ("e2", 2, "v2")], "image_id string, seq int, val string"
    )
    sources.upsert_partitioned(spark, base, path, keys=["image_id", "seq"])

    batch = spark.createDataFrame(
        [("e2", 2, "UPDATED", 0.9), ("e3", 3, "NEW", 0.5)],
        "image_id string, seq int, val string, score double",
    )
    with _pytest.raises(ValueError, match="schema"):
        sources.upsert_partitioned(spark, batch, path, keys=["image_id", "seq"])

    r = sources.upsert_partitioned(
        spark, batch, path, keys=["image_id", "seq"], allow_schema_evolution=True
    )
    assert r["upserted"] == 2
    got = (
        spark.read.option("mergeSchema", "true").parquet(path)
        .drop("_bucket").toPandas().sort_values(["image_id", "seq"])
        .set_index("image_id")
    )
    assert len(got) == 3
    assert got.loc["e2", "val"] == "UPDATED" and got.loc["e2", "score"] == 0.9
    assert got.loc["e3", "score"] == 0.5
    import pandas as pd

    assert pd.isna(got.loc["e1", "score"])


def test_upsert_after_evolution_reads_full_schema(spark, tmp_path):
    """Once a table holds mixed-schema files, LATER upserts must see
    the union schema no matter which file Spark's cheap schema
    inference would have drawn: the sidecar manifest forces a
    mergeSchema read, so (a) an old-schema batch deterministically
    RAISES instead of sometimes silently rewriting evolved buckets
    without the new column, and (b) a full-schema default upsert
    preserves evolved values in the buckets it rewrites."""
    import pandas as pd
    import pytest as _pytest

    path = str(tmp_path / "evo2")
    ids = [f"e{i}" for i in range(8)]
    base = spark.createDataFrame(
        [(i, 1, f"v{i}") for i in ids], "image_id string, seq int, val string"
    )
    sources.upsert_partitioned(spark, base, path, keys=["image_id", "seq"], n_buckets=4)

    evolve = spark.createDataFrame(
        [("e0", 1, "E0", 0.5)], "image_id string, seq int, val string, score double"
    )
    sources.upsert_partitioned(
        spark, evolve, path, keys=["image_id", "seq"], n_buckets=4,
        allow_schema_evolution=True,
    )
    # manifest-aware plain read sees the union schema with no options
    assert "score" in sources.read_table(spark, path).columns

    # (a) old-schema batch: the evolved column is now load-bearing —
    # must raise (explicit evolution) rather than depend on which
    # file won schema inference
    old_batch = spark.createDataFrame(
        [("e0", 1, "CLOBBER")], "image_id string, seq int, val string"
    )
    with _pytest.raises(ValueError, match="schema"):
        sources.upsert_partitioned(
            spark, old_batch, path, keys=["image_id", "seq"], n_buckets=4
        )

    # (b) full-schema default upsert over a DIFFERENT entity in e0's
    # bucket: e0's score must survive the bucket rewrite
    from gfwspark.checkpoint import bucket_of

    buckets = {
        r["image_id"]: r["b"]
        for r in spark.createDataFrame([(i,) for i in ids], "image_id string")
        .select("image_id", bucket_of("image_id", 4).alias("b"))
        .collect()
    }
    same_bucket = next(
        i for i in ids if i != "e0" and buckets[i] == buckets["e0"]
    )
    full_batch = spark.createDataFrame(
        [(same_bucket, 1, "FULL", 0.9)],
        "image_id string, seq int, val string, score double",
    )
    sources.upsert_partitioned(
        spark, full_batch, path, keys=["image_id", "seq"], n_buckets=4
    )
    got = (
        sources.read_table(spark, path).toPandas().set_index("image_id")
    )
    assert got.loc["e0", "score"] == 0.5, "evolved value lost in bucket rewrite"
    assert got.loc[same_bucket, "score"] == 0.9
    assert pd.isna(got.loc["e1", "score"]) or "e1" == same_bucket


def test_gate_scale_pandas_raises_on_oversize(spark):
    """The round-trip queries' full-table toPandas is legal only at
    driver-gate scale; the cap turns that convention into a raise."""
    import pytest

    from gfwspark.queries_ml import _gate_scale_pandas

    df = spark.range(500)
    assert len(_gate_scale_pandas(df, cap=1000)) == 500
    with pytest.raises(ValueError, match="gate-scale"):
        _gate_scale_pandas(df, cap=100)


def test_compact_preserves_bucket_partition_layout(spark, tmp_path):
    """Compacting a bucket-partitioned upsert table must keep the
    _bucket=k/ directory layout — a flat rewrite leaves root-level
    files that collide with the next upsert's partition dirs and break
    its partition-pruned bucket rewrites."""
    import os

    from gfwspark import sources

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(f"e{i}", i, float(i)) for i in range(200)],
        "image_id string, seq int, val double",
    )
    sources.upsert_partitioned(spark, df, path, keys=["image_id"], n_buckets=8)
    sources.compact_table(spark, path, target_mb=1024)
    # layout intact: only _bucket=k/ dirs at the root, no loose files
    entries = [e for e in os.listdir(path) if not e.startswith(("_", "."))]
    buckets = [e for e in os.listdir(path) if e.startswith("_bucket=")]
    assert buckets and not entries, (buckets, entries)
    # and the next upsert still works against the compacted table
    up = spark.createDataFrame(
        [("e0", 0, 999.0), ("zz", 1, -1.0)],
        "image_id string, seq int, val double",
    )
    sources.upsert_partitioned(spark, up, path, keys=["image_id"], n_buckets=8)
    back = spark.read.parquet(path)
    assert back.count() == 201
    got = {r["image_id"]: r["val"] for r in back.collect()}
    assert got["e0"] == 999.0 and got["zz"] == -1.0


def test_upsert_merges_schema_on_manifestless_mixed_table(spark, tmp_path):
    """A mixed-schema table WITHOUT a manifest (written by plain parquet
    writes) reads with mergeSchema, through read_table and in the
    upsert's compatibility check — otherwise an old-schema first-file
    draw would silently rewrite touched buckets without the evolved
    column."""
    from gfwspark import sources
    from gfwspark.checkpoint import bucket_of

    path = str(tmp_path / "legacy")
    old = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "image_id string, val double"
    ).withColumn("_bucket", bucket_of("image_id", 4))
    old.write.partitionBy("_bucket").parquet(path)
    evolved = spark.createDataFrame(
        [("c", 3.0, "X")], "image_id string, val double, extra string"
    ).withColumn("_bucket", bucket_of("image_id", 4))
    evolved.write.mode("append").partitionBy("_bucket").parquet(path)
    assert sources._read_table_meta(path) is None
    assert "extra" in sources.read_table(spark, path).columns

    up = spark.createDataFrame(
        [("a", 10.0, "Y")], "image_id string, val double, extra string"
    )
    sources.upsert_partitioned(
        spark, up, path, keys=["image_id"], n_buckets=4,
        allow_schema_evolution=True,
    )
    back = sources.read_table(spark, path)
    assert "extra" in back.columns
    got = {r["image_id"]: (r["val"], r["extra"]) for r in back.collect()}
    assert got["a"] == (10.0, "Y")
    assert got["c"] == (3.0, "X")  # evolved value survived the rewrite


def test_zorder_preserves_bucket_layout(spark, tmp_path):
    """In-place zorder of a bucket-partitioned upsert table must keep
    the _bucket=k/ dirs (z-clustering within buckets) — the same
    layout hazard compact_table guards."""
    import os

    from gfwspark import layout, sources

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(f"e{i}", i, float(i % 97)) for i in range(500)],
        "image_id string, seq int, val double",
    )
    sources.upsert_partitioned(spark, df, path, keys=["image_id"], n_buckets=4)
    layout.zorder_table(spark, path, ["seq", "val"], bits=3, n_files=8)
    loose = [e for e in os.listdir(path) if not e.startswith(("_", "."))]
    assert not loose and any(
        e.startswith("_bucket=") for e in os.listdir(path)
    )
    assert spark.read.parquet(path).count() == 500
    # and the next upsert still works
    up = spark.createDataFrame(
        [("e0", 0, -1.0)], "image_id string, seq int, val double"
    )
    sources.upsert_partitioned(spark, up, path, keys=["image_id"], n_buckets=4)
    back = spark.read.parquet(path)
    assert back.count() == 500
    assert back.filter("image_id = 'e0'").first()["val"] == -1.0


def test_compact_bucketed_honors_target_mb(spark, tmp_path):
    """Compacting a bucketed table must size files by target_mb ACROSS
    buckets: a bucket larger than target_mb spans several files in its
    dir instead of collapsing to one oversized single-task file."""
    import os

    import pyspark.sql.functions as F

    from gfwspark import sources

    path = str(tmp_path / "tbl")
    df = spark.range(120_000).select(
        F.concat(F.lit("e"), (F.col("id") % 50).cast("string")).alias("image_id"),
        F.col("id").alias("seq"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),
    )
    sources.upsert_partitioned(spark, df, path, keys=["image_id", "seq"], n_buckets=2)
    r = sources.compact_table(spark, path, target_mb=1)
    n_out_expected = max(1, -(-r["bytes"] // (1024 * 1024)))
    assert n_out_expected > 2, r  # fixture big enough to need >1 file/bucket
    per_bucket = {
        d: len([f for f in os.listdir(os.path.join(path, d))
                if f.endswith(".parquet")])
        for d in os.listdir(path) if d.startswith("_bucket=")
    }
    assert len(per_bucket) == 2
    assert all(n > 1 for n in per_bucket.values()), per_bucket
    assert spark.read.parquet(path).count() == 120_000


def test_upsert_rejects_mismatched_bucket_count(spark, tmp_path):
    """The manifest records n_buckets; a later upsert with a different
    modulus must raise before writing anything — a silent mismatch
    assigns keys to the wrong _bucket dirs and duplicates rows."""
    import pytest

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("e1", 1.0), ("e2", 2.0)], "image_id string, val double"
    )
    sources.upsert_partitioned(spark, df, path, keys=["image_id"], n_buckets=32)
    with pytest.raises(ValueError, match="n_buckets=32"):
        sources.upsert_partitioned(spark, df, path, keys=["image_id"], n_buckets=16)
    # and compaction preserves the recorded layout metadata
    sources.compact_table(spark, path, target_mb=1024)
    assert sources._read_table_meta(path)["n_buckets"] == 32


def test_read_table_starts_no_job(spark, tmp_path, jobs_started):
    """A managed table opens with the schema its manifest records: no
    schema-inference job, and the same schema and rows as the inferred
    read."""
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(f"e{i}", i, [float(i)]) for i in range(20)],
        "image_id string, seq int, vals array<double>",
    )
    sources.upsert_partitioned(spark, df, path, keys=["image_id"], n_buckets=4)
    back, jobs = jobs_started(lambda: sources.read_table(spark, path))
    assert jobs == 0
    inferred = spark.read.parquet(path)
    assert back.schema == inferred.schema
    assert back.exceptAll(inferred).count() == 0
    assert inferred.exceptAll(back).count() == 0


def test_read_table_matches_merge_schema_after_evolution_and_rewrites(
    spark, tmp_path, jobs_started
):
    """An evolved table (allow_schema_evolution=True), then the same
    table after compact_table and after zorder_table, reads back with
    the columns, types and values of a mergeSchema read, and without a
    Spark job."""
    from gfwspark import layout

    path = str(tmp_path / "evo")
    base = spark.createDataFrame(
        [(f"e{i}", i, float(i)) for i in range(12)],
        "image_id string, seq int, val double",
    )
    sources.upsert_partitioned(spark, base, path, keys=["image_id"], n_buckets=4)
    evolve = spark.createDataFrame(
        [("e0", 100, 0.5, "x", 7), ("new", 101, 1.5, None, 8)],
        "image_id string, seq int, val double, tag string, n long",
    )
    sources.upsert_partitioned(
        spark, evolve, path, keys=["image_id"], n_buckets=4,
        allow_schema_evolution=True,
    )

    def same_as_merge_schema():
        got, jobs = jobs_started(lambda: sources.read_table(spark, path))
        assert jobs == 0
        want = spark.read.option("mergeSchema", "true").parquet(path)
        assert dict(got.dtypes) == dict(want.dtypes)
        cols = sorted(want.columns)
        assert sorted(map(tuple, got.select(*cols).collect()), key=repr) == sorted(
            map(tuple, want.select(*cols).collect()), key=repr
        )
        assert got.count() == 13

    same_as_merge_schema()
    sources.compact_table(spark, path, target_mb=1024)
    same_as_merge_schema()
    layout.zorder_table(spark, path, ["seq"], bits=2)
    same_as_merge_schema()
