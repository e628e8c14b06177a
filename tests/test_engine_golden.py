"""Golden-vector parity: engine operators vs the numpy oracle on the
synthetic image_caption table (FIXTURES.md §4), plus the temporal-
leakage invariant."""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from gfwspark import asof, features, multimodal, oracle, sessionize, tables, windows

N_ENTITIES = 20
SEED = 42


@pytest.fixture(scope="module")
def img_pdf(spark):
    df = tables.synthesize_image_caption(spark, n_entities=N_ENTITIES, rows_per_entity=12, seed=SEED)
    return df.drop("bytes").toPandas()


@pytest.fixture(scope="module")
def img_df(spark, img_pdf):
    return spark.createDataFrame(img_pdf)


@pytest.fixture(scope="module")
def ann_df(spark):
    return tables.synthesize_annotations(spark, n_entities=N_ENTITIES, seed=SEED)


def test_synthesis_is_deterministic(spark, img_pdf):
    again = (
        tables.synthesize_image_caption(
            spark, n_entities=N_ENTITIES, rows_per_entity=12, seed=SEED, n_partitions=3
        )
        .drop("bytes")
        .toPandas()
    )
    a = img_pdf.sort_values(["image_id", "ts"]).reset_index(drop=True)
    b = again.sort_values(["image_id", "ts"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_entity_skew_present(img_pdf):
    counts = img_pdf.groupby("image_id").size()
    assert counts.loc["img_000000"] == counts.max()
    assert counts.loc["img_000001"] == 3  # short series → repeat-pad path


def test_sliding_agg_matches_oracle(img_df, img_pdf):
    out = (
        windows.with_sliding_agg(img_df, "phash", window_size=4, aggs=("avg",), prefix="ph")
        .select("image_id", "ts", "ph_avg")
        .toPandas()
        .sort_values(["image_id", "ts"])
    )
    for eid, grp in img_pdf.groupby("image_id"):
        grp = grp.sort_values("ts")
        want = oracle.sliding_mean(grp["phash"].to_numpy(dtype=np.float64), 4)
        got = out[out.image_id == eid]["ph_avg"].to_numpy()
        assert np.allclose(got, want, equal_nan=True), eid


def test_session_ids_match_oracle(img_df, img_pdf):
    out = (
        sessionize.with_session_id(img_df, gap_seconds=3600)
        .select("image_id", "ts", "session_id")
        .toPandas()
        .sort_values(["image_id", "ts"])
    )
    for eid, grp in img_pdf.groupby("image_id"):
        ts_us = grp.sort_values("ts")["ts"].astype("int64").to_numpy() // 1000
        want = oracle.session_ids(ts_us, gap_us=3600 * 1_000_000)
        got = out[out.image_id == eid]["session_id"].to_numpy()
        assert np.array_equal(got, want), eid


def test_asof_union_matches_oracle(img_df, ann_df, img_pdf):
    ann_pdf = ann_df.toPandas()
    ann1 = ann_df.groupBy("image_id", "start_ts").agg(F.max("value").alias("value"))
    out = (
        asof.asof_join_union(img_df, ann1, value_cols=("value",))
        .select("image_id", "ts", "asof_value")
        .toPandas()
        .sort_values(["image_id", "ts"])
    )
    ann_pdf = ann_pdf.groupby(["image_id", "start_ts"], as_index=False)["value"].max()
    for eid, grp in img_pdf.groupby("image_id"):
        grp = grp.sort_values("ts")
        a = ann_pdf[ann_pdf.image_id == eid]
        want = oracle.asof_backward(
            grp["ts"].astype("int64").to_numpy(),
            a["start_ts"].astype("int64").to_numpy(),
            a["value"].to_numpy(dtype=np.float64),
        )
        got = out[out.image_id == eid]["asof_value"].to_numpy(dtype=np.float64)
        assert np.allclose(got, want, equal_nan=True), eid


@pytest.mark.parametrize(
    "fact_cols",
    [("image_id", "ts"), ("image_id", "ts", "phash"), ("caption", "ts", "image_id")],
    ids=["entity_ts", "payload", "payload_first"],
)
def test_interval_labels_match_oracle(img_df, ann_df, img_pdf, fact_cols):
    """Dense interval labels equal the numpy oracle, and fact columns
    beyond (entity, ts) come through unchanged in their own order."""
    labelled = asof.interval_label_join(img_df.select(*fact_cols), ann_df)
    assert labelled.columns == [*fact_cols, "label"]
    out = labelled.toPandas().sort_values(["image_id", "ts"])
    key = ["image_id", "ts"]
    payload = [c for c in fact_cols if c not in key]
    if payload:
        want_payload = img_pdf[key + payload].sort_values(key).reset_index(drop=True)
        got_payload = out[key + payload].reset_index(drop=True)
        pd.testing.assert_frame_equal(want_payload, got_payload, check_dtype=False)
    ann_pdf = ann_df.toPandas()
    for eid, grp in img_pdf.groupby("image_id"):
        grp = grp.sort_values("ts")
        a = ann_pdf[ann_pdf.image_id == eid]
        want = oracle.dense_interval_labels(
            grp["ts"].astype("int64").to_numpy(),
            a["start_ts"].astype("int64").to_numpy(),
            a["end_ts"].astype("int64").to_numpy(),
            a["value"].to_numpy(dtype=np.float64),
        )
        got = out[out.image_id == eid]["label"].to_numpy(dtype=np.float64)
        assert np.allclose(got, want), eid


def test_interval_labels_no_annotations_default(img_df, ann_df):
    """Entities with no annotations (eidx%7==3) are fully -1 — the
    reference's zero-window/out-of-range case."""
    out = asof.interval_label_join(img_df.select("image_id", "ts"), ann_df)
    bad = out.filter(
        (F.col("image_id") == "img_000003") & (F.col("label") != -1.0)
    ).count()
    assert bad == 0


def test_repeat_pad_matches_oracle(img_df, img_pdf):
    out = windows.repeat_pad_windows(img_df, ["phash", "w"], window_size=16).toPandas()
    assert (out["features"].apply(len) == 16).all()
    for _, row in out.iterrows():
        grp = img_pdf[img_pdf.image_id == row.image_id].sort_values("ts")
        mat = grp[["phash", "w"]].to_numpy(dtype=np.float64)
        want = oracle.repeat_pad(mat, 16)
        got = np.array([list(r) for r in row.features])
        assert np.allclose(got, want), row.image_id


def test_sliding_feature_windows_geometry(img_df, img_pdf):
    out = windows.sliding_feature_windows(
        img_df, "phash", window_size=8, shift=3
    ).toPandas()
    for eid, grp in img_pdf.groupby("image_id"):
        n = len(grp)
        want_slices = oracle.sliding_slices(n, 8, 3)
        got = out[out.image_id == eid].sort_values("win_end_ts")
        assert len(got) == len(want_slices), eid
        grp = grp.sort_values("ts").reset_index(drop=True)
        for (s, e), (_, row) in zip(want_slices, got.iterrows()):
            assert row.n_points == 8
            want_feat = grp["phash"].iloc[s:e].to_numpy(dtype=np.float64)
            assert np.allclose(np.array(row.features, dtype=np.float64), want_feat)


def test_zero_temporal_leakage(spark, img_df, ann_df, img_pdf):
    """Every feature at ts must be identical when all rows with ts' > ts
    are dropped (SURVEY.md §5(d))."""
    cutoff = img_pdf["ts"].quantile(0.6)
    full = features.featurize(img_df, ann_df.groupBy("image_id", "start_ts").agg(
        F.max("value").alias("label")), window_size=4)
    trunc_img = img_df.filter(F.col("ts") <= F.lit(cutoff))
    trunc_ann = ann_df.filter(F.col("start_ts") <= F.lit(cutoff))
    trunc = features.featurize(trunc_img, trunc_ann.groupBy("image_id", "start_ts").agg(
        F.max("value").alias("label")), window_size=4)

    cols = ["image_id", "ts", "phash_hamming", "ham_w_avg", "session_id", "asof_label"]
    a = (
        full.filter(F.col("ts") <= F.lit(cutoff)).select(*cols)
        .toPandas().sort_values(["image_id", "ts"]).reset_index(drop=True)
    )
    b = trunc.select(*cols).toPandas().sort_values(["image_id", "ts"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def _aligned_vs_np(img_df, img_pdf, W, S, start, end, win_start):
    out = windows.aligned_windows(
        img_df,
        ["phash", "w"],
        window_size=W,
        shift=S,
        start_ts=start,
        end_ts=end,
        win_start=win_start,
    ).toPandas()
    for eid, grp in img_pdf.groupby("image_id"):
        grp = grp.sort_values("ts")
        want = oracle.aligned_windows_np(
            grp["ts"].to_numpy("datetime64[ns]").astype(np.int64),
            grp[["phash", "w"]].to_numpy(dtype=np.float64),
            W,
            S,
            start=start.value,  # epoch ns, matches the ts array
            end=end.value,
            win_start=win_start,
        )
        got = out[out.image_id == eid]
        n_wins = got["win_idx"].nunique()
        assert n_wins == len(want), (eid, n_wins, len(want))
        for k, w_mat in enumerate(want):
            g = got[got.win_idx == k].sort_values("pos")
            assert np.allclose(g[["phash", "w"]].to_numpy(), w_mat), (eid, k)


def test_aligned_windows_match_oracle(img_df, img_pdf):
    start = img_pdf["ts"].quantile(0.2)
    end = img_pdf["ts"].quantile(0.8)
    # pad-free mode (window=None in the reference caller)
    _aligned_vs_np(img_df, img_pdf, 6, 5, start, end, 0)
    # interior sub-window: pad_start=1, pad_end=2
    _aligned_vs_np(img_df, img_pdf, 6, 2, start, end, 1)


def test_aligned_windows_tail_pad(img_df, img_pdf):
    """Series ending before end_ts must tail-pad with features[-1]
    replicas (reference pad_end branch, feature_utilities.py:444-447)
    — the round-2 gap."""
    import pandas as pd

    start = img_pdf["ts"].quantile(0.2)
    end = img_pdf["ts"].max() + pd.Timedelta(days=30)  # everyone tail-pads
    _aligned_vs_np(img_df, img_pdf, 8, 3, start, end, 2)
    out = windows.aligned_windows(
        img_df,
        ["phash", "w"],
        window_size=8,
        shift=3,
        start_ts=start,
        end_ts=end,
        win_start=2,
    ).toPandas()
    assert (out["n_pad"] > 0).any()  # padding actually happened


def test_ffill_matches_oracle(spark, img_df, img_pdf):
    import pyspark.sql.functions as F

    # knock out some values deterministically, then forward-fill
    holey = img_df.withColumn(
        "v", F.when(F.col("w") % 3 == 0, F.lit(None).cast("double")).otherwise(F.col("w").cast("double"))
    )
    out = (
        windows.with_ffill(holey, ["v"])
        .select("image_id", "ts", "v", "v_ffill")
        .toPandas()
        .sort_values(["image_id", "ts"])
    )
    for eid, grp in out.groupby("image_id"):
        want = oracle.ffill(grp["v"].to_numpy(dtype=np.float64))
        got = grp["v_ffill"].to_numpy(dtype=np.float64)
        assert np.allclose(got, want, equal_nan=True), eid


def test_asof_broadcast_equals_union(img_df, ann_df):
    ann1 = ann_df.groupBy("image_id", "start_ts").agg(F.max("value").alias("value"))
    small = img_df.select("image_id", "ts", "phash")
    a = (
        asof.asof_join_union(small, ann1, value_cols=("value",))
        .toPandas().sort_values(["image_id", "ts"]).reset_index(drop=True)
    )
    b = (
        asof.asof_join_broadcast(small, ann1, value_col="value")
        .toPandas().sort_values(["image_id", "ts"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_chunked_time_range_agg_equals_window(spark, img_df):
    """Hot-entity chunked kernel == plain rangeBetween window (exact),
    while spreading each entity over multiple parallel chunks."""
    plain = (
        windows.with_time_range_agg(
            img_df.select("image_id", "ts", "phash"), "phash",
            duration_s=1800, prefix="p",
        )
        .toPandas().sort_values(["image_id", "ts"]).reset_index(drop=True)
    )
    chunked = (
        windows.chunked_time_range_agg(
            img_df.select("image_id", "ts", "phash"), "phash",
            duration_s=1800, chunk_s=3600, prefix="p",
        )
        .toPandas().sort_values(["image_id", "ts"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        plain[["image_id", "ts", "p_cnt", "p_min", "p_max"]],
        chunked[["image_id", "ts", "p_cnt", "p_min", "p_max"]],
        check_dtype=False,
    )
    # the hot entity really is split across chunks (parallel tasks)
    from gfwspark.util import epoch_us
    n_chunks = (
        img_df.filter(F.col("image_id") == "img_000000")
        .select(F.floor(epoch_us("ts") / (3600 * 1_000_000)).alias("c"))
        .distinct().count()
    )
    assert n_chunks > 1


def _png_16bit() -> bytes:
    ihdr = struct.pack(">IIBBBBB", 1, 1, 16, 2, 0, 0, 0)
    return multimodal._PNG_SIG + multimodal._chunk(b"IHDR", ihdr)


@pytest.mark.parametrize(
    "call",
    [
        pytest.param(
            lambda df: windows.chunked_time_range_agg(
                df, "phash", duration_s=7200, chunk_s=1800
            ),
            id="chunked_time_range_agg_chunk_shorter_than_duration",
        ),
        pytest.param(
            lambda df: multimodal.decode_png(b"nope"),
            id="decode_png_bad_signature",
        ),
        pytest.param(
            lambda df: multimodal.decode_png(_png_16bit()),
            id="decode_png_16bit",
        ),
        pytest.param(
            lambda df: multimodal.decode_qnt(b"nope"),
            id="decode_qnt_bad_magic",
        ),
    ],
)
def test_input_contracts_raise_value_error(img_df, call):
    """Input contracts are checked with ValueError, not `assert`: an
    assert vanishes under `python -O`, where a too-short chunk_s would
    silently return wrong counts and a decoder would parse garbage."""
    with pytest.raises(ValueError):
        call(img_df)


def test_chunked_time_range_agg_duplicate_ts(spark):
    """RANGE BETWEEN includes ALL equal-ts peers — even ones that sort
    after the current row.  The chunked kernel must agree on a fixture
    with duplicate timestamps (including a run straddling nothing but
    sharing one instant)."""
    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = []
    # entity A: three rows at the SAME instant with different values,
    # plus neighbors inside/outside the 1800 s lookback
    for off_s, val in [(0, 5.0), (1000, 1.0), (1000, 9.0), (1000, 4.0),
                       (2000, 2.0), (4000, 7.0), (4000, 3.0)]:
        rows.append(("A", base + pd.Timedelta(seconds=off_s), val))
    # entity B: duplicate instants right at a chunk boundary (3600 s)
    for off_s, val in [(3599, 1.0), (3600, 8.0), (3600, 2.0), (5000, 6.0)]:
        rows.append(("B", base + pd.Timedelta(seconds=off_s), val))
    pdf = pd.DataFrame(rows, columns=["image_id", "ts", "phash"])
    df = spark.createDataFrame(pdf)

    def norm(out):
        return (
            out.toPandas()
            .sort_values(["image_id", "ts", "phash"], kind="mergesort")
            .reset_index(drop=True)
        )

    plain = norm(windows.with_time_range_agg(df, "phash", duration_s=1800, prefix="p"))
    chunked = norm(
        windows.chunked_time_range_agg(df, "phash", duration_s=1800, chunk_s=3600, prefix="p")
    )
    cols = ["image_id", "ts", "phash", "p_cnt", "p_min", "p_max"]
    pd.testing.assert_frame_equal(plain[cols], chunked[cols], check_dtype=False)
    # equal-ts peers after the row ARE included: every row at +1000 s
    # sees all three peer values {1, 9, 4} plus the 0 s row
    at_1000 = plain[(plain.image_id == "A") & (plain.ts == base + pd.Timedelta(seconds=1000))]
    assert (at_1000.p_cnt == 4).all() and (at_1000.p_max == 9.0).all()


# ------------------------------------------------------------------
# W4 / W3-random: seeded training-window samplers vs the numpy oracle
# (reference extract_n_random_fixed_points / _times,
# feature_utilities.py:153-206, 246-294)
# ------------------------------------------------------------------

@pytest.fixture(scope="module")
def ev_small(spark):
    from gfwspark import tables
    return tables.load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "ts", "event_id", "value"
    )


def test_range_anchored_windows_matches_oracle(spark, ev_small):
    from gfwspark import oracle, sampling

    L, n, seed = 8, 3, 42
    bounds = [("2024-01-05 00:00:00", "2024-01-08 00:00:00"),
              ("2024-01-20 12:00:00", "2024-01-21 00:00:00")]
    ranges = spark.createDataFrame(
        bounds, "range_start string, range_end string"
    ).select(F.col("range_start").cast("timestamp"), F.col("range_end").cast("timestamp"))
    got = (
        sampling.range_anchored_windows(
            ev_small, ranges, n=n, output_length=L, seed=seed, order_tiebreak="event_id"
        )
        .toPandas()
        .set_index(["user_id", "sample_idx"])
        .sort_index()
    )
    pdf = ev_small.toPandas().sort_values(["user_id", "ts", "event_id"])
    range_us = [
        (pd.Timestamp(a).value // 1000, pd.Timestamp(b).value // 1000)
        for a, b in bounds
    ]
    n_checked = 0
    for eid, grp in pdf.groupby("user_id"):
        ts_us = grp["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        starts = oracle.range_anchored_starts(ts_us, range_us, n, L, eid, seed)
        if not starts:
            assert (eid not in got.index.get_level_values(0)), eid
            continue
        vals = grp["value"].to_numpy(dtype=np.float64)
        for i, s in enumerate(starts):
            row = got.loc[(eid, i)]
            assert row["start_idx"] == s, (eid, i)
            assert list(row["features"]) == list(vals[s : s + L]), (eid, i)
            want_ts = (ts_us[s : s + L] // 1_000_000).tolist()
            assert list(row["timestamps_s"]) == want_ts, (eid, i)
            assert row["win_start_s"] == want_ts[0] and row["win_end_s"] == want_ts[-1]
            n_checked += 1
    assert n_checked > 10  # non-vacuous


def test_range_anchored_windows_zero_case(spark, ev_small):
    """Ranges entirely outside the data span -> NO windows
    (fishing_feature_generation_test.py:58-82 out-of-range case)."""
    from gfwspark import sampling

    ranges = spark.createDataFrame(
        [("2034-01-01 00:00:00", "2034-12-31 00:00:00")],
        "range_start string, range_end string",
    ).select(F.col("range_start").cast("timestamp"), F.col("range_end").cast("timestamp"))
    out = sampling.range_anchored_windows(ev_small, ranges, n=3, output_length=8)
    assert out.count() == 0


def test_sampled_time_windows_matches_oracle(spark, ev_small):
    from gfwspark import oracle, sampling

    L, m, n, delta, seed = 60, 5, 4, 86400, 7
    got = (
        sampling.sampled_time_windows(
            ev_small, n=n, max_time_delta=delta, output_length=L,
            min_timeslice_size=m, seed=seed, order_tiebreak="event_id",
        )
        .toPandas()
        .set_index(["user_id", "sample_idx"])
        .sort_index()
    )
    pdf = ev_small.toPandas()
    pdf["_s"] = pdf["ts"].astype("datetime64[us]").astype("int64") // 1_000_000
    pdf = pdf.sort_values(["user_id", "_s", "event_id"])
    n_pad_checked = 0
    for eid, grp in pdf.groupby("user_id"):
        ts_s = grp["_s"].to_numpy()
        vals = grp["value"].to_numpy(dtype=np.float64)
        slices = oracle.sampled_time_slices(ts_s, n, delta, L, m, eid, seed)
        if not slices:
            assert eid not in got.index.get_level_values(0), eid
            continue
        for i, (start_time, start_idx, padded) in enumerate(slices):
            row = got.loc[(eid, i)]
            assert row["start_time_s"] == start_time, (eid, i)
            assert row["start_idx"] == start_idx, (eid, i)
            assert len(row["features"]) == L
            assert list(row["features"]) == list(vals[padded]), (eid, i)
            assert list(row["timestamps_s"]) == list(ts_s[padded]), (eid, i)
            real = ts_s[start_idx : start_idx + L]
            assert row["win_start_s"] == real[0] and row["win_end_s"] == real[-1]
            if len(real) < L:
                n_pad_checked += 1
    assert n_pad_checked > 0  # the repeat-pad path was exercised


def test_interval_label_join_covering_nested(spark):
    """Nested/overlapping intervals: the covering strategy matches the
    reference's sequential overwrite (enclosing interval's label
    survives past a nested interval's end); the as-of strategy
    documents its divergence there."""
    base = pd.Timestamp("2024-01-01")
    sec = lambda k: base + pd.Timedelta(seconds=k)  # noqa: E731
    facts = spark.createDataFrame(
        pd.DataFrame({"image_id": ["A"] * 6, "ts": [sec(k) for k in [0, 5, 15, 25, 40, 60]]})
    )
    iv = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": ["A", "A", "A"],
                "start_ts": [sec(0), sec(10), sec(50)],
                "end_ts": [sec(30), sec(20), sec(55)],
                "value": [1.0, 2.0, 3.0],
            }
        )
    )
    got = (
        asof.interval_label_join_covering(facts, iv)
        .toPandas().sort_values("ts").reset_index(drop=True)
    )
    ts_us = got["ts"].astype("datetime64[us]").astype("int64").to_numpy()
    ivp = iv.toPandas()
    want = oracle.sequential_overwrite_labels(
        ts_us,
        ivp["start_ts"].astype("datetime64[us]").astype("int64").to_numpy(),
        ivp["end_ts"].astype("datetime64[us]").astype("int64").to_numpy(),
        ivp["value"].to_numpy(dtype=np.float64),
    )
    assert got["label"].tolist() == want.tolist()
    # the divergence case itself: ts=25 is past the nested interval's
    # end (20) but inside the enclosing one -> covering keeps 1.0
    assert got.loc[got.ts == sec(25), "label"].iloc[0] == 1.0
    # ts=40 is in a gap between intervals -> default
    assert got.loc[got.ts == sec(40), "label"].iloc[0] == -1.0


def test_consolidate_runs_null_values(spark):
    """NULL values form their own runs (null-safe comparison) instead
    of merging into the preceding run."""
    base = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame(
        {
            "image_id": ["A"] * 6,
            "ts": [base + pd.Timedelta(seconds=k) for k in range(6)],
            "v": ["x", "x", None, None, "x", None],
        }
    )
    out = (
        sessionize.consolidate_runs(
            spark.createDataFrame(pdf), "v", split_days=False
        )
        .toPandas().sort_values("run_start").reset_index(drop=True)
    )
    assert out["value"].tolist() == ["x", None, "x", None]
    assert out["n_points"].tolist() == [2, 2, 1, 1]


def test_asof_broadcast_guard_and_dtypes(spark):
    """The broadcast strategy fails fast when the annotation side is too
    large, and preserves non-float value dtypes exactly."""
    base = pd.Timestamp("2024-01-01")
    facts = spark.createDataFrame(
        pd.DataFrame({"image_id": ["A", "A"], "ts": [base, base + pd.Timedelta(hours=2)]})
    )
    ann = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": ["A"],
                "start_ts": [base + pd.Timedelta(hours=1)],
                "label": np.array([(2**62) + 7], dtype=np.int64),
            }
        )
    )
    with pytest.raises(ValueError, match="max_broadcast_rows"):
        asof.asof_join_broadcast(facts, ann, value_col="label", max_broadcast_rows=0)
    out = (
        asof.asof_join_broadcast(facts, ann, value_col="label")
        .toPandas().sort_values("ts").reset_index(drop=True)
    )
    assert pd.isna(out["asof_label"].iloc[0])           # before first ann -> NULL
    assert out["asof_label"].iloc[1] == (2**62) + 7     # int64 exact, no float64 round-trip


def test_range_feature_windows_semantics(spark):
    """Inference slicer (np_array_extract_slices_for_time_ranges):
    end-EXCLUSIVE slicing, last-window cap for long slices (the
    reference's dead start_offset makes its actual behavior the
    deterministic last window), repeat-pad for short ones, min_points
    drop."""
    from gfwspark import sampling

    base = pd.Timestamp("2024-01-01")
    h = lambda k: (base + pd.Timedelta(hours=k)).to_pydatetime()  # noqa: E731
    rows = [("A", h(k), float(k)) for k in range(10)]
    # B: only 2 points in range -> dropped at min_points=3
    rows += [("B", h(k), 100.0 + k) for k in range(2)]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, value double")
    ranges = spark.createDataFrame(
        [(h(2), h(8))], "range_start timestamp, range_end timestamp"
    )
    out = (
        sampling.range_feature_windows(df, ranges, window_size=4, min_points=3)
        .toPandas().sort_values(["user_id", "pos"]).reset_index(drop=True)
    )
    assert set(out.user_id) == {"A"}          # B dropped (< min_points)
    # rows in [2h, 8h) = values 2..7 (end-exclusive); last 4 = 4,5,6,7
    assert out[out.user_id == "A"]["feature"].tolist() == [4.0, 5.0, 6.0, 7.0]
    assert (out["n_in_range"] == 6).all()

    # short slice repeat-pads: narrow the range to 3 points
    ranges2 = spark.createDataFrame(
        [(h(2), h(5))], "range_start timestamp, range_end timestamp"
    )
    out2 = (
        sampling.range_feature_windows(df, ranges2, window_size=4, min_points=3)
        .toPandas().sort_values(["user_id", "pos"]).reset_index(drop=True)
    )
    assert out2[out2.user_id == "A"]["feature"].tolist() == [2.0, 3.0, 4.0, 2.0]


def test_chunked_time_range_agg_all_null_window(spark):
    """A window whose values are all NULL must yield SQL NULL for
    min/max (not NaN) — exactly what the RANGE BETWEEN oracle does.
    The chunked kernel's pandas rolling path yields NaN there, so the
    kernel masks cnt == 0 positions to None (ADVICE r2)."""
    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = [
        ("A", (base + pd.Timedelta(seconds=s)).to_pydatetime(), v)
        for s, v in [(0, None), (100, None), (3000, 2.5), (5000, None), (9000, 1.0)]
    ]
    df = spark.createDataFrame(rows, "image_id string, ts timestamp, v double")
    plain = (
        windows.with_time_range_agg(df, "v", duration_s=1800, prefix="p")
        .toPandas().sort_values("ts").reset_index(drop=True)
    )
    chunked = (
        windows.chunked_time_range_agg(df, "v", duration_s=1800, chunk_s=3600, prefix="p")
        .toPandas().sort_values("ts").reset_index(drop=True)
    )
    # rows 0,1 (all-null window) and row 3 have cnt==0 -> NULL min/max
    assert plain["p_cnt"].tolist() == chunked["p_cnt"].tolist()
    assert plain["p_min"].isna().tolist() == chunked["p_min"].isna().tolist()
    assert chunked.loc[0, "p_cnt"] == 0 and pd.isna(chunked.loc[0, "p_min"])
    pd.testing.assert_frame_equal(
        plain[["image_id", "ts", "p_cnt", "p_min", "p_max"]],
        chunked[["image_id", "ts", "p_cnt", "p_min", "p_max"]],
        check_dtype=False,
    )


def test_sliding_agg_large_equals_naive_frame(spark, img_df):
    """The O(n) running-sum-difference form must equal the naive
    bounded-frame aggregates (which are O(W) per row and unusable at
    the reference's production W=12800)."""
    naive = (
        windows.with_sliding_agg(
            img_df.select("image_id", "ts", "phash"), "phash",
            window_size=5, aggs=("avg", "count"), prefix="p",
        )
        .toPandas().sort_values(["image_id", "ts"]).reset_index(drop=True)
    )
    fast = (
        windows.with_sliding_agg_large(
            img_df.select("image_id", "ts", "phash"), "phash",
            window_size=5, prefix="p",
        )
        .toPandas().sort_values(["image_id", "ts"]).reset_index(drop=True)
    )
    assert np.allclose(naive["p_avg"], fast["p_avg"])
    assert naive["p_count"].tolist() == fast["p_cnt"].tolist()


def test_sliding_feature_windows_multicol(img_df, img_pdf):
    """Multi-column form returns the full [window, n_features] matrix
    per anchor (np_array_extract_all_fixed_slices returns matrices,
    not single series)."""
    out = windows.sliding_feature_windows(
        img_df, ["phash", "w"], window_size=8, shift=3
    ).toPandas()
    single = windows.sliding_feature_windows(
        img_df, "phash", window_size=8, shift=3
    ).toPandas()
    assert len(out) == len(single)
    for (_, m), (_, s) in zip(
        out.sort_values(["image_id", "win_end_ts"]).iterrows(),
        single.sort_values(["image_id", "win_end_ts"]).iterrows(),
    ):
        mat = np.array([list(r) for r in m.features])
        assert mat.shape == (8, 2)
        assert np.allclose(mat[:, 0], np.array(s.features, dtype=np.float64))
        grp = img_pdf[img_pdf.image_id == m.image_id].sort_values("ts")
        # second column is the matching w values at the same positions
        idx = grp["phash"].astype(np.float64).tolist()
        # verify column pairing: (phash, w) rows co-occur in the source
        pair_set = set(zip(grp["phash"].astype(float), grp["w"].astype(float)))
        assert all((a, b) in pair_set for a, b in mat)


def test_asof_chunked_equals_union(img_df, ann_df):
    """The time-salted + re-merged strategy is observationally identical
    to the union form, including the hostile edges: an annotation
    landing exactly on a chunk boundary, a fact chunk with no
    annotation rows (carry must ffill across empty chunks), a fact ts
    equal to an annotation ts (start-inclusive), and entities with no
    annotations at all."""
    ann1 = ann_df.groupBy("image_id", "start_ts").agg(F.max("value").alias("value"))
    small = img_df.select("image_id", "ts", "phash")
    a = (
        asof.asof_join_union(small, ann1, value_cols=("value",))
        .toPandas().sort_values(["image_id", "ts"]).reset_index(drop=True)
    )
    # tiny chunks (60 s) maximize boundary crossings and empty chunks;
    # a chunk width of one day exercises the coarse path
    for chunk_s in (60, 86400):
        b = (
            asof.asof_join_chunked(small, ann1, chunk_s=chunk_s, value_cols=("value",))
            .toPandas().sort_values(["image_id", "ts"]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_asof_chunked_boundary_annotation(spark):
    """An annotation exactly at a chunk boundary ts belongs to the NEXT
    chunk's local merge but must still be carried to facts later in
    that same chunk AND to facts in subsequent chunks; a fact at the
    exact boundary ts sees it (start-inclusive)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    chunk_s = 3600
    facts = spark.createDataFrame(
        [("e", base + dt.timedelta(seconds=s)) for s in (0, 3599, 3600, 3601, 7300)],
        "image_id string, ts timestamp",
    )
    ann = spark.createDataFrame(
        [("e", base, "a0"), ("e", base + dt.timedelta(seconds=3600), "a1")],
        "image_id string, start_ts timestamp, label string",
    )
    out = (
        asof.asof_join_chunked(facts, ann, chunk_s=chunk_s, value_cols=("label",))
        .toPandas().sort_values("ts")["asof_label"].tolist()
    )
    assert out == ["a0", "a0", "a1", "a1", "a1"]


def test_asof_auto_dispatch_equivalence(img_df, ann_df):
    """asof_join(strategy='auto') equals the union form regardless of
    which route the skew probe picks: all-cold (threshold above every
    entity), all-hot, and MIXED (some entities chunked, some union —
    the production shape the dispatcher exists for)."""
    ann1 = ann_df.groupBy("image_id", "start_ts").agg(F.max("value").alias("value"))
    small = img_df.select("image_id", "ts", "phash")
    expected = (
        asof.asof_join_union(small, ann1, value_cols=("value",))
        .toPandas().sort_values(["image_id", "ts"]).reset_index(drop=True)
    )
    counts = sorted(
        r["n"] for r in small.groupBy("image_id").agg(F.count("*").alias("n")).collect()
    )
    # thresholds: above max (pure union), below min (every entity hot),
    # median (mixed routing)
    for thr in (counts[-1] + 1, counts[0] - 1, counts[len(counts) // 2]):
        got = (
            asof.asof_join(
                small, ann1, value_cols=("value",), strategy="auto",
                hot_threshold_rows=thr,
            )
            .toPandas().sort_values(["image_id", "ts"]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(expected, got, check_dtype=False)


def test_asof_auto_explicit_strategies(img_df, ann_df):
    """Explicit strategy names dispatch to the matching kernels and
    agree; unknown and removed names raise."""
    ann1 = ann_df.groupBy("image_id", "start_ts").agg(F.max("value").alias("value"))
    small = img_df.select("image_id", "ts", "phash")
    a = (
        asof.asof_join(small, ann1, value_cols=("value",), strategy="union")
        .toPandas().sort_values(["image_id", "ts"]).reset_index(drop=True)
    )
    b = (
        asof.asof_join(small, ann1, value_cols=("value",), strategy="broadcast")
        .toPandas().sort_values(["image_id", "ts"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    with pytest.raises(ValueError, match="one"):
        asof.asof_join(
            small, ann1, value_cols=("value", "value"), strategy="broadcast"
        )
    for removed in ("nope", "cogroup", "chunked"):
        with pytest.raises(ValueError, match="unknown as-of strategy"):
            asof.asof_join(small, ann1, strategy=removed, chunk_s=86400)


@pytest.mark.parametrize(
    "entry, chunk_s",
    [("chunked", None), ("chunked", 0), ("chunked", -43200), ("chunked", 0.5),
     ("auto", 0), ("auto", -43200)],
)
def test_asof_chunk_s_must_be_positive(spark, entry, chunk_s):
    """A chunk size below one second (or none at all for the chunked
    kernel) raises ValueError when the join is built: a zero chunk
    would divide by zero at action time, and a negative one reverses
    the chunk order so facts before the first annotation take LATER
    labels (leakage).  One second is accepted."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    facts = spark.createDataFrame(
        [("e", base + dt.timedelta(hours=h)) for h in range(0, 48, 2)],
        "image_id string, ts timestamp",
    )
    ann = spark.createDataFrame(
        [("e", base + dt.timedelta(hours=20), "early"),
         ("e", base + dt.timedelta(hours=40), "late")],
        "image_id string, start_ts timestamp, label string",
    )
    with pytest.raises(ValueError, match="chunk_s"):
        if entry == "chunked":
            asof.asof_join_chunked(facts, ann, chunk_s)
        else:
            asof.asof_join(facts, ann, strategy="auto", hot_threshold_rows=1,
                           chunk_s=chunk_s)
    asof.asof_join_chunked(facts, ann, 1)


def test_asof_auto_null_hot_entity(spark):
    """A NULL entity group above the hot threshold (the classic
    dirty-data hot key) is salted like any other hot key — isin()
    alone would never match NULL and the group would serialize into
    the chunk-0 window — and results still equal the union form."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [(None, base + dt.timedelta(seconds=s)) for s in range(0, 2000)]
    rows += [("cold", base + dt.timedelta(seconds=s)) for s in range(0, 50)]
    facts = spark.createDataFrame(rows, "image_id string, ts timestamp")
    ann = spark.createDataFrame(
        [(None, base + dt.timedelta(seconds=500), "n1"),
         ("cold", base + dt.timedelta(seconds=10), "c1")],
        "image_id string, start_ts timestamp, label string",
    )
    want = (
        asof.asof_join_union(facts, ann)
        .toPandas().sort_values(["image_id", "ts"], na_position="first")
        .reset_index(drop=True)
    )
    got = (
        asof.asof_join(facts, ann, strategy="auto", hot_threshold_rows=1000)
        .toPandas().sort_values(["image_id", "ts"], na_position="first")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(want, got, check_dtype=False)


def test_asof_auto_entity_stats_precomputed(img_df, ann_df):
    """Passing precomputed entity_stats (layout.detect_skew shape) skips
    the auto pre-scan but routes identically: equivalence holds with
    full (n_rows, lo_us, hi_us) stats, with count-only stats (span
    probed lazily only when chunk_s is unset), and with an explicit
    chunk_s (no span needed at all)."""
    from gfwspark.util import epoch_us

    ann1 = ann_df.groupBy("image_id", "start_ts").agg(F.max("value").alias("value"))
    small = img_df.select("image_id", "ts", "phash")
    expected = (
        asof.asof_join_union(small, ann1, value_cols=("value",))
        .toPandas().sort_values(["image_id", "ts"]).reset_index(drop=True)
    )
    full_stats = small.groupBy("image_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(epoch_us("ts")).alias("lo_us"),
        F.max(epoch_us("ts")).alias("hi_us"),
    )
    count_only = full_stats.select("image_id", "n_rows")
    for stats, kw in (
        (full_stats, {}),
        (count_only, {}),
        (count_only, {"chunk_s": 86400}),
    ):
        got = (
            asof.asof_join(
                small, ann1, value_cols=("value",), strategy="auto",
                hot_threshold_rows=5, entity_stats=stats, **kw,
            )
            .toPandas().sort_values(["image_id", "ts"]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(expected, got, check_dtype=False)


def test_asof_auto_max_hot_ids_overflow(img_df, ann_df):
    """When the hot set exceeds max_hot_ids the dispatcher must NOT
    embed an unbounded isin()/CASE literal: it falls back to chunking
    every entity (hot_ids=None) and results still equal the union
    form."""
    ann1 = ann_df.groupBy("image_id", "start_ts").agg(F.max("value").alias("value"))
    small = img_df.select("image_id", "ts", "phash")
    expected = (
        asof.asof_join_union(small, ann1, value_cols=("value",))
        .toPandas().sort_values(["image_id", "ts"]).reset_index(drop=True)
    )
    got = (
        asof.asof_join(
            small, ann1, value_cols=("value",), strategy="auto",
            hot_threshold_rows=2, max_hot_ids=3,
        )
        .toPandas().sort_values(["image_id", "ts"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(expected, got, check_dtype=False)


def test_featurize_full_with_annotations(img_df, ann_df):
    """featurize_full(annotations=...) dispatches the as-of strategy
    through its own signature (regression: asof_strategy was unbound)
    and its asof_label column equals asof_join_union's on the same
    inputs — for both the default and an explicit strategy."""
    ann1 = ann_df.groupBy("image_id", "start_ts").agg(F.max("value").alias("label"))
    want = (
        asof.asof_join_union(
            img_df.select("image_id", "ts"), ann1, value_cols=("label",)
        )
        .toPandas().sort_values(["image_id", "ts"]).reset_index(drop=True)
    )
    for strat in ("union", "auto"):
        out = features.featurize_full(
            img_df, annotations=ann1, window_sizes=(4,), asof_strategy=strat
        )
        got = (
            out.select("image_id", "ts", "asof_label")
            .toPandas().sort_values(["image_id", "ts"]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(want, got, check_dtype=False)


_ASOF_JOINS = pytest.mark.parametrize(
    "join",
    [
        lambda f, a: asof.asof_join_union(f, a, value_cols=("value",)),
        lambda f, a: asof.asof_join_chunked(
            f, a, 86400, value_cols=("value",), hot_ids=[None]
        ),
        lambda f, a: asof.asof_join_broadcast(f, a, value_col="value"),
    ],
    ids=["union", "chunked", "broadcast"],
)


@_ASOF_JOINS
def test_asof_null_entity_matches_null_annotation(spark, img_df, ann_df, join):
    """NULL entities group like any value (SQL grouping semantics): a
    NULL-entity fact takes the latest NULL-entity annotation, or NULL
    before the first one, in every strategy; every other entity still
    matches the numpy oracle."""
    import datetime as dt

    ann1 = ann_df.groupBy("image_id", "start_ts").agg(F.max("value").alias("value"))
    facts = img_df.select("image_id", "ts", "phash").unionByName(
        spark.createDataFrame(
            [(None, dt.datetime(2024, 1, 1, 0, 0, 0), 0),
             (None, dt.datetime(2024, 1, 1, 0, 0, 5), 1)],
            "image_id string, ts timestamp, phash long",
        )
    )
    ann2 = ann1.unionByName(
        spark.createDataFrame(
            [(None, dt.datetime(2024, 1, 1, 0, 0, 1), 7.0)],
            "image_id string, start_ts timestamp, value double",
        )
    )
    out = join(facts, ann2).toPandas()
    got_null = out[out.image_id.isna()].sort_values("ts")["asof_value"].tolist()
    assert len(got_null) == 2 and pd.isna(got_null[0]) and got_null[1] == 7.0, got_null

    ann_pdf = ann2.toPandas()
    for eid, grp in out[out.image_id.notna()].groupby("image_id"):
        grp = grp.sort_values("ts")
        a = ann_pdf[ann_pdf.image_id == eid].sort_values("start_ts")
        want = oracle.asof_backward(
            grp["ts"].astype("int64").to_numpy(),
            a["start_ts"].astype("int64").to_numpy(),
            a["value"].to_numpy(dtype=np.float64),
        )
        got = grp["asof_value"].to_numpy(dtype=np.float64)
        assert np.allclose(got, want, equal_nan=True), eid


@_ASOF_JOINS
def test_asof_null_value_keeps_latest_value(spark, join):
    """A NULL-valued annotation does not end the one before it: every
    strategy carries the latest non-NULL value (the union form's
    last(ignorenulls)), and an entity whose annotations are all NULL
    gets NULL.  A NULL timestamp sorts before every instant on both
    sides, as in the union form's window."""
    import datetime as dt

    h = lambda k: dt.datetime(2024, 1, 1, k)  # noqa: E731
    facts = spark.createDataFrame(
        [("A", h(0), 0), ("A", h(1), 1), ("A", h(3), 2), ("B", h(3), 3),
         ("C", None, 4), ("C", h(3), 5)],
        "image_id string, ts timestamp, phash long",
    )
    ann = spark.createDataFrame(
        [("A", h(1), 1.0), ("A", h(2), None), ("B", h(1), None), ("C", None, 5.0)],
        "image_id string, start_ts timestamp, value double",
    )
    got = join(facts, ann).toPandas().sort_values("phash")["asof_value"].tolist()
    assert pd.isna(got[0]) and pd.isna(got[3]), got
    assert got[1:3] == [1.0, 1.0] and got[4:] == [5.0, 5.0], got


def test_asof_broadcast_dense_entity_matches_union(spark):
    """One entity with ~5k annotations: facts before its first start, at
    and around every start, on both sides of every bucket edge of the
    broadcast index (bucket width span // count + 1 us, counted back
    from the last start) and at or after its last start get exactly
    what asof_join_union gives them, row for row."""
    rng = np.random.default_rng(5)
    starts = np.unique(1_700_000_000_000_000 + rng.integers(0, 30 * 86_400_000_000, 5000))
    n, last = len(starts), starts[-1]
    edges = last - np.arange(n + 1) * ((last - starts[0]) // n + 1)
    fact_us = np.unique(np.concatenate([
        starts - 1, starts, starts + 1, edges - 1, edges,
        [starts[0] - 86_400_000_000, last + 86_400_000_000],
    ]))
    us = lambda a: pd.to_datetime(a, unit="us")  # noqa: E731
    facts = spark.createDataFrame(pd.DataFrame({"image_id": "A", "ts": us(fact_us)}))
    ann = spark.createDataFrame(pd.DataFrame({
        "image_id": "A", "start_ts": us(starts), "label": np.arange(n, dtype=np.int64),
    }))
    want = asof.asof_join_union(facts, ann).toPandas().sort_values("ts").reset_index(drop=True)
    got = asof.asof_join_broadcast(facts, ann).toPandas().sort_values("ts").reset_index(drop=True)
    assert want["asof_label"].isna().sum() == (fact_us < starts[0]).sum() > 0
    pd.testing.assert_frame_equal(want, got)


def test_sliding_window_refs_reconstruct(img_df, img_pdf):
    """The zero-copy refs form must carry the SAME window index set /
    ts endpoints as the materialized form, and refs ⋈ stride_blocks
    must reconstruct every materialized window bit-identically (the
    claim that lets a 100 TB consumer skip the W/shift byte
    amplification)."""
    import pandas as pd

    W_, S_ = 8, 3
    mat = windows.sliding_feature_windows(
        img_df, "phash", window_size=W_, shift=S_
    ).toPandas()
    refs = windows.sliding_feature_window_refs(
        img_df, window_size=W_, shift=S_
    ).toPandas()
    blocks = windows.stride_blocks(img_df, "phash", shift=S_).toPandas()

    key = ["image_id", "win_end_ts", "win_start_ts", "n_points"]
    pd.testing.assert_frame_equal(
        mat[key].sort_values(key).reset_index(drop=True),
        refs[key].sort_values(key).reset_index(drop=True),
        check_dtype=False,
    )

    mat_ix = mat.set_index(["image_id", "win_end_ts"])
    for _, r in refs.iterrows():
        bl = blocks[
            (blocks.image_id == r.image_id)
            & (blocks.block_id >= r.blk_lo)
            & (blocks.block_id <= r.blk_hi)
        ].sort_values("block_id")
        flat = [v for arr in bl["values"] for v in arr]
        base = int(bl["block_id"].iloc[0]) * S_  # flat[i] has rn base+i+1
        got = flat[int(r.win_start_rn) - base - 1 : int(r.win_end_rn) - base]
        want = list(mat_ix.loc[(r.image_id, r.win_end_ts)].features)
        assert got == want, (r.image_id, r.win_end_rn)


def test_append_stride_blocks_equals_rebuild(img_df, img_pdf):
    """Incremental block maintenance == full rebuild: split each
    entity's series at its midpoint (appends strictly later in ts),
    build blocks from the early half, append the late half, and the
    result must equal stride_blocks over the full input — and
    changed_only must cover exactly the tail + new block ids."""
    import pandas as pd
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W_

    S_ = 3
    w = W_.partitionBy("image_id").orderBy("ts")
    tagged = img_df.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(W_.partitionBy("image_id"))
    )
    early = tagged.filter(F.col("_rn") <= F.col("_n") / 2).drop("_rn", "_n")
    late = tagged.filter(F.col("_rn") > F.col("_n") / 2).drop("_rn", "_n")

    base = windows.stride_blocks(early, "phash", shift=S_)
    full = windows.stride_blocks(img_df, "phash", shift=S_)
    inc = windows.append_stride_blocks(base, late, "phash", shift=S_)

    key = ["image_id", "block_id"]
    a = full.toPandas().sort_values(key).reset_index(drop=True)
    b = inc.toPandas().sort_values(key).reset_index(drop=True)
    assert a[key].equals(b[key])
    for (_, ra), (_, rb) in zip(a.iterrows(), b.iterrows()):
        assert list(ra["values"]) == list(rb["values"]), (ra.image_id, ra.block_id)
        assert list(ra.ts_arr) == list(rb.ts_arr)

    # changed_only: every returned id is >= the entity's old tail block
    ch = windows.append_stride_blocks(
        base, late, "phash", shift=S_, changed_only=True
    ).toPandas()
    tails = base.groupBy("image_id").agg(
        F.max("block_id").alias("tail")
    ).toPandas().set_index("image_id")["tail"]
    assert (ch.block_id >= ch.image_id.map(tails).fillna(-1)).all()
    # and merging changed rows over the base reproduces the full table
    merged = pd.concat(
        [base.toPandas().merge(ch[key], on=key, how="left", indicator=True)
             .query("_merge == 'left_only'").drop(columns="_merge"), ch]
    ).sort_values(key).reset_index(drop=True)
    assert a[key].equals(merged[key])

    # out-of-order append raises
    import pytest

    with pytest.raises(ValueError, match="strictly after"):
        windows.append_stride_blocks(full, early, "phash", shift=S_)
