"""Binary payload round-trip: PNG lossless, QNT lossy PSNR ≥ 40 dB,
caption byte-equality through the engine (BASELINE.json input_hint)."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from gfwspark import multimodal, tables


def test_png_roundtrip_lossless():
    px = multimodal.make_pixels("img_000007", 3, w=64, h=48)
    back = multimodal.decode_png(multimodal.encode_png(px))
    assert np.array_equal(px, back)
    assert multimodal.psnr(px, back) == float("inf")


def test_qnt_roundtrip_psnr():
    px = multimodal.make_pixels("img_000001", 0, w=96, h=64)
    back = multimodal.decode_qnt(multimodal.encode_qnt(px))
    p = multimodal.psnr(px, back)
    assert 40.0 <= p < 60.0  # real lossy codec, not a fake pass


def test_unknown_codec_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.encode_image(np.zeros((2, 2, 3), dtype=np.uint8), "jpeg")


def test_spark_decode_stats_and_caption_equality(spark):
    df = tables.synthesize_image_caption(
        spark, n_entities=6, rows_per_entity=4, seed=42, with_bytes=True
    )
    out = multimodal.with_decoded_stats(df).toPandas()
    assert len(out) > 0
    assert out["mean_lum"].notna().all()
    assert (out["psnr_db"] >= 40.0).all()

    # per-row pixel + caption invariant vs the deterministic generator
    for _, row in out.head(20).iterrows():
        version = sorted(
            out[out.image_id == row.image_id]["ts"].tolist()
        ).index(row.ts)
        want = multimodal.make_pixels(
            row.image_id, version, w=int(row.w), h=int(row.h), seed=42
        )
        got = multimodal.decode_image(bytes(row["bytes"]), row.fmt)
        if row.fmt == "png":
            assert np.array_equal(got, want)  # lossless: exact
        else:
            assert multimodal.psnr(want, got) >= 40.0  # lossy: PSNR gate
        assert isinstance(row.caption, str)

    # caption equality: decode path must not touch captions
    orig = df.select("image_id", "ts", "caption").toPandas()
    joined = orig.merge(
        out[["image_id", "ts", "caption"]], on=["image_id", "ts"], suffixes=("_a", "_b")
    )
    assert (joined["caption_a"] == joined["caption_b"]).all()


def test_bytes_dropped_before_hot_path(spark):
    """featurize() never references the binary column — the plan should
    prune it from the scan (100 TB: don't shuffle image bytes)."""
    from gfwspark import features

    df = tables.synthesize_image_caption(
        spark, n_entities=4, rows_per_entity=4, with_bytes=True
    )
    out = features.featurize(df.drop("bytes"))
    assert "bytes" not in out.columns


def test_resize_images_roundtrip(spark):
    df = tables.synthesize_image_caption(
        spark, n_entities=4, rows_per_entity=3, with_bytes=True
    )
    small = multimodal.resize_images(df, 16, 16).toPandas()
    assert (small["w"] == 16).all() and (small["h"] == 16).all()
    row = small.iloc[0]
    px = multimodal.decode_image(bytes(row["bytes"]), row["fmt"])
    assert px.shape == (16, 16, 3)


def _ham64(a: int, b: int) -> int:
    return bin((a ^ b) & (2**64 - 1)).count("1")


def test_phash64_golden_and_robustness():
    """Real DCT pHash from pixels: pinned value, small Hamming drift
    under the lossy qnt round trip (the property dedup relies on),
    large distance for an unrelated image."""
    px = multimodal.make_pixels("img_000007", 3, w=64, h=48)
    h = multimodal.phash64(px)
    assert h == -9205784130249722756  # pinned golden
    lossy = multimodal.decode_qnt(multimodal.encode_qnt(px))
    assert _ham64(h, multimodal.phash64(lossy)) <= 6
    other = multimodal.make_pixels("img_000011", 0, w=64, h=48)
    assert _ham64(h, multimodal.phash64(other)) >= 16


def test_with_phash_spark_plumbing(spark):
    """phash_px rides through mapInPandas (Arrow batches); null bytes
    stay null; values equal the local numpy hash of the same pixels."""
    df = tables.synthesize_image_caption(
        spark, n_entities=4, rows_per_entity=3, seed=42, with_bytes=True
    )
    out = multimodal.with_phash(df).select(
        "image_id", "ts", "fmt", "bytes", "phash_px"
    ).toPandas()
    assert out["phash_px"].notna().all()
    for _, r in out.head(5).iterrows():
        px = multimodal.decode_image(bytes(r["bytes"]), r["fmt"])
        assert int(r["phash_px"]) == multimodal.phash64(px)
    plan = multimodal.with_phash(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan  # Arrow path, not row-at-a-time


def test_phash64_small_images():
    """Images below the 32-px DCT grid are integer-repeat upsampled
    before hashing: finite hashes, no zero-width reduceat buckets, and
    a 16x16 image hashes identically to its exact 2x nearest-neighbor
    upsample (the area means coincide by construction)."""
    import warnings

    rng = np.random.default_rng(7)
    small = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # NaN paths emit RuntimeWarnings
        h_small = multimodal.phash64(small)
        for shape in ((5, 40, 3), (40, 5, 3), (3, 3, 3), (1, 1, 3)):
            hv = multimodal.phash64(
                rng.integers(0, 256, size=shape, dtype=np.uint8)
            )
            assert -(2**63) <= hv < 2**63
    up = np.repeat(np.repeat(small, 2, axis=0), 2, axis=1)
    assert multimodal.phash64(up) == h_small
