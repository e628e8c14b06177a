"""Table loading + deterministic synthesis of the graft fact tables.

The engine's primary fact table (BASELINE.json input_hint) is an
Iceberg-style table of image+caption pairs:

    (image_id string, bytes binary, w int, h int, fmt string,
     caption string, phash long, ts timestamp)

It is the analog of the reference's per-vessel time-sorted feature
series (one TFRecord per vessel,
classification/feature_generation/feature_generation.py:26-37).

Two sources:

1. ``image_caption_from_events`` — derives the table *deterministically*
   from the driver's ``events`` parquet so the DuckDB oracle can build
   the exact same table from the exact same rows.  The derivation is a
   single SQL template rendered for both dialects (`sql_image_caption`).
   No binary payload here (pure relational form, used by the
   correctness gate).

2. ``synthesize_image_caption`` — fully synthetic table *with* binary
   payloads (real PNG bytes encoded in-engine, plus a deterministic
   lossy codec), skewed entity sizes for salting tests, seeded gaps for
   sessionization.  Used by pytest golden-vector and PSNR tests.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# 1. Relational image table derived from `events` (oracle-checkable).
#
# Every expression is ANSI arithmetic valid in both Spark SQL and DuckDB.
# phash: multiplicative hash kept within 2^52 so ANSI-mode Spark (4.x
# default) and DuckDB both evaluate without overflow; 48-bit range keeps
# XOR/bit_count cheap and deterministic.
# --------------------------------------------------------------------------

_IMAGE_SQL_TEMPLATE = """
SELECT
  concat('img_', lpad(cast(user_id AS {STR}), 6, '0')) AS image_id,
  ts,
  event_id,
  ((event_id % 1048576) * 2654435761) % 281474976710656 AS phash,
  cast(32 + (event_id % 4) * 32 AS int) AS w,
  cast(32 + (event_id % 3) * 32 AS int) AS h,
  CASE WHEN event_id % 5 = 0 THEN 'qnt' ELSE 'png' END AS fmt,
  concat(event_type, ' ', coalesce(props, '')) AS caption,
  value
FROM events
"""

# Sparse annotation-interval table (analog of fishing ranges,
# classification/metadata.py:418-433): every 17th event opens an
# interval labelled by its value.
_ANNOT_SQL_TEMPLATE = """
SELECT
  concat('img_', lpad(cast(user_id AS {STR}), 6, '0')) AS image_id,
  ts AS start_ts,
  value AS label
FROM events
WHERE event_id % 17 = 0
"""


def sql_image_caption(dialect: str) -> str:
    """The image_caption derivation for 'spark' or 'duckdb'."""
    return _IMAGE_SQL_TEMPLATE.format(STR="string" if dialect == "spark" else "varchar")


def sql_annotations(dialect: str) -> str:
    return _ANNOT_SQL_TEMPLATE.format(STR="string" if dialect == "spark" else "varchar")


def image_caption_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(sql_image_caption("spark"))


def annotations_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(sql_annotations("spark"))


# --------------------------------------------------------------------------
# 2. Fully synthetic table with binary payloads (FIXTURES.md §1/§2/§3).
#
# Generation is a pure function of (entity index, row index, seed): the
# same table materializes identically at any partition count, which is
# what makes the golden-vector and resume tests bit-stable
# (SURVEY.md §7 "Determinism under parallelism").
# Generated distributed via spark.range + mapInPandas — no driver loop.
# --------------------------------------------------------------------------


def _stable_seed(*parts: object) -> int:
    h = hashlib.blake2b(":".join(str(p) for p in parts).encode(), digest_size=4)
    return int.from_bytes(h.digest(), "big")


def _entity_row_counts(n_entities: int, rows_per_entity: int, seed: int) -> np.ndarray:
    """Zipf-ish skewed row counts per entity; entity 0 is the hot key."""
    rng = np.random.RandomState(_stable_seed("counts", seed))
    base = rng.zipf(1.7, size=n_entities).astype(np.int64)
    counts = np.clip(base * max(1, rows_per_entity // 4), 2, rows_per_entity * 8)
    counts[0] = rows_per_entity * 8          # hot entity → salting exercised
    counts[1] = 3                            # < window_size → repeat-pad path
    return counts


def _make_entity_rows(eidx: int, n_rows: int, seed: int, with_bytes: bool) -> pd.DataFrame:
    from gfwspark import multimodal

    image_id = f"img_{eidx:06d}"
    rng = np.random.RandomState(_stable_seed("rows", eidx, seed))
    # strictly-increasing ts with irregular gaps; some gaps > 1h session threshold
    gaps = rng.randint(30, 900, size=n_rows).astype("int64")
    big = rng.rand(n_rows) < 0.05
    gaps[big] += 7200
    ts = np.int64(1_700_000_000) + np.int64(eidx) * 1_000_000 + np.cumsum(gaps)

    phash = np.zeros(n_rows, dtype=np.int64)
    # python-int arithmetic: no silent int64 wraparound semantics
    ph = (_stable_seed("phash", eidx, seed) * 2654435761) % (2**62)
    flips_per = rng.randint(0, 6, size=n_rows)
    for i in range(n_rows):
        for _ in range(int(flips_per[i])):
            ph ^= 1 << int(rng.randint(0, 62))
        phash[i] = ph

    w = rng.choice([32, 48, 64, 96, 128], size=n_rows).astype(np.int32)
    h = rng.choice([32, 48, 64, 96, 128], size=n_rows).astype(np.int32)
    fmt = np.where(rng.rand(n_rows) < 0.3, "qnt", "png")

    vocab = ["sea", "boat", "fish", "net", "dawn", "harbor", "wave", "gull", "storm", "calm"]
    captions = []
    for i in range(n_rows):
        k = int(rng.randint(0, 25))
        captions.append(" ".join(rng.choice(vocab, size=k)) if k else "")

    if with_bytes:
        payload = [
            multimodal.encode_image(
                multimodal.make_pixels(image_id, i, w=int(w[i]), h=int(h[i]), seed=seed),
                str(fmt[i]),
            )
            for i in range(n_rows)
        ]
    else:
        payload = [b""] * n_rows

    return pd.DataFrame(
        {
            "image_id": image_id,
            "ts": pd.to_datetime(ts, unit="s"),
            "bytes": payload,
            "w": w,
            "h": h,
            "fmt": fmt,
            "caption": captions,
            "phash": phash,
        }
    )


def synthesize_image_caption(
    spark: SparkSession,
    n_entities: int = 50,
    rows_per_entity: int = 40,
    seed: int = 42,
    with_bytes: bool = False,
    n_partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic synthesis of the image_caption table."""
    counts = _entity_row_counts(n_entities, rows_per_entity, seed)
    counts_b = [(int(i), int(c)) for i, c in enumerate(counts)]

    schema = (
        "image_id string, ts timestamp, bytes binary, w int, h int, "
        "fmt string, caption string, phash long"
    )

    def gen(batches):
        for pdf in batches:
            for eidx in pdf["id"]:
                yield _make_entity_rows(int(eidx), counts_b[int(eidx)][1], seed, with_bytes)

    n_part = n_partitions or min(n_entities, 32)
    return (
        spark.range(n_entities)
        .repartition(n_part, "id")
        .mapInPandas(gen, schema=schema)
    )


def synthesize_annotations(
    spark: SparkSession, n_entities: int = 50, seed: int = 42
) -> DataFrame:
    """Sparse interval labels per entity (FIXTURES.md §2); entities with
    eidx % 7 == 3 get none (anti-join / zero-window case,
    fishing_feature_generation_test.py:58-82)."""

    schema = "image_id string, start_ts timestamp, end_ts timestamp, value double"

    def gen(batches):
        for pdf in batches:
            frames = []
            for eidx in pdf["id"]:
                eidx = int(eidx)
                if eidx % 7 == 3:
                    continue
                rng = np.random.RandomState(_stable_seed("annot", eidx, seed))
                n = int(rng.randint(1, 6))
                base = np.int64(1_700_000_000) + np.int64(eidx) * 1_000_000
                starts = np.sort(rng.randint(0, 40_000, size=n)).astype("int64") + base
                durs = rng.randint(60, 20_000, size=n).astype("int64")
                frames.append(
                    pd.DataFrame(
                        {
                            "image_id": f"img_{eidx:06d}",
                            "start_ts": pd.to_datetime(starts, unit="s"),
                            "end_ts": pd.to_datetime(starts + durs, unit="s"),
                            "value": rng.choice([0.0, 1.0, 0.5], size=n),
                        }
                    )
                )
            yield pd.concat(frames) if frames else pd.DataFrame(
                {"image_id": pd.Series([], dtype="str"),
                 "start_ts": pd.Series([], dtype="datetime64[ns]"),
                 "end_ts": pd.Series([], dtype="datetime64[ns]"),
                 "value": pd.Series([], dtype="float64")}
            )

    return spark.range(n_entities).repartition(8, "id").mapInPandas(gen, schema=schema)
