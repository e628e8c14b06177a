"""Seeded benchmark inputs, written as parquet without Spark.

Generating in the parent process (numpy, pandas, pyarrow) keeps the
measured Spark session fresh for its first pass, and costs the run no
extra driver process.  The image table comes from the engine's own
per-entity generators (``tables._entity_row_counts`` and
``tables._make_entity_rows``, the Spark-free core of
``tables.synthesize_image_caption``), run in a small process pool.  The
same seed gives the same files.
"""

from __future__ import annotations

import multiprocessing
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

FEATURIZE_ENTITIES = 2000
FEATURIZE_ROWS_PER_ENTITY = 32
CORPUS_DOCS = 1500
# blocks_cdc: the at-rest stride-blocks geometry of jobs/blocks_maintain_job.py
BLOCKS_ENTITIES = 32
BLOCKS_ROWS_PER_ENTITY = 4000
BLOCKS_APPENDS = 1
BLOCKS_APPEND_SHARE = 0.02  # rows per append batch / table rows
BLOCKS_APPEND_ENTITIES = 6  # entities one batch appends to
BLOCKS_SHAPE_SEED = 7
GEN_PROCESSES = 4

_CAPTION_WORDS = ["sea", "boat", "fish", "net", "dawn", "harbor", "wave", "gull", "storm", "calm"]
_DOC_WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()


def _write(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def _shape(entity: pd.Series) -> dict:
    counts = entity.value_counts()
    return {"rows": int(counts.sum()), "entities": int(len(counts)),
            "hot_key_share": float(counts.max() / counts.sum())}


def _entity_rows(job: tuple[int, int, int]) -> pd.DataFrame:
    from gfwspark import tables

    return tables._make_entity_rows(*job, with_bytes=False)


def featurize_inputs(seed: int, images: str, annotations: str) -> dict:
    """The image+caption fact table of ``tables.synthesize_image_caption``
    (Zipf entity sizes, entity 0 hot, entity 1 shorter than the window),
    built by the engine's per-entity generator, and interval annotations
    in the shape of ``synthesize_annotations``: 6 of 7 entities labelled,
    one label per (entity, start_ts)."""
    from gfwspark import tables

    n = FEATURIZE_ENTITIES
    counts = tables._entity_row_counts(n, FEATURIZE_ROWS_PER_ENTITY, seed)
    jobs = [(e, int(c), seed) for e, c in enumerate(counts)]
    with multiprocessing.get_context("fork").Pool(GEN_PROCESSES) as pool:
        parts = pool.map(_entity_rows, jobs, chunksize=64)
    img = pd.concat(parts, ignore_index=True)
    # the session runs in UTC, so Spark reads these naive times as UTC
    img["ts"] = img["ts"].dt.tz_localize("UTC")
    _write(img, images, pa.schema([
        ("image_id", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
        ("bytes", pa.binary()), ("w", pa.int32()), ("h", pa.int32()),
        ("fmt", pa.string()), ("caption", pa.string()), ("phash", pa.int64()),
    ]))

    rng = np.random.default_rng([seed, 1])
    labelled = np.arange(n)[np.arange(n) % 7 != 3]
    n_ann = rng.integers(1, 6, len(labelled))
    a_e = np.repeat(labelled, n_ann)
    a_start = 1_700_000_000 + a_e * 1_000_000 + rng.integers(0, 40_000, len(a_e))
    ann = pd.DataFrame({
        "image_id": [f"img_{e:06d}" for e in a_e],
        "start_ts": pd.to_datetime(a_start, unit="s", utc=True),
        "label": rng.choice([0.0, 0.5, 1.0], len(a_e)),
    }).groupby(["image_id", "start_ts"], as_index=False)["label"].max()
    _write(ann, annotations, pa.schema([
        ("image_id", pa.string()), ("start_ts", pa.timestamp("us", tz="UTC")),
        ("label", pa.float64()),
    ]))
    return _shape(img["image_id"])


def corpus_inputs(seed: int, documents: str, base: str, bench: str) -> dict:
    """``documents`` in the shape of the sf0.1 table (10-100 tokens from
    a 30-word vocabulary, 20 round-robin sources; seeded perturbation
    adds 3% exact copies and 3% one-token edits of earlier docs), then
    the pipeline input and eval suite of the ``llm_corpus_prep`` query
    built from it: planted exact copies, junk, spam and near-duplicates,
    and a decontamination benchmark of every 50th doc."""
    rng = np.random.default_rng([seed, 2])
    n = CORPUS_DOCS
    toks = [list(rng.choice(_DOC_WORDS, int(k))) for k in rng.integers(10, 101, n)]
    for i in range(1, n):
        u = rng.random()
        if u < 0.06:
            toks[i] = list(toks[int(rng.integers(0, i))])
            if u >= 0.03:
                toks[i][int(rng.integers(0, len(toks[i])))] = str(rng.choice(_DOC_WORDS))
    text = [" ".join(t) for t in toks]
    docs = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    os.makedirs(documents, exist_ok=True)
    docs.to_parquet(os.path.join(documents, "documents.parquet"), index=False)

    d = docs[["doc_id", "text", "source"]]
    ids = d["doc_id"]
    planted = [
        d,
        d[ids < 25].assign(doc_id=lambda x: x.doc_id + 100_000),
        d[ids % 100 == 0].assign(
            text=lambda x: "!!!! ;;;; ???? " + x.doc_id.astype(str),
            doc_id=lambda x: x.doc_id + 300_000),
        d[ids % 100 == 1].assign(
            text=lambda x: "spam " * 40 + x.doc_id.astype(str),
            doc_id=lambda x: x.doc_id + 400_000),
        d[ids % 100 == 2].assign(
            text=lambda x: [("NEARDUP " + " ".join(t.split()[1:])) if len(t.split()) > 1
                            else "NEARDUP" for t in x.text],
            doc_id=lambda x: x.doc_id + 500_000),
    ]
    all_docs = pd.concat(planted, ignore_index=True)
    all_docs["ts"] = pd.to_datetime(all_docs["doc_id"] * 3600, unit="s", utc=True)
    _write(all_docs, base, pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("source", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]))
    suite = pd.DataFrame({"text": [" ".join(t.split()[10:40]) for t in d[ids % 50 == 0].text]})
    _write(suite, bench, pa.schema([("text", pa.string())]))
    return _shape(all_docs["source"])


def blocks_inputs(seed: int, rows: str, appends: list[str], labels: str) -> dict:
    """The at-rest table's rows (entity, ts, v) with the engine's Zipf
    entity sizes (``tables._entity_row_counts``: entity 0 hot, some
    entities too short for one window), the append batches, and a small
    interval-label table.  The table's and the batches' shape (entity
    sizes, which entities a batch appends to and how many rows each)
    comes from BLOCKS_SHAPE_SEED, so every seed merges and reads the same
    volume; ``seed`` draws the values, time gaps and labels.  Each batch
    holds BLOCKS_APPEND_SHARE of the table's rows over
    BLOCKS_APPEND_ENTITIES entities drawn Zipf, so it touches only part
    of the buckets, and every appended ts is strictly after its entity's
    last one."""
    from gfwspark import tables

    rng = np.random.default_rng([seed, 3])
    shape_rng = np.random.default_rng([BLOCKS_SHAPE_SEED, 3])
    n = BLOCKS_ENTITIES
    counts = tables._entity_row_counts(n, BLOCKS_ROWS_PER_ENTITY, BLOCKS_SHAPE_SEED)
    start = 1_700_000_000 + np.arange(n) * 10_000_000

    def frame(eidx: np.ndarray, ts_s: np.ndarray) -> pd.DataFrame:
        return pd.DataFrame({
            "image_id": [f"img_{e:06d}" for e in eidx],
            "ts": pd.to_datetime(ts_s, unit="s", utc=True),
            "v": rng.normal(size=len(eidx)),
        })

    schema = pa.schema([("image_id", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
                        ("v", pa.float64())])
    eidx = np.repeat(np.arange(n), counts)
    gaps = rng.integers(1, 60, len(eidx))
    first = np.concatenate([[0], np.cumsum(counts)[:-1]])
    cum = np.cumsum(gaps)
    ts_s = start[eidx] + cum - (cum[first] - gaps[first])[eidx]
    base = frame(eidx, ts_s)
    _write(base, rows, schema)
    last = start + np.bincount(eidx, weights=gaps, minlength=n).astype(np.int64)

    batch_rows = int(len(base) * BLOCKS_APPEND_SHARE)
    weights = 1.0 / np.arange(1, n + 1) ** 1.1  # Zipf over entity rank
    weights /= weights.sum()
    for path in appends:
        picked = shape_rng.choice(n, BLOCKS_APPEND_ENTITIES, replace=False, p=weights)
        e = np.sort(shape_rng.choice(picked, batch_rows, p=weights[picked] / weights[picked].sum()))
        step = rng.integers(1, 60, batch_rows)
        cum = np.cumsum(step)
        first = np.searchsorted(e, e)  # index of each entity's first row
        ts_s = last[e] + cum - (cum[first] - step[first])
        last[np.unique(e)] = ts_s[np.r_[first[1:] != first[:-1], True]]
        _write(frame(e, ts_s), path, schema)

    per = rng.integers(1, 6, n)
    l_e = np.repeat(np.arange(n), per)
    l_ts = start[l_e] + rng.integers(0, int(counts.max()) * 30, len(l_e))
    lab = pd.DataFrame({
        "image_id": [f"img_{x:06d}" for x in l_e],
        "start_ts": pd.to_datetime(l_ts, unit="s", utc=True),
        "label": rng.choice([0.0, 0.5, 1.0], len(l_e)),
    }).groupby(["image_id", "start_ts"], as_index=False)["label"].max()
    _write(lab, labels, pa.schema([
        ("image_id", pa.string()), ("start_ts", pa.timestamp("us", tz="UTC")),
        ("label", pa.float64()),
    ]))
    return _shape(base["image_id"])


def append_dirs(input_dir: str) -> list[str]:
    return [os.path.join(input_dir, f"append-{k}") for k in range(BLOCKS_APPENDS)]


def make(workload: str, seed: int, input_dir: str) -> dict:
    """Write the workload's inputs under ``input_dir``; return their shape
    (rows, entities, hot-key share, bytes).  ``bytes`` counts what one
    pass consumes: for blocks_cdc, the append batches."""
    p = lambda name: os.path.join(input_dir, name)  # noqa: E731
    if workload == "featurize_resumable":
        shape = featurize_inputs(seed, p("images"), p("annotations"))
        dirs = [p("images"), p("annotations")]
    elif workload == "corpus_prep":
        shape = corpus_inputs(seed, p("sf"), p("base"), p("bench"))
        dirs = [p("base"), p("bench")]
    else:
        dirs = append_dirs(input_dir)
        shape = blocks_inputs(seed, p("rows"), dirs, p("labels"))
    shape["bytes"] = sum(
        os.path.getsize(os.path.join(dp, f)) for d in dirs for dp, _, fs in os.walk(d) for f in fs
    )
    return shape
