#!/usr/bin/env python
"""Cluster entrypoint: build / incrementally maintain the at-rest
stride-blocks window layout.

    spark-submit --py-files engine.zip jobs/blocks_maintain_job.py \
        --mode build  --input <rows parquet>   --blocks <table path> \
        --feature-col v --shift 767 [--buckets 16] [--overwrite]
    spark-submit --py-files engine.zip jobs/blocks_maintain_job.py \
        --mode append --input <append parquet> --blocks <table path> \
        --feature-col v --shift 767 [--buckets 16] [--on-late drop]

`build` writes the bucket-partitioned table from the full input through
the bootstrap of windows.merge_append_into_blocks_table (stride_blocks
over the input; the one-time layout cost the r6 bench measured as the
one-shot extractor's scaling floor).  It REFUSES a
non-empty --blocks path unless --overwrite: merging a rebuild into an
existing table would leave stale block rows (shrunken entities keep
their phantom tail blocks) and the table would no longer equal
stride_blocks(input).  `append` merges a strictly-later-ts batch via
windows.merge_append_into_blocks_table — the same pruned-merge step
the streaming CDC sink runs per micro-batch; the table keeps each
entity's open tail block in files apart from its sealed blocks, so an
append rewrites only the open-tail files that hold an appended
entity's tail and writes its new blocks, and a
--buckets value that differs from the table's recorded layout raises
before anything is written.  Any consumer then materializes windows
of ANY W stepping by `shift` with windows.windows_from_stride_blocks
(zero-Exchange over the bucketed read) — see BENCH/HISTORY.md round 6
for the measured efficiencies.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", required=True, choices=["build", "append"])
    ap.add_argument("--input", required=True)
    ap.add_argument("--blocks", required=True, help="blocks table path")
    ap.add_argument("--feature-col", required=True)
    ap.add_argument("--shift", type=int, required=True)
    ap.add_argument("--entity", default="image_id")
    ap.add_argument("--ts", default="ts")
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument(
        "--overwrite", action="store_true",
        help="build mode: replace an existing blocks table",
    )
    ap.add_argument(
        "--on-late", default="error", choices=["error", "drop", "ignore"],
        help="append mode: rows not strictly after the entity's stored "
             "max ts (error = raise, drop = skip already-applied/late "
             "rows — the idempotent-replay setting)",
    )
    args = ap.parse_args()

    import os
    import shutil

    from gfwspark import windows
    from gfwspark.session import get_spark

    spark = get_spark("gfwspark-blocks-maintain", master=None)
    rows = spark.read.parquet(args.input)
    if args.mode == "build" and os.path.exists(args.blocks):
        if not args.overwrite:
            raise SystemExit(
                f"--mode build refuses existing table {args.blocks}: an "
                "upsert-merge rebuild would leave stale block rows; pass "
                "--overwrite to replace it, or use --mode append"
            )
        shutil.rmtree(args.blocks)
    # on a missing path the merge bootstraps the table from the rows:
    # the same layout (file groups, manifest with shift/feature_cols)
    # an append-created table gets
    r = windows.merge_append_into_blocks_table(
        spark, rows, args.blocks, args.feature_col, args.shift,
        entity=args.entity, ts=args.ts, n_buckets=args.buckets,
        on_late=args.on_late,
    )
    print({"mode": args.mode, **r})


if __name__ == "__main__":
    main()
