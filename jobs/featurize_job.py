#!/usr/bin/env python
"""Cluster entrypoint: resumable featurization over an image table.

    spark-submit --py-files engine.zip jobs/featurize_job.py \
        --input <parquet/iceberg path> --annotations <path|-> \
        --output <path> --buckets 64 --window-size 8 --session-gap 3600 \
        [--large-windows 256,1024,12800] [--phash-from-bytes]

--large-windows adds O(n) trailing sum/cnt/avg/var of the hamming
delta at each listed window size (with_sliding_agg_large — the
reference's production window geometry runs W=12800, where naive
bounded frames are O(W) per row).  --phash-from-bytes computes the
perceptual hash from the decoded payload (multimodal.with_phash)
instead of trusting the table's phash column.

Each entity bucket commits parquet + a lineage manifest
(checkpoint.run_resumable); re-running after a crash recomputes only
missing buckets and yields bit-identical output."""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--annotations", default="-")
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--window-size", type=int, default=8)
    ap.add_argument("--session-gap", type=int, default=3600)
    ap.add_argument("--large-windows", default="")
    ap.add_argument("--phash-from-bytes", action="store_true")
    ap.add_argument(
        "--asof-strategy", default="union",
        choices=["union", "auto"],
        help="as-of physical strategy; 'auto' salts hot entities "
             "through the chunked kernel (skewed tables)",
    )
    args = ap.parse_args()

    from gfwspark import checkpoint, features
    from gfwspark.session import get_spark

    spark = get_spark("gfwspark-featurize", master=None)
    images = spark.read.parquet(args.input)
    if args.phash_from_bytes:
        from gfwspark import multimodal
        import pyspark.sql.functions as F

        images = (
            multimodal.with_phash(images)
            .drop("phash")
            .withColumnRenamed("phash_px", "phash")
            .drop("bytes")  # payload never crosses the shuffle
        )
    ann = None if args.annotations == "-" else spark.read.parquet(args.annotations)
    large_ws = [int(w) for w in args.large_windows.split(",") if w]

    def transform(bucket_df):
        bucket_ann = ann
        if bucket_ann is not None:
            # restrict the annotation side to this bucket's entities
            bucket_ann = bucket_ann.join(
                bucket_df.select("image_id").distinct(), "image_id", "left_semi"
            )
        out = features.featurize(
            bucket_df,
            bucket_ann,
            window_size=args.window_size,
            session_gap_s=args.session_gap,
            asof_strategy=args.asof_strategy,
        )
        for w in large_ws:
            from gfwspark import windows

            out = windows.with_sliding_agg_large(
                out, "phash_hamming", w, prefix=f"ham_W{w}", with_var=True
            )
        return out

    summary = checkpoint.run_resumable(
        images, transform, args.output, n_buckets=args.buckets
    )
    print(summary)


if __name__ == "__main__":
    main()
