#!/usr/bin/env python
"""Benchmark harness.

Default mode (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec}, "sf": ...}

--scaling mode (north rule): run the flagship featurization job at two
N->4N core pairs (2->8 headline, 8->32 supplementary) in separate
clean-JVM subprocesses, report images/sec at each level plus scaling
efficiency throughput(4N) / (4 * throughput(N)), and write
BENCH/BASELINE.md.

Queries are materialized with the noop sink (full execution, no driver
collect) — the honest analog of writing to a table.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))

HEADLINE = [
    "flagship_featurize",
    "asof_join_union",
    "sessionize",
    "sliding_windows",
    "time_range_window",
    "tumbling_daily",
    "month_grid_windows",
    "entity_minmax_agg",
    "topk_per_group",
    "dedup_exact",
    "minhash_signatures",
    "ngram_jaccard_dups",
    "ann_brute_topk",
    "doc_stats",
    # added round 2 (r01 names above are unchanged so per-query deltas
    # stay computable across rounds)
    "range_anchored_windows",
    "sampled_time_windows",
    # added round 5: the composed corpus-prep flagship
    "llm_corpus_prep",
    # added round 6: zero-copy window refs (vs sliding_windows'
    # materialized form — the per-round delta shows the amplification
    # saving at driver-bench scale)
    "sliding_window_refs",
]


def _materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def run_headline(sf_dir: str, cpus: int) -> dict[str, float]:
    from gfwspark import queries
    from gfwspark.session import get_spark

    spark = get_spark("gfwspark-bench", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries.all_queries()
    timings: dict[str, float] = {}
    for name in HEADLINE:
        if name not in qs:
            continue
        df = qs[name](spark, sf_dir)
        _materialize(df)  # warm: plan + JIT + page cache
        # best-of-2: the sandbox host shows 25%+ steal-time swings, and
        # single-shot driver numbers disagreed with controlled minima by
        # +39-51% on unchanged queries in round 2 (VERDICT r2 #7)
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            _materialize(qs[name](spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
    timings["featurize_full"] = _featurize_full_geometry(spark)
    timings.update(_asof_skew_bench(spark))
    spark.stop()
    return timings


def _asof_skew_bench(spark) -> dict[str, float]:
    """Strategy-dispatch evidence on a SKEWED as-of fixture: one hot
    entity (3.2M rows — past the measured ~3M chunked-vs-union
    crossover) plus 32 cold entities x 50k rows, 64 annotations per
    entity.  `asof_join_union` serializes the hot entity's window into
    a single task; `asof_join(strategy='auto')` routes the hot entity
    through the time-salted chunked kernel (its skew pre-scan included
    in the timing — that is the honest cost of auto) and the cold
    entities through the union form.  The three entries let the
    per-round JSON show auto ~ best-of-both."""
    import pyspark.sql.functions as F

    from gfwspark import asof as A

    base_s = 1_700_000_000
    hot_pts, n_cold, cold_pts, n_ann = 3_200_000, 32, 50_000, 64
    hot = spark.range(hot_pts).select(
        F.lit("hot").alias("image_id"),
        F.timestamp_seconds(F.lit(base_s) + F.col("id")).alias("ts"),
    )
    cold = spark.range(n_cold * cold_pts).select(
        F.concat(F.lit("c"), (F.col("id") % n_cold).cast("string")).alias(
            "image_id"
        ),
        F.timestamp_seconds(
            F.lit(base_s) + (F.col("id") / n_cold).cast("long")
        ).alias("ts"),
    )
    facts = hot.unionByName(cold)
    ents = facts.select("image_id").distinct()
    ann = (
        ents.crossJoin(spark.range(n_ann).select(F.col("id").alias("k")))
        .select(
            "image_id",
            F.timestamp_seconds(
                F.lit(base_s) + F.col("k") * (hot_pts // n_ann)
            ).alias("start_ts"),
            F.concat(F.lit("L"), F.col("k")).alias("label"),
        )
    )
    span_s = hot_pts
    chunk_s = max(span_s // (4 * spark.sparkContext.defaultParallelism), 3600)
    # precomputed layout stats (layout.detect_skew shape + ts span):
    # the asof_skew_auto_stats entry shows auto's dispatch cost with
    # the pre-scan amortized away — the caller already profiled the
    # layout, so auto should track pure chunked within ~10%
    from gfwspark.util import epoch_us

    stats = facts.groupBy("image_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(epoch_us("ts")).alias("lo_us"),
        F.max(epoch_us("ts")).alias("hi_us"),
    ).localCheckpoint(eager=True)
    runs = {
        "asof_skew_union": lambda: A.asof_join_union(facts, ann),
        "asof_skew_chunked": lambda: A.asof_join_chunked(facts, ann, chunk_s),
        "asof_skew_auto": lambda: A.asof_join(facts, ann, strategy="auto"),
        "asof_skew_auto_stats": lambda: A.asof_join(
            facts, ann, strategy="auto", entity_stats=stats
        ),
    }
    out: dict[str, float] = {}
    for name, build in runs.items():
        _materialize(build())  # warm
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            _materialize(build())
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
    return out


def _featurize_full_geometry(spark) -> float:
    """The reference's PRODUCTION window geometry
    (vessel_characterization.py:58-69: window_max_points = 12800,
    extraction stride 767 per BASELINE.md) over 32 entities x 50k
    points of deterministic synthetic series (1.6M rows):

    1. scalarized sliding sum/count/avg at window sizes 256/1024/12800
       via with_sliding_agg_large — the O(n) running-sum-difference
       form.  (Spark evaluates a bounded rowsBetween frame O(W) PER
       ROW: the naive with_sliding_agg at this geometry measured 111 s
       on this exact input — ~25x slower than this whole job.)
    2. materialized window extraction at W=12800 / shift=767 via
       sliding_feature_windows — the block-assembled plan (fan-out
       W/shift ~ 16.7 block copies, never W).

    All window stages reuse one entity hashpartitioning."""
    import pyspark.sql.functions as F

    from gfwspark import windows as W

    n_ent, n_pts = 32, 50_000
    df = spark.range(n_ent * n_pts).select(
        (F.col("id") % n_ent).alias("image_id"),
        F.timestamp_seconds(
            F.lit(1700000000) + (F.col("id") / n_ent).cast("long") * 60
        ).alias("ts"),
        (F.col("id") % 997).cast("double").alias("v"),
    )

    def job():
        out = df
        for w in (256, 1024, 12800):
            out = W.with_sliding_agg_large(out, "v", w, prefix=f"v{w}")
        _materialize(out)
        ext = W.sliding_feature_windows(df, "v", window_size=12800, shift=767)
        _materialize(ext)

    job()  # warm
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        job()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


SCALE_INPUT = os.environ.get("SPARK_GRAFT_SCALE_INPUT", "/tmp/gfwspark_scale_input")
SCALE_REP = int(os.environ.get("SPARK_GRAFT_SCALE_REP", "1024"))


def _ensure_scale_inputs(sf_dir: str, rep: int) -> tuple[str, str]:
    """Materialize replicated fact + annotation tables (deterministic,
    JVM-only): each replica r gets image_id suffix _r, same per-entity
    series → featurization work × SCALE_REP with identical semantics.

    Sizing rationale (measured, see BENCH/BASELINE.md): the flagship at
    sf0.1 finishes in ~1 s where driver/task-dispatch overhead
    dominates; at REP=1024 (102M rows) tasks are long enough that the
    fixed ~1.5 s serial driver time amortizes.  Both tables are written
    as many files so the scan stage parallelizes at any core count, and
    annotations are an INPUT (a single-file/derived annotation branch
    adds a serial stage to every run)."""
    import pyspark.sql.functions as F

    from gfwspark import tables
    from gfwspark.session import get_spark

    fpath = f"{SCALE_INPUT}_rep{rep}.parquet"
    apath = f"{SCALE_INPUT}_ann_rep{rep}.parquet"
    if Path(fpath).exists() and Path(apath).exists():
        return fpath, apath
    spark = get_spark("gfwspark-scale-gen", master="local[32]", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    rep_col = F.explode(F.sequence(F.lit(0), F.lit(rep - 1))).alias("rep")
    img = tables.image_caption_from_events(spark, sf_dir)
    (
        img.select("*", rep_col)
        .withColumn("image_id", F.concat_ws("_", "image_id", "rep")).drop("rep")
        .repartition(256, "image_id").write.mode("overwrite").parquet(fpath)
    )
    ann = (
        tables.annotations_from_events(spark, sf_dir)
        .select("*", rep_col)
        .withColumn("image_id", F.concat_ws("_", "image_id", "rep")).drop("rep")
        .groupBy("image_id", "start_ts").agg(F.max("label").alias("label"))
    )
    ann.repartition(64, "image_id").write.mode("overwrite").parquet(apath)
    spark.stop()
    return fpath, apath


def _flagship_throughput(sf_dir: str, cpus: int, rep: int) -> dict:
    """Measure flagship featurization images/sec at one parallelism
    over the replicated (compute-bound) input.

    Config notes (each measured, see BENCH/BASELINE.md):
    - AQE OFF for this job: its driver-side per-exchange replanning is
      serial time that dominates at high core counts (0.93 vs 0.66
      efficiency at 2→8 cores).  The plan is static and well-known, so
      runtime replanning buys nothing here.  (AQE stays ON in the
      engine defaults — it earns its keep on skewed ad-hoc queries.)
    - shuffle on /dev/shm: removes disk variance from the measurement.
    - 8×cores shuffle partitions: straggler smoothing without
      dispatch-overhead blowup.
    """
    from gfwspark import features
    from gfwspark.session import get_spark

    fpath, apath = _ensure_scale_inputs(sf_dir, rep)
    spark = get_spark(
        f"gfwspark-scale-{cpus}", master=f"local[{cpus}]",
        shuffle_partitions=8 * cpus,
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            "spark.local.dir": "/dev/shm/spark-local",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    def job():
        img = spark.read.parquet(fpath)
        ann = spark.read.parquet(apath)
        out = features.featurize(
            img, ann, window_size=8, session_gap_s=3600, order_tiebreak="event_id",
        )
        # deliverable = the feature vectors (SURVEY §3.2): selecting them
        # lets Catalyst prune captions/fmt below the entity shuffle, so
        # the exchange carries only (entity, ts, tiebreak, phash, ints)
        _materialize(out.select(
            "image_id", "ts", "event_id", "phash_hamming", "aspect",
            "caption_tokens", "log_dt", "ham_w_avg", "ham_w_max",
            "tok_w_avg", "aspect_w_min", "n_in_window", "session_id",
            "asof_label",
        ))

    n_rows = spark.read.parquet(fpath).count()
    job()  # warm (JIT + page cache)
    # best-of-N defends against interference on the shared sandbox host
    runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        job()
        runs.append(time.perf_counter() - t0)
    best = min(runs)
    spark.stop()
    return {"cpus": cpus, "rows": n_rows, "sec": round(best, 3),
            "runs": [round(r, 3) for r in runs],
            "images_per_sec": round(n_rows / best, 1)}


def _w1m_throughput(
    cpus: int, n_rows: int, window_size: int = 12800, refs: bool = False
) -> dict:
    """W1m block-assembled extraction throughput at one parallelism:
    sliding_feature_windows at the reference production geometry
    (W=12800, shift=767) over a deterministic synthetic series.  The
    second job class for the two-cluster-size criterion — shuffle +
    object aggregation bound, unlike the flagship's window-scan
    profile.  `window_size` varies the byte amplification (W/shift:
    1.3x at W=1024, 16.7x at W=12800) and `refs=True` runs the
    zero-copy sliding_feature_window_refs form — together the two
    knobs isolate whether the sub-0.8 scaling efficiency at production
    geometry is the flattened-copy byte traffic (amplification-
    dependent) or the window enumeration itself (it isn't)."""
    import pyspark.sql.functions as F

    from gfwspark import windows as W
    from gfwspark.session import get_spark

    n_ent = 512
    spark = get_spark(
        f"gfwspark-w1m-{cpus}", master=f"local[{cpus}]",
        shuffle_partitions=8 * cpus,
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            "spark.local.dir": "/dev/shm/spark-local",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.range(n_rows).select(
        (F.col("id") % n_ent).alias("image_id"),
        F.timestamp_seconds(
            F.lit(1700000000) + (F.col("id") / n_ent).cast("long") * 60
        ).alias("ts"),
        (F.col("id") % 997).cast("double").alias("v"),
    )

    def job():
        if refs:
            _materialize(
                W.sliding_feature_window_refs(df, window_size=window_size, shift=767)
            )
        else:
            _materialize(
                W.sliding_feature_windows(df, "v", window_size=window_size, shift=767)
            )

    job()  # warm
    runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        job()
        runs.append(time.perf_counter() - t0)
    best = min(runs)
    spark.stop()
    return {"cpus": cpus, "rows": n_rows, "sec": round(best, 3),
            "runs": [round(r, 3) for r in runs],
            "images_per_sec": round(n_rows / best, 1)}


def _w1m_atrest_throughput(cpus: int, n_rows: int, window_size: int = 12800) -> dict:
    """Assemble-only throughput over an AT-REST stride_blocks table:
    stride_blocks is built and written bucketed-by-entity ONCE (outside
    the timed region — the amortized layout cost), then the timed job
    is windows_from_stride_blocks over the bucketed read, which plans
    with zero Exchange.  This measures the remedy the --w1m-sweep
    points at: if the assemble stage scales cleanly once the block
    build is at rest, the one-shot extractor's floor is confirmed as
    the block build and the amortization story holds."""
    import shutil

    import pyspark.sql.functions as F

    from gfwspark import layout
    from gfwspark import windows as W
    from gfwspark.session import get_spark

    n_ent = 512
    wh = f"/dev/shm/spark-wh-atrest-{cpus}"
    shutil.rmtree(wh, ignore_errors=True)
    spark = get_spark(
        f"gfwspark-w1m-atrest-{cpus}", master=f"local[{cpus}]",
        shuffle_partitions=8 * cpus,
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            "spark.local.dir": "/dev/shm/spark-local",
            "spark.sql.warehouse.dir": wh,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.range(n_rows).select(
        (F.col("id") % n_ent).alias("image_id"),
        F.timestamp_seconds(
            F.lit(1700000000) + (F.col("id") / n_ent).cast("long") * 60
        ).alias("ts"),
        (F.col("id") % 997).cast("double").alias("v"),
    )
    spark.sql("DROP TABLE IF EXISTS w1m_blocks")
    # 64 buckets at every core count: same files, same read partitioning
    layout.write_bucketed(
        W.stride_blocks(df, "v", shift=767), "w1m_blocks", ["image_id"], 64,
        sort_cols=["image_id", "block_id"],
    )

    def job():
        _materialize(
            W.windows_from_stride_blocks(
                spark.table("w1m_blocks"), window_size=window_size, shift=767
            )
        )

    job()  # warm
    runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        job()
        runs.append(time.perf_counter() - t0)
    best = min(runs)
    spark.stop()
    shutil.rmtree(wh, ignore_errors=True)
    return {"cpus": cpus, "rows": n_rows, "sec": round(best, 3),
            "runs": [round(r, 3) for r in runs],
            "images_per_sec": round(n_rows / best, 1)}


def main() -> None:
    if "--scaling-worker-w1m-atrest" in sys.argv:
        i = sys.argv.index("--scaling-worker-w1m-atrest")
        print(json.dumps(_w1m_atrest_throughput(
            int(sys.argv[i + 1]), int(sys.argv[i + 2]))))
        return
    if "--w1m-atrest-pair" in sys.argv:
        # 51.2M rows (4x the one-shot W1m pair): at 12.8M the 8-core
        # assemble-only job is ~1.4 s and fixed stage dispatch swamps
        # the ratio (measured 0.708-0.781 vs 0.853 at 51.2M —
        # BENCH/HISTORY.md r6); this default reproduces the recorded
        # configuration
        best: dict[int, dict] = {}
        for _ in range(2):
            for cpus in (2, 8):
                out = subprocess.run(
                    [sys.executable, __file__, "--scaling-worker-w1m-atrest",
                     str(cpus), "51200000"],
                    capture_output=True, text=True, check=True)
                r = json.loads(out.stdout.strip().splitlines()[-1])
                if cpus not in best or r["sec"] < best[cpus]["sec"]:
                    best[cpus] = r
        eff = best[8]["images_per_sec"] / (4 * best[2]["images_per_sec"])
        print(json.dumps({"lo": best[2], "hi": best[8],
                          "efficiency_2_to_8": round(eff, 3)}))
        return
    if "--scaling" in sys.argv:
        # Two N->4N pairs.  Headline: 2->8 cores, where per-core memory
        # bandwidth share stays constant like on a real N->4N EXECUTOR
        # scale-out.  Supplementary: 8->32 cores, which additionally
        # saturates the single box's DRAM bandwidth (a hardware ceiling
        # a multi-node cluster does not share).  Sessions for the two
        # core counts are interleaved in time and minima taken: the
        # sandbox host shows 25%+ steal-time swings between identical
        # runs.
        sub = "--scaling-worker"

        def measure_pair(lo: int, hi: int, rep: int, sessions: int, worker=None):
            best: dict[int, dict] = {}
            for _ in range(sessions):
                for cpus in (lo, hi):
                    out = subprocess.run(
                        [sys.executable, __file__, worker or sub, str(cpus), str(rep)],
                        capture_output=True, text=True, check=True,
                    )
                    r = json.loads(out.stdout.strip().splitlines()[-1])
                    if cpus not in best or r["sec"] < best[cpus]["sec"]:
                        prev = best.get(cpus, {}).get("runs", [])
                        r["runs"] = sorted(prev + r["runs"])
                        best[cpus] = r
                    else:
                        best[cpus]["runs"] = sorted(best[cpus]["runs"] + r["runs"])
            eff = best[hi]["images_per_sec"] / (4 * best[lo]["images_per_sec"])
            return {"lo": best[lo], "hi": best[hi], "efficiency": round(eff, 3)}

        pair_2_8 = measure_pair(2, 8, rep=256, sessions=2)
        pair_8_32 = measure_pair(8, 32, rep=1024, sessions=2)
        # second job class: W1m block-assembled extraction.  12.8M rows
        # over 512 entities: after the split-ts assemble cut runtimes
        # ~40%, 3.2M rows left the 8-core run under 2 s where fixed
        # dispatch dominates; 512 entities (not 64) keeps per-partition
        # entity counts balanced at 64 shuffle partitions — the
        # production regime is entities >> cores.
        pair_w1m = measure_pair(
            2, 8, rep=12_800_000, sessions=2, worker="--scaling-worker-w1m"
        )
        report = {
            "pair_2_to_8_cores": pair_2_8,
            "pair_8_to_32_cores": pair_8_32,
            "pair_w1m_2_to_8_cores": pair_w1m,
            "scaling_efficiency_N_to_4N": pair_2_8["efficiency"],
            "sf_dir": SF_DIR,
        }
        print(json.dumps(report))
        _write_baseline_md(report)
        return
    if "--scaling-worker-w1m" in sys.argv:
        i = sys.argv.index("--scaling-worker-w1m")
        cpus, n_rows = int(sys.argv[i + 1]), int(sys.argv[i + 2])
        tail = sys.argv[i + 3 :]
        wsz = int(tail[0]) if tail and tail[0].isdigit() else 12800
        print(json.dumps(_w1m_throughput(cpus, n_rows, wsz, refs="refs" in tail)))
        return
    if "--w1m-sweep" in sys.argv:
        # Amplification isolation (r5 verdict item 6): the SAME 12.8M-row
        # input and enumeration at three byte amplifications (W/767) plus
        # the zero-copy refs form; if efficiency recovers as
        # amplification shrinks, the W=12800 ceiling is the flattened
        # copies' DRAM traffic, measured rather than argued.
        jobs = [
            ("W1024", 1024, False), ("W3200", 3200, False),
            ("W12800", 12800, False), ("W12800_refs", 12800, True),
        ]
        best: dict[tuple, dict] = {}
        for _ in range(2):  # interleaved sessions, minima
            for name, wsz, refs in jobs:
                for cpus in (2, 8):
                    argv = [sys.executable, __file__, "--scaling-worker-w1m",
                            str(cpus), "12800000", str(wsz)] + (
                                ["refs"] if refs else [])
                    out = subprocess.run(
                        argv, capture_output=True, text=True, check=True)
                    r = json.loads(out.stdout.strip().splitlines()[-1])
                    k = (name, cpus)
                    if k not in best or r["sec"] < best[k]["sec"]:
                        best[k] = r
        report = {}
        for name, wsz, refs in jobs:
            lo, hi = best[(name, 2)], best[(name, 8)]
            report[name] = {
                "amplification": round(wsz / 767, 2),
                "sec_2c": lo["sec"], "sec_8c": hi["sec"],
                "efficiency_2_to_8": round(
                    hi["images_per_sec"] / (4 * lo["images_per_sec"]), 3),
            }
        print(json.dumps(report))
        return
    if "--scaling-worker" in sys.argv:
        i = sys.argv.index("--scaling-worker")
        cpus, rep = int(sys.argv[i + 1]), int(sys.argv[i + 2])
        print(json.dumps(_flagship_throughput(SF_DIR, cpus, rep)))
        return

    timings = run_headline(SF_DIR, CPUS)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline query wall time (warm, noop sink)",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


def _record_scaling_run(report: dict) -> list[float]:
    """Append this run's headline efficiency to BENCH/scaling_runs.json
    and return all recorded efficiencies (seeded with rounds 1-3 from
    BENCH/HISTORY.md) — the honest spread the headline reports as
    median + bracket instead of cherry-picking the latest run."""
    p = Path(__file__).resolve().parent / "BENCH" / "scaling_runs.json"
    runs = json.loads(p.read_text()) if p.exists() else [
        0.877, 0.902, 0.921, 0.859, 0.806  # r1, r2, r3 runs 1-3
    ]
    runs.append(report["pair_2_to_8_cores"]["efficiency"])
    p.write_text(json.dumps(runs))
    return runs


def _write_baseline_md(report: dict) -> None:
    import statistics

    p = Path(__file__).resolve().parent / "BENCH" / "BASELINE.md"
    p.parent.mkdir(exist_ok=True)
    effs = _record_scaling_run(report)

    def row(r):
        return (f"| local[{r['cpus']}] | {r['rows']:,} | {r['sec']} "
                f"| {r['runs']} | {r['images_per_sec']:,} |")

    a, b = report["pair_2_to_8_cores"], report["pair_8_to_32_cores"]
    w = report.get("pair_w1m_2_to_8_cores")
    p.write_text(f"""# BENCH baseline — measured (north rule evidence)

Flagship featurization job (per-row derived features + backward as-of
label join + sliding window aggregates + gap sessionization) over
deterministic replications of the sf0.1 events-derived image table
(annotations replicated to match), noop sink.  The two-cluster-size
criterion is evidenced by the identical job + input at two parallelism
levels; sessions for the two levels are interleaved in time and minima
taken (the sandbox host shows 25%+ steal-time swings between identical
runs).

## Headline pair: N=2 -> 4N=8 cores (25.6M rows)

| parallelism | rows | best s | all runs (s) | images/sec |
|---|---|---|---|---|
{row(a['lo'])}
{row(a['hi'])}

**Scaling efficiency (N -> 4N): this run {a['efficiency']}; across
all {len(effs)} recorded runs median {round(statistics.median(effs), 3)},
bracket {min(effs)}-{max(effs)}** (BENCH/scaling_runs.json, tabulated
per round in BENCH/HISTORY.md; runs span rounds — the flagship JOB
code is stable but engine code evolves between rounds, and runs within
one round are identical-code) — measured as throughput(4N) / (4 x
throughput(N)); target >= 0.8 per BASELINE.json.  Single-run
ratio-of-minima is host-sensitive (25%+ steal-time swings), so the
median-with-spread is the honest headline; the tables in this file
hold the latest run's raw timings.
This pair is the faithful proxy for N -> 4N *executors*: per-core
memory-bandwidth share stays constant, as it does when a real cluster
adds nodes.

## Supplementary pair: 8 -> 32 cores (102.4M rows)

| parallelism | rows | best s | all runs (s) | images/sec |
|---|---|---|---|---|
{row(b['lo'])}
{row(b['hi'])}

Efficiency {b['efficiency']}: at 32 cores the single box's DRAM
bandwidth saturates (the job is a streaming sort/window over ~50 GB of
memory traffic).  A multi-node 4N-executor cluster adds memory channels
with each node and does not share this ceiling; peak single-box
throughput here is {b['hi']['images_per_sec']:,} images/sec.

## Second job class: W1m materialized extraction, 2 -> 8 cores

`sliding_feature_windows` (block-assembled, split-ts assemble: the
per-element timestamps stay out of the sliced/flattened block copies;
window-endpoint timestamps come from <=2 unmasked per-block ts arrays
via conditional element_at) at the reference production geometry
W=12800 / shift=767 over 12.8M synthetic rows x 512 entities —
shuffle + object-aggregation bound, a different profile from the
flagship's window scan.  The split-ts change cut wall time ~40% at
both core counts (8-core throughput 1.67M -> ~3.5M images/sec):

| parallelism | rows | best s | all runs (s) | images/sec |
|---|---|---|---|---|
{row(w['lo']) if w else ''}
{row(w['hi']) if w else ''}

**W1m scaling efficiency (N -> 4N): {w['efficiency'] if w else 'n/a'}.**

Sub-0.8 draws of this pair were attributed through r5 to the W/shift
(~16.7x at production geometry) flattened-copy byte amplification.
The round-6 amplification sweep (`bench.py --w1m-sweep`, table in
BENCH/HISTORY.md) MEASURED that attribution and refuted it:
efficiency RISES with W (0.678 at W=1024 / ampl 1.3x -> 0.863 at
W=12800 / ampl 16.7x — production geometry CLEARS the 0.8 target in
the controlled sweep), 8-core wall time is flat across W (~4.3-4.4 s),
and the zero-copy refs form (sliding_feature_window_refs: same
enumeration, no amplified value bytes, 1.3-1.7x faster absolute)
scales at 0.674.  The scaling floor is therefore the W-INDEPENDENT
block-build stage (row_number + sort + collect_list object aggregation
over every input row — its cost does not shrink per-core as cleanly),
while the W-proportional assemble work parallelizes near-linearly and
lifts the blended efficiency as W grows.  At 100 TB the remedy is
layout, not window geometry: build stride_blocks once at rest
(bucketed by entity) and amortize the block-build floor across every
window job that reads it.  The remedy is itself measured
(`bench.py --w1m-atrest-pair`, BENCH/HISTORY.md): assemble-only over
the at-rest bucketed blocks (zero-Exchange plan) scales at 0.853 at
51.2M rows and runs 2.2x the one-shot extractor's absolute 8-core
throughput.

## How the job was made scale-clean (each step measured)

1. **One fact shuffle.** The as-of union-merge runs first; all window
   stages reuse its hashpartitioning (was 2 full-data exchanges).
2. **Map-side payload reduction.** caption -> token count before the
   exchange; the shuffle carries only (entity, ts, ids, small ints).
3. **Annotations are an input table** (multi-file parquet).  Deriving
   them inside the job from a single-file source added a serial stage
   to every run (0.84 -> 0.66 efficiency at 2->8 cores).
4. **AQE off for this fixed plan.**  AQE's driver-side per-exchange
   replanning is serial: 0.66 -> 0.93 efficiency at 2->8 cores once
   disabled.  (AQE stays on in engine defaults for ad-hoc/skewed work.)
5. **Input large enough to amortize dispatch.**  ~1.5 s of serial
   driver/task-dispatch time per run caps short jobs near 0.5
   efficiency at 32 cores; the inputs above amortize it.

## Hot-entity kernel micro-bench (round 2)

`chunked_time_range_agg`'s per-chunk kernel was vectorized (round-1
verdict item 4): floats go through pandas' Cython offset-rolling,
int64 (perceptual hashes — exact, no float64 round-trip) through an
O(n) batched two-stack sweep (`windows._monotone_window_agg`).
Measured on a single 10^6-row hot entity (~1 event/sec, 30-min
trailing window, mean 1,801 rows/window):

| kernel | time (s) | speedup vs old per-row loop |
|---|---|---|
| old per-row Python loop | 8.35 | 1x |
| pandas offset-rolling (float64) | 0.38 | 21.8x |
| two-stack sweep (int64, exact) | 0.05 | 182x |

Both paths verified exact against brute-force windows on 200 random
positions, and against `RANGE BETWEEN` in
tests/test_engine_golden.py (including duplicate-timestamp peers,
which the old kernel mishandled).
""")


if __name__ == "__main__":
    main()
