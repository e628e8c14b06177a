#!/usr/bin/env python
"""Benchmark harness.

Default mode (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec}, "sf": ...}

--scaling mode (north rule): run the flagship featurization job at one
N->4N core pair fitted to the host (N = CPUS // 4, so 1->4 on a 4-CPU
host) in separate clean-JVM subprocesses, and print one JSON line with
both sides' runs, images/sec and the scaling efficiency
throughput(4N) / (4 * throughput(N)).  It writes no file in the repo.

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

    qs = queries.all_queries()
    # a headline name missing from the registry would shrink the total
    # and read as a speed-up
    missing = [name for name in HEADLINE if name not in qs]
    if missing:
        raise ValueError(f"headline queries missing from queries.all_queries(): {missing}")
    spark = get_spark("gfwspark-bench", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}
    for name in HEADLINE:
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
# Replication factor of the --scaling input (REP x the sf's image table).
# Measured on a 4-CPU host at sf0.1: at rep 16 (1.6M rows) one pass took
# 4.5-4.8 s at local[1] and 2.0-2.3 s at local[4], efficiency 0.49-0.60 —
# fixed driver/dispatch time, not the job, set the ratio.  At rep 64
# (6.4M rows) passes took 16.6 s / 5.4 s, efficiency 0.76; at rep 128
# (12.8M rows) 34-37 s / 9-10 s, efficiency 0.87-1.01 over two
# measurements, and the whole pair (two interleaved sessions) takes about
# 6.5 minutes, plus about one to build the input the first time.
SCALING_REP = 128


def _ensure_scale_inputs(sf_dir: str, rep: int) -> tuple[str, str]:
    """Materialize replicated fact + annotation tables (deterministic,
    JVM-only): each replica r gets image_id suffix _r, same per-entity
    series -> featurization work x rep with identical semantics.

    The cache is keyed by scale factor and rep, and reused only when
    both tables carry their `_SUCCESS` marker (a half-written table from
    an interrupted run is regenerated).  Both tables are written as many
    files so the scan stage parallelizes at any core count, and
    annotations are an INPUT (a single-file/derived annotation branch
    adds a serial stage to every run)."""
    import pyspark.sql.functions as F

    from gfwspark import tables
    from gfwspark.session import get_spark

    sf_name = Path(sf_dir.rstrip("/")).name
    fpath = f"{SCALE_INPUT}_{sf_name}_rep{rep}.parquet"
    apath = f"{SCALE_INPUT}_ann_{sf_name}_rep{rep}.parquet"
    if all(Path(p, "_SUCCESS").exists() for p in (fpath, apath)):
        return fpath, apath
    spark = get_spark("gfwspark-scale-gen", master=f"local[{CPUS}]", shuffle_partitions=64)
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

    AQE is OFF for this job: its driver-side per-exchange replanning is
    serial time that grows with the core count (measured 0.66 vs 0.93
    efficiency at 2->8 cores, BENCH/BASELINE.md).  The plan is static
    and well-known, so runtime replanning buys nothing here.  (AQE
    stays ON in the engine defaults — it earns its keep on skewed
    ad-hoc queries.)  8 x cores shuffle partitions smooth stragglers
    without blowing up dispatch overhead."""
    from gfwspark import features
    from gfwspark.session import get_spark

    fpath, apath = _ensure_scale_inputs(sf_dir, rep)
    spark = get_spark(
        f"gfwspark-scale-{cpus}", master=f"local[{cpus}]",
        shuffle_partitions=8 * cpus,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
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


def run_scaling(cpus: int) -> dict:
    """The N->4N pair with N = cpus // 4.  Each core count runs in its
    own clean-JVM subprocess; the sessions for the two counts are
    interleaved in time and minima taken, because the sandbox host
    shows 25%+ steal-time swings between identical runs."""
    lo = cpus // 4
    if lo < 1:
        raise ValueError(
            f"--scaling needs at least 4 CPUs for its N->4N pair "
            f"(N = CPUS // 4); this process has {cpus}"
        )
    hi = 4 * lo
    best: dict[int, dict] = {}
    for _ in range(2):
        for n in (lo, hi):
            out = subprocess.run(
                [sys.executable, __file__, "--scaling-worker", str(n), str(SCALING_REP)],
                capture_output=True, text=True, check=True,
            )
            r = json.loads(out.stdout.strip().splitlines()[-1])
            runs = sorted(best.get(n, {}).get("runs", []) + r["runs"])
            if n not in best or r["sec"] < best[n]["sec"]:
                best[n] = r
            best[n]["runs"] = runs
    eff = best[hi]["images_per_sec"] / (4 * best[lo]["images_per_sec"])
    return {"lo": best[lo], "hi": best[hi], "efficiency": round(eff, 3),
            "rep": SCALING_REP, "sf_dir": SF_DIR}


def main() -> None:
    if "--scaling-worker" in sys.argv:
        i = sys.argv.index("--scaling-worker")
        cpus, rep = int(sys.argv[i + 1]), int(sys.argv[i + 2])
        print(json.dumps(_flagship_throughput(SF_DIR, cpus, rep)))
        return
    if "--scaling" in sys.argv:
        print(json.dumps(run_scaling(CPUS)))
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


if __name__ == "__main__":
    main()
