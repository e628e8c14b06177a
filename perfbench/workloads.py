"""Spark-side half of the benchmark: one fresh driver process per run.

    python3 perfbench/workloads.py --workload NAME --seed N --seconds S
        --work DIR [--trace] [--corrupt]

``run.py`` writes the seeded inputs under ``DIR/input``, starts this
file as a child process and reads ``DIR/measure[-traced].json``.

The process first times its own set-up: import gfwspark, get a session
fitted to the host, answer a trivial job.  Nothing heavier is imported
before that point.  Then it runs one cold pass, and warm passes until
``--seconds`` have elapsed.  After the timed passes it computes the
reference digest of the expected output once and checks every pass
against it.  ``--trace`` turns on the event log, job groups and
call-site capture for the cold pass and half of the warm passes (see
``schedule``); ``--corrupt`` drops one output row after the first pass
commits, so the output check must fail that pass (the self-test).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

import gfwspark  # noqa: E402  (timed: part of the set-up being measured)
from gfwspark.session import get_spark  # noqa: E402

# Passes are dispatch-bound (tens of Spark jobs each); 2 checkpoint
# buckets and 2 warm passes keep a run inside its share of the time a
# regression check has (see README.md, "Left out, and why").
FEATURIZE_BUCKETS = 2
MIN_WARM_PASSES = 2


def host_conf(work: str, trace: bool) -> tuple[str, dict[str, str]]:
    """Session settings fitted to this host, passed to get_spark.

    All cores of the process's CPU set, a quarter of RAM for the driver
    (local mode runs every task inside it), and every scratch directory
    inside the work directory."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    driver_mb = max(1024, min(total_mb // 4, 16384))
    conf = {
        "spark.driver.memory": f"{driver_mb}m",
        "spark.sql.shuffle.partitions": str(max(cores, 8)),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # fixed heap and young-generation sizes instead of sizes the GC
        # derives from its pause times, so peak memory does not follow the
        # host's CPU contention
        "spark.driver.extraJavaOptions": f"-Xms{driver_mb}m -Xmn{driver_mb // 4}m "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return f"local[{cores}]", conf


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def digest(df, by: str | None = None) -> tuple[int, str]:
    """Order-insensitive content digest: (row count, sum of xxhash64 over
    every column in name order).  ``by`` groups the aggregate (one
    action serves a per-group read-back count too)."""
    import pyspark.sql.functions as F

    h = F.xxhash64(*sorted(df.columns)).cast("decimal(20,0)")
    aggs = [F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")]
    rows = (df.groupBy(by) if by else df).agg(*aggs).collect()
    return sum(r["n"] for r in rows), str(sum((r["h"] or 0) for r in rows))


def drop_one_row(out_dir: str) -> None:
    """Self-test corruption: rewrite one non-empty output file without
    its first row (and drop its checksum file, which would now fail).
    Timestamps stay INT96, as Spark wrote them."""
    import pyarrow.parquet as pq

    for dirpath, _, files in sorted(os.walk(out_dir)):
        for name in sorted(files):
            if not name.endswith(".parquet"):
                continue
            path = os.path.join(dirpath, name)
            table = pq.read_table(path)
            if table.num_rows:
                pq.write_table(table.slice(1), path, use_deprecated_int96_timestamps=True)
                crc = os.path.join(dirpath, f".{name}.crc")
                if os.path.exists(crc):
                    os.remove(crc)
                return
    raise RuntimeError(f"no non-empty parquet file under {out_dir}")


class Tracer:
    """Times spans around calls into the engine's modules.  In traced
    passes, also tags each span's Spark jobs with
    ``setJobGroup("<workload>:<run>:<pass>:<span>")``."""

    def __init__(self, spark, workload: str, run: int):
        self.sc = spark.sparkContext
        self.workload, self.run = workload, run
        self.enabled = False
        self.pass_idx = 0
        self.spans: dict[str, float] = {}
        self._stack: list[str] = []

    def start_pass(self, idx: int, traced: bool) -> None:
        self.pass_idx, self.spans, self.enabled = idx, {}, traced
        if not traced:
            self.sc.setJobGroup(f"{self.workload}:{self.run}:untraced", "untraced")

    def end(self) -> None:
        """Tag later jobs (the reference) outside every pass."""
        self.enabled = False
        self.sc.setJobGroup(f"{self.workload}:{self.run}:after-passes", "reference")

    def _tag(self, span: str) -> None:
        if self.enabled:
            group = f"{self.workload}:{self.run}:{self.pass_idx}:{span}"
            self.sc.setJobGroup(group, span)

    @contextlib.contextmanager
    def span(self, name: str):
        self._stack.append(name)
        self._tag(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name] = self.spans.get(name, 0.0) + time.perf_counter() - t0
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else "pass")


def install_callsite_capture(spark, tracer: Tracer) -> None:
    """Record the innermost gfwspark frame as the call site of every job.

    PySpark records a Python call site only for some actions (collect,
    first); writes and localCheckpoint arrive with none.  In traced runs
    every py4j call first sets the JVM call site to the innermost engine
    frame, so the event log can charge each job to its module.  Only
    traced passes pay for it."""
    from py4j.java_gateway import JavaMember

    engine_dir = os.path.dirname(os.path.abspath(gfwspark.__file__)) + os.sep
    original = JavaMember.__call__
    jsc = spark.sparkContext._jsc
    current = None  # the call site the JVM thread holds now

    def engine_site():
        f = sys._getframe(2)
        while f is not None:
            if f.f_code.co_filename.startswith(engine_dir):
                return f"{f.f_code.co_name} at {f.f_code.co_filename}:{f.f_lineno}"
            f = f.f_back
        return None

    def call(self, *args):
        nonlocal current
        if self.name == "setCallSite":  # ours below, or PySpark's own
            current = args[0] if args else None
        elif tracer.enabled:
            site = engine_site()
            if site != current:
                jsc.setCallSite(site)
        return original(self, *args)

    JavaMember.__call__ = call


class FeaturizeResumable:
    """``jobs/featurize_job.py``: checkpoint.run_resumable over entity
    buckets, each running features.featurize (as-of strategy 'union')."""

    name = "featurize_resumable"

    def __init__(self, spark, work: str):
        self.spark = spark
        self.images = os.path.join(work, "input", "images")
        self.annotations = os.path.join(work, "input", "annotations")
        self.out = os.path.join(work, "output")

    def input_bytes(self) -> int:
        return dir_bytes(self.images) + dir_bytes(self.annotations)

    def _featurize(self, images, annotations):
        from gfwspark import features

        return features.featurize(
            images, annotations, window_size=8, session_gap_s=3600,
            asof_strategy="union",
        )

    def reference(self, tracer: Tracer) -> tuple[int, str]:
        read = self.spark.read.parquet
        return digest(self._featurize(read(self.images), read(self.annotations)))

    def run_pass(self, tracer: Tracer, corrupt: bool) -> dict:
        from gfwspark import checkpoint

        # run_resumable resumes from committed manifests: a pass that
        # found the previous pass's output would skip every bucket
        shutil.rmtree(self.out, ignore_errors=True)
        spark = self.spark
        t0 = time.perf_counter()
        with tracer.span("checkpoint.run_resumable"):
            images = spark.read.parquet(self.images)
            ann = spark.read.parquet(self.annotations)

            def transform(bucket_df):
                with tracer.span("features.featurize"):
                    bucket_ann = ann.join(
                        bucket_df.select("image_id").distinct(), "image_id", "left_semi"
                    )
                    return self._featurize(bucket_df, bucket_ann)

            summary = checkpoint.run_resumable(
                images, transform, self.out, n_buckets=FEATURIZE_BUCKETS
            )
        job_s = time.perf_counter() - t0
        complete = (summary["completed"] == list(range(FEATURIZE_BUCKETS))
                    and summary["skipped"] == [])
        if corrupt:
            drop_one_row(self.out)
        t1 = time.perf_counter()
        with tracer.span("checkpoint.read_result"):
            d = digest(checkpoint.read_result(spark, self.out))
        return {"job_s": job_s, "read_s": time.perf_counter() - t1, "digest": d,
                "complete": complete, "written_bytes": dir_bytes(self.out),
                "buckets": FEATURIZE_BUCKETS}


class CorpusPrep:
    """``jobs/corpus_prep_job.py``: corpus.prepare_corpus with the
    production materialization points, a split-partitioned parquet
    write, and the read-back counts."""

    name = "corpus_prep"

    def __init__(self, spark, work: str):
        self.spark = spark
        self.work = work
        self.documents = os.path.join(work, "input", "sf", "documents.parquet")
        self.base = os.path.join(work, "input", "base")
        self.bench = os.path.join(work, "input", "bench")
        self.out = os.path.join(work, "output")

    def input_bytes(self) -> int:
        return dir_bytes(self.base) + dir_bytes(self.bench)

    def reference(self, tracer: Tracer) -> tuple[int, str]:
        import duckdb

        from gfwspark import queries

        con = duckdb.connect()
        con.sql(f"SET temp_directory = '{os.path.join(self.work, 'duckdb')}'")
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{self.documents}')"
        )
        expected = con.sql(queries.all_oracles()["llm_corpus_prep"]).df()
        con.close()
        return digest(self.spark.createDataFrame(expected))

    def run_pass(self, tracer: Tracer, corrupt: bool) -> dict:
        from gfwspark import corpus

        shutil.rmtree(self.out, ignore_errors=True)
        spark = self.spark
        t0 = time.perf_counter()
        with tracer.span("corpus.input_count"):
            docs = spark.read.parquet(self.base)
            bench = spark.read.parquet(self.bench)
            docs.count()
        with tracer.span("corpus.prepare_corpus"):
            out = corpus.prepare_corpus(docs, bench, materialize_survivors=True)
        with tracer.span("corpus.write"):
            out.write.mode("overwrite").partitionBy("split").parquet(self.out)
        job_s = time.perf_counter() - t0
        if corrupt:
            drop_one_row(self.out)
        t1 = time.perf_counter()
        with tracer.span("corpus.read_back"):
            back = spark.read.parquet(self.out)
            d = digest(back, by="split")
        return {"job_s": job_s, "read_s": time.perf_counter() - t1, "digest": d,
                "complete": True, "written_bytes": dir_bytes(self.out)}


def file_stamps(path: str) -> dict[str, tuple[int, int]]:
    """{file: (inode, mtime_ns)} of every file under ``path``."""
    out = {}
    for dirpath, _, files in os.walk(path):
        for name in files:
            st = os.stat(os.path.join(dirpath, name))
            out[os.path.join(dirpath, name)] = (st.st_ino, st.st_mtime_ns)
    return out


class BlocksCdc:
    """``jobs/blocks_maintain_job.py``: an at-rest stride-blocks table
    (W=12800, shift=767, 16 buckets) takes append batches through
    windows.merge_append_into_blocks_table, then one read materializes
    its windows with windows.windows_from_stride_blocks and labels each
    window as of its end with asof.asof_join(strategy='broadcast'), the
    strategy for a small label table: its lookup runs in Python over
    Arrow batches (``mapInPandas``).

    The table is built once per process, before the first pass, by the
    same merge call on an empty path (its bootstrap); every pass starts
    from a copy of it, restored outside the timed region."""

    name = "blocks_cdc"
    W, SHIFT, BUCKETS = 12800, 767, 16

    def __init__(self, spark, work: str):
        import inputs

        self.spark = spark
        self.rows = os.path.join(work, "input", "rows")
        self.appends = inputs.append_dirs(os.path.join(work, "input"))
        self.labels = os.path.join(work, "input", "labels")
        self.pristine = os.path.join(work, "blocks-built")
        self.out = os.path.join(work, "output")

    def input_bytes(self) -> int:
        return sum(dir_bytes(p) for p in self.appends)

    def _merge(self, rows_path: str, table: str) -> dict:
        from gfwspark import windows

        return windows.merge_append_into_blocks_table(
            self.spark, self.spark.read.parquet(rows_path), table, "v", self.SHIFT,
            n_buckets=self.BUCKETS,
        )

    def _labelled_windows(self, blocks, strategy: str, tracer: Tracer):
        from gfwspark import asof, windows

        win = windows.windows_from_stride_blocks(blocks, self.W, self.SHIFT)
        labels = self.spark.read.parquet(self.labels)
        with tracer.span("asof.asof_join"):
            return asof.asof_join(win, labels, ts="win_end_ts", strategy=strategy)

    def prepare(self) -> None:
        shutil.rmtree(self.pristine, ignore_errors=True)
        self._merge(self.rows, self.pristine)

    def reference(self, tracer: Tracer) -> tuple[int, str]:
        """stride_blocks over the build rows and every batch, read the
        same way but labelled with the union as-of strategy."""
        from gfwspark import windows

        read = self.spark.read.parquet
        rows = read(self.rows)
        for p in self.appends:
            rows = rows.unionByName(read(p))
        blocks = windows.stride_blocks(rows, "v", self.SHIFT)
        return digest(self._labelled_windows(blocks, "union", tracer))

    def run_pass(self, tracer: Tracer, corrupt: bool) -> dict:
        import pyspark.sql.functions as F

        from gfwspark import sources

        shutil.rmtree(self.out, ignore_errors=True)
        shutil.copytree(self.pristine, self.out)
        before = file_stamps(self.out)
        t0 = time.perf_counter()
        append_s, touched, upserted = [], set(), 0
        for path in self.appends:
            ta = time.perf_counter()
            with tracer.span("windows.merge_append_into_blocks_table"):
                summary = self._merge(path, self.out)
            append_s.append(time.perf_counter() - ta)
            touched.update(summary["touched_buckets"])
            upserted += summary["upserted"]
        t1 = time.perf_counter()
        with tracer.span("windows.windows_from_stride_blocks"):
            blocks = sources.read_table(self.spark, self.out).drop("_bucket")
            out = self._labelled_windows(blocks, "broadcast", tracer)
            if corrupt:  # lose one window of the result
                key = out.select("image_id", "win_end_ts").first()
                out = out.filter((F.col("image_id") != key[0]) | (F.col("win_end_ts") != key[1]))
            d = digest(out)
        t2 = time.perf_counter()
        written = sum(os.path.getsize(f) for f, stamp in file_stamps(self.out).items()
                      if before.get(f) != stamp)
        # the labelled read is the pass's result, so job_s includes it
        return {"job_s": t2 - t0, "read_s": 0.0, "digest": d,
                "append_s": append_s, "window_read_s": t2 - t1,
                "complete": True, "written_bytes": written,
                "touched_bucket_share": len(touched) / self.BUCKETS,
                "upserted_rows": upserted}


WORKLOADS = {w.name: w for w in (FeaturizeResumable, CorpusPrep, BlocksCdc)}


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_hwm(pid: int | str) -> None:
    """Restart the VmHWM peak at the current RSS (``clear_refs`` 5)."""
    with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as fh:
        fh.write("5")


def storage_residue(spark) -> tuple[int, float]:
    """(persisted RDD count, their memory + disk MB) in the session."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
    return jsc.getPersistentRDDs().size(), mb


class EventLogSwitch:
    """Detach the session's event-log listener for untraced passes and
    re-attach it for traced ones, so one traced process can also time
    passes without tracing.  The listener bus is drained before the
    listener is removed, so no event of a traced pass is lost."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.listener = self.sc.eventLogger().get()
        self.attached = True

    def set(self, on: bool) -> None:
        if on == self.attached:
            return
        if on:
            self.sc.addSparkListener(self.listener)
        else:
            self.sc.listenerBus().waitUntilEmpty()
            self.sc.removeSparkListener(self.listener)
        self.attached = on


def schedule(idx: int, traced_run: bool) -> bool:
    """Whether pass ``idx`` is traced.  A traced run traces the cold pass,
    then orders warm passes untraced, traced, traced, untraced, ... (ABBA),
    so a drift in speed over the run weighs on both kinds alike."""
    return traced_run and (idx == 0 or (idx - 1) % 4 in (1, 2))


def measure(spark, wl, args) -> dict:
    """One cold pass, then warm passes until ``--seconds`` have elapsed
    (at least MIN_WARM_PASSES of each kind: a traced run alternates traced
    and untraced warm passes).  Each pass records the peak resident
    memory of the Python driver plus its JVM during that pass.  The
    reference is computed after the passes, so it never counts toward
    a pass's time or memory."""
    tracer = Tracer(spark, wl.name, args.seed)
    switch = EventLogSwitch(spark) if args.trace else None
    if args.trace:
        install_callsite_capture(spark, tracer)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    in_bytes = wl.input_bytes()
    min_warm = MIN_WARM_PASSES * (2 if args.trace else 1)
    passes = []
    warm_start = None
    while True:
        idx = len(passes)
        if idx == 1:
            warm_start = time.perf_counter()
        elif idx > 1 and (time.perf_counter() - warm_start >= args.seconds
                          and idx - 1 >= min_warm):
            break
        traced = schedule(idx, args.trace)
        if switch:
            switch.set(traced)
        tracer.start_pass(idx, traced)
        for pid in ("self", jvm_pid):
            reset_hwm(pid)
        try:
            r = wl.run_pass(tracer, corrupt=args.corrupt and idx == 0)
        except Exception as exc:  # a failed pass is counted, not fatal
            r = {"complete": False, "error": repr(exc)}
        r["peak_rss_mb"] = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        r["spans"] = dict(tracer.spans)
        r["persisted_rdds"], r["persisted_mb"] = storage_residue(spark)
        r["in_bytes"] = in_bytes
        r["traced"] = traced
        passes.append(r)
    tracer.end()
    t_ref = time.perf_counter()
    ref = list(wl.reference(tracer))
    ref_s = time.perf_counter() - t_ref
    for r in passes:
        r["ok"] = r.pop("complete") and list(r.get("digest", ())) == ref
    return {"passes": passes, "reference_s": ref_s}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()

    master, conf = host_conf(args.work, args.trace)
    name = "measure-traced" if args.trace else "measure"
    spark = get_spark(f"perfbench-{args.workload}-{name}", master=master, extra_conf=conf)
    spark.range(1).count()
    result = {"ready": time.monotonic(), "name": name, "master": master, "conf": conf}
    wl = WORKLOADS[args.workload](spark, args.work)
    if hasattr(wl, "prepare"):
        wl.prepare()
    result["prepare_s"] = time.monotonic() - result["ready"]
    result.update(measure(spark, wl, args))
    spark.stop()
    with open(os.path.join(args.work, f"{name}.json"), "w", encoding="utf-8") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
