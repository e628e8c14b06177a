"""gfwspark benchmark: point-in-time featurization, corpus prep and
at-rest CDC.

    python3 perfbench/run.py --workload featurize_resumable|corpus_prep|blocks_cdc \
        --seed N --seconds S --trace 0|1 [--self-test]

Run from the repository root.  Every run writes its inputs from
``--seed`` (``inputs.py``, no Spark) into a work directory under
``.perfbench_work/`` and removes it afterwards.  Then it starts a fresh
Spark driver process (``workloads.py``) that times its own set-up, the
first pass in its fresh session, and warm passes for ``--seconds`` (at
least two).  After the timed passes that process computes the reference
output once and checks each pass against it by row count plus an
order-insensitive content hash.  With ``--trace 1`` the process runs
with tracing (event log, job groups, call sites) and alternates traced
and untraced warm passes: the traced passes' event log gives the
per-layer metrics, and the ratio of the two kinds' medians is the
tracing overhead.

stdout: one summary line per metric (name, unit, sample count, median,
quartiles), then the result as one JSON object on the last line.
``--self-test`` drops one output row after the first pass and exits 0
only if that pass, and no other, is counted failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, os.getcwd())  # the repository root: gfwspark

import eventlog  # noqa: E402
import inputs  # noqa: E402

CHILD = os.path.join("perfbench", "workloads.py")
WORKLOADS = ("featurize_resumable", "corpus_prep", "blocks_cdc")
RUN_TIMEOUT_S = 150  # a run must end within 180 s, stop and clean-up included

END_TO_END = {
    "setup_s": "s",
    "first_job_s": "s",
    "job_s": "s",
    "peak_rss_mb": "MB",
    "write_amp": "ratio",
}

SPANS = (
    "checkpoint.run_resumable",
    "features.featurize",
    "checkpoint.read_result",
    "corpus.prepare_corpus",
    "corpus.write",
    "corpus.read_back",
    "windows.merge_append_into_blocks_table",
    "windows.windows_from_stride_blocks",
    "asof.asof_join",
)
OPS = {
    "op.scan.mb": "MB", "op.scan.amp": "ratio",
    "op.exchange.count": "count", "op.exchange.write_mb": "MB",
    "op.broadcast.count": "count", "op.broadcast.mb": "MB",
    "op.sort.s": "s", "op.sort.spill_mb": "MB",
    "op.agg.s": "s", "op.window.spill_mb": "MB",
    "op.python.s": "s", "op.python.rows": "count",
    "op.write.files": "count", "op.write.mb": "MB",
    "op.codegen.s": "s",
}
ENGINE = {
    "engine.jobs": "count", "engine.stages": "count", "engine.tasks": "count",
    "engine.task_s": "s", "engine.core_busy_share": "ratio",
    "engine.sched_delay_s": "s", "engine.deser_s": "s", "engine.gc_s": "s",
    "engine.failed_tasks": "count",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{s}_s": "s" for s in SPANS}
    for m in eventlog.MODULES + ("other",):
        units.update({f"{m}.jobs": "count", f"{m}.job_wall_s": "s", f"{m}.task_s": "s",
                      f"{m}.shuffle_write_mb": "MB", f"{m}.spill_mb": "MB"})
    units.update(OPS)
    units.update(ENGINE)
    units.update({
        "checkpoint.jobs_per_bucket": "count",
        "sources.touched_bucket_share": "ratio", "sources.upserted_rows": "count",
        "storage.persisted_rdds": "count", "storage.persisted_mb": "MB",
        "trace.overhead": "ratio",
    })
    return units


def group_alive(pgid: int) -> bool:
    """Whether any live (non-zombie) process is in process group ``pgid``."""
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
                state, _, pgrp = fh.read().rsplit(")", 1)[1].split()[:3]
        except OSError:
            continue
        if int(pgrp) == pgid and state != "Z":
            return True
    return False


def stop_group(pgid: int) -> None:
    """Kill what is left of a child's process group (its JVM and Python
    workers) and wait until none of it remains."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 20
    while group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)


def run_child(args, work: str, deadline: float) -> dict:
    """Start one Spark driver process, wait for it (until ``deadline`` on
    the monotonic clock), and return its result with ``setup_s`` = spawn
    until its session answered a trivial job."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")}
    env["PYTHONPATH"] = os.getcwd()
    env["TMPDIR"] = os.path.join(work, "tmp")
    cmd = [sys.executable, CHILD, "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--work", work]
    cmd += ["--trace"] * args.trace + ["--corrupt"] * args.self_test
    name = "measure-traced" if args.trace else "measure"
    log_path = os.path.join(work, f"{name}.log")
    with open(log_path, "wb") as log:
        t_spawn = time.monotonic()
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc.pid)
            proc.wait()
    result_path = os.path.join(work, f"{name}.json")
    if code != 0 or not os.path.exists(result_path):
        with open(log_path, encoding="utf-8", errors="replace") as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"{name} child failed (exit {code}):\n{tail}")
    with open(result_path, encoding="utf-8") as fh:
        result = json.load(fh)
    result["setup_s"] = result["ready"] - t_spawn
    result["wall_s"] = time.monotonic() - t_spawn
    return result


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user ... steal, in ticks)."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


def quartiles(values: list[float]) -> tuple[float, float]:
    if len(values) < 2:
        return values[0], values[0]
    q = statistics.quantiles(values, n=4, method="inclusive")
    return q[0], q[2]


def warm(passes: list[dict], key: str) -> list[float]:
    return [p[key] for p in passes[1:] if key in p]


def end_to_end(meas: dict) -> dict[str, list[float]]:
    """Samples of every end-to-end metric from one untraced run."""
    passes = meas["passes"]
    first = passes[0]
    return {
        "setup_s": [meas["setup_s"]],
        "first_job_s": [first["job_s"]] if "job_s" in first else [],
        "job_s": warm(passes, "job_s"),
        "peak_rss_mb": [p["peak_rss_mb"] for p in passes],
        "write_amp": [p["written_bytes"] / p["in_bytes"] for p in passes if "written_bytes" in p],
    }


def per_layer(shape: dict, traced: dict, log_dir: str) -> dict[str, list[float]]:
    """Per-traced-warm-pass samples of every per-layer metric of a traced
    run, and the tracing overhead against its untraced warm passes."""
    totals = eventlog.read_passes(log_dir)
    passes = traced["passes"]
    cores = int(traced["master"].split("[")[1].rstrip("]"))
    in_mb = shape["bytes"] / 2**20
    samples: dict[str, list[float]] = {k: [] for k in per_layer_units()}
    for idx, p in enumerate(passes):
        if idx == 0 or not p["traced"] or not p.get("ok"):
            continue
        t = totals.get(idx, {})
        g = lambda k: t.get(k, 0.0)  # noqa: E731
        row = {f"{s}_s": p["spans"].get(s, 0.0) for s in SPANS}
        for m in eventlog.MODULES + ("other",):
            row.update({
                f"{m}.jobs": g(f"mod.{m}.jobs"),
                f"{m}.job_wall_s": g(f"mod.{m}.wall_ms") / 1e3,
                f"{m}.task_s": g(f"mod.{m}.task_ms") / 1e3,
                f"{m}.shuffle_write_mb": g(f"mod.{m}.shuffle_bytes") / 2**20,
                f"{m}.spill_mb": g(f"mod.{m}.spill_bytes") / 2**20,
            })
        row.update({
            "op.scan.mb": g("op.scan.bytes") / 2**20,
            "op.scan.amp": g("op.scan.bytes") / 2**20 / in_mb,
            "op.exchange.count": g("op.exchange.count"),
            "op.exchange.write_mb": g("op.exchange.bytes") / 2**20,
            "op.broadcast.count": g("op.broadcast.count"),
            "op.broadcast.mb": g("op.broadcast.bytes") / 2**20,
            "op.sort.s": g("op.sort.ms") / 1e3,
            "op.sort.spill_mb": g("op.sort.spill") / 2**20,
            "op.agg.s": g("op.agg.ms") / 1e3,
            "op.window.spill_mb": g("op.window.spill") / 2**20,
            "op.python.s": g("op.python.ms") / 1e3,
            "op.python.rows": g("op.python.rows"),
            "op.write.files": g("op.write.files"),
            "op.write.mb": g("op.write.bytes") / 2**20,
            "op.codegen.s": g("op.codegen.ms") / 1e3,
            "engine.jobs": g("jobs"),
            "engine.stages": g("stages"),
            "engine.tasks": g("tasks"),
            "engine.task_s": g("task_ms") / 1e3,
            "engine.core_busy_share": g("task_ms") / 1e3 / (p["job_s"] + p["read_s"]) / cores,
            "engine.sched_delay_s": g("sched_ms") / 1e3,
            "engine.deser_s": g("deser_ms") / 1e3,
            "engine.gc_s": g("gc_ms") / 1e3,
            "engine.failed_tasks": g("failed_tasks"),
            "checkpoint.jobs_per_bucket": g("mod.checkpoint.jobs") / p["buckets"]
            if "buckets" in p else 0.0,
            "sources.touched_bucket_share": p.get("touched_bucket_share", 0.0),
            "sources.upserted_rows": p.get("upserted_rows", 0),
        })
        for k, v in row.items():
            samples[k].append(v)
    # residue a single pass leaves in a fresh session
    samples["storage.persisted_rdds"] = [passes[0]["persisted_rdds"]]
    samples["storage.persisted_mb"] = [passes[0]["persisted_mb"]]
    job_s = {kind: statistics.median([p["job_s"] for p in passes[1:]
                                      if p["traced"] == kind and "job_s" in p])
             for kind in (True, False)}
    samples["trace.overhead"] = [job_s[True] / job_s[False]]
    return samples


def summarize(samples: dict[str, list[float]], units: dict[str, str]) -> dict:
    """Print one line per metric and return the JSON ``metrics`` map
    (each value is the median of its samples)."""
    metrics = {}
    for name, unit in units.items():
        vals = samples.get(name) or []
        if not vals:
            raise RuntimeError(f"no samples of {name}: every pass that should give one failed")
        med = statistics.median(vals)
        lo, hi = quartiles(vals)
        print(f"{name:36s} {unit:6s} n={len(vals):<3d} median={med:.6g} q1={lo:.6g} q3={hi:.6g}")
        metrics[name] = {"value": med, "unit": unit}
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join("gfwspark", "__init__.py")):
        print("perfbench: run from the repository root; gfwspark/ not found",
              file=sys.stderr)
        return 2
    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    deadline = time.monotonic() + RUN_TIMEOUT_S
    cpu0 = cpu_times()
    try:
        shape = inputs.make(args.workload, args.seed, os.path.join(work, "input"))
        meas = run_child(args, work, deadline)
        passes = meas["passes"]
        failed = sum(not p.get("ok") for p in passes)
        print(f"session: {meas['master']} " + " ".join(
            f"{k}={v}" for k, v in sorted(meas["conf"].items()) if "dir" not in k))
        print(f"input seed={args.seed}: rows={shape['rows']} mb={shape['bytes'] / 2**20:.3f} "
              f"entities={shape['entities']} hot_key_share={shape['hot_key_share']:.4f}")
        delta = [b - a for a, b in zip(cpu0, cpu_times())]
        print(f"host: cpu steal {delta[7] / max(sum(delta), 1):.1%} of cpu time during the run "
              "(time the hypervisor ran other guests)")
        print(f"child wall s: {meas['wall_s']:.1f} (prepare {meas['prepare_s']:.1f}, "
              f"reference {meas['reference_s']:.1f})")
        print("passes (job_s, peak_rss_mb" + ", traced" * args.trace + "): " + " ".join(
            f"({p.get('job_s', float('nan')):.3f}, {p['peak_rss_mb']:.0f}"
            + (", T" if p["traced"] else ", U") * args.trace + ")" for p in passes))
        if "append_s" in meas["passes"][0]:
            print("passes (append_s..., window_read_s): " + " ".join(
                "(" + ", ".join(f"{a:.3f}" for a in p["append_s"] + [p["window_read_s"]]) + ")"
                for p in passes if "append_s" in p))
        print("residue after each pass (persisted rdds, MB): " + " ".join(
            f"({p['persisted_rdds']}, {p['persisted_mb']:.2f})" for p in passes))
        for i, p in enumerate(passes):
            if not p.get("ok"):
                print(f"pass {i} failed: {p.get('error', 'output differs from the reference')}")
        if args.self_test:
            caught = not meas["passes"][0].get("ok") and failed == 1
            print(f"self-test: {'ok' if caught else 'FAILED'}: corrupted pass 0 "
                  f"{'counted failed' if caught else 'not caught'}; {failed} failed")
            return 0 if caught else 1
        print(f"failed_share ratio  n={len(passes):<3d} value={failed / len(passes):.6g}")
        if args.trace:
            metrics = summarize(
                per_layer(shape, meas, os.path.join(work, "eventlog")),
                per_layer_units(),
            )
        else:
            metrics = summarize(end_to_end(meas), END_TO_END)
        print(json.dumps({"correct": failed == 0, "attempted": len(passes),
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
