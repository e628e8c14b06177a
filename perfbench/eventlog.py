"""Read a Spark event log into per-pass, per-layer metrics.

The traced run enables the event log (uncompressed; Spark 4 writes it
as a rolling ``eventlog_v2_<app>/events_<n>_<app>`` directory) and tags
every span with ``setJobGroup("<workload>:<run>:<pass>:<span>")``.  This
module folds the log back into:

- jobs by module: each job is charged to the engine module of the
  innermost ``gfwspark/<module>.py`` frame recorded as its call site
  (``callSite.short``); jobs called from anywhere else go to ``other``;
- operators: SQL plan-node metrics, including the plan trees and
  metrics that adaptive execution adds later
  (``SparkListenerSQLAdaptiveExecutionUpdate`` /
  ``SparkListenerSQLAdaptiveSQLMetricUpdates``), summed from task and
  driver accumulator updates;
- engine: job, stage and task counts, task time and its overheads.

Only the standard library is used, so the benchmark's parent process
can read the log after the Spark process has exited.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

#: Engine modules reported as layers (ROADMAP aim 1); any other call site
#: is charged to ``other``.
MODULES = ("checkpoint", "asof", "windows", "corpus", "sources", "dedup", "text", "layout")

_SQL = "org.apache.spark.sql.execution.ui."
_CALLSITE_MODULE = re.compile(r"gfwspark/(\w+)\.py:\d+")


def event_files(log_dir: str) -> list[str]:
    """The event files of every application logged under ``log_dir``, in
    write order (a rolling directory holds ``events_1_*``, ``events_2_*``
    ...; a non-rolling log is one plain file)."""
    files = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "events_*"))
            files += sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
        elif not entry.startswith("."):
            files.append(path)
    return files


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _module_of(callsite: str | None) -> str:
    m = _CALLSITE_MODULE.search(callsite or "")
    return m.group(1) if m and m.group(1) in MODULES else "other"


# SQL metric names that only one kind of operator reports
_OP_BY_METRIC = {
    "size of files read": "scan.bytes",
    "shuffle bytes written": "exchange.bytes",
    "sort time": "sort.ms",
    "time in aggregation build": "agg.ms",
    "time to run Python workers": "python.ms",
    "number of written files": "write.files",
    "written output": "write.bytes",
}


def _op_of(node: str, metric: str) -> str | None:
    """Operator metric a (plan node, SQL metric) pair feeds, if any."""
    if metric in _OP_BY_METRIC:
        return _OP_BY_METRIC[metric]
    if node == "BroadcastExchange" and metric == "data size":
        return "broadcast.bytes"
    if node in ("Sort", "Window") and metric == "spill size":
        return f"{node.lower()}.spill"
    if ("Python" in node or "Pandas" in node) and metric == "number of output rows":
        return "python.rows"
    if node.startswith("WholeStageCodegen") and metric == "duration":
        return "codegen.ms"
    return None


def _walk_plan(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = _op_of(node["nodeName"], m["name"])
    for child in node.get("children", []):
        _walk_plan(child, out)


def _parse_group(group: str | None) -> tuple[int, str] | None:
    """``<workload>:<run>:<pass>:<span>`` -> (pass, span)."""
    if not group:
        return None
    parts = group.split(":")
    if len(parts) != 4 or not parts[2].isdigit():
        return None
    return int(parts[2]), parts[3]


def read_passes(log_dir: str) -> dict[int, dict]:
    """Fold an event log into ``{pass_index: raw_totals}``.

    Raw totals per pass: ``jobs``, ``stages``, ``tasks``, ``task_ms``,
    ``sched_ms``, ``deser_ms``, ``gc_ms``, ``failed_tasks``,
    ``mod.<m>.<jobs|wall_ms|task_ms|shuffle_bytes|spill_bytes>`` and
    ``op.<kind>`` (bytes, ms or counts as named), plus
    ``op.exchange.count`` / ``op.broadcast.count``: plan nodes of that
    kind that moved bytes in the pass."""
    op_of_acc: dict[int, str | None] = {}
    pending_metric_names: dict[int, str] = {}
    job_info: dict[int, tuple[int, str, float]] = {}  # job -> (pass, module, submit)
    stage_owner: dict[int, tuple[int, str]] = {}  # stage -> (pass, module)
    exec_pass: dict[int, int] = {}
    acc_updates: list[tuple[int, int, float]] = []  # (pass, acc id, delta)
    totals: dict[int, dict] = defaultdict(lambda: defaultdict(float))

    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    tag = _parse_group(props.get("spark.jobGroup.id"))
                    if tag is None:
                        continue
                    module = _module_of(props.get("callSite.short"))
                    job_info[e["Job ID"]] = (tag[0], module, e["Submission Time"])
                    for sid in e["Stage IDs"]:
                        stage_owner.setdefault(sid, (tag[0], module))
                    if props.get("spark.sql.execution.id") is not None:
                        exec_pass[int(props["spark.sql.execution.id"])] = tag[0]
                    t = totals[tag[0]]
                    t["jobs"] += 1
                    t[f"mod.{module}.jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    info = job_info.get(e["Job ID"])
                    if info is not None:
                        totals[info[0]][f"mod.{info[1]}.wall_ms"] += (
                            e["Completion Time"] - info[2]
                        )
                elif kind == "SparkListenerStageCompleted":
                    owner = stage_owner.get(e["Stage Info"]["Stage ID"])
                    if owner is not None:
                        totals[owner[0]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    owner = stage_owner.get(e["Stage ID"])
                    if owner is None:
                        continue
                    p, module = owner
                    t = totals[p]
                    info, tm = e["Task Info"], e.get("Task Metrics") or {}
                    run_ms = tm.get("Executor Run Time", 0)
                    deser = tm.get("Executor Deserialize Time", 0)
                    ser = tm.get("Result Serialization Time", 0)
                    wall = info["Finish Time"] - info["Launch Time"]
                    t["tasks"] += 1
                    t["task_ms"] += run_ms
                    t["deser_ms"] += deser
                    t["gc_ms"] += tm.get("JVM GC Time", 0)
                    t["sched_ms"] += max(
                        0, wall - run_ms - deser - ser - info.get("Getting Result Time", 0)
                    )
                    t["failed_tasks"] += e["Task End Reason"].get("Reason") != "Success"
                    shuffle = (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    t[f"mod.{module}.task_ms"] += run_ms
                    t[f"mod.{module}.shuffle_bytes"] += shuffle
                    t[f"mod.{module}.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    for acc in info.get("Accumulables", []):
                        if acc.get("Metadata") == "sql":
                            acc_updates.append((p, acc["ID"], _num(acc.get("Update"))))
                elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                              _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _walk_plan(e["sparkPlanInfo"], op_of_acc)
                    tag = _parse_group(e.get("jobGroupId"))
                    if tag is not None:
                        exec_pass.setdefault(e["executionId"], tag[0])
                elif kind == _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
                    # metrics of nodes AQE inserted; no node name is logged,
                    # so only metric names unique to one operator classify
                    for m in e.get("sqlPlanMetrics", []):
                        pending_metric_names[m["accumulatorId"]] = m["name"]
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    p = exec_pass.get(e["executionId"])
                    if p is not None:
                        for acc_id, value in e["accumUpdates"]:
                            acc_updates.append((p, acc_id, _num(value)))

    for acc_id, name in pending_metric_names.items():
        op_of_acc.setdefault(acc_id, _op_of("", name))
    moved: dict[int, dict[str, set]] = defaultdict(lambda: defaultdict(set))
    for p, acc_id, delta in acc_updates:
        op = op_of_acc.get(acc_id)
        if op is None:
            continue
        totals[p][f"op.{op}"] += delta
        if op in ("exchange.bytes", "broadcast.bytes") and delta > 0:
            moved[p][op].add(acc_id)
    for p, kinds in moved.items():
        totals[p]["op.exchange.count"] = len(kinds.get("exchange.bytes", ()))
        totals[p]["op.broadcast.count"] = len(kinds.get("broadcast.bytes", ()))
    return {p: dict(t) for p, t in totals.items()}
