"""Fold a Spark event log into per-call engine metrics.

The traced run enables ``spark.eventLog.enabled`` and tags every call
into the library with ``setJobGroup(<call id>)``. This parser maps each
job to its group, each stage and task to its job, and sums task metrics
and the Python-boundary SQL metrics per group: one record per call.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

# SQL plan nodes that exchange rows with Python workers (pandas UDFs,
# mapInPandas/mapInArrow, grouped and co-grouped maps, Python windows).
_PY_NODES = ("Python", "InPandas", "InArrow", "ArrowEval", "ArrowWindow", "ArrowAggregate")

# The per-layer metric names of BENCHMARK.json that this parser fills.
FIELDS = (
    "exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks",
    "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "exec.scheduler_delay_s",
    "exec.scan_bytes", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.result_bytes",
    "python.bytes_sent", "python.bytes_returned", "python.rows_returned",
)


def _files(log_dir: str) -> list[str]:
    """Event files under ``log_dir``: plain logs and rolling (v2) dirs."""
    out = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            out += sorted(glob.glob(os.path.join(path, "events_*")))
        elif not os.path.basename(path).startswith("."):
            out.append(path)
    return out


def _python_row_ids(plan: dict, acc: set[int]) -> None:
    if any(tag in plan.get("nodeName", "") for tag in _PY_NODES):
        for m in plan.get("metrics", ()):
            if m["name"] == "number of output rows":
                acc.add(m["accumulatorId"])
    for child in plan.get("children", ()):
        _python_row_ids(child, acc)


def parse(log_dir: str) -> dict[str, dict[str, float]]:
    """``{job group: {field: total}}`` over every event file in ``log_dir``."""
    groups: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    stage_group: dict[int, str] = {}
    py_rows: set[int] = set()
    tasks = []
    for path in _files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid is None:
                        continue
                    groups[gid]["exec.jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, gid)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    gid = stage_group.get(info["Stage ID"])
                    if gid is not None and "Submission Time" in info:
                        groups[gid]["exec.stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _python_row_ids(ev["sparkPlanInfo"], py_rows)
    for ev in tasks:
        gid = stage_group.get(ev["Stage ID"])
        if gid is None:
            continue
        g = groups[gid]
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        g["exec.tasks"] += 1
        g["exec.failed_tasks"] += bool(info.get("Failed")) or ev["Task End Reason"]["Reason"] != "Success"
        run_ms = m.get("Executor Run Time", 0)
        g["exec.task_run_s"] += run_ms / 1e3
        g["exec.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        g["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
        overhead = m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)
        wall = info["Finish Time"] - info["Launch Time"]
        g["exec.scheduler_delay_s"] += max(0, wall - run_ms - overhead - info.get("Getting Result Time", 0)) / 1e3
        g["exec.scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        g["exec.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        g["exec.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        g["exec.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        g["exec.result_bytes"] += m.get("Result Size", 0)
        for acc in info.get("Accumulables", ()):
            name, upd = acc.get("Name"), acc.get("Update")
            if name == "data sent to Python workers":
                g["python.bytes_sent"] += int(upd)
            elif name == "data returned from Python workers":
                g["python.bytes_returned"] += int(upd)
            elif acc.get("ID") in py_rows:
                g["python.rows_returned"] += int(upd)
    return dict(groups)
