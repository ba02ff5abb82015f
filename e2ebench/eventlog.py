"""Fold Spark's uncompressed event log into per-layer counts.

Spark writes one JSON object per line. The fold reads task ends (task time,
GC, Python worker time and bytes, shuffle, input and output bytes), job
starts, and the SQL accumulator updates that carry the number of files a
write committed. Task-time metrics sum over concurrent tasks, so
callers report them as shares of task time, never as wall time.

Events are attributed to the benchmark's own operation windows by their
timestamps (tasks by launch time, jobs by submission time, SQL executions
by start time); operations never overlap, so the attribution is exact.
"""

from __future__ import annotations

import glob
import json
import os

# SQL metric names (Python evaluation nodes) -> fold keys
_TASK_SQL = {
    "time to run Python workers": "python_ms",
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_init_ms",
    "data sent to Python workers": "to_python_bytes",
    "data returned from Python workers": "from_python_bytes",
}
KEYS = (
    "jobs", "tasks", "task_ms", "gc_ms", "python_ms", "python_start_ms",
    "python_init_ms", "to_python_bytes", "from_python_bytes",
    "shuffle_write_bytes", "shuffle_read_bytes", "input_bytes",
    "output_bytes", "files_written",
)


def load(event_dir: str) -> list[dict]:
    """Every event of every application log under ``event_dir``."""
    events = []
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _plan_metrics(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", []):
        _plan_metrics(child, out)


def fold(events: list[dict], windows: list[tuple[float, float]] | None = None) -> dict:
    """Sum the fold keys over events inside ``windows`` (epoch seconds,
    inclusive); ``None`` folds the whole log."""
    def inside(ms) -> bool:
        if windows is None:
            return True
        t = ms / 1000.0
        return any(a <= t <= b for a, b in windows)

    acc_names: dict[int, str] = {}
    exec_in: dict[int, bool] = {}
    out = dict.fromkeys(KEYS, 0)
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart"):
            exec_in[e["executionId"]] = inside(e["time"])
            _plan_metrics(e.get("sparkPlanInfo", {}), acc_names)
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_metrics(e.get("sparkPlanInfo", {}), acc_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            if exec_in.get(e["executionId"]):
                for acc_id, value in e["accumUpdates"]:
                    if acc_names.get(acc_id) == "number of written files":
                        out["files_written"] += value
        elif kind == "SparkListenerJobStart":
            if inside(e["Submission Time"]):
                out["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            if not inside(info["Launch Time"]):
                continue
            m = e.get("Task Metrics") or {}
            out["tasks"] += 1
            out["task_ms"] += m.get("Executor Run Time", 0)
            out["gc_ms"] += m.get("JVM GC Time", 0)
            out["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            out["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
            out["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics", {})
            out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0)
            for a in info.get("Accumulables", []):
                key = _TASK_SQL.get(a.get("Name"))
                if key is not None:
                    out[key] += int(a.get("Update") or 0)
    return out


def share(num: float, den: float) -> float:
    return num / den if den else 0.0
