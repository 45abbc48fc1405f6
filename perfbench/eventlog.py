"""Per-layer Spark metrics from an uncompressed event log.

Each stage is attributed to the job group its submitting job carried (the
traced build sets the group to the layer name), and task metrics are summed
per layer from the task-end events.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

GENERIC = (
    "jobs", "tasks", "cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "task_skew", "failed_tasks",
)
PYTHON = ("py_worker_s", "arrow_to_py_bytes", "arrow_from_py_bytes")
_PY_ACCUM = {
    "time to run Python workers": ("py_worker_s", 1e-3),  # ms
    "data sent to Python workers": ("arrow_to_py_bytes", 1),
    "data returned from Python workers": ("arrow_from_py_bytes", 1),
}


def read_events(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def layer_metrics(events: list[dict]) -> dict[str, dict[str, float]]:
    """layer -> metric -> value, for every job group seen in the log."""
    stage_group: dict[int, str] = {}
    stage_wall: dict[int, float] = {}
    task_times: dict[int, list[int]] = defaultdict(list)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                out[group]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                stage_group[e["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_wall[info["Stage ID"]] = info["Completion Time"] - info["Submission Time"]
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e["Stage ID"])
            if group is None:
                continue
            m = out[group]
            m["tasks"] += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                m["failed_tasks"] += 1
            tm = e.get("Task Metrics") or {}
            m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle_read_bytes"] += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
            m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            task_times[e["Stage ID"]].append(tm.get("Executor Run Time", 0))
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                target = _PY_ACCUM.get(acc.get("Name"))
                if target and acc.get("Update") is not None:
                    m[target[0]] += float(acc["Update"]) * target[1]
    # task skew: max/median task run time in the layer's longest stage
    longest: dict[str, tuple[float, int]] = {}
    for stage, group in stage_group.items():
        wall = stage_wall.get(stage, 0.0)
        if task_times.get(stage) and (group not in longest or wall > longest[group][0]):
            longest[group] = (wall, stage)
    for group, (_wall, stage) in longest.items():
        times = task_times[stage]
        med = statistics.median(times)
        out[group]["task_skew"] = max(times) / med if med > 0 else 1.0
    return {g: dict(m) for g, m in out.items()}
