"""Offline parser of Spark's JSON event log into per-op engine records.

The benchmark runs each op under its own job group, so every job, stage and
task in the log can be attributed to an op.  SQL-node metrics (rows and
bytes across the Python boundary, join output rows) are resolved through the
accumulator ids of the plans in ``SQLExecutionStart`` and
``SQLAdaptiveExecutionUpdate`` events and summed from the task updates.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

_PY_IN = "data sent to Python workers"
_PY_OUT = "data returned from Python workers"
_ROWS = "number of output rows"


def _walk(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for c in node.get("children", []):
        _walk(c, out)


def _is_join(node_name: str) -> bool:
    return "Join" in node_name or node_name == "CartesianProduct"


def read_events(log_dir: str) -> list[dict]:
    events = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if name.startswith(".") or not os.path.isfile(path):
            continue
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def per_group(events: list[dict]) -> dict[str, dict]:
    """One record per job group: stages, tasks, task durations, executor
    run/CPU/GC time, shuffle and spill bytes, Python-boundary bytes, join
    output rows and peak JVM resident memory."""
    stage_group: dict[int, str] = {}
    accum: dict[int, tuple[str, str]] = {}
    recs: dict[str, dict] = defaultdict(
        lambda: {
            "stages": set(), "task_s": [], "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "spill_bytes": 0, "python_bytes_in": 0, "python_bytes_out": 0,
            "join_rows_out": 0, "jvm_peak_rss_mb": 0.0,
        }
    )
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                for sid in e["Stage IDs"]:
                    stage_group[sid] = group
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _walk(e["sparkPlanInfo"], accum)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(e["Stage ID"])
            if group is None:
                continue
            r = recs[group]
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            r["stages"].add(e["Stage ID"])
            r["task_s"].append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
            r["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
            r["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            r["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            r["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            r["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            r["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            em = e.get("Task Executor Metrics") or {}
            r["jvm_peak_rss_mb"] = max(
                r["jvm_peak_rss_mb"], em.get("ProcessTreeJVMRSSMemory", 0) / 2**20
            )
            for a in info.get("Accumulables", []):
                node_metric = accum.get(a["ID"])
                if node_metric is None or not isinstance(a.get("Update"), (int, float, str)):
                    continue
                node, metric = node_metric
                upd = int(a["Update"])
                if metric == _PY_IN:
                    r["python_bytes_in"] += upd
                elif metric == _PY_OUT:
                    r["python_bytes_out"] += upd
                elif metric == _ROWS and _is_join(node):
                    r["join_rows_out"] += upd
    for r in recs.values():
        r["stages"] = len(r["stages"])
    return dict(recs)


def summarize(records: list[dict]) -> dict:
    """The ``spark.*`` metrics of a set of op records (the ops of one
    pass): sums, except task percentiles over all their tasks and the peak
    resident memory."""
    tasks = [t for r in records for t in r["task_s"]]
    out = {
        k: sum(r[k] for r in records)
        for k in records[0]
        if k not in ("task_s", "jvm_peak_rss_mb")
    }
    out["tasks"] = len(tasks)
    out["task_p50_s"] = statistics.median(tasks) if tasks else 0.0
    out["task_max_s"] = max(tasks, default=0.0)
    out["jvm_peak_rss_mb"] = max(r["jvm_peak_rss_mb"] for r in records)
    return out
