"""Pure folds from run artifacts to per-layer metrics.

* :func:`fold_event_log` joins Spark's (uncompressed) event log with
  the benchmark's spans and returns ``spark.*`` metrics per span.
* :func:`fold_progress` turns a streaming query's progress history
  (``StreamingQuery.recentProgress`` as dicts) into ``streaming.*``
  metrics.

Neither touches a SparkSession: both can run on artifacts copied off
another machine.

Stage attribution: a stage belongs to the span whose job group it was
submitted under (``spark.jobGroup.id`` in the stage's properties). A
streaming query runs its micro-batches under its own job group (the
query's run id), so a span that drives a query lists that run id in
its ``groups``. A stage whose group no span claims falls to the
innermost span whose interval holds the stage's submission time.
"""

from __future__ import annotations

import json
import os
import statistics
from typing import Any, Iterable

from perfbench.trace import union_length

SPARK_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_records",
    "input_bytes",
    "output_records",
    "output_bytes",
    "driver_s",
)


def read_events(log_dir: str) -> Iterable[dict[str, Any]]:
    """Every JSON event under ``log_dir`` (plain files and Spark's
    rolling ``eventlog_v2_*`` directories alike), in file order."""
    paths = []
    for root, _, files in os.walk(log_dir):
        for f in files:
            if f.startswith(".") or f.endswith(".crc") or f.startswith("appstatus_"):
                continue
            paths.append(os.path.join(root, f))
    for p in sorted(paths):
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    try:
                        yield json.loads(line)
                    except json.JSONDecodeError:
                        continue  # a torn last line of an in-progress log


def _stage_table(events: Iterable[dict[str, Any]]) -> tuple[dict, dict]:
    stages: dict[tuple[int, int], dict[str, Any]] = {}
    jobs: dict[int, dict[str, Any]] = {}

    def stage(sid: int, att: int) -> dict[str, Any]:
        return stages.setdefault(
            (sid, att), {"group": None, "submit": None, "tasks": []}
        )

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            info = ev.get("Stage Info", {})
            st = stage(info.get("Stage ID"), info.get("Stage Attempt ID", 0))
            st["group"] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            st["submit"] = info.get("Submission Time")
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            ti = ev.get("Task Info") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            im = tm.get("Input Metrics") or {}
            om = tm.get("Output Metrics") or {}
            stage(ev.get("Stage ID"), ev.get("Stage Attempt ID", 0))["tasks"].append(
                {
                    "dur_ms": (ti.get("Finish Time") or 0) - (ti.get("Launch Time") or 0),
                    "run_ms": tm.get("Executor Run Time", 0),
                    "cpu_ns": tm.get("Executor CPU Time", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                    "in_rec": im.get("Records Read", 0),
                    "in_bytes": im.get("Bytes Read", 0),
                    "out_rec": om.get("Records Written", 0),
                    "out_bytes": om.get("Bytes Written", 0),
                }
            )
        elif kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                "start": ev.get("Submission Time"),
                "end": None,
                "stages": ev.get("Stage IDs", []),
            }
        elif kind == "SparkListenerJobEnd" and ev.get("Job ID") in jobs:
            jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
    return stages, jobs


def _owner(group: str | None, t_ms: float | None, spans: list[dict], by_group: dict) -> int | None:
    if group in by_group:
        return by_group[group]
    if t_ms is None:
        return None
    t = t_ms / 1000.0
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"]:
            # innermost: the latest-starting span that still holds t
            if best is None or s["start"] >= spans[best]["start"]:
                best = s["id"]
    return best


def fold_event_log(log_dir: str, spans: list[dict[str, Any]]) -> dict[int, dict[str, Any]]:
    """Per-span ``spark.*`` metrics, each span's figures INCLUDING its
    descendants'. Also per span: ``stage_task_ms`` (stage id -> task
    durations, for skew) of the stages it owns directly."""
    stages, jobs = _stage_table(read_events(log_dir))
    closed = [s for s in spans if s.get("end") is not None]
    by_group = {g: s["id"] for s in closed for g in s.get("groups", [s.get("group")])}
    own: dict[int, dict[str, Any]] = {
        s["id"]: {k: 0 for k in SPARK_KEYS} | {"stage_task_ms": {}, "job_iv": []}
        for s in closed
    }
    for (sid, att), st in stages.items():
        owner = _owner(st["group"], st["submit"], closed, by_group)
        if owner is None or not st["tasks"]:
            continue
        m = own[owner]
        m["stages"] += 1
        m["stage_task_ms"][f"{sid}.{att}"] = [t["dur_ms"] for t in st["tasks"]]
        for t in st["tasks"]:
            m["tasks"] += 1
            m["executor_run_s"] += t["run_ms"] / 1e3
            m["executor_cpu_s"] += t["cpu_ns"] / 1e9
            m["gc_s"] += t["gc_ms"] / 1e3
            m["shuffle_read_bytes"] += t["shuffle_read"]
            m["shuffle_write_bytes"] += t["shuffle_write"]
            m["spill_bytes"] += t["spill"]
            m["input_records"] += t["in_rec"]
            m["input_bytes"] += t["in_bytes"]
            m["output_records"] += t["out_rec"]
            m["output_bytes"] += t["out_bytes"]
    for job in jobs.values():
        owner = _owner(job["group"], job["start"], closed, by_group)
        if owner is None or job["end"] is None:
            continue
        own[owner]["jobs"] += 1
        own[owner]["job_iv"].append((job["start"] / 1e3, job["end"] / 1e3))

    def subtree(span_id: int) -> list[int]:
        out = [span_id]
        for s in closed:
            if s["parent"] == span_id:
                out.extend(subtree(s["id"]))
        return out

    result: dict[int, dict[str, Any]] = {}
    for s in closed:
        ids = subtree(s["id"])
        agg = {k: sum(own[i][k] for i in ids) for k in SPARK_KEYS if k != "driver_s"}
        ivs = [
            (max(a, s["start"]), min(b, s["end"]))
            for i in ids
            for a, b in own[i]["job_iv"]
        ]
        agg["driver_s"] = (s["end"] - s["start"]) - union_length(ivs)
        agg["stage_task_ms"] = own[s["id"]]["stage_task_ms"]
        result[s["id"]] = agg
    return result


def task_skew(stage_task_ms: dict[str, list[float]]) -> float:
    """max ÷ median task time in the stage with the most task time —
    in an as-of join that is the window (sort) stage the hot key
    funnels into. 1.0 means no skew; 0.0 means no tasks."""
    if not stage_task_ms:
        return 0.0
    heavy = max(stage_task_ms.values(), key=sum)
    med = statistics.median(heavy)
    return max(heavy) / med if med > 0 else float(len(heavy) > 0)


STREAM_KEYS = (
    "triggers",
    "add_batch_s",
    "planning_s",
    "commit_s",
    "state_rows_max",
    "state_bytes_max",
    "late_rows",
)


def fold_progress(progress: list[dict[str, Any]]) -> dict[str, float]:
    """Sum a query's per-trigger durations and peak its state size."""
    out = {k: 0.0 for k in STREAM_KEYS}
    for p in progress:
        d = p.get("durationMs") or {}
        out["triggers"] += 1
        out["add_batch_s"] += d.get("addBatch", 0) / 1e3
        out["planning_s"] += (d.get("getBatch", 0) + d.get("queryPlanning", 0)) / 1e3
        out["commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
        for op in p.get("stateOperators") or []:
            out["state_rows_max"] = max(out["state_rows_max"], op.get("numRowsTotal", 0))
            out["state_bytes_max"] = max(out["state_bytes_max"], op.get("memoryUsedBytes", 0))
            out["late_rows"] += op.get("numRowsDroppedByWatermark", 0)
    return out


def trigger_latencies(progress: list[dict[str, Any]]) -> list[float]:
    """Seconds per trigger that processed input (one micro-batch each)."""
    return [
        (p.get("durationMs") or {}).get("triggerExecution", 0) / 1e3
        for p in progress
        if (p.get("numInputRows") or 0) > 0
    ]
