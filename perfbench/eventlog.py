"""Spark engine counters per operation, folded from the local event log.

A job belongs to the operation whose wall-clock window holds its
submission time (operations run one after another; jobs that the program
submits from helper threads carry no job group, so the window, not the
group, is the key).  The same rule assigns jobs to the spans inside an
operation.
"""

from __future__ import annotations

import glob
import json
import os

MB = 1024.0 * 1024.0


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(events_dir: str) -> tuple[list[dict], dict[tuple[int, int], dict]]:
    """Jobs (submit and end time in seconds, stage ids) and per-stage task
    aggregates from every event-log file under ``events_dir``.  Ids are
    unique per application only, so stages are keyed (file, stage id)."""
    jobs, stages = [], {}
    for app, path in enumerate(sorted(p for p in glob.glob(os.path.join(events_dir, "**"), recursive=True)
                                      if os.path.isfile(p))):
        app_jobs: dict[int, dict] = {}
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    app_jobs[ev["Job ID"]] = {
                        "submit": ev.get("Submission Time", 0) / 1000.0,
                        "end": None,
                        "stages": [(app, s) for s in ev.get("Stage IDs", [])],
                    }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in app_jobs:
                    app_jobs[ev["Job ID"]]["end"] = ev.get("Completion Time", 0) / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    st = stages.setdefault((app, info["Stage ID"]), _new_stage())
                    st["submit"] = _num(info.get("Submission Time")) / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault((app, info["Stage ID"]), _new_stage())
                    st["ran"] = True
                    st["submit"] = st["submit"] or _num(info.get("Submission Time")) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault((app, ev["Stage ID"]), _new_stage())
                    _fold_task(st, ev)
        jobs += [j for j in app_jobs.values() if j["end"] is not None]
    return jobs, stages


def _new_stage() -> dict:
    return {
        "submit": 0.0, "ran": False, "tasks": 0, "failed": 0, "run_s": 0.0,
        "launches": [], "shuffle_write": 0.0, "shuffle_read": 0.0, "spill": 0.0, "python": 0.0,
    }


def _fold_task(st: dict, ev: dict) -> None:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    st["tasks"] += 1
    st["failed"] += bool(info.get("Failed")) or ev.get("Task End Reason", {}).get("Reason", "Success") != "Success"
    st["launches"].append(_num(info.get("Launch Time")) / 1000.0)
    st["run_s"] += _num(m.get("Executor Run Time")) / 1000.0
    st["shuffle_write"] += _num((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
    r = m.get("Shuffle Read Metrics") or {}
    st["shuffle_read"] += _num(r.get("Remote Bytes Read")) + _num(r.get("Local Bytes Read"))
    st["spill"] += _num(m.get("Disk Bytes Spilled")) + _num(m.get("Memory Bytes Spilled"))
    for acc in info.get("Accumulables", []):
        if "python workers" in str(acc.get("Name", "")).lower():
            st["python"] += _num(acc.get("Update"))


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= cur:
            continue
        total += b - max(a, cur)
        cur = b
    return total


def fold(ops: list[dict], jobs: list[dict], stages: dict) -> None:
    """Add a ``spark`` block of engine counters to every operation record,
    and the job count of each of its spans."""
    for op in ops:
        lo, hi = op["start"], op["end"]
        mine = [j for j in jobs if lo <= j["submit"] <= hi]
        ran = [stages[s] for j in mine for s in j["stages"] if s in stages and stages[s]["ran"]]
        op["spark"] = {
            "jobs": len(mine),
            "stages": len(ran),
            "tasks": sum(s["tasks"] for s in ran),
            "failed_tasks": sum(s["failed"] for s in ran),
            "executor_run_s": sum(s["run_s"] for s in ran),
            "task_wait_s": sum(max(0.0, t - s["submit"]) for s in ran for t in s["launches"]),
            "driver_gap_s": (hi - lo) - _covered([(j["submit"], j["end"]) for j in mine], lo, hi),
            "shuffle_write_mb": sum(s["shuffle_write"] for s in ran) / MB,
            "shuffle_read_mb": sum(s["shuffle_read"] for s in ran) / MB,
            "spill_mb": sum(s["spill"] for s in ran) / MB,
            "python_mb": sum(s["python"] for s in ran) / MB,
        }
        op["span_jobs"] = {}
        for name, a, b in op["spans"]:
            n = sum(1 for j in mine if a <= j["submit"] <= b)
            op["span_jobs"][name] = op["span_jobs"].get(name, 0) + n
