"""Spark engine counts per operation window, read from Spark event logs.

Each log file is one application; task and job events are attributed to a
window of the benchmark's own wall clock (epoch milliseconds) by their
launch / submission time, log by log, so stage ids — which restart at 0 in
every application — are never used as keys across logs."""

from __future__ import annotations

import json
import os

FIELDS = (
    "jobs",
    "tasks",
    "task_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "task_failures",
    "driver_idle_s",
)


def _app_files(log_dir: str) -> list[list[str]]:
    """Uncompressed event-log files grouped by application: a rolling log is
    a directory of ``events_<n>_<app>`` parts, a plain log a single file."""
    apps = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            apps.append([os.path.join(path, p) for p in parts])
        elif not name.startswith("."):
            apps.append([path])
    return apps


def _events(paths: list[str]):
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                if ev["Event"] in ("SparkListenerTaskEnd", "SparkListenerJobStart"):
                    yield ev


def window_counts(log_dir: str, windows: list[tuple[float, float]]) -> list[dict[str, float]]:
    """One dict of :data:`FIELDS` per ``(start_s, end_s)`` window (epoch
    seconds). ``driver_idle_s`` is the part of the window in which no task
    ran anywhere."""
    out = [dict.fromkeys(FIELDS, 0.0) for _ in windows]
    spans: list[list[tuple[float, float]]] = [[] for _ in windows]
    bounds = [(a * 1000.0, b * 1000.0) for a, b in windows]

    def which(ms: float) -> int | None:
        for i, (a, b) in enumerate(bounds):
            if a <= ms <= b:
                return i
        return None

    for app in _app_files(log_dir):
        for ev in _events(app):
            if ev["Event"] == "SparkListenerJobStart":
                i = which(ev["Submission Time"])
                if i is not None:
                    out[i]["jobs"] += 1
                continue
            info = ev["Task Info"]
            i = which(info["Launch Time"])
            if i is None:
                continue
            w = out[i]
            w["tasks"] += 1
            if info.get("Failed") or ev["Task End Reason"]["Reason"] != "Success":
                w["task_failures"] += 1
            m = ev.get("Task Metrics") or {}
            w["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            w["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics", {})
            w["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 2**20
            w["shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            ) / 2**20
            w["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 2**20
            spans[i].append((info["Launch Time"], info["Finish Time"]))
    for (a, b), w, sp in zip(bounds, out, spans):
        busy, cur_a, cur_b = 0.0, None, None
        for s, e in sorted(sp):
            s, e = max(s, a), min(e, b)
            if cur_b is None or s > cur_b:
                if cur_b is not None:
                    busy += cur_b - cur_a
                cur_a, cur_b = s, e
            else:
                cur_b = max(cur_b, e)
        if cur_b is not None:
            busy += cur_b - cur_a
        w["driver_idle_s"] = max(b - a - busy, 0.0) / 1000.0
    return out
