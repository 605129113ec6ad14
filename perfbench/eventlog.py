"""Spark event-log summary for the traced run: jobs, the time at least
one job was running, the gaps between jobs, and executor task time,
restricted to a wall-clock window (the measured region)."""

from __future__ import annotations

import json
import os


def _log_lines(evdir: str):
    for entry in sorted(os.listdir(evdir)):
        path = os.path.join(evdir, entry)
        # rolling logs are a directory of events_* parts
        parts = (
            sorted(os.path.join(path, p) for p in os.listdir(path) if p.startswith("events_"))
            if os.path.isdir(path)
            else [path]
        )
        for p in parts:
            with open(p) as f:
                yield from f


def summarize(evdir: str, t0_ms: float, t1_ms: float) -> dict:
    starts: dict[int, float] = {}
    jobs: list[tuple[float, float]] = []
    task_ms = 0.0
    for line in _log_lines(evdir):
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            starts[ev["Job ID"]] = ev["Submission Time"]
        elif kind == "SparkListenerJobEnd":
            st = starts.pop(ev["Job ID"], None)
            if st is not None and t0_ms <= st <= t1_ms:
                jobs.append((st, ev["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            if t0_ms <= (info.get("Launch Time") or 0) <= t1_ms:
                task_ms += (ev.get("Task Metrics") or {}).get("Executor Run Time", 0) or 0
    busy = 0.0
    end = float("-inf")
    for s, e in sorted(jobs):
        if s > end:
            busy += e - s
            end = e
        elif e > end:
            busy += e - end
            end = e
    window = (t1_ms - t0_ms) / 1000.0
    return {
        "spark.jobs": len(jobs),
        "spark.job_busy_s": busy / 1000.0,
        "spark.job_gap_s": max(window - busy / 1000.0, 0.0),
        "spark.task_s": task_ms / 1000.0,
    }
