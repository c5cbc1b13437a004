"""Spark event-log reader: per-span job, stage, task and task-metric totals.

A job belongs to a span when it was submitted inside the span's interval;
its stages are those actually submitted (skipped stages ran no tasks).
"""

from __future__ import annotations

import json
import os


class EventLog:
    def __init__(self, lines):
        self.jobs: dict[int, tuple[float, list[int]]] = {}
        self.submitted: set[int] = set()
        self.tasks: dict[int, list[dict]] = {}
        for line in lines:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                self.jobs[ev["Job ID"]] = (ev["Submission Time"] / 1000.0, ev["Stage IDs"])
            elif kind == "SparkListenerStageSubmitted":
                self.submitted.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                self.tasks.setdefault(ev["Stage ID"], []).append(self._task(ev))

    @staticmethod
    def _task(ev: dict) -> dict:
        info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
        read = tm.get("Shuffle Read Metrics") or {}
        write = tm.get("Shuffle Write Metrics") or {}
        return {
            "task_s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
            "task_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
            "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
            "spill_bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
            "shuffle_read_bytes": read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0),
            "shuffle_write_bytes": write.get("Shuffle Bytes Written", 0),
        }

    def window(self, start: float, end: float) -> dict:
        """Totals over the jobs submitted in [start, end]."""
        jobs = [stages for t, stages in self.jobs.values() if start <= t <= end]
        stages = {s for st in jobs for s in st if s in self.submitted}
        tasks = [t for s in stages for t in self.tasks.get(s, [])]
        out = {"jobs": len(jobs), "stages": len(stages), "tasks": len(tasks)}
        for key in ("task_s", "task_cpu_s", "gc_s", "spill_bytes", "shuffle_read_bytes",
                    "shuffle_write_bytes"):
            out[key] = sum(t[key] for t in tasks)
        return out


def read(directory: str) -> EventLog:
    """The one application log the traced session wrote into ``directory``
    (a plain file, or an ``eventlog_v2_*`` directory of numbered parts)."""
    (name,) = [f for f in os.listdir(directory) if not f.startswith(".")]
    path = os.path.join(directory, name)
    parts = [path]
    if os.path.isdir(path):
        parts = sorted(
            (os.path.join(path, f) for f in os.listdir(path) if f.startswith("events_")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )

    def lines():
        for part in parts:
            with open(part) as f:
                yield from f

    return EventLog(lines())
