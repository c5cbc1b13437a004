"""Per-job timeline of one resumed crawl call, from a Spark event log.

    python3 scripts/wave_timeline.py --pages PAGES_PARQUET [--seeds 300]
        [--seed 9001] [--warm 1]

The call is the one ``scripts/py4j_calls.py`` counts (the shape of the
benchmark's ``crawl_polite`` workload: wave 0 runs once into a warehouse,
each call resumes a copy of it; ``--warm`` calls run first and are not
reported). The session writes an event log into a temporary directory,
which is read after the session stops and then deleted. The script prints:

* one line per job of the reported call: its start (s after the call
  started), its duration, its tasks and a label (the SQL execution it ran
  for and that execution's top operator, or the table it wrote);
* the jobs and tasks of the call, its wall time, the union of the job
  intervals, and the driver-only time: wall time minus that union, the time
  in which no job of the call was running.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import py4j_calls  # noqa: E402  (sets PYTHONPATH and sys.path for the package)


def read_events(log_dir: str) -> list[dict]:
    """The events of the one application log in ``log_dir``."""
    (name,) = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    path = os.path.join(log_dir, name)
    parts = [path]
    if os.path.isdir(path):  # a rolling log: eventlog_v2_*/events_<n>_*
        parts = sorted(
            (os.path.join(path, f) for f in os.listdir(path) if f.startswith("events_")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
    events = []
    for part in parts:
        with open(part) as f:
            events.extend(json.loads(line) for line in f)
    return events


def _execution_label(plan: str) -> str:
    """A short name for a SQL execution, from its physical plan text."""
    # the formatted plan names the target path in the write command's
    # Arguments line, after the node list
    cmd = plan.rfind("InsertIntoHadoopFsRelationCommand")
    write = re.compile(r"Arguments: \S*/([^/\s,]+)/(wave=\d+)").search(plan, max(cmd, 0))
    if cmd >= 0 and write:
        return f"write {write.group(1)}/{write.group(2)}"
    for line in plan.splitlines()[1:]:
        op = line.strip(" +-:*").split(" ", 1)[0]
        if op and op not in ("AdaptiveSparkPlan", "==", "Physical"):
            return op
    return "?"


def job_timeline(events: list[dict], start: float, end: float) -> list[dict]:
    """The jobs submitted in [start, end] (epoch seconds), in start order."""
    labels: dict[int, str] = {}
    jobs: dict[int, dict] = {}
    stage_tasks: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart"):
            labels[ev["executionId"]] = _execution_label(ev.get("physicalPlanDescription", ""))
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.root.id") or props.get(
                "spark.sql.execution.id"
            )
            jobs[ev["Job ID"]] = {
                "job": ev["Job ID"],
                "start": ev["Submission Time"] / 1000.0,
                "stages": ev["Stage IDs"],
                "execution": int(exec_id) if exec_id is not None else None,
            }
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            stage_tasks[ev["Stage ID"]] = stage_tasks.get(ev["Stage ID"], 0) + 1
    out = []
    for job in sorted(jobs.values(), key=lambda j: (j["start"], j["job"])):
        if not start <= job["start"] <= end:
            continue
        job["end"] = job.get("end", end)
        job["tasks"] = sum(stage_tasks.get(s, 0) for s in job["stages"])
        job["label"] = labels.get(job["execution"], "no SQL execution")
        out.append(job)
    return out


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of [a, b] intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--pages", required=True, help="pages corpus parquet")
    ap.add_argument("--seeds", type=int, default=300)
    ap.add_argument("--seed", type=int, default=9001, help="seed-url choice")
    ap.add_argument("--warm", type=int, default=1, help="unreported calls first")
    args = ap.parse_args(argv)

    from webcrawler_woc_spark.plans import crawl as crawl_mod
    from webcrawler_woc_spark.session import get_spark

    work = tempfile.mkdtemp(prefix="wave_timeline_")
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    spark = get_spark(app_name="wave-timeline", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
    })
    try:
        pages = spark.read.parquet(args.pages)
        seeds = py4j_calls.pick_seeds(pages, args.seeds, args.seed)
        cfg = py4j_calls.polite_config(seeds)
        snapshot = os.path.join(work, "wave0")
        py4j_calls.crawl_wave0(spark, pages, seeds, cfg, snapshot)
        for i in range(args.warm + 1):
            wh = py4j_calls.resumable_copy(spark, snapshot, os.path.join(work, f"call{i}"))
            t0 = time.time()
            crawl_mod.crawl(spark, wh, pages, seeds, cfg)
            t1 = time.time()
        spark.stop()  # flushes the event log
        jobs = job_timeline(read_events(log_dir), t0, t1)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    busy = interval_union([(j["start"], j["end"]) for j in jobs])
    wall = t1 - t0
    for j in jobs:
        print(
            f"job {j['job']:4d}  start {j['start'] - t0:6.3f}s  "
            f"dur {j['end'] - j['start']:6.3f}s  tasks {j['tasks']:3d}  "
            f"exec {j['execution']}  {j['label']}"
        )
    print(json.dumps({
        "jobs": len(jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "wall_s": round(wall, 3),
        "jobs_union_s": round(busy, 3),
        "driver_only_s": round(wall - busy, 3),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
