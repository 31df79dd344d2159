"""Reader for Spark's JSON event log (written with
``spark.eventLog.compress=false``), folded per job group.

``fold`` sums task metrics over every job that ran under one
``(spark.jobGroup.id, spark.job.description)`` pair. The benchmark sets
the group to ``{workload}:{op}:{pass}`` and the description to the
phase (construct, plan, action). Stdlib only.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable, Iterator

COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "job_s", "task_s",
    "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_rows", "input_bytes",
)


def read_events(log_dir: str) -> Iterator[dict]:
    """Every event of every application log under ``log_dir``: one plain
    file per application, as written with
    ``spark.eventLog.rolling.enabled=false``."""
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def fold(events: Iterable[dict]) -> tuple[dict[tuple, dict], list[dict]]:
    """Return ``({(group, description): totals}, jobs)``.

    ``totals`` holds the ``COUNTERS`` (times in seconds) plus
    ``job_durations``; ``jobs`` lists each job as ``{id, group,
    description, start, end}`` with epoch-second times.
    """
    groups: dict[tuple, dict] = {}
    job_key: dict[int, tuple] = {}
    stage_key: dict[int, tuple] = {}
    jobs: dict[int, dict] = {}

    def totals(key: tuple) -> dict:
        if key not in groups:
            groups[key] = {c: 0 for c in COUNTERS} | {"job_durations": []}
        return groups[key]

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            key = (props.get("spark.jobGroup.id"), props.get("spark.job.description"))
            jid = ev["Job ID"]
            job_key[jid] = key
            jobs[jid] = {
                "id": jid, "group": key[0], "description": key[1],
                "start": ev["Submission Time"] / 1000, "end": None,
            }
            for sid in ev["Stage IDs"]:
                # a shuffle stage reused by a later job belongs to the first
                stage_key.setdefault(sid, key)
            totals(key)["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid not in jobs:
                continue
            job = jobs[jid]
            job["end"] = ev["Completion Time"] / 1000
            t = totals(job_key[jid])
            t["job_s"] += job["end"] - job["start"]
            t["job_durations"].append(job["end"] - job["start"])
        elif kind == "SparkListenerStageCompleted":
            key = stage_key.get(ev["Stage Info"]["Stage ID"])
            if key is not None:
                totals(key)["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev["Stage ID"])
            if key is None:
                continue
            t = totals(key)
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            t["tasks"] += 1
            t["failed_tasks"] += bool(info.get("Failed") or info.get("Killed"))
            t["task_s"] += (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000
            t["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
            t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1000
            rd = m.get("Shuffle Read Metrics") or {}
            t["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            wr = m.get("Shuffle Write Metrics") or {}
            t["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            inp = m.get("Input Metrics") or {}
            t["input_rows"] += inp.get("Records Read", 0)
            t["input_bytes"] += inp.get("Bytes Read", 0)
    return groups, sorted(jobs.values(), key=lambda j: j["id"])
