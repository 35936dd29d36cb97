"""Offline parser for a Spark event log written as plain JSON lines
(`spark.eventLog.compress=false`, `spark.eventLog.rolling.enabled=false`)."""

from __future__ import annotations

import json
import statistics
from collections.abc import Iterable

# SQL metrics (task accumulables) -> our key; times are in ms
_SQL = {
    "scan time": "scan_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
    "time to run Python workers": "python_run_ms",
}


def parse(lines: Iterable[str], job_group: str | None = None) -> dict:
    """Engine totals over the tasks of the jobs in `job_group` (every job
    when None): task and GC time, shuffle, spill, bytes to and from the
    Python workers, scan time, and the task skew of the longest stage
    (max over median task time, by summed task time)."""
    job_stages: dict[int, list[int]] = {}
    job_group_of: dict[int, str | None] = {}
    tasks: list[tuple[int, dict, list]] = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            job_stages[jid] = ev.get("Stage IDs", [])
            job_group_of[jid] = (ev.get("Properties") or {}).get(
                "spark.jobGroup.id"
            )
        elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
            tasks.append(
                (ev["Stage ID"], ev["Task Metrics"],
                 ev.get("Task Info", {}).get("Accumulables", []))
            )
    jobs = [j for j in job_stages if job_group is None or job_group_of[j] == job_group]
    stages = {s for j in jobs for s in job_stages[j]}
    out = {
        "jobs": len(jobs), "tasks": 0, "task_ms": 0, "gc_ms": 0,
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
        **{v: 0 for v in _SQL.values()},
    }
    run_ms_by_stage: dict[int, list[int]] = {}
    for stage, m, accs in tasks:
        if stage not in stages:
            continue
        out["tasks"] += 1
        run_ms = int(m.get("Executor Run Time", 0))
        run_ms_by_stage.setdefault(stage, []).append(run_ms)
        out["task_ms"] += run_ms
        out["gc_ms"] += int(m.get("JVM GC Time", 0))
        out["spill_bytes"] += int(m.get("Disk Bytes Spilled", 0))
        sw = m.get("Shuffle Write Metrics") or {}
        out["shuffle_write_bytes"] += int(sw.get("Shuffle Bytes Written", 0))
        sr = m.get("Shuffle Read Metrics") or {}
        out["shuffle_read_bytes"] += int(sr.get("Remote Bytes Read", 0)) + int(
            sr.get("Local Bytes Read", 0)
        )
        for a in accs:
            key = _SQL.get(a.get("Name"))
            if key is not None and a.get("Update") is not None:
                out[key] += int(a["Update"])
    skew = 0.0
    if run_ms_by_stage:
        longest = max(run_ms_by_stage.values(), key=sum)
        med = statistics.median(longest)
        skew = max(longest) / med if med else 0.0
    out["task_skew"] = skew
    return out


def parse_file(path: str, job_group: str | None = None) -> dict:
    with open(path) as f:
        return parse(f, job_group)
