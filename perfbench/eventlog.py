"""Spark event-log reader (stdlib only).

Sums task metrics per job group. The traced server sets the job group of
every request to its request id, so a group here is one request.
"""

from __future__ import annotations

import json
from collections import defaultdict

PYTHON_IO_METRICS = ("data sent to Python workers", "data returned from Python workers")


def _new_group() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "input_rows": 0, "input_bytes": 0,
        "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0, "spill_bytes": 0, "python_bytes": 0,
        "job_wait_ms": [],
    }


def _num(v) -> int:
    return int(v) if v not in (None, "") else 0


def parse_event_log(lines, prefix: str = "") -> dict[str, dict]:
    """Per job group whose id starts with ``prefix``: jobs, completed stages,
    tasks and summed task metrics, plus each job's wait from submission to
    its first task launch. ``lines`` is any iterable of JSON lines."""
    groups: dict[str, dict] = defaultdict(_new_group)
    stage_job: dict[int, int] = {}
    job_group: dict[int, str] = {}
    submitted: dict[int, int] = {}
    first_launch: dict[int, int] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None or not group.startswith(prefix):
                continue
            job = ev["Job ID"]
            job_group[job] = group
            submitted[job] = ev["Submission Time"]
            groups[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, job)
        elif kind == "SparkListenerStageCompleted":
            job = stage_job.get(ev["Stage Info"]["Stage ID"])
            if job is not None:
                groups[job_group[job]]["stages"] += 1
        elif kind == "SparkListenerTaskStart":
            job = stage_job.get(ev["Stage ID"])
            if job is not None:
                t = ev["Task Info"]["Launch Time"]
                first_launch[job] = min(first_launch.get(job, t), t)
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(ev["Stage ID"])
            if job is None:
                continue
            g = groups[job_group[job]]
            m = ev.get("Task Metrics") or {}
            g["tasks"] += 1
            g["run_ms"] += _num(m.get("Executor Run Time"))
            g["cpu_ns"] += _num(m.get("Executor CPU Time"))
            g["gc_ms"] += _num(m.get("JVM GC Time"))
            g["spill_bytes"] += _num(m.get("Memory Bytes Spilled")) + _num(
                m.get("Disk Bytes Spilled")
            )
            inp = m.get("Input Metrics") or {}
            g["input_rows"] += _num(inp.get("Records Read"))
            g["input_bytes"] += _num(inp.get("Bytes Read"))
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += _num(sr.get("Remote Bytes Read")) + _num(
                sr.get("Local Bytes Read")
            )
            sw = m.get("Shuffle Write Metrics") or {}
            g["shuffle_write_bytes"] += _num(sw.get("Shuffle Bytes Written"))
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") in PYTHON_IO_METRICS:
                    g["python_bytes"] += _num(acc.get("Update"))
    for job, group in job_group.items():
        if job in first_launch:
            groups[group]["job_wait_ms"].append(first_launch[job] - submitted[job])
    return dict(groups)
