"""Reader for Spark's JSON event log (traced runs only).

The traced run starts Spark with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false`` (Spark 4 defaults to zstd, which the
standard library cannot read).  Each job is attributed to the innermost
span whose [start, end] holds the job's submission time; its tasks'
metrics are summed into the ``spark.*`` counters of that span.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

COUNTERS = ("jobs", "tasks", "failed_tasks", "executor_cpu_s",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "input_bytes", "output_bytes")


@dataclass
class Job:
    job_id: int
    submitted_s: float
    stages: list[int]
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))


def _task_counters(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    failed = bool(info.get("Failed")) or (
        (ev.get("Task End Reason") or {}).get("Reason", "Success")
        != "Success")
    return {
        "tasks": 1,
        "failed_tasks": int(failed),
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0)
        + m.get("Disk Bytes Spilled", 0),
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output_bytes": (m.get("Output Metrics") or {}).get(
            "Bytes Written", 0),
    }


def read_jobs(lines) -> list[Job]:
    """Jobs in submission order with their tasks' summed counters.  A
    stage listed by several jobs (reused shuffle) is charged to the
    first job that listed it, which is the one that ran its tasks."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = Job(ev["Job ID"], ev["Submission Time"] / 1000.0,
                      list(ev.get("Stage IDs", [])))
            job.counters["jobs"] = 1
            jobs[job.job_id] = job
            for sid in job.stages:
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            if jid is None:
                continue
            for k, v in _task_counters(ev).items():
                jobs[jid].counters[k] += v
    return sorted(jobs.values(), key=lambda j: j.submitted_s)


def attribute(jobs: list[Job], spans: list) -> list[dict]:
    """Per span (same order as ``spans``, objects with start/end/parent):
    the counters of jobs submitted inside it and inside none of its
    descendants (``self``), and including descendants (``total``)."""
    empty = dict.fromkeys(COUNTERS, 0)
    own = [dict(empty) for _ in spans]
    for job in jobs:
        best, best_len = None, None
        for i, s in enumerate(spans):
            if s.end is None or not (s.start <= job.submitted_s <= s.end):
                continue
            if best is None or s.end - s.start < best_len:
                best, best_len = i, s.end - s.start
        if best is not None:
            for k, v in job.counters.items():
                own[best][k] += v
    total = [dict(c) for c in own]
    # children come after their parents: fold bottom-up
    for i in range(len(spans) - 1, -1, -1):
        p = spans[i].parent
        if p is not None:
            for k in COUNTERS:
                total[p][k] += total[i][k]
    return [{"self": o, "total": t} for o, t in zip(own, total)]


def totals(jobs: list[Job], lo: float, hi: float) -> dict:
    out = dict.fromkeys(COUNTERS, 0)
    for job in jobs:
        if lo <= job.submitted_s <= hi:
            for k, v in job.counters.items():
                out[k] += v
    return out
