"""Spark event-log parsing and per-operation job attribution.

The traced run enables Spark's JSON event log in the run directory. After
the session stops, :func:`parse` reads it into jobs and tasks, and
:func:`per_op` attributes each job to the benchmark operation whose time
window contains the job's submission time. Windows are used instead of
job groups because the package submits some jobs from pool threads,
which do not inherit the caller's job group.
"""

from __future__ import annotations

import bisect
import json
from collections.abc import Iterable
from dataclasses import dataclass, field

from perfbench import stats


@dataclass
class Job:
    job_id: int
    submit_ms: int
    stage_ids: list[int]
    end_ms: int | None = None
    succeeded: bool = True


@dataclass
class Task:
    stage_id: int
    launch_ms: int
    finish_ms: int
    failed: bool
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    submitted_stages: list[int] = field(default_factory=list)
    stage_job: dict[int, int] = field(default_factory=dict)


def parse(lines: Iterable[str]) -> EventLog:
    """Jobs, tasks and submitted stages from event-log JSON lines.

    A stage id belongs to the first job that lists it: a later job that
    lists the same id reuses its shuffle output and skips it."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = Job(ev["Job ID"], ev["Submission Time"], list(ev.get("Stage IDs", [])))
            log.jobs[job.job_id] = job
            for sid in job.stage_ids:
                log.stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
                job.succeeded = ev.get("Job Result", {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerStageSubmitted":
            log.submitted_stages.append(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics", {})
            log.tasks.append(
                Task(
                    stage_id=ev["Stage ID"],
                    launch_ms=info.get("Launch Time", 0),
                    finish_ms=info.get("Finish Time", 0),
                    failed=bool(info.get("Failed", False)),
                    cpu_ns=m.get("Executor CPU Time", 0),
                    gc_ms=m.get("JVM GC Time", 0),
                    shuffle_write_bytes=m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                    shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    spill_bytes=m.get("Disk Bytes Spilled", 0),
                    output_bytes=m.get("Output Metrics", {}).get("Bytes Written", 0),
                )
            )
    return log


def attribute(jobs: Iterable[Job], windows: list[tuple[str, float, float]]) -> dict[int, str]:
    """``job_id → op_id`` for each job submitted inside an op window.

    ``windows`` are ``(op_id, start_ms, end_ms)`` of a closed loop, so
    they do not overlap; a job submitted between ops (set-up, checks)
    is left out."""
    ordered = sorted(windows, key=lambda w: w[1])
    starts = [w[1] for w in ordered]
    out = {}
    for job in jobs:
        i = bisect.bisect_right(starts, job.submit_ms) - 1
        if i >= 0 and job.submit_ms <= ordered[i][2]:
            out[job.job_id] = ordered[i][0]
    return out


def per_op(log: EventLog, windows: list[tuple[str, float, float]]) -> dict[str, dict]:
    """Spark work per op: job/stage/task counts, busy time and task
    metrics. ``job_s`` is the union of the op's job intervals clipped to
    the op window, so jobs that overlap are not counted twice."""
    owner = attribute(log.jobs.values(), windows)
    bounds = {op: (start, end) for op, start, end in windows}
    out: dict[str, dict] = {
        op: {
            "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0, "failed_jobs": 0,
            "job_intervals": [], "executor_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
            "output_bytes": 0, "task_s": [],
        }
        for op in bounds
    }
    for job_id, op in owner.items():
        job = log.jobs[job_id]
        rec = out[op]
        rec["jobs"] += 1
        rec["failed_jobs"] += not job.succeeded
        end = job.end_ms if job.end_ms is not None else bounds[op][1]
        span = stats.clip((job.submit_ms, end), bounds[op])
        if span:
            rec["job_intervals"].append(span)
    for sid in log.submitted_stages:
        op = owner.get(log.stage_job.get(sid, -1))
        if op is not None:
            out[op]["stages"] += 1
    for task in log.tasks:
        op = owner.get(log.stage_job.get(task.stage_id, -1))
        if op is None:
            continue
        rec = out[op]
        rec["tasks"] += 1
        rec["failed_tasks"] += task.failed
        rec["executor_cpu_s"] += task.cpu_ns / 1e9
        rec["gc_s"] += task.gc_ms / 1e3
        rec["shuffle_write_bytes"] += task.shuffle_write_bytes
        rec["shuffle_read_bytes"] += task.shuffle_read_bytes
        rec["spill_bytes"] += task.spill_bytes
        rec["output_bytes"] += task.output_bytes
        rec["task_s"].append((task.finish_ms - task.launch_ms) / 1e3)
    for rec in out.values():
        rec["job_s"] = stats.union_length(rec.pop("job_intervals")) / 1e3
    return out
