"""Reader for Spark's JSON event log (one uncompressed file, as a session
with ``spark.eventLog.compress=false`` and rolling off leaves it).

The benchmark enables the log in its own session for traced runs and
turns it into per-job records: wall interval, job group, stages, tasks,
task run/CPU/GC/deserialize time, shuffle and spill bytes. Callers group
jobs by job group (query_mix) or by time window (streaming epochs) and
call :func:`summarize`, whose ``busy_s`` is the union of the job
intervals, so ``wall - busy_s`` is the driver gap: time in which no job
of the group was running.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable
from dataclasses import dataclass, field


@dataclass
class StageTotals:
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    deser_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0

    def add_task(self, m: dict) -> None:
        self.tasks += 1
        self.run_ms += m.get("Executor Run Time", 0)
        self.cpu_ns += m.get("Executor CPU Time", 0)
        self.gc_ms += m.get("JVM GC Time", 0)
        self.deser_ms += m.get("Executor Deserialize Time", 0)
        self.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
        sw = m.get("Shuffle Write Metrics") or {}
        self.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        self.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    # tasks of a stage, keyed by stage id (all attempts folded together)
    stages: dict[int, StageTotals]
    # the job a stage ran under: the lowest job id listing it (a later
    # job that reuses a shuffle lists the stage but skips it)
    stage_job: dict[int, int]


def log_file(path: str) -> str:
    """``path`` itself, or the one log file in the directory ``path``."""
    if os.path.isfile(path):
        return path
    names = [n for n in os.listdir(path) if not n.startswith(".")]
    if len(names) != 1:
        raise ValueError(f"expected one event log in {path}, found {names}")
    return os.path.join(path, names[0])


def parse(path: str) -> EventLog:
    """Jobs, per-stage task totals and the stage-to-job map of the log
    at ``path`` (the file, or the directory holding it)."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    stage_job: dict[int, int] = {}
    with open(log_file(path), encoding="utf-8") as fh:
        events = [json.loads(line) for line in fh if line.strip()]
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                job_id=ev["Job ID"],
                group=props.get("spark.jobGroup.id"),
                submit_ms=ev["Submission Time"],
                stage_ids=list(ev.get("Stage IDs") or []),
            )
            jobs[job.job_id] = job
            for sid in job.stage_ids:
                if sid not in stage_job or job.job_id < stage_job[sid]:
                    stage_job[sid] = job.job_id
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            metrics = ev.get("Task Metrics")
            if metrics:
                stages.setdefault(ev["Stage ID"], StageTotals()).add_task(metrics)
    return EventLog(jobs=jobs, stages=stages, stage_job=stage_job)


def union_s(intervals: Iterable[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals (same unit in/out)."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def job_interval_s(job: Job) -> tuple[float, float]:
    end = job.end_ms if job.end_ms is not None else job.submit_ms
    return job.submit_ms / 1000.0, end / 1000.0


def summarize(log: EventLog, jobs: Iterable[Job]) -> dict:
    """Totals over ``jobs``: counts, task time and bytes of the stages
    that ran under them, and ``busy_s`` (union of the job intervals)."""
    jobs = list(jobs)
    ids = {j.job_id for j in jobs}
    ran = [
        sid
        for sid, jid in log.stage_job.items()
        if jid in ids and sid in log.stages
    ]
    t = StageTotals()
    for sid in ran:
        s = log.stages[sid]
        for name in vars(t):
            setattr(t, name, getattr(t, name) + getattr(s, name))
    return {
        "jobs": len(jobs),
        "stages": len(ran),
        "tasks": t.tasks,
        "task_run_s": t.run_ms / 1000.0,
        "task_cpu_s": t.cpu_ns / 1e9,
        "gc_s": t.gc_ms / 1000.0,
        "deser_s": t.deser_ms / 1000.0,
        "shuffle_write_bytes": t.shuffle_write_bytes,
        "shuffle_read_bytes": t.shuffle_read_bytes,
        "spill_bytes": t.spill_bytes,
        "busy_s": union_s(job_interval_s(j) for j in jobs),
    }


def jobs_in_window(log: EventLog, start_s: float, end_s: float) -> list[Job]:
    """Jobs submitted inside [start_s, end_s] (epoch seconds)."""
    lo, hi = start_s * 1000.0, end_s * 1000.0
    return [j for j in log.jobs.values() if lo <= j.submit_ms <= hi]


def jobs_in_groups(log: EventLog, groups: Iterable[str]) -> list[Job]:
    wanted = set(groups)
    return [j for j in log.jobs.values() if j.group in wanted]
