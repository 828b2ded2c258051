"""Spark event-log parser: job, stage and task totals per labelled unit.

The traced run enables Spark's JSON event log (uncompressed, not
rolling). Each line is one listener event. This module folds the events
into one :class:`Work` record per unit of benchmark work:

- a query run, labelled by the job group the benchmark sets around it
  (``spark.jobGroup.id`` in the job's properties);
- a stream micro-batch, labelled by the time window the batch ran in,
  since the jobs a ``foreachBatch`` handler starts carry no batch id.

Tasks are attributed to the job that first listed their stage; a stage
that a later job reuses is skipped there and runs no tasks.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass
class Work:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0  # executor run time summed over tasks
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0  # memory + disk bytes spilled

    def add(self, other: "Work") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    stage_ids: list[int]
    work: Work = field(default_factory=Work)


def read_events(path: str):
    """Yield the events of one log file; a torn last line is skipped."""
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            try:
                yield json.loads(line)
            except json.JSONDecodeError:
                continue


def parse(events) -> list[Job]:
    """Fold listener events into jobs with their stages' task totals."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                job_id=ev["Job ID"],
                group=props.get("spark.jobGroup.id"),
                submit_ms=ev.get("Submission Time", 0),
                stage_ids=list(ev.get("Stage IDs", [])),
            )
            job.work.jobs = 1
            jobs[job.job_id] = job
            for sid in job.stage_ids:
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_job:
                jobs[stage_job[sid]].work.stages += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            if sid not in stage_job:
                continue
            w = jobs[stage_job[sid]].work
            w.tasks += 1
            m = ev.get("Task Metrics") or {}
            w.run_ms += m.get("Executor Run Time", 0)
            w.cpu_ms += m.get("Executor CPU Time", 0) / 1e6  # ns
            w.gc_ms += m.get("JVM GC Time", 0)
            w.spill_b += m.get("Memory Bytes Spilled", 0)
            w.spill_b += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            w.shuffle_read_b += sr.get("Remote Bytes Read", 0)
            w.shuffle_read_b += sr.get("Local Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            w.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def by_group(jobs: list[Job]) -> dict[str, Work]:
    """Total work per job group; jobs outside any group are dropped."""
    out: dict[str, Work] = {}
    for j in jobs:
        if j.group is not None:
            out.setdefault(j.group, Work()).add(j.work)
    return out


def by_window(
    jobs: list[Job], windows: dict[int, tuple[int, int]]
) -> dict[int, Work]:
    """Total work per window key, for jobs submitted in [start, end) ms."""
    out = {k: Work() for k in windows}
    for j in jobs:
        for k, (start, end) in windows.items():
            if start <= j.submit_ms < end:
                out[k].add(j.work)
                break
    return out
