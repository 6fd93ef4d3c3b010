"""Spark event-log parsing: task metrics summed per stage, stages grouped
into jobs, jobs tagged with their job group and submission time.

The benchmark sets a job group around each operation it times (``batch-3``,
``lookup-7``, ``scan-0``, ``fold`` ...). Jobs the engine starts from its own
threads carry no group; ``jobs_in`` attributes them to the operation whose
span their submission time falls in.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

_TASK_FIELDS = {
    "run_ms": ("Executor Run Time",),
    "gc_ms": ("JVM GC Time",),
    "spill_disk": ("Disk Bytes Spilled",),
    "shuffle_write": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "input": ("Input Metrics", "Bytes Read"),
    "output": ("Output Metrics", "Bytes Written"),
}


@dataclass
class Stage:
    stage_id: int
    tasks: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    spill_disk: int = 0
    shuffle_write: int = 0
    input: int = 0
    output: int = 0

    @property
    def kind(self) -> str:
        """``write`` for a stage that writes files, ``map`` for one that
        only feeds a shuffle, ``result`` otherwise."""
        if self.output:
            return "write"
        return "map" if self.shuffle_write else "result"


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    stages: list[Stage] = field(default_factory=list)

    def total(self, attr: str, kind: str | None = None) -> int:
        return sum(getattr(s, attr) for s in self.stages
                   if kind is None or s.kind == kind)


def read_events(path: str) -> list[dict]:
    """Events of one application's (non-rolling) event log file."""
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def parse(events: list[dict]) -> list[Job]:
    """Jobs in submission order. A stage belongs to the first job that
    lists it (later jobs list reused stages as skipped); its tasks'
    metrics are summed, failed and killed attempts included."""
    jobs: list[Job] = []
    stages: dict[int, Stage] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(e["Job ID"], props.get("spark.jobGroup.id"),
                      int(e["Submission Time"]))
            jobs.append(job)
            for sid in e["Stage IDs"]:
                if sid not in stages:
                    stages[sid] = Stage(sid)
                    job.stages.append(stages[sid])
        elif kind == "SparkListenerTaskEnd":
            st = stages.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if st is None or m is None:
                continue
            st.tasks += 1
            for attr, path in _TASK_FIELDS.items():
                v = m
                for k in path:
                    v = v.get(k, 0) if isinstance(v, dict) else 0
                setattr(st, attr, getattr(st, attr) + int(v or 0))
    return jobs


def jobs_in(jobs: list[Job], group: str, start: float | None = None,
            end: float | None = None) -> list[Job]:
    """Jobs of ``group`` plus the ungrouped jobs submitted inside the
    [start, end] epoch-second span of that operation."""
    out = []
    for j in jobs:
        if j.group == group:
            out.append(j)
        elif (j.group is None and start is not None
              and start * 1000 <= j.submit_ms <= end * 1000):
            out.append(j)
    return out
