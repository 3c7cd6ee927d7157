"""Reader for Spark's JSON-lines event log (uncompressed, one file).

Collects what the per-layer report needs: per job its group, submission
time and stages; per stage the summed task metrics.  Jobs are later
attributed to operations, hops and queries by ``attribute``.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

TASK_FIELDS = ("tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write", "spill")


@dataclass
class Job:
    job_id: int
    group: str
    submit_ms: int
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: list[Job]
    stage_metrics: dict[int, dict[str, int]]  # stage id → TASK_FIELDS sums

    def job_totals(self, job: Job) -> dict[str, int]:
        out = dict.fromkeys(TASK_FIELDS, 0)
        for sid in job.stages:
            for k, v in self.stage_metrics.get(sid, {}).items():
                out[k] += v
        return out


def parse_event_log(path: str) -> EventLog:
    jobs: list[Job] = []
    stages: dict[int, dict[str, int]] = defaultdict(lambda: dict.fromkeys(TASK_FIELDS, 0))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs.append(Job(
                    job_id=ev["Job ID"],
                    group=props.get("spark.jobGroup.id") or "",
                    submit_ms=ev.get("Submission Time", 0),
                    stages=list(ev.get("Stage IDs", [])),
                ))
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                s = stages[ev["Stage ID"]]
                s["tasks"] += 1
                s["run_ms"] += m.get("Executor Run Time", 0)
                s["cpu_ns"] += m.get("Executor CPU Time", 0)
                s["gc_ms"] += m.get("JVM GC Time", 0)
                s["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                s["spill"] += m.get("Disk Bytes Spilled", 0)
    # a stage can be listed by several jobs (skipped, reused shuffle
    # stages); its tasks ran once, so only its first job owns them
    owned: set[int] = set()
    for job in jobs:
        job.stages = [s for s in job.stages if s not in owned]
        owned.update(job.stages)
    return EventLog(jobs, dict(stages))


def attribute(log: EventLog, windows: list[tuple[str, float, float]]) -> dict[str, list[Job]]:
    """Jobs per window label.  A job whose group is a window label goes
    there; any other job (streaming micro-batch jobs carry their
    stream's own group) goes to the innermost window its submission
    time falls in.  ``windows`` are ``(label, start_s, end_s)`` wall
    times; jobs outside all of them are dropped."""
    labels = {w[0] for w in windows}
    out: dict[str, list[Job]] = defaultdict(list)
    for job in log.jobs:
        if job.group in labels:
            out[job.group].append(job)
            continue
        t = job.submit_ms / 1000.0
        hits = [w for w in windows if w[1] <= t <= w[2]]
        if hits:
            out[min(hits, key=lambda w: w[2] - w[1])[0]].append(job)
    return out
