"""Stdlib reader for an uncompressed, non-rolling Spark event log.

It keeps what the per-layer trace needs: each job's description (the
``setJobDescription`` of the thread that ran it), its stages and its wall
interval, and per stage the summed task metrics plus the SQL metrics that
tasks report by name (``data sent to Python workers`` and the like).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# task metrics kept per stage: summed name -> path in "Task Metrics"
_TASK_METRICS = {
    "executor_run_ms": ("Executor Run Time",),
    "executor_cpu_ns": ("Executor CPU Time",),
    "gc_ms": ("JVM GC Time",),
    "memory_spill_bytes": ("Memory Bytes Spilled",),
    "disk_spill_bytes": ("Disk Bytes Spilled",),
    "shuffle_write_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "shuffle_write_ns": ("Shuffle Write Metrics", "Shuffle Write Time"),
    "shuffle_read_records": ("Shuffle Read Metrics", "Total Records Read"),
    "input_bytes": ("Input Metrics", "Bytes Read"),
    "input_records": ("Input Metrics", "Records Read"),
    "output_bytes": ("Output Metrics", "Bytes Written"),
    "output_records": ("Output Metrics", "Records Written"),
}


@dataclass
class Stage:
    stage_id: int
    tasks: int = 0
    metrics: dict = field(default_factory=dict)  # summed _TASK_METRICS
    sql: dict = field(default_factory=dict)  # summed named SQL metrics
    task_shuffle_read_records: list = field(default_factory=list)


@dataclass
class Job:
    job_id: int
    description: str
    stage_ids: list
    start_ms: int
    end_ms: int = 0

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


@dataclass
class EventLog:
    jobs: dict  # job_id -> Job, in submission order
    stages: dict  # stage_id -> Stage (stages that ran at least one task)

    def jobs_where(self, pred) -> list:
        return [j for j in self.jobs.values() if pred(j.description)]

    def stages_of(self, jobs) -> list:
        ids = {s for j in jobs for s in j.stage_ids}
        return [self.stages[s] for s in sorted(ids) if s in self.stages]

    def total(self, jobs, key: str) -> float:
        """Sum of a task metric (``_TASK_METRICS`` key) or a named SQL
        metric over the stages of ``jobs``."""
        return sum(
            st.metrics.get(key, st.sql.get(key, 0))
            for st in self.stages_of(jobs)
        )


def _dig(d: dict, path: tuple):
    for k in path:
        d = d.get(k) if isinstance(d, dict) else None
    return d or 0


def read(path: str) -> EventLog:
    jobs: dict = {}
    stages: dict = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    job_id=ev["Job ID"],
                    description=props.get("spark.job.description") or "",
                    stage_ids=list(ev.get("Stage IDs", [])),
                    start_ms=ev["Submission Time"],
                )
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                if info.get("Failed") or info.get("Killed"):
                    continue
                st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
                st.tasks += 1
                tm = ev.get("Task Metrics") or {}
                for key, p in _TASK_METRICS.items():
                    st.metrics[key] = st.metrics.get(key, 0) + _dig(tm, p)
                st.task_shuffle_read_records.append(
                    _dig(tm, _TASK_METRICS["shuffle_read_records"])
                )
                for acc in info.get("Accumulables", []):
                    name = acc.get("Name", "")
                    if name.startswith("internal.") or acc.get("Metadata") != "sql":
                        continue
                    try:
                        val = int(acc.get("Update", 0))
                    except (TypeError, ValueError):
                        continue
                    st.sql[name] = st.sql.get(name, 0) + val
    return EventLog(jobs=jobs, stages=stages)
