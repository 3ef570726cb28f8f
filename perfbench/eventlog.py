"""Fold a Spark event log (uncompressed, not rolled) into per-job-group stats.

Every job the traced benchmark launches carries the id of the innermost open
span as its job group (``spans.Tracer``), so each job, stage and task folds
onto exactly one span.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# SQL metric names of the Python-evaluation nodes (PySpark 4.1.2) and of the
# file scan.  All of these times are reported in milliseconds.
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_START = ("time to start Python workers", "time to initialize Python workers")
PY_RUN = "time to run Python workers"
SCAN_TIME = "scan time"


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_fetch_wait_s: float = 0.0
    py_bytes_sent: float = 0.0
    py_bytes_returned: float = 0.0
    py_start_s: float = 0.0
    py_run_s: float = 0.0
    scan_s: float = 0.0
    scan_bytes_read: float = 0.0

    def add(self, other: "GroupStats") -> None:
        for k in vars(self):
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class EventLog:
    groups: dict[str | None, GroupStats] = field(default_factory=dict)
    #: (group, start epoch s, end epoch s) per job
    jobs: list[tuple[str | None, float, float]] = field(default_factory=list)

    def stats(self, group_ids) -> GroupStats:
        total = GroupStats()
        for g in group_ids:
            if g in self.groups:
                total.add(self.groups[g])
        return total


def _num(value) -> float:
    try:
        return float(value)
    except (TypeError, ValueError):
        return 0.0


def fold(path: str) -> EventLog:
    log = EventLog()
    stage_group: dict[int, str | None] = {}
    job_group: dict[int, str | None] = {}
    job_start: dict[int, float] = {}

    def group(g):
        return log.groups.setdefault(g, GroupStats())

    with open(path, encoding="utf-8") as fh:
        for line in fh:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                job_group[e["Job ID"]] = g
                job_start[e["Job ID"]] = e["Submission Time"] / 1000.0
                group(g).jobs += 1
            elif kind == "SparkListenerJobEnd":
                jid = e["Job ID"]
                log.jobs.append(
                    (job_group.get(jid), job_start.get(jid, 0.0), e["Completion Time"] / 1000.0)
                )
            elif kind == "SparkListenerStageSubmitted":
                sid = e["Stage Info"]["Stage ID"]
                stage_group[sid] = (e.get("Properties") or {}).get("spark.jobGroup.id")
                group(stage_group[sid]).stages += 1
            elif kind == "SparkListenerTaskEnd":
                _fold_task(group(stage_group.get(e["Stage ID"])), e)
    return log


def _fold_task(g: GroupStats, e: dict) -> None:
    m = e.get("Task Metrics") or {}
    g.tasks += 1
    g.executor_run_s += _num(m.get("Executor Run Time")) / 1e3
    g.executor_cpu_s += _num(m.get("Executor CPU Time")) / 1e9
    g.gc_s += _num(m.get("JVM GC Time")) / 1e3
    g.shuffle_write_bytes += _num((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
    g.shuffle_fetch_wait_s += _num((m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time")) / 1e3
    scanned = False
    for acc in (e.get("Task Info") or {}).get("Accumulables") or []:
        name, update = acc.get("Name"), _num(acc.get("Update"))
        if name == PY_SENT:
            g.py_bytes_sent += update
        elif name == PY_RETURNED:
            g.py_bytes_returned += update
        elif name in PY_START:
            g.py_start_s += update / 1e3
        elif name == PY_RUN:
            g.py_run_s += update / 1e3
        elif name == SCAN_TIME:
            g.scan_s += update / 1e3
            scanned = True
    if scanned:
        g.scan_bytes_read += _num((m.get("Input Metrics") or {}).get("Bytes Read"))
