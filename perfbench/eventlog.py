"""Fold a Spark event log into per-job-group layer totals.

Spark writes one JSON event per line. Tasks belong to stages, stages to
jobs, and every job carries the job group its submitting thread had set
(``SparkContext.setJobGroup``; a streaming query uses its ``runId``). The
benchmark sets one group per timed operation, so summing task metrics by
group charges each operation its executor time, shuffle bytes and spill.

PythonSQLMetrics reach the log as task accumulables named after the
metric; Spark creates the times as millisecond timing metrics and the
data volume as a byte size metric.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

MB = 1024 * 1024
# SQL accumulator name -> (layer field, scale from the raw value)
PYTHON_METRICS = {
    "time to run Python workers": ("python_worker_s", 1e-3),
    "time to start Python workers": ("python_boot_s", 1e-3),
    "data sent to Python workers": ("python_sent_mb", 1 / MB),
}


@dataclass
class GroupTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    python_worker_s: float = 0.0
    python_boot_s: float = 0.0
    python_sent_mb: float = 0.0
    spans: list[tuple[float, float]] = field(default_factory=list)

    def add(self, other: "GroupTotals") -> None:
        for name, value in vars(other).items():
            if name == "spans":
                self.spans.extend(value)
            else:
                setattr(self, name, getattr(self, name) + value)


@dataclass
class EventLog:
    groups: dict[str, GroupTotals]

    def total(self, keep=lambda group: True) -> GroupTotals:
        out = GroupTotals()
        for name, g in self.groups.items():
            if keep(name):
                out.add(g)
        return out


def parse(lines) -> EventLog:
    """Parse event-log lines (an open file or a list of strings)."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    job_start: dict[int, float] = {}
    groups: dict[str, GroupTotals] = defaultdict(GroupTotals)
    stages_seen: set[tuple[int, int]] = set()

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            job_group[jid] = props.get("spark.jobGroup.id") or ""
            job_start[jid] = ev["Submission Time"] / 1e3
            for sid in ev.get("Stage IDs", ()):
                stage_job[sid] = jid
            groups[job_group[jid]].jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_start:
                groups[job_group[jid]].spans.append(
                    (job_start[jid], ev["Completion Time"] / 1e3)
                )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            jid = stage_job.get(info["Stage ID"])
            if jid is not None and key not in stages_seen:
                stages_seen.add(key)
                groups[job_group[jid]].stages += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is None:
                continue
            g = groups[job_group[jid]]
            g.tasks += 1
            tm = ev.get("Task Metrics") or {}
            g.executor_run_s += tm.get("Executor Run Time", 0) / 1e3
            g.executor_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            g.gc_s += tm.get("JVM GC Time", 0) / 1e3
            g.spill_mb += (
                tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            ) / MB
            sr = tm.get("Shuffle Read Metrics") or {}
            g.shuffle_read_mb += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / MB
            sw = tm.get("Shuffle Write Metrics") or {}
            g.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                if acc.get("Name") in PYTHON_METRICS:
                    name, scale = PYTHON_METRICS[acc["Name"]]
                    value = float(acc.get("Update", 0)) * scale
                    setattr(g, name, getattr(g, name) + value)
    return EventLog(dict(groups))


def parse_file(path: str) -> EventLog:
    with open(path) as f:
        return parse(f)


def covered(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``spans``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in spans if b > lo and a < hi
    )
    total, end = 0.0, lo
    for a, b in clipped:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
