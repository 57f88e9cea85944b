"""Spark event-log parsing: task metrics and job intervals per job group.

The traced run tags every layer call with its own Spark job group; this
module reads the JSON-lines event log the session wrote and sums, per
group, what the executors did (jobs, stages, tasks, executor CPU time,
shuffle bytes, spill) and when jobs were running.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
_MB = float(1 << 20)


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    #: (submission, completion) of each job, epoch seconds
    job_spans: list[tuple[float, float]] = field(default_factory=list)


def parse(lines) -> dict[str, GroupStats]:
    """Aggregate an event log (an iterable of JSON lines) by job group.
    Jobs and stages without a group are ignored."""
    groups: dict[str, GroupStats] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get(GROUP_KEY)
            if gid is None:
                continue
            jid = ev["Job ID"]
            job_group[jid] = gid
            job_start[jid] = ev["Submission Time"] / 1000.0
            groups.setdefault(gid, GroupStats()).jobs += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, gid)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                groups[job_group[jid]].job_spans.append(
                    (job_start[jid], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerStageSubmitted":
            gid = (ev.get("Properties") or {}).get(GROUP_KEY)
            if gid is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = gid
        elif kind == "SparkListenerStageCompleted":
            gid = stage_group.get(ev["Stage Info"]["Stage ID"])
            if gid is not None:
                groups.setdefault(gid, GroupStats()).stages += 1
        elif kind == "SparkListenerTaskEnd":
            gid = stage_group.get(ev["Stage ID"])
            if gid is None:
                continue
            g = groups.setdefault(gid, GroupStats())
            g.tasks += 1
            m = ev.get("Task Metrics") or {}
            g.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / _MB
            w = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_mb += w.get("Shuffle Bytes Written", 0) / _MB
            r = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_mb += (r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)) / _MB
    return groups


def busy_s(spans: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of the union of ``spans`` clipped to ``[start, end]``."""
    total, cursor = 0.0, start
    for a, b in sorted(spans):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            total += b - a
            cursor = b
    return total


def read(path: str) -> dict[str, GroupStats]:
    with open(path) as f:
        return parse(f)
