"""Offline roll-up of a Spark JSON event log by job group.

The traced run tags every layer call with ``setJobGroup(<layer span>)``.
Each ``SparkListenerJobStart`` carries that group in its properties and
lists its stage ids; each ``SparkListenerTaskEnd`` names its stage. This
module joins the two and sums task metrics per group.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass
class GroupMetrics:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    cpu_s: float = 0.0          # executor CPU time (JVM threads)
    run_s: float = 0.0          # executor run time
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0        # memory + disk bytes spilled
    job_intervals: list[tuple[float, float]] = field(default_factory=list)

    @property
    def shuffle_bytes(self) -> int:
        return self.shuffle_read_bytes + self.shuffle_write_bytes

    def add(self, other: GroupMetrics) -> None:
        for k in ("jobs", "tasks", "failed_tasks", "cpu_s", "run_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.job_intervals += other.job_intervals


def rollup(lines) -> dict[str, GroupMetrics]:
    """Event-log lines (an open file or a list of JSON strings) → metrics
    per job group. Jobs without a group land under ``""``."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    out: dict[str, GroupMetrics] = {}
    for line in lines:
        e = json.loads(line)
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_group[e["Job ID"]] = g
            job_submit[e["Job ID"]] = e["Submission Time"] / 1000.0
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = g
            out.setdefault(g, GroupMetrics()).jobs += 1
        elif ev == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_group:
                out[job_group[jid]].job_intervals.append(
                    (job_submit[jid], e["Completion Time"] / 1000.0)
                )
        elif ev == "SparkListenerTaskEnd":
            m = out.setdefault(stage_group.get(e["Stage ID"], ""), GroupMetrics())
            m.tasks += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                m.failed_tasks += 1
            tm = e.get("Task Metrics") or {}
            m.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            m.run_s += tm.get("Executor Run Time", 0) / 1e3
            m.gc_s += tm.get("JVM GC Time", 0) / 1e3
            m.spill_bytes += (tm.get("Memory Bytes Spilled", 0)
                              + tm.get("Disk Bytes Spilled", 0))
            sr = tm.get("Shuffle Read Metrics") or {}
            m.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0))
            sw = tm.get("Shuffle Write Metrics") or {}
            m.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    return out


def by_layer(groups: dict[str, GroupMetrics]) -> dict[str, GroupMetrics]:
    """Merge groups into layers (group name up to its first '.')."""
    out: dict[str, GroupMetrics] = {}
    for g, m in groups.items():
        out.setdefault(g.split(".", 1)[0], GroupMetrics()).add(m)
    return out


def read_rollup(path: str) -> dict[str, GroupMetrics]:
    with open(path) as f:
        return rollup(f)
