"""Spark event-log parser: attribute jobs, tasks, executor run and CPU
time, GC, shuffle bytes and spill to the job group that ran them.

A stage belongs to the group named in its StageSubmitted properties
(falling back to the first job that listed it). Python-worker wait is
executor run time minus CPU time: for a pandas UDF stage the JVM task
thread sits idle while the Python worker computes.

`read_and_remove` parses every log under a directory and then deletes
the directory, so repeated runs leave no logs behind.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import defaultdict
from dataclasses import dataclass

_MB = 1024.0 * 1024.0


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0

    @property
    def python_wait_s(self) -> float:
        return max(0.0, self.run_s - self.cpu_s)


def _group(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def parse_lines(lines) -> dict[str, GroupStats]:
    """Event-log JSON lines → {job group: stats}. Jobs and tasks outside
    any group are filed under the empty string."""
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = _group(ev.get("Properties")) or ""
            stats[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            group = _group(ev.get("Properties"))
            if group is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            s = stats[stage_group.get(ev["Stage ID"], "")]
            s.tasks += 1
            s.run_s += m.get("Executor Run Time", 0) / 1e3
            s.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            s.gc_s += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            s.shuffle_read_mb += (rd.get("Remote Bytes Read", 0)
                                  + rd.get("Local Bytes Read", 0)) / _MB
            wr = m.get("Shuffle Write Metrics") or {}
            s.shuffle_write_mb += wr.get("Shuffle Bytes Written", 0) / _MB
            s.spill_mb += (m.get("Memory Bytes Spilled", 0)
                           + m.get("Disk Bytes Spilled", 0)) / _MB
    return dict(stats)


def parse_dir(ev_dir: str) -> dict[str, GroupStats]:
    """Merge the stats of every event log under ev_dir."""
    merged: dict[str, GroupStats] = defaultdict(GroupStats)
    for name in sorted(os.listdir(ev_dir)):
        with open(os.path.join(ev_dir, name), encoding="utf-8") as fh:
            for group, s in parse_lines(fh).items():
                t = merged[group]
                for field in GroupStats.__dataclass_fields__:
                    setattr(t, field, getattr(t, field) + getattr(s, field))
    return dict(merged)


def read_and_remove(ev_dir: str) -> dict[str, GroupStats]:
    try:
        return parse_dir(ev_dir)
    finally:
        shutil.rmtree(ev_dir, ignore_errors=True)
