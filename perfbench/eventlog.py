"""Spark event-log counters, attributed to trace spans.

A traced run runs every span under ``setJobGroup(<span id>)``; the event
log's ``SparkListenerJobStart`` carries that group in its properties, and
each ``SparkListenerTaskEnd`` names its stage, so task metrics roll up
task → stage → job → span.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

COUNTERS = ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes",
            "cpu_ms", "run_ms", "records_read")


@dataclass
class GroupTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0  # shuffle bytes written
    spill_bytes: int = 0  # memory + disk bytes spilled
    cpu_ms: float = 0.0
    run_ms: float = 0.0
    records_read: int = 0  # input records (table scan rows)

    def add(self, other: "GroupTotals") -> None:
        for k in COUNTERS:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def log_file(event_dir: str) -> str:
    """The single-file event log that the run's one application wrote
    into ``event_dir``."""
    names = [n for n in os.listdir(event_dir)
             if not n.startswith(".") and not n.endswith(".crc")]
    if len(names) != 1:
        raise RuntimeError(f"want one event log in {event_dir}, found {names}")
    return os.path.join(event_dir, names[0])


def totals_by_group(path: str) -> dict[str, GroupTotals]:
    """Job group id → summed counters over every job in that group. Jobs
    run outside any group land under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupTotals] = {}
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                g = out.setdefault(group, GroupTotals())
                g.jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                out.setdefault(stage_group.get(sid, ""), GroupTotals()).stages += 1
            elif kind == "SparkListenerTaskEnd":
                g = out.setdefault(stage_group.get(ev.get("Stage ID"), ""), GroupTotals())
                g.tasks += 1
                m = ev.get("Task Metrics") or {}
                g.run_ms += m.get("Executor Run Time", 0)
                g.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
                g.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                g.records_read += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return out
