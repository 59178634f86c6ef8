"""Per-job-group task counters from an uncompressed Spark event log.

The traced run sets ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false``; each span runs its calls under a job
group of its own.  ``SparkListenerJobStart`` names the job group (in its
``Properties``) and the stages of the job; every ``SparkListenerTaskEnd``
carries the task's metrics.  Summing task metrics per stage and stages per
group gives the counters below, with no listener jar.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Counters:
    jobs: int = 0
    run_ms: int = 0          # executorRunTime
    cpu_ns: int = 0          # executorCpuTime (JVM task threads only)
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0     # memory + disk bytes spilled
    records_out: int = 0     # output records written
    bytes_out: int = 0       # output bytes written
    # per stage: executorRunTime of each finished task, for skew ratios
    stage_tasks: dict[int, list[int]] = field(default_factory=dict)
    stage_records_out: dict[int, int] = field(default_factory=dict)

    def add(self, other: "Counters") -> None:
        for name in ("jobs", "run_ms", "cpu_ns", "gc_ms", "shuffle_read_bytes",
                     "shuffle_write_bytes", "spill_bytes", "records_out", "bytes_out"):
            setattr(self, name, getattr(self, name) + getattr(other, name))
        self.stage_tasks.update(other.stage_tasks)
        self.stage_records_out.update(other.stage_records_out)

    @property
    def shuffle_bytes(self) -> int:
        return self.shuffle_read_bytes + self.shuffle_write_bytes


def _task_counters(metrics: dict) -> Counters:
    read = metrics.get("Shuffle Read Metrics") or {}
    write = metrics.get("Shuffle Write Metrics") or {}
    out = metrics.get("Output Metrics") or {}
    return Counters(
        run_ms=int(metrics.get("Executor Run Time", 0)),
        cpu_ns=int(metrics.get("Executor CPU Time", 0)),
        gc_ms=int(metrics.get("JVM GC Time", 0)),
        shuffle_read_bytes=int(read.get("Remote Bytes Read", 0)) + int(read.get("Local Bytes Read", 0)),
        shuffle_write_bytes=int(write.get("Shuffle Bytes Written", 0)),
        spill_bytes=int(metrics.get("Memory Bytes Spilled", 0)) + int(metrics.get("Disk Bytes Spilled", 0)),
        records_out=int(out.get("Records Written", 0)),
        bytes_out=int(out.get("Bytes Written", 0)),
    )


def parse(lines) -> dict[str, Counters]:
    """Counters per job group from the event log's JSON lines.  Jobs run
    outside any group are collected under ``""``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, Counters] = {}
    stages: dict[int, Counters] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
            groups.setdefault(group, Counters()).jobs += 1
            for sid in ev.get("Stage IDs", ()):
                # a stage reused by a later job keeps the group that ran it
                stage_group.setdefault(int(sid), group)
        elif kind == "SparkListenerTaskEnd":
            sid = int(ev["Stage ID"])
            c = _task_counters(ev.get("Task Metrics") or {})
            s = stages.setdefault(sid, Counters())
            s.add(c)
            s.stage_tasks.setdefault(sid, []).append(c.run_ms)
            s.stage_records_out[sid] = s.stage_records_out.get(sid, 0) + c.records_out
    for sid, c in stages.items():
        groups.setdefault(stage_group.get(sid, ""), Counters()).add(c)
    return groups


def parse_file(path: str) -> dict[str, Counters]:
    with open(path, encoding="utf-8") as f:
        return parse(f)


def task_skew(c: Counters) -> float:
    """max / mean task run time of the stage that wrote the most output
    records (the table write stage); 0 when no stage wrote output."""
    if not c.stage_records_out or max(c.stage_records_out.values()) == 0:
        return 0.0
    sid = max(c.stage_records_out, key=c.stage_records_out.get)
    times = c.stage_tasks.get(sid) or []
    mean = sum(times) / len(times) if times else 0
    return max(times) / mean if mean else 0.0
