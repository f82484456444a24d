"""Spark event-log reader for the traced run.

The traced run starts Spark with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false`` (Spark 4.1 compresses event logs with
zstd by default, and no zstd reader is installed), so the log is plain
JSON lines. The benchmark records its own spans (name, start, end in
epoch ms) around each layer call; every job, stage and task in the log is
attributed to the span whose window holds its submission or launch time.
Spans never overlap, because the benchmark calls layers one at a time.

For each span this gives jobs, stages, task CPU and run time, shuffle read
and write, spill, GC and the driver-only gap: the part of the span's wall
during which no job was running.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    t0_ms: float
    t1_ms: float

    @property
    def wall_s(self) -> float:
        return (self.t1_ms - self.t0_ms) / 1000.0


@dataclass
class Window:
    """Event-log totals over one span."""
    wall_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    busy_s: float = 0.0        # wall covered by at least one running job
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    @property
    def driver_gap_s(self) -> float:
        return max(0.0, self.wall_s - self.busy_s)


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)    # job id -> [submit, end]
    stages: list = field(default_factory=list)  # stage submission times
    tasks: list = field(default_factory=list)   # (launch ms, task metrics)


def log_files(log_dir: str) -> list[str]:
    """The event-log files of the single application under ``log_dir``:
    the rolling ``eventlog_v2_<app>/events_<n>_<app>`` parts in order (the
    Spark 4 default), or one plain file."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one application log in {log_dir}: "
                           f"{names}")
    path = os.path.join(log_dir, names[0])
    if os.path.isdir(path):
        parts = [n for n in os.listdir(path) if n.startswith("events_")]
        paths = [os.path.join(path, n) for n in
                 sorted(parts, key=lambda n: int(n.split("_")[1]))]
    else:
        paths = [path]
    for p in paths:
        if p.endswith((".zstd", ".lz4", ".snappy", ".lzf")):
            raise RuntimeError(f"compressed event log {p}: set "
                               "spark.eventLog.compress=false")
    return paths


_WANTED = tuple(f'{{"Event":"SparkListener{k}"' for k in
                ("JobStart", "JobEnd", "StageSubmitted", "TaskEnd"))


def read(log_dir: str) -> EventLog:
    log = EventLog()
    for path in log_files(log_dir):
        with open(path) as f:
            for line in f:
                if not line.startswith(_WANTED):
                    continue  # most lines are SQL and accumulator updates
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    log.jobs[ev["Job ID"]] = [ev["Submission Time"], None]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in log.jobs:
                        log.jobs[ev["Job ID"]][1] = ev["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    t = ev["Stage Info"].get("Submission Time")
                    if t is not None:
                        log.stages.append(t)
                else:
                    log.tasks.append((ev["Task Info"]["Launch Time"],
                                      ev.get("Task Metrics") or {}))
    return log


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def window(log: EventLog, span: Span) -> Window:
    lo, hi = span.t0_ms, span.t1_ms
    w = Window(wall_s=span.wall_s)
    runs = []
    for submit, end in log.jobs.values():
        if lo <= submit <= hi:
            w.jobs += 1
            runs.append((submit, min(end if end is not None else hi, hi)))
    w.busy_s = _union_ms(runs) / 1000.0
    w.stages = sum(1 for t in log.stages if lo <= t <= hi)
    mb = 1024.0 * 1024.0
    for launch, m in log.tasks:
        if not lo <= launch <= hi:
            continue
        w.task_run_s += m.get("Executor Run Time", 0) / 1000.0
        w.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
        w.gc_s += m.get("JVM GC Time", 0) / 1000.0
        w.spill_mb += m.get("Disk Bytes Spilled", 0) / mb
        sr = m.get("Shuffle Read Metrics") or {}
        w.shuffle_read_mb += (sr.get("Remote Bytes Read", 0)
                              + sr.get("Local Bytes Read", 0)) / mb
        sw = m.get("Shuffle Write Metrics") or {}
        w.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / mb
    return w
