"""Ledger of Spark's own event log, grouped by job group.

The traced run labels every call's jobs with ``setJobGroup(<span id>)`` and
writes Spark's JSON-lines event log into the benchmark's work directory. After
the session stops, this module reads the log back and sums, per job group:
jobs, executed stages, tasks, executor run/CPU/GC time, shuffle-write and
input bytes, spill, the bytes that crossed the Arrow/Python boundary of the
``mapInArrow`` kernels, and each task's run time (for skew). Nothing here
talks to Spark: it is plain JSON over a finished file, so it costs the timed
run nothing and can be tested against a recorded log.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

PYTHON_SENT = "data sent to Python workers"
PYTHON_RECEIVED = "data returned from Python workers"


@dataclass
class GroupLedger:
    """Counters of every job that ran under one job group."""

    jobs: int = 0
    stages: set = field(default_factory=set)
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    spill_bytes: int = 0
    python_bytes_sent: int = 0
    python_bytes_received: int = 0
    task_run_s: dict = field(default_factory=dict)  # stage id -> [task run s]

    def add(self, other: "GroupLedger") -> None:
        self.jobs += other.jobs
        self.stages |= other.stages
        self.tasks += other.tasks
        self.executor_run_s += other.executor_run_s
        self.executor_cpu_s += other.executor_cpu_s
        self.gc_s += other.gc_s
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.input_bytes += other.input_bytes
        self.spill_bytes += other.spill_bytes
        self.python_bytes_sent += other.python_bytes_sent
        self.python_bytes_received += other.python_bytes_received
        for sid, runs in other.task_run_s.items():
            self.task_run_s.setdefault(sid, []).extend(runs)


def event_files(log_dir: str) -> list[str]:
    """The event-log files under ``log_dir``: plain files, or the
    ``events_<n>_*`` parts of a rolling ``eventlog_v2_*`` directory in part
    order. In-progress files are included (a crashed run still leaves
    counts)."""
    out: list[str] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "events_*"))
            out.extend(sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1])))
        elif os.path.isfile(path):
            out.append(path)
    return out


def read_events(paths: list[str]) -> list[dict]:
    events: list[dict] = []
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _acc(task_info: dict, name: str) -> int:
    for a in task_info.get("Accumulables", ()):
        if a.get("Name") == name:
            return int(a.get("Update") or 0)
    return 0


def ledger(events: list[dict]) -> dict[str, GroupLedger]:
    """Job-group id -> GroupLedger. Jobs run outside any group land under
    the key ``""``. A stage counts for the first job that lists it (a stage
    reused by a later job is skipped there and runs no tasks)."""
    groups: dict[str, GroupLedger] = {}
    stage_group: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            groups.setdefault(gid, GroupLedger()).jobs += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, gid)
        elif kind == "SparkListenerTaskEnd":
            gid = stage_group.get(ev.get("Stage ID"), "")
            g = groups.setdefault(gid, GroupLedger())
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            g.tasks += 1
            g.stages.add(ev.get("Stage ID"))
            run_s = m.get("Executor Run Time", 0) / 1e3
            g.executor_run_s += run_s
            g.task_run_s.setdefault(ev.get("Stage ID"), []).append(run_s)
            g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1e3
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            g.python_bytes_sent += _acc(info, PYTHON_SENT)
            g.python_bytes_received += _acc(info, PYTHON_RECEIVED)
    return groups


def read_ledger(log_dir: str) -> dict[str, GroupLedger]:
    return ledger(read_events(event_files(log_dir)))


def task_skew(task_run_s: dict[int, list[float]]) -> float:
    """Max over median task run time within the stage that ran longest in
    total (1.0 for perfectly even tasks; 0 when no task ran)."""
    if not task_run_s:
        return 0.0
    xs = sorted(max(task_run_s.values(), key=sum))
    mid = len(xs) // 2
    median = xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2
    return xs[-1] / median if median > 0 else 0.0
