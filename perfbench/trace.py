"""Spans recorded by the benchmark around its calls into each layer.

A span is (id, parent, name, op, start, end); names read
``<layer>.<function>``, e.g. ``sketch.build.build_group_slices``. Spans are
kept in memory and written out once, when the run ends. Timing always goes
through a span, so the untraced and the traced run share one code path; the
traced run additionally labels the Spark jobs started inside a span with
``setJobGroup(<span id>)`` (innermost span wins), which is how the event-log
ledger attributes jobs, tasks and bytes to spans afterwards.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    op: int | None
    start: float
    end: float = 0.0
    cpu: float = 0.0  # CPU seconds the process tree used during the span

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - covered(s.start, s.end, kids.get(s.id, [])) for s in spans}


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (parent pid, user+system CPU seconds of it and its reaped
    children) for every live process."""
    tick = os.sysconf("SC_CLK_TCK")
    out: dict[int, tuple[int, float]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            out[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]) / tick)
    return out


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``."""
    parent = {pid: ppid for pid, (ppid, _) in _proc_table().items()}
    out, frontier = [], {root}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier}
        out.extend(frontier)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (default: this process) and every
    live process below it: the Spark JVM and its Python workers. Unlike wall
    time it leaves out CPU steal on a shared host."""
    root = os.getpid() if root is None else root
    table = _proc_table()
    total, frontier = table.get(root, (0, 0.0))[1], {root}
    while frontier:
        frontier = {p for p, (pp, _) in table.items() if pp in frontier}
        total += sum(table[p][1] for p in frontier)
    return total


class Tracer:
    """In-memory span recorder. ``spark_context`` is set only in the traced
    run; then each span's jobs carry its id as their job group."""

    def __init__(self, spark_context=None) -> None:
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans) + 1,
            parent=parent.id if parent else None,
            name=name,
            op=op if op is not None else (parent.op if parent else None),
            start=time.perf_counter(),
        )
        cpu0 = tree_cpu_s()
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(str(s.id), name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.cpu = tree_cpu_s() - cpu0
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(str(parent.id), parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]

    def descendants(self, span_id: int) -> set[int]:
        """``span_id`` and every span below it."""
        out = {span_id}
        for s in self.spans:  # parents are always recorded before children
            if s.parent in out:
                out.add(s.id)
        return out

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                rec = asdict(s)
                rec["duration"] = s.duration
                rec["self"] = selfs[s.id]
                fh.write(json.dumps(rec) + "\n")
