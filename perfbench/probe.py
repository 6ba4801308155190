"""Measuring instruments shared by every workload: process-tree CPU and
memory read from ``/proc``, an in-memory span tracer, and the latency
percentile rule.

Nothing here imports Spark, so the instruments can be unit-checked and
reused by any workload module.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- /proc readers -----------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (Python workers, the daemon)."""
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _stat_fields(path: str) -> list[str] | None:
    try:
        with open(path) as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None  # exited


def _jit_ticks(pid: int) -> int:
    """utime + stime of the JVM's JIT compiler threads."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task") if os.path.isdir(f"/proc/{pid}/task") else []:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                name = fh.read()
        except OSError:
            continue
        if "CompilerThre" in name:
            fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
            total += sum(int(f) for f in fields[11:13]) if fields else 0
    return total


def tree_cpu_s(roots: list[int]) -> float:
    """CPU-seconds used so far by ``roots`` and everything below them
    (reaped children included), less the JIT compiler threads: how much
    JIT work lands in a window depends on timing, not on the code under
    test, and would dominate the spread."""
    pids = set(roots)
    for root in roots:
        pids.update(descendants(root))
    ticks = 0
    for pid in pids:
        fields = _stat_fields(f"/proc/{pid}/stat")
        if fields:
            ticks += sum(int(f) for f in fields[11:15]) - _jit_ticks(pid)
    return ticks / _CLK_TCK


def peak_rss_mb(pid: int) -> float:
    """High-water resident set (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# -- percentiles ---------------------------------------------------------------


def tail_percentile(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile that keeps at least ten samples beyond it,
    capped at p99 (nearest rank); the maximum when that percentile would
    fall below the median (too few samples for a tail).  Returns
    (value, percentile, n)."""
    ordered = sorted(values)
    n = len(ordered)
    if n == 0:
        raise ValueError("no samples")
    rank = min(n - 10, -(-99 * n // 100))  # 1-based nearest rank
    if rank < -(-n // 2):
        rank = n
    return ordered[rank - 1], 100.0 * rank / n, n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# -- what a workload reports ---------------------------------------------------


@dataclass
class Outcome:
    """One workload run: work attempted and failed, the end-to-end
    figures (every workload fills every one), the workload's own headline
    figures for the human summary, and, when traced, the per-layer
    figures."""

    attempted: int
    failed: int
    setup_s: float
    items_per_s: float
    latencies: list[float]
    cpu_s: float
    summary: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)


# -- span tracer --------------------------------------------------------------


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    batch: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory and written out once, when the run ends.

    The benchmark opens spans around its own calls into a layer; spans
    opened on sink threads name their parent explicitly, because the
    parent (the micro-batch) lives on another thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._next = 0

    def open(self, name: str, parent: int | None = None,
             batch: int | None = None) -> Span:
        with self._lock:
            self._next += 1
            span = Span(self._next, name, time.perf_counter(), 0.0, parent, batch)
        return span

    def close(self, span: Span) -> Span:
        span.end = time.perf_counter()
        with self._lock:
            self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, parent: int | None = None,
             batch: int | None = None):
        s = self.open(name, parent, batch)
        try:
            yield s
        finally:
            self.close(s)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        return (span.end - span.start) - union_s([
            (max(c.start, span.start), min(c.end, span.end))
            for c in self.spans if c.parent == span.span_id
        ])

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [dict(asdict(s), self_s=self.self_time(s)) for s in self.spans],
                fh,
            )


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Wall time covered by possibly-overlapping intervals."""
    total, cursor = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        lo = max(lo, cursor)
        if hi > lo:
            total += hi - lo
            cursor = hi
    return total
