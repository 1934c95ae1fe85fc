"""Measurement taken from outside the program under test.

- ``Tracer``: in-memory spans (name, start, end, parent, op id) opened
  around calls into the program's layers, written out once at exit, with
  self time derived from the child spans.
- ``JobCounter``: Spark jobs, stages and tasks per layer call, read from
  the status tracker through a job group set around the call.
- ``tree_state`` / ``tree_delta``: files and bytes written, from walking
  a directory before and after a write.
- ``peak_rss_mb``: high-water resident memory of this process plus the
  JVM it drives.
"""

from __future__ import annotations

import json
import math
import os
import resource
import threading
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    attrs: dict[str, object] = field(default_factory=dict)


class Tracer:
    """Spans kept in memory; ``enabled=False`` makes ``span`` a bare
    context manager so the untraced run pays almost nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(name, time.perf_counter(), 0.0, parent, op, dict(attrs))
        with self._lock:
            self.spans.append(s)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()

    def self_times(self) -> list[float]:
        """Each span's duration minus the part its children cover
        (children of one span never overlap: they run on its thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return [s.end - s.start - c for s, c in zip(self.spans, child)]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = [
            {
                "id": i,
                "name": s.name,
                "start_s": round(s.start - t0, 6),
                "end_s": round(s.end - t0, 6),
                "self_s": round(own, 6),
                "parent": s.parent,
                "op": s.op,
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for i, (s, own) in enumerate(zip(self.spans, self.self_times()))
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=0)


@dataclass
class Work:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    def __iadd__(self, other: Work) -> Work:
        self.jobs += other.jobs
        self.stages += other.stages
        self.tasks += other.tasks
        return self


class JobCounter:
    """Counts the Spark work a block of calls triggers on this thread."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._n = 0
        self._lock = threading.Lock()

    @contextmanager
    def group(self) -> Iterator[Work]:
        with self._lock:
            self._n += 1
            gid = f"perfbench-{self._n}"
        work = Work()
        self._sc.setJobGroup(gid, gid)
        try:
            yield work
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            work += self._collect(gid)

    def _collect(self, gid: str) -> Work:
        # the status store is fed asynchronously; drain the listener bus
        # so the last jobs' task counts are in before reading them
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        w = Work()
        for jid in tracker.getJobIdsForGroup(gid):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            w.jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                # skipped stages (shuffle output reused) report no tasks
                if st is not None and st.numCompletedTasks > 0:
                    w.stages += 1
                    w.tasks += st.numCompletedTasks
        return w


def tree_state(root: str) -> dict[str, tuple[int, int]]:
    """Data files under ``root``: relative path -> (size, mtime_ns).
    Hidden and marker files (``.crc``, ``_SUCCESS``) are not data."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if name.startswith((".", "_")):
                continue
            p = os.path.join(dirpath, name)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def tree_delta(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) created or rewritten between two ``tree_state``s."""
    changed = [v for k, v in after.items() if before.get(k) != v]
    return len(changed), sum(size for size, _ in changed)


def peak_rss_mb(jvm_pid: int | None) -> float:
    """High-water RSS of this Python process plus the JVM, in MB."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def cpu_times() -> tuple[int, int]:
    """(all, steal) jiffies of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return sum(fields), fields[7]


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings: high values mark a noisy-neighbour episode."""
    return (end[1] - start[1]) / max(1, end[0] - start[0])


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in [0, 1]) of a non-empty list."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]
