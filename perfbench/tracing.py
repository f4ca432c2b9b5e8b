"""Measurement plumbing: in-memory spans, a process-tree RSS sampler
and a Spark event-log reader.

Spans are recorded only around calls from the benchmark's own files
into the program's public functions; nothing here reaches into the
program. A span's self time is its duration minus the part of that
interval its child spans cover.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory and written out once, at the end of the run.
    A span opened while another is open on the same thread is its child;
    a span opened on another thread (the streaming engine's foreachBatch
    callbacks) with none open there is a child of the innermost span
    open on the thread that made the tracer."""

    def __init__(self):
        self.spans: list[Span] = []
        self._main = threading.get_ident()
        self._open: dict[int, list[Span]] = {self._main: []}
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        tid = threading.get_ident()
        with self._lock:
            stack = self._open.setdefault(tid, [])
            main = self._open[self._main]
            parent = stack[-1] if stack else (main[-1] if main else None)
            s = Span(len(self.spans), name, parent.id if parent else None,
                     time.perf_counter())
            self.spans.append(s)
            stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            with self._lock:
                stack.pop()

    @contextmanager
    def wrap(self, owner, attr: str, name: str, on_result=None):
        """Time every call of `owner.attr` (a function or method of the
        program) as a span named `name` while the block runs, then put
        the original back. `on_result(result)` sees each return value."""
        original = getattr(owner, attr)
        tracer = self

        def timed(*args, **kwargs):
            with tracer.span(name):
                out = original(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        setattr(owner, attr, timed)
        try:
            yield
        finally:
            setattr(owner, attr, original)

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.spans if s.name == name)

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, edge = 0.0, s.start
            for k in sorted(kids.get(s.id, []), key=lambda k: k.start):
                lo, hi = max(k.start, edge, s.start), min(k.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s.name] = out.get(s.name, 0.0) + s.dur - covered
        return out

    def dump(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump([
                {"id": s.id, "name": s.name, "parent": s.parent,
                 "start": s.start - t0, "end": s.end - t0}
                for s in self.spans
            ], f, indent=1)


# ------------------------------------------------------------------ memory

_PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(root_pid: int) -> set[int]:
    """PIDs of every live descendant of `root_pid`."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
    tree, frontier = set(), [root_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of `root_pid` and all its descendants."""
    total = 0
    for p in descendants(root_pid) | {root_pid}:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the process tree's resident memory on a thread and keeps
    the peak (driver JVM and Python workers are children of this
    process)."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# -------------------------------------------------------------- event log

def spark_counters(event_dir: str) -> dict:
    """Totals from a finished Spark event log, plus job and task counts
    per job group: {"tasks", "executor_cpu_s", "shuffle_write_bytes",
    "gc_s", "jobs", "groups": {group: {"jobs", "tasks"}}}."""
    stage_group: dict[int, str | None] = {}
    out = {"tasks": 0, "executor_cpu_s": 0.0, "shuffle_write_bytes": 0,
           "gc_s": 0.0, "jobs": 0, "groups": {}}
    # rolling logs: <dir>/eventlog_v2_<app>/events_<n>_<app> (+ a status marker)
    logs = sorted(os.path.join(d, n) for d, _, names in os.walk(event_dir)
                  for n in names if not n.startswith((".", "appstatus")))
    for path in logs:
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    out["jobs"] += 1
                    g = out["groups"].setdefault(group, {"jobs": 0, "tasks": 0})
                    g["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    out["tasks"] += 1
                    out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    out["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    g = out["groups"].get(stage_group.get(ev.get("Stage ID")))
                    if g is not None:
                        g["tasks"] += 1
    return out
