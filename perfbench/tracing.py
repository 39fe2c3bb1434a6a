"""Measurement plumbing for the benchmark: layer-call spans, the Spark
event-log reader, per-layer attribution, process-tree peak RSS.

Nothing here changes what the engine computes. Spans are recorded from
outside the engine by wrapping public functions of its modules; Spark
work is attributed to a span through the ``spark.jobGroup.id`` local
property, which ``SparkListenerJobStart`` carries into the event log.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock the event log uses
    end: float = 0.0
    parent: int | None = None
    op: int = -1  # index of the operation span this span belongs to
    kernel_s: float = 0.0  # time in counted kernels called directly inside


@dataclass
class Tracer:
    """Spans kept in memory and analysed when the run ends.

    :meth:`op` opens an operation span with its own Spark job group.
    While ``enabled``, each wrapped layer call opens a child span with a
    job group of its own, so every Spark job lands on the innermost
    layer call that issued it. When tracing is off only operations get
    job groups (the gate guard counts their jobs) and layer wrappers
    are not installed at all."""

    sc: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    calls: dict[str, int] = field(default_factory=dict)
    kernel_s: dict[str, float] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)
    _kernel_depth: int = 0

    def _open(self, name: str) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        op = self.spans[self._stack[0]].op if self._stack else idx
        self.spans.append(Span(name, time.time(), parent=parent, op=op))
        self._stack.append(idx)
        self.sc.setLocalProperty("spark.jobGroup.id", f"pb{idx}")
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self._stack.pop()
        group = f"pb{self._stack[-1]}" if self._stack else None
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def op(self, name: str):
        """One benchmark operation; yields its span index."""
        idx = self._open(name)
        try:
            yield idx
        finally:
            self._close(idx)

    @contextmanager
    def layer(self, name: str):
        """A layer call inside the current operation (no-op untraced)."""
        if not (self.enabled and self._stack):
            yield
            return
        self.calls[name] = self.calls.get(name, 0) + 1
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def op_groups(self, op_idx: int) -> list[str]:
        return [f"pb{i}" for i, s in enumerate(self.spans) if s.op == op_idx]

    def wrap(self, module, attr: str, name: str, also=()) -> None:
        """Replace ``module.attr``, and the same name in each module of
        ``also`` that imported it, with a wrapper that opens a ``name``
        span per call. ``functools.wraps`` keeps ``__module__`` and
        ``__qualname__`` and the defining module is patched too, so
        cloudpickle still pickles the function by reference and Python
        workers import the original."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.layer(name):
                return orig(*args, **kwargs)

        for m in (module, *also):
            setattr(m, attr, wrapper)

    def wrap_kernel(self, module, attr: str, name: str, also=()) -> None:
        """:meth:`wrap` for driver kernels called thousands of times per
        operation: accumulates calls and time instead of opening a span
        per call; the time is charged to the enclosing span as child
        time."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            self._kernel_depth += 1
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                self._kernel_depth -= 1
                self.calls[name] = self.calls.get(name, 0) + 1
                self.kernel_s[name] = self.kernel_s.get(name, 0.0) + dt
                # kernels nest (mi_vec calls factorize and mi_codes):
                # only the outermost call is child time of the span
                if self._stack and self._kernel_depth == 0:
                    self.spans[self._stack[-1]].kernel_s += dt

        for m in (module, *also):
            setattr(m, attr, wrapper)


# -- Spark event log ---------------------------------------------------

#: RDD scope names of stages that run Python workers (Arrow/pandas UDFs)
_PY_SCOPES = ("Python", "Pandas")


@dataclass
class Job:
    group: str
    start: float
    end: float
    stages: list[int]


@dataclass
class StageTotals:
    tasks: int = 0
    failed: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_w: int = 0
    shuffle_r: int = 0
    spill: int = 0
    python: bool = False


def read_event_log(log_dir: str) -> tuple[list[Job], dict[int, StageTotals]]:
    """Jobs (job group and span) and per-stage task totals from the
    uncompressed, non-rolling event log(s) under ``log_dir``."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    t = e["Submission Time"] / 1000.0
                    jobs[e["Job ID"]] = Job(
                        props.get("spark.jobGroup.id") or "", t, t, e.get("Stage IDs", [])
                    )
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    s = stages.setdefault(e["Stage Info"]["Stage ID"], StageTotals())
                    for rdd in e["Stage Info"].get("RDD Info", []):
                        scope = rdd.get("Scope")
                        if scope and any(p in json.loads(scope)["name"] for p in _PY_SCOPES):
                            s.python = True
                elif kind == "SparkListenerTaskEnd":
                    s = stages.setdefault(e["Stage ID"], StageTotals())
                    s.tasks += 1
                    info = e.get("Task Info") or {}
                    s.failed += bool(info.get("Failed") or info.get("Killed"))
                    m = e.get("Task Metrics") or {}
                    s.run_ms += m.get("Executor Run Time", 0)
                    s.cpu_ns += m.get("Executor CPU Time", 0)
                    s.gc_ms += m.get("JVM GC Time", 0)
                    s.shuffle_w += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    r = m.get("Shuffle Read Metrics", {})
                    s.shuffle_r += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                    s.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return list(jobs.values()), stages


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``(a, b)`` intervals clipped to ``[lo, hi]``."""
    total, cur = 0.0, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi):
        if cur is None or a > cur[1]:
            total += cur[1] - cur[0] if cur else 0.0
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + (cur[1] - cur[0] if cur else 0.0)


def attribute(tracer: Tracer, jobs: list[Job]) -> dict[int, list[Job]]:
    """Spark jobs per span index: by job group, else (jobs a streaming
    query runs on its own thread) by the operation whose span contains
    the job's submission."""
    by_group = {f"pb{i}": i for i in range(len(tracer.spans))}
    ops = [(s.start, s.end, i) for i, s in enumerate(tracer.spans) if s.op == i]
    out: dict[int, list[Job]] = {}
    for j in jobs:
        idx = by_group.get(j.group)
        if idx is None:
            idx = next((i for a, b, i in ops if a <= j.start <= b), None)
        if idx is not None:
            out.setdefault(idx, []).append(j)
    return out


def self_times(tracer: Tracer, span_jobs: dict[int, list[Job]]) -> list[float]:
    """Each span's self time: its duration minus the union of its child
    spans and its own Spark jobs, minus counted kernel time inside it."""
    children: dict[int, list[tuple[float, float]]] = {}
    for i, s in enumerate(tracer.spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(tracer.spans):
        iv = children.get(i, []) + [(j.start, j.end) for j in span_jobs.get(i, [])]
        out.append(max(0.0, s.end - s.start - union_length(iv, s.start, s.end) - s.kernel_s))
    return out


# -- process tree memory ----------------------------------------------


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:
            continue
        ppid = int(raw[raw.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(stat.split("/")[2]))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed ``VmHWM`` over this process and its
    descendants (JVM, Python workers), sampled twice a second so that
    short-lived workers are seen."""

    def __init__(self, interval: float = 0.5):
        self.peak_kb = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = sum(_hwm_kb(p) for p in tree_pids(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
