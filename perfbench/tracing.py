"""Tracing from outside the program: spans around calls into its
public functions, counters on what those calls return, Spark's own
task metrics from the event log, and the resident memory of the
process tree.

Spark is lazy, so a call span holds only the eager work done inside
the call (``tracked_persist``, ``localCheckpoint``, the CC loop,
staging writes); the rest lands in the span of the sink that follows,
which is recorded as the op's child. Spans live in memory until the
run ends.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Spans and counters of one run. Disabled, it records nothing and
    costs one attribute test per span. Spans nest in call order, so one
    thread records at a time: the near-dup stream's callback thread runs
    while the main thread waits in ``awaitTermination``."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        s = Span(len(self.spans), self._stack[-1] if self._stack else None,
                 name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def add(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0.0) + value

    def summary(self) -> list[tuple[str, int, float, float]]:
        """(name, calls, inclusive s, self s) per span name, self time
        being a span's duration minus what its children cover."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_s[s.parent] = child_s.get(s.parent, 0.0) + s.dur
        rows: dict[str, list] = {}
        for s in self.spans:
            r = rows.setdefault(s.name, [0, 0.0, 0.0])
            r[0] += 1
            r[1] += s.dur
            r[2] += s.dur - child_s.get(s.sid, 0.0)
        return [(n, c, inc, own) for n, (c, inc, own) in rows.items()]

    def total(self, name: str) -> float:
        """Inclusive seconds of every span called ``name``, not counting
        a span nested in another of the same name twice."""
        by_id = {s.sid: s for s in self.spans}

        def nested(s: Span) -> bool:
            p = s.parent
            while p is not None:
                if by_id[p].name == name:
                    return True
                p = by_id[p].parent
            return False

        return sum(s.dur for s in self.spans if s.name == name and not nested(s))


class Probes:
    """Wraps public functions of the program while tracing: each call
    gets a span, and selected results are kept so the harness can count
    their rows after the op (outside the op's timing)."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.pending: list[tuple[str, object]] = []
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, module, name: str, span: str, keep: str | None = None,
             keep_arg: str | None = None, on_result=None) -> None:
        orig = getattr(module, name)
        tracer, pending = self.tracer, self.pending

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if keep_arg is not None:
                pending.append((keep_arg, args[0]))
            with tracer.span(span):
                out = orig(*args, **kwargs)
            if keep is not None:
                pending.append((keep, out))
            if on_result is not None:
                on_result(args, out)
            return out

        setattr(module, name, traced)
        self._undo.append((module, name, orig))

    def take(self) -> list[tuple[str, object]]:
        out, self.pending[:] = list(self.pending), []
        return out

    def restore(self) -> None:
        for module, name, orig in reversed(self._undo):
            setattr(module, name, orig)
        self._undo.clear()


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

PYTHON_BYTE_ACCUMS = ("data sent to Python workers", "data returned from Python workers")


def read_event_log(path: str, t_lo_ms: float, t_hi_ms: float,
                   skip_phase: str = "trace") -> dict[str, float]:
    """Sum task metrics of the jobs submitted in ``[t_lo_ms, t_hi_ms]``
    (epoch milliseconds), leaving out jobs whose ``perfbench.phase``
    local property equals ``skip_phase``."""
    stage_job: dict[int, int] = {}
    jobs: set[int] = set()
    tasks: dict[int, list[float]] = {}
    tot = {
        "jobs": 0, "tasks": 0, "input_bytes": 0, "input_rows": 0,
        "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
        "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "python_bytes": 0,
    }
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                t = ev.get("Submission Time", 0)
                if t_lo_ms <= t <= t_hi_ms and props.get("perfbench.phase") != skip_phase:
                    jobs.add(ev["Job ID"])
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerTaskEnd":
                sid = ev.get("Stage ID")
                if sid not in stage_job:
                    continue
                m = ev.get("Task Metrics") or {}
                tot["tasks"] += 1
                tot["run_ms"] += m.get("Executor Run Time", 0)
                tot["cpu_ns"] += m.get("Executor CPU Time", 0)
                tot["gc_ms"] += m.get("JVM GC Time", 0)
                tot["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                inp = m.get("Input Metrics") or {}
                tot["input_bytes"] += inp.get("Bytes Read", 0)
                tot["input_rows"] += inp.get("Records Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                tot["shuffle_read_bytes"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") in PYTHON_BYTE_ACCUMS:
                        tot["python_bytes"] += int(acc.get("Update") or 0)
                tasks.setdefault(sid, []).append(float(m.get("Executor Run Time", 0)))
    tot["jobs"] = len(jobs)
    tot["task_skew"] = task_skew(tasks)
    return tot


def task_skew(stage_tasks: dict[int, list[float]]) -> float:
    """Max ÷ median task run time per stage, averaged over the stages
    with at least two tasks, each stage weighted by its total task
    time; 0 when no stage qualifies."""
    num = den = 0.0
    for times in stage_tasks.values():
        if len(times) < 2:
            continue
        med = statistics.median(times)
        weight = sum(times)
        if med <= 0 or weight <= 0:
            continue
        num += weight * max(times) / med
        den += weight
    return num / den if den else 0.0


# --------------------------------------------------------------------------
# resident memory of the process tree
# --------------------------------------------------------------------------

def tree_pids(root: int) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes sharing it. Summed over a process tree it counts
    a forked child's copy-on-write pages once, where RSS would count a
    JVM that forks a helper command twice. 0 for a process that ended."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemorySampler:
    """Samples the resident memory (PSS) of this process and all its
    descendants — the JVM and the Python workers — every ``interval``
    seconds and keeps the peak of the sum. A sample scans /proc, so the
    interval is kept long enough for the sampler to stay out of the
    measured work's way."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self.peak_by_process_kb: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self._sample(me)
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample(os.getpid())

    def _sample(self, root: int) -> None:
        sizes = [pss_kb(pid) for pid in tree_pids(root)]
        if sum(sizes) > self.peak_kb:
            self.peak_kb = sum(sizes)
            self.peak_by_process_kb = sorted(sizes, reverse=True)
