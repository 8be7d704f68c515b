"""Tracing for the benchmark's traced run.

* :class:`Tracer` keeps spans in memory (name, start, end, parent,
  trace_id) and writes them as JSON at exit. Spans come from wrappers the
  benchmark installs around the program's eager public calls
  (:meth:`Tracer.wrap`); the program itself is not modified.
* :func:`self_times` derives each span's self time: its duration minus
  the part of its interval that its children cover.
* :func:`parse_event_log` reads a Spark event log into per-job task
  totals, and :func:`attach_jobs` hangs each job on the top-level span
  whose interval contains its submission (one sequential client, so the
  attachment is unambiguous).
* :class:`ProcSampler` samples the resident memory of the whole process
  tree (driver, JVM, Python workers) and reads Python-worker CPU from
  ``/proc``.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    trace_id: int

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, clock=time.time):
        self.clock = clock
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._restore: list = []
        # seconds spent in span bookkeeping and wrapper callbacks, outside
        # the traced calls themselves: the tracing overhead
        self.overhead = 0.0

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        sp = Span(
            name,
            self.clock(),
            0.0,
            sid,
            parent.span_id if parent else None,
            parent.trace_id if parent else sid,
        )
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = self.clock()
            stack.pop()
            self.spans.append(sp)

    def call(self, name: str, fn, *args, after=None, **kwargs):
        """``fn(*args, **kwargs)`` inside a span named ``name``.
        ``after(result, args, kwargs)`` runs once the span has closed, for
        counts that must not be timed. Time spent here outside ``fn`` is
        added to ``overhead``."""
        t_in = self.clock()
        with self.span(name):
            t0 = self.clock()
            out = fn(*args, **kwargs)
            t1 = self.clock()
        if after is not None:
            after(out, args, kwargs)
        self.overhead += (self.clock() - t_in) - (t1 - t0)
        return out

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` in place by a version that records a span
        named ``name`` around each call (see :meth:`call`)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return self.call(name, orig, *args, after=after, **kwargs)

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id → self time (duration minus the union of its children)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.dur - covered(kids.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


# ---------------------------------------------------------------- event log

def parse_event_log(lines) -> list[dict]:
    """Spark event-log lines → one dict per job: submission and completion
    time (s), stage/task counts and task-metric totals."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            stages = ev.get("Stage IDs", [])
            jobs[jid] = {
                "job_id": jid,
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "stages": len(stages),
                "tasks": 0,
                "executor_cpu_s": 0.0,
                "executor_run_s": 0.0,
                "gc_ms": 0.0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
                "exec_memory_peak_bytes": 0,
            }
            for st in stages:
                stage_job[st] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            job["tasks"] += 1
            job["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            job["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            job["gc_ms"] += m.get("JVM GC Time", 0)
            job["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            job["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            # Spark's execution memory (sorts, aggregations, joins, shuffles)
            # at its peak while the task ran, as the executor's metrics
            # poller saw it
            peak = (ev.get("Task Executor Metrics") or {}).get("OnHeapExecutionMemory", 0)
            job["exec_memory_peak_bytes"] = max(job["exec_memory_peak_bytes"], peak)
    out = [j for j in jobs.values() if j["end"] is not None]
    return sorted(out, key=lambda j: j["start"])


def read_event_logs(log_dir: str) -> list[dict]:
    jobs: list[dict] = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            jobs.extend(parse_event_log(f))
    return jobs


def attach_jobs(jobs: list[dict], spans: list[Span]) -> dict[int, list[dict]]:
    """span_id of the top-level span containing each job's submission →
    that span's jobs. Jobs outside every top-level span are dropped."""
    tops = sorted((s for s in spans if s.parent is None), key=lambda s: s.start)
    out: dict[int, list[dict]] = {}
    for j in jobs:
        for s in tops:
            if s.start <= j["start"] <= s.end:
                out.setdefault(s.span_id, []).append(j)
                break
    return out


def driver_gap(span: Span, jobs: list[dict]) -> float:
    """Seconds of ``span`` during which none of ``jobs`` was running."""
    return span.dur - covered([(j["start"], j["end"]) for j in jobs], span.start, span.end)


# ---------------------------------------------------------------- /proc

_CLK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100
_PAGE = os.sysconf("SC_PAGE_SIZE") if hasattr(os, "sysconf") else 4096


def _children(pid: int) -> list[int]:
    out: list[int] = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def process_tree(root: int) -> list[int]:
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of the process tree under ``root``. Below a JVM only
    the Python workers count: any other child is a helper command the JVM
    is spawning (Hadoop shells out for local file permissions), which
    until it execs shares, and would count twice, the JVM's pages."""
    total, todo = 0, [(root, None)]
    while todo:
        pid, parent_comm = todo.pop()
        st = _stat(pid)
        comm = st[0] if st else ""
        if parent_comm == "java" and not comm.startswith("python"):
            continue
        total += _rss_bytes(pid)
        todo.extend((c, comm) for c in _children(pid))
    return total


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _stat(pid: int) -> tuple[str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; it is the text between the first '(' and last ')'
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    return comm, raw[raw.rindex(")") + 2 :].split()


def python_worker_cpu_s(root: int) -> float:
    """User+system CPU of the Python processes below ``root`` (the Spark
    worker daemon and its forked workers). A reaped worker's CPU sits in
    its parent's cutime/cstime, a live one's in its own utime/stime, so a
    single read counts each worker once."""
    total = 0.0
    for pid in process_tree(root):
        if pid == root:
            continue
        st = _stat(pid)
        if st is None or not st[0].startswith("python"):
            continue
        # split fields start at stat field 3 (state): utime is field 14
        utime, stime, cutime, cstime = (int(x) for x in st[1][11:15])
        total += (utime + stime + cutime + cstime) / _CLK
    return total


class ProcSampler:
    """Samples the resident memory of the process tree under ``root`` every
    ``interval`` seconds on a daemon thread; ``peak_mb`` is the maximum."""

    def __init__(self, root: int | None = None, interval: float = 0.2):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self.peak_bytes = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        rss = tree_rss_bytes(self.root)
        self.samples += 1
        self.peak_bytes = max(self.peak_bytes, rss)
        return rss

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)
