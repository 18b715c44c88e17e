"""Measurement helpers: spans, streaming progress, Spark event-log
counters and process-tree memory.

Spans are recorded by the benchmark around calls into the engine's
public functions (:meth:`Tracer.instrument` swaps a module attribute
for a timing wrapper for the duration of the traced region). They are
kept in memory and written out at exit. Each span also becomes a Spark
job group, so the event log can charge engine work to the span that
caused it.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """In-memory span recorder; inactive until :meth:`enable`."""

    spark: object = None
    spans: list[Span] = field(default_factory=list)
    active: bool = False
    _stack: list[Span] = field(default_factory=list)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)
    op_id: int = 0
    group: str = "span"  # job group ids are ``<group>-<span id>``

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self.op_id, parent.sid if parent else None,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{self.group}-{s.sid}", name)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"{self.group}-{parent.sid}", parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def instrument(self, module, attr: str, name: str) -> None:
        """Wrap ``module.attr`` in a span named ``name`` until
        :meth:`disable`."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapped(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        self._patched.append((module, attr, orig))
        setattr(module, attr, wrapped)

    def enable(self, spark) -> None:
        self.spark, self.active = spark, True

    def disable(self) -> None:
        self.active = False
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part covered by its direct children
        (children of one span run sequentially in this benchmark)."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return {s.sid: (s.end - s.start) - child[s.sid] for s in self.spans}

    def by_name(self) -> dict[str, float]:
        """Total span seconds per span name."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.end - s.start
        return dict(out)

    def records(self) -> list[dict]:
        """Every span as a plain dict (with its self time), for the
        run's detail file."""
        st = self.self_times()
        return [
            {"id": s.sid, "name": s.name, "op": s.op, "parent": s.parent,
             "start": s.start, "end": s.end, "self_s": st[s.sid]}
            for s in self.spans
        ]


def progress_listener():
    """A ``StreamingQueryListener`` that keeps every micro-batch's
    progress (tagged with the op running when its query started)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def __init__(self):
            self.op = None
            self.run_op: dict[str, object] = {}
            self.batches: list[tuple[object, dict]] = []
            self.lock = threading.Lock()

        def onQueryStarted(self, event):
            with self.lock:
                self.run_op[str(event.runId)] = self.op

        def onQueryProgress(self, event):
            p = event.progress
            rec = {
                "durationMs": dict(p.durationMs),
                "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
                "dropped": sum(o.numRowsDroppedByWatermark for o in p.stateOperators),
                "input_rows": p.numInputRows,
            }
            with self.lock:
                self.batches.append((self.run_op.get(str(p.runId)), rec))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def for_op(self, op) -> list[dict]:
            with self.lock:
                return [b for o, b in self.batches if o == op]

    return _Progress()


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (JVM, Python workers), sampled from ``/proc``."""

    def __init__(self, period: float = 0.25):
        self.period, self.peak_kb = period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def tree_rss_kb(root: int) -> int:
        kids: dict[int, list[int]] = defaultdict(list)
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
                with open(f"/proc/{d}/statm") as fh:
                    pages = int(fh.read().split()[1])
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            kids[ppid].append(int(d))
            rss[int(d)] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
        total, todo = 0, [root]
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            todo.extend(kids.get(p, ()))
        return total

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.period):
            self.peak_kb = max(self.peak_kb, self.tree_rss_kb(me))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def engine_counters(event_log_dir: str) -> dict[str, float]:
    """Engine counters of the jobs that ran under a span's job group
    (``span-<id>``), from Spark's event log: jobs, tasks, executor run /
    CPU / GC seconds, shuffle MB written, and the seconds inside SQL
    executions (the union of their intervals: executions nest and
    streaming ones overlap)."""
    out: dict[str, float] = defaultdict(float)
    stage_traced: set[int] = set()
    exec_traced: set[int] = set()
    exec_start: dict[int, float] = {}
    intervals: list[tuple[float, float]] = []
    for name in os.listdir(event_log_dir):
        path = os.path.join(event_log_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    if not str(props.get("spark.jobGroup.id", "")).startswith("span-"):
                        continue
                    out["jobs"] += 1
                    stage_traced.update(ev.get("Stage IDs", []))
                    if props.get("spark.sql.execution.id") is not None:
                        exec_traced.add(int(props["spark.sql.execution.id"]))
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    if ev.get("Stage ID") not in stage_traced or not m:
                        continue
                    out["tasks"] += 1
                    out["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    out["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    exec_start[ev["executionId"]] = ev["time"] / 1e3
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    eid = ev["executionId"]
                    if eid in exec_traced and eid in exec_start:
                        intervals.append((exec_start[eid], ev["time"] / 1e3))
    out["sql_exec_s"] = _union_s(intervals)
    return dict(out)
