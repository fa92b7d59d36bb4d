"""Spans and per-layer counters for the traced run.

Spans are recorded from the benchmark's side of each layer boundary:
the benchmark wraps the functions it calls (or that the engine looks up
by module attribute) and reads Spark's own accounting after each
operation. Nothing inside the engine is modified.

A span is ``(id, op, name, parent, start, end)``. Spans of one
operation (a dashboard panel, a freshness query, an ingest batch) share
``op``. Spans stay in memory and :meth:`Tracer.dump` writes them out at
exit. A layer's self time is its span's duration minus the time its
child spans cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Span recorder; a disabled tracer records nothing and costs one
    attribute test per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []
        self.counts: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.op: str | None = None
        self._ids = itertools.count()
        self._stack: list[list] = []
        self._patched: list[tuple] = []
        self._replays: dict[str, list[tuple]] = defaultdict(list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1][0] if self._stack else None
        frame = [next(self._ids), name, time.perf_counter()]
        self._stack.append(frame)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(
                (frame[0], self.op, name, parent, frame[2], time.perf_counter())
            )

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled and self.op is not None:
            self.counts[self.op][name] += value

    def wrap(self, owner, attr: str, name: str, count_calls: bool = False) -> None:
        """Replace ``owner.attr`` with a spanned wrapper (kept until
        :meth:`unwrap`). ``count_calls`` also keeps each call's arguments,
        so :meth:`count_python_calls` can repeat the call under a profiler
        once the operation's clock has stopped; use it only for
        deterministic functions."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return original(*args, **kwargs)
            self.count(f"{name}_calls")
            with self.span(name):
                result = original(*args, **kwargs)
            if count_calls and self.op is not None:
                self._replays[self.op].append((name, original, args, kwargs))
            return result

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, original))

    def count_python_calls(self, op: str) -> None:
        """Count, as ``<name>_py_calls``, the Python function calls of
        every ``count_calls`` call ``op`` made. Call it outside the
        operation's timed region: the profiler slows what it counts."""
        for name, fn, args, kwargs in self._replays.pop(op, ()):
            self.counts[op][f"{name}_py_calls"] += _python_calls(fn, args, kwargs)

    def unwrap(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def self_ms(self) -> dict[str, dict[str, float]]:
        """op -> span name -> summed self time in ms."""
        child: dict[int, float] = defaultdict(float)
        for sid, _op, _name, parent, start, end in self.spans:
            if parent is not None:
                child[parent] += end - start
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for sid, op, name, _parent, start, end in self.spans:
            out[op][name] += (end - start - child[sid]) * 1000.0
        return out

    def total_ms(self) -> dict[str, dict[str, float]]:
        """op -> span name -> summed wall time in ms."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for _sid, op, name, _parent, start, end in self.spans:
            out[op][name] += (end - start) * 1000.0
        return out

    def dump(self, path: str) -> None:
        keys = ("id", "op", "name", "parent", "start", "end")
        with open(path, "w") as f:
            json.dump([dict(zip(keys, s)) for s in self.spans], f)


def _python_calls(fn, args, kwargs) -> int:
    calls = 0

    def profile(frame, event, arg):
        nonlocal calls
        if event == "call":
            calls += 1

    previous = sys.getprofile()
    sys.setprofile(profile)
    try:
        fn(*args, **kwargs)
    finally:
        sys.setprofile(previous)
    return calls


# -- Spark's own accounting ------------------------------------------------

PHASES = ("analysis", "optimization", "planning")

# SQL metric keys summed over every node of the final (AQE) plan
PLAN_METRICS = {
    "numFiles": "exec.scan_files",
    "filesSize": "exec.scan_bytes",
    "shuffleBytesWritten": "exec.shuffle_write_bytes",
    "spillSize": "exec.spill_bytes",
    "pythonDataSent": "pyudf.bytes_sent",
    "pythonDataReceived": "pyudf.bytes_received",
}
# Python evaluation nodes report their time in "pythonTotalTime" (ns
# or ms by Spark version); read it through its metric type below.
PY_TIME = "pythonTotalTime"


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations (ms) from the query execution's tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in PHASES:
        found = phases.get(phase)
        out[f"catalyst.{phase}_ms"] = float(found.get().durationMs()) if found.isDefined() else 0.0
    return out


def plan_metrics(df) -> dict[str, float]:
    """Sum the SQL metrics of :data:`PLAN_METRICS` over the executed
    plan, descending through adaptive wrappers, query stages and
    subqueries."""
    out: dict[str, float] = defaultdict(float)
    todo = [df._jdf.queryExecution().executedPlan()]
    seen = 0
    while todo and seen < 2000:
        node = todo.pop()
        seen += 1
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        for kv in _seq(node.metrics()):
            key = kv._1()
            if key in PLAN_METRICS:
                out[PLAN_METRICS[key]] += kv._2().value()
            elif key == PY_TIME:
                metric = kv._2()
                scale = 1e-6 if metric.metricType() == "nsTiming" else 1.0
                out["pyudf.python_ms"] += metric.value() * scale
        todo.extend(_seq(node.children()))
        todo.extend(_seq(node.subqueries()))
    return dict(out)


def job_metrics(sc, group: str) -> dict[str, float]:
    """Jobs, stages and tasks the status tracker recorded for ``group``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = single = 0
    for job in jobs:
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else ():
            sinfo = tracker.getStageInfo(stage)
            if sinfo is None:
                continue
            stages += 1
            tasks += sinfo.numTasks
            single += sinfo.numTasks == 1
    return {
        "exec.jobs": float(len(jobs)),
        "exec.stages": float(stages),
        "exec.tasks": float(tasks),
        "exec.single_task_stages": float(single),
    }


def cache_metrics(sc) -> dict[str, float]:
    """Bytes and blocks held by cached RDDs and tables right now."""
    size = blocks = 0
    for info in sc._jsc.sc().getRDDStorageInfo():
        size += info.memSize() + info.diskSize()
        blocks += info.numCachedPartitions()
    return {"cache.storage_bytes": float(size), "cache.blocks": float(blocks)}
