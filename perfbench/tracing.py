"""Span tracing from outside the program, plus Spark event-log attribution.

A :class:`Tracer` records spans (name, start, end, parent, trace id) in
memory. :meth:`Tracer.instrument` replaces every function bound as an
attribute of a module with a wrapper that opens a span around the call,
so calls *into* a layer are timed without editing the layer. While a span
is open its id is the Spark job group of the calling thread, so every
Spark job it launches carries that id into the event log; reading the log
after the session stops (:func:`read_event_log`) attributes stage and
task metrics to spans exactly.
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace: str | None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it that ``children`` cover."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    ]
    return (span.end - span.start) - union_length(clipped)


def layer_of(module: str) -> str:
    """Layer name of a program module: every ``sources.*`` module is the
    ``sources`` layer; other modules keep their path below the package."""
    rel = module.split(".", 1)[1] if "." in module else module
    return "sources" if rel.startswith("sources") else rel


class Tracer:
    """In-memory span recorder. ``spark_context`` (settable later) makes
    spans tag the Spark jobs they launch. A disabled tracer records
    nothing and makes no Spark calls, so untraced runs pay nothing."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.spark_context = None
        self.pool_calls = 0
        self.pool_builds = 0
        self._stack: list[Span] = []
        self._trace: str | None = None
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def trace(self, trace_id: str):
        """Spans opened inside belong to ``trace_id`` (one cycle or
        query)."""
        prev, self._trace = self._trace, trace_id
        try:
            yield
        finally:
            self._trace = prev

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, time.perf_counter(), 0.0,
                  parent.id if parent else None, self._trace)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent.id if parent else None)

    def _set_group(self, span_id: int | None) -> None:
        sc = self.spark_context
        if sc is None or sc._jsc is None:
            return
        if span_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"{GROUP_PREFIX}{span_id}", "perfbench span")

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def wrap_pool(self, fn, name: str):
        """Wrap a ``bounded_cached(memo, key, build, ...)`` entry point:
        the ``build`` callback runs only on a miss, so wrapping it counts
        misses and times the builds."""

        def traced(memo, key, build, *args, **kwargs):
            def counted_build():
                self.pool_builds += 1
                with self.span("plans.pooling.build"):
                    return build()

            self.pool_calls += 1
            with self.span(name):
                return fn(memo, key, counted_build, *args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def instrument(self, module, *, only=None, pool=False) -> None:
        """Replace each function attribute of ``module`` (or those named
        in ``only``) with a traced wrapper named ``<layer>.<function>``,
        the layer being the one the function is defined in."""
        for attr, value in list(vars(module).items()):
            if not inspect.isfunction(value) or (only and attr not in only):
                continue
            name = f"{layer_of(value.__module__)}.{value.__name__}"
            wrapped = self.wrap_pool(value, name) if pool else self.wrap(value, name)
            self._patched.append((module, attr, value))
            setattr(module, attr, wrapped)

    def restore(self) -> None:
        for module, attr, value in reversed(self._patched):
            setattr(module, attr, value)
        self._patched.clear()

    def by_trace(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = defaultdict(list)
        for sp in self.spans:
            if sp.trace is not None:
                out[sp.trace].append(sp)
        return out

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                out[sp.parent].append(sp)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for sp in self.spans:
                f.write(json.dumps(vars(sp)) + "\n")


@dataclass
class SpanSparkMetrics:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    gc_ms: int = 0


def read_event_log(log_dir: str) -> dict[int, SpanSparkMetrics]:
    """Aggregate jobs, stages and task metrics per span id from every
    uncompressed event log under ``log_dir`` (single-file logs and the
    rolling ``eventlog_v2_*`` directories alike). Jobs outside any span
    are ignored."""
    out: dict[int, SpanSparkMetrics] = defaultdict(SpanSparkMetrics)
    paths = [
        p
        for p in glob.glob(f"{log_dir}/**/*", recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    ]
    for path in sorted(paths):
        stage_span: dict[int, int] = {}
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if not group.startswith(GROUP_PREFIX):
                        continue
                    span_id = int(group[len(GROUP_PREFIX):])
                    out[span_id].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_span.setdefault(sid, span_id)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_span:
                        out[stage_span[sid]].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    tm = ev.get("Task Metrics")
                    if sid not in stage_span or not tm:
                        continue
                    m = out[stage_span[sid]]
                    m.tasks += 1
                    m.input_bytes += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                    m.output_bytes += tm.get("Output Metrics", {}).get("Bytes Written", 0)
                    sw = tm.get("Shuffle Write Metrics", {})
                    m.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    sr = tm.get("Shuffle Read Metrics", {})
                    m.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    m.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    m.executor_run_ms += tm.get("Executor Run Time", 0)
                    m.executor_cpu_ns += tm.get("Executor CPU Time", 0)
                    m.gc_ms += tm.get("JVM GC Time", 0)
    return out
