"""Spans and Spark counters for the traced run.

A span wraps one call from the benchmark into a layer of the engine.
It records name, layer, start, end, parent and the pass (trace id),
and, at the same boundaries, the counters Spark keeps in process with
the UI disabled:

- jobs, stages, tasks, executor run/CPU/GC ms, shuffle and spill
  bytes: status-store stage data of the jobs carrying the span's job
  tag. Tags are thread-local properties inherited by the threads a
  call starts (broadcasts, streaming query threads), and lookups go
  by job and stage id, so status-store retention cannot skew a delta;
- Catalyst analysis/optimization/planning ms: a QueryExecutionListener
  collects the phase times of every execution finished in the span;
- whole-stage codegen compiles: ``CodegenMetrics`` compilation count.

Counters are read after the span's end time is taken and after the
listener bus drains; that work is part of the traced pass's wall time,
which is how the tracing overhead is measured.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator

COUNTERS = ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms",
            "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "plan_ms", "codegen_compiles")


@dataclass
class Span:
    name: str
    layer: str
    trace_id: int
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def record(self) -> dict:
        return {"name": self.name, "layer": self.layer,
                "trace_id": self.trace_id, "span_id": self.span_id,
                "parent": self.parent, "start": self.start,
                "end": self.end, "counters": self.counters,
                "attrs": self.attrs}


class _PhaseListener:
    """py4j implementation of QueryExecutionListener: keeps the summed
    Catalyst phase ms of each successful execution."""

    def __init__(self) -> None:
        self.plan_ms: list[int] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        phases = qe.tracker().phases().values().iterator()
        total = 0
        while phases.hasNext():
            total += phases.next().durationMs()
        self.plan_ms.append(total)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkCounters:
    """Reads the counters above for one job tag."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._tracker = jsc.statusTracker()
        self._codegen = (self._sc._jvm.org.apache.spark.metrics.source
                         .CodegenMetrics.METRIC_COMPILATION_TIME())
        ensure_callback_server_started(self._sc._gateway)
        self._listener = _PhaseListener()
        self._manager = spark._jsparkSession.listenerManager()

    def attach(self) -> None:
        """Listen for Catalyst phases; only around traced passes, so
        untraced passes pay no callbacks."""
        self._manager.register(self._listener)

    def detach(self) -> None:
        self._bus.waitUntilEmpty()
        self._manager.unregister(self._listener)

    def begin(self, tag: str) -> tuple[int, int]:
        self._sc.addJobTag(tag)
        return self._codegen.getCount(), len(self._listener.plan_ms)

    def end(self, tag: str, mark: tuple[int, int]) -> dict[str, float]:
        self._sc.removeJobTag(tag)
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(COUNTERS, 0.0)
        out["codegen_compiles"] = self._codegen.getCount() - mark[0]
        out["plan_ms"] = sum(self._listener.plan_ms[mark[1]:])
        for job in self._tracker.getJobIdsForTag(tag):
            out["jobs"] += 1
            for stage in self._tracker.getJobInfo(job).get().stageIds():
                self._add_stage(out, stage)
        return out

    def _add_stage(self, out: dict[str, float], stage: int) -> None:
        sd = self._store.lastStageAttempt(stage)
        if sd.status().toString() == "SKIPPED":
            return
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
        out["task_run_ms"] += sd.executorRunTime()
        out["task_cpu_ms"] += sd.executorCpuTime() / 1e6
        out["gc_ms"] += sd.jvmGcTime()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.diskBytesSpilled()


class Tracer:
    """Spans kept in memory; ``enabled=False`` makes every call a
    no-op so untraced passes pay nothing."""

    def __init__(self, counters: SparkCounters | None = None) -> None:
        self.enabled = counters is not None
        self.spans: list[Span] = []
        self._counters = counters
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self.trace_id = 0

    @contextmanager
    def trace(self) -> Iterator[None]:
        """One trace id per pass, with a root span covering it."""
        self.trace_id += 1
        self._counters.attach()
        try:
            with self.span("pass", "bench", counters=False):
                yield
        finally:
            self._counters.detach()

    @contextmanager
    def span(self, name: str, layer: str,
             counters: bool = True) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(name, layer, self.trace_id, next(self._ids), parent,
                  time.time())
        tag = f"perfbench-span-{sp.span_id}"
        mark = self._counters.begin(tag) if counters else None
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if mark is not None:
                sp.counters = self._counters.end(tag, mark)
            self.spans.append(sp)

    def child(self, parent: Span, name: str, layer: str, start: float,
              end: float, **attrs) -> None:
        """A span observed after the fact (a streaming micro-batch
        from the query's progress log)."""
        self.spans.append(Span(name, layer, parent.trace_id,
                               next(self._ids), parent.span_id, start,
                               end, attrs=attrs))


def self_seconds(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        covered, cursor = 0.0, sp.start
        for ch in sorted(children.get(sp.span_id, []),
                         key=lambda s: s.start):
            lo, hi = max(ch.start, cursor), min(ch.end, sp.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[sp.span_id] = sp.seconds - covered
    return out
