"""Spans around calls into the engine's layers, and Spark's own counters.

A :class:`Tracer` records ``(name, layer, start, end, parent, pass)``
spans in memory. While a span is open, every Spark job it starts runs
in a job group named after the span, so :func:`spark_counters` can read
the session's status store (``AppStatusStore.stageData``) per span.
:data:`OFF` is the tracer of the untraced run: its spans cost one
attribute lookup and record nothing.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

SKIPPED = "SKIPPED"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    parent: int | None
    pass_no: int
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    sc: object = None  # SparkContext; None records timings only
    spans: list[Span] = field(default_factory=list)
    pass_no: int = 0
    _stack: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, time.perf_counter(), parent and parent.id, self.pass_no)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"perfbench-{s.id}", s.name)

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def subtree(self, s: Span) -> list[Span]:
        out = [s]
        for c in self.children(s):
            out.extend(self.subtree(c))
        return out

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "layer": s.layer, "start": s.start, "end": s.end,
             "parent": s.parent, "pass": s.pass_no}
            for s in self.spans
        ]


class _Off:
    """The untraced run's tracer: spans record nothing."""

    pass_no = 0

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        yield None


OFF = _Off()


def spark_counters(sc, spans: list[Span]) -> dict:
    """Sum Spark's per-stage metrics over the jobs started inside
    ``spans`` (each span's own job group). Stage ids are de-duplicated:
    a shared or skipped stage repeats across jobs and counts once, and
    a SKIPPED attempt did no work."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    jobs, stages = set(), set()
    for s in spans:
        for jid in tracker.getJobIdsForGroup(f"perfbench-{s.id}"):
            jobs.add(jid)
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
           "input_mb": 0.0, "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_disk_mb": 0.0,
           "peak_exec_mem_mb": 0.0}
    for sid in sorted(stages):
        seq = store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_quantiles)
        for sd in jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq):
            if sd.status().toString() == SKIPPED:
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["run_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["input_mb"] += sd.inputBytes() / 2**20
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
            out["spill_disk_mb"] += sd.diskBytesSpilled() / 2**20
            out["peak_exec_mem_mb"] = max(out["peak_exec_mem_mb"], sd.peakExecutionMemory() / 2**20)
    return out


def cached_mb(sc) -> float:
    """Bytes Spark currently holds for persisted relations (memory + disk)."""
    return sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()) / 2**20
