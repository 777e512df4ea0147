"""Spans around calls into the engine's layers, with Spark's own counters.

A span covers one call the benchmark makes into a layer (or the forcing
of its result).  With tracing on, each span runs under its own Spark job
group, so after the call the jobs it started — and through them their
stages' task, record, shuffle, run-time and GC counters — can be read
back from Spark's status store and attached to the span.  Spans stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNTERS = ("jobs", "stages", "tasks", "input_records", "shuffle_read_bytes",
            "shuffle_write_bytes", "executor_run_ms", "gc_ms")


@dataclass
class Span:
    id: int
    op_id: int  # shared by every span of one benchmark operation
    parent: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)  # this span's own jobs only
    child_s: float = 0.0  # wall covered by child spans, their counter reads included

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


def spark_counters(spark, group: str) -> dict:
    """Counters of every job Spark ran under job group `group`: drain the
    listener bus first, so the status store has seen every event, then sum
    the last attempt of each stage the jobs used.  Stages a job skipped
    (reused shuffle output) ran no tasks and count nothing."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    out = dict.fromkeys(COUNTERS, 0)
    out["jobs"] = len(jobs)
    store = jsc.statusStore()
    for sid in stages:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - py4j raises the JVM's NoSuchElementException
            continue
        if sd.numCompleteTasks() == 0:
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["input_records"] += sd.inputRecords()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["executor_run_ms"] += sd.executorRunTime()
        out["gc_ms"] += sd.jvmGcTime()
    return out


class Tracer:
    """Records spans; with `counters` on, tags every span with its own job
    group and reads the group's counters when the span ends."""

    def __init__(self, spark):
        self.spark = spark
        self.counters = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0
        self.op_id = 0

    def _group_id(self, span: Span) -> str:
        # unique per tracer: Spark keeps every group's jobs for the life of
        # the context
        return f"fleetbench-{id(self)}-{span.id}"

    def _group(self, span: Span | None):
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(self._group_id(span), f"{span.layer}.{span.name}")

    @contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(self._next, self.op_id, parent.id if parent else None, layer, name, 0.0)
        self._next += 1
        if self.counters:
            self._group(s)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.counters:
                s.counters = spark_counters(self.spark, self._group_id(s))
                self._group(parent)
                self.spans.append(s)
            if parent is not None:
                parent.child_s += time.perf_counter() - s.start

    def dump(self, path: str):
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s) | {"self_s": s.self_s}) + "\n")


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """`root` and every span below it."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out


def total(spans: list[Span], key: str) -> int:
    return sum(s.counters.get(key, 0) for s in spans)
