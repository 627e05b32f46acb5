"""Span tracer for the benchmark's traced pass.

A span is recorded around each call the benchmark makes into a layer of
the program: name, start, end and the span that caused it. Spans stay in
memory; ``to_json`` writes them out when the run ends.

Every span runs under its own Spark job group, so the jobs, stages and
task counters of the Spark status store are attributed to the innermost
span that launched them. Group names are never reused: the status
tracker accumulates job ids across reuses of one group name. Counters
are read once the whole operation has finished, outside every timed
interval.
"""

from __future__ import annotations

import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024 * 1024

# Stage counters summed per span. Names match the Spark status store's
# v1.StageData accessors; values are converted in ``_stage_counters``.
COUNTERS = (
    "jobs",
    "tasks",
    "executor_cpu_s",
    "executor_run_s",
    "shuffle_write_mb",
    "spill_mb",
    "peak_exec_mem_mb",
    "input_mb",
)


@dataclass
class Span:
    name: str
    parent: int | None
    group: str
    start: float = 0.0
    end: float = 0.0
    cpu_s: float = 0.0  # CPU of the Python driver process inside the span
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] that the union of ``intervals``
    covers."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return [s.wall_s - covered(children[i], s.start, s.end) for i, s in enumerate(spans)]


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a
    no-op, so the untraced pass runs the same benchmark code."""

    def __init__(self, spark=None, *, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.prefix = f"perfbench-{uuid.uuid4().hex[:12]}"
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent, f"{self.prefix}-{idx}-{name}")
        self.spans.append(s)
        self._stack.append(idx)
        self._set_group(s.group, name)
        cpu0 = time.process_time()
        s.start = time.perf_counter()
        try:
            yield
        finally:
            s.end = time.perf_counter()
            s.cpu_s = time.process_time() - cpu0
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self._set_group(outer.group, outer.name)
            elif self.spark is not None:
                self.spark.sparkContext._jsc.clearJobGroup()

    def wrap(self, name: str, fn):
        """``fn`` run inside a span named ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _set_group(self, group: str, name: str) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(group, name)

    def read_counters(self) -> None:
        """Fill every span's ``counters`` from the Spark status store."""
        if not self.enabled or self.spark is None:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        for s in self.spans:
            if s.counters:
                continue
            jobs = list(tracker.getJobIdsForGroup(s.group))
            stages: set[int] = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            c = dict.fromkeys(COUNTERS, 0.0)
            c["jobs"] = float(len(jobs))
            for sid in stages:
                for k, v in _stage_counters(self.spark, sid).items():
                    c[k] = max(c[k], v) if k == "peak_exec_mem_mb" else c[k] + v
            s.counters = c

    def to_json(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {
                "name": s.name,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "self_s": st,
                "cpu_s": s.cpu_s,
                "counters": s.counters,
            }
            for s, st in zip(self.spans, selfs)
        ]


def _stage_counters(spark, stage_id: int) -> dict[str, float]:
    """Counters of every completed attempt of one stage. Skipped stages
    (their output reused from an earlier job) count nothing."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    attempts = store.stageData(stage_id, False, spark._jvm.java.util.ArrayList(), False, no_quantiles)
    out = dict.fromkeys(COUNTERS[1:], 0.0)
    for i in range(attempts.size()):
        d = attempts.apply(i)
        if d.status().toString() == "SKIPPED":
            continue
        out["tasks"] += d.numCompleteTasks()
        out["executor_cpu_s"] += d.executorCpuTime() / 1e9
        out["executor_run_s"] += d.executorRunTime() / 1e3
        out["shuffle_write_mb"] += d.shuffleWriteBytes() / MB
        out["spill_mb"] += d.diskBytesSpilled() / MB
        out["input_mb"] += d.inputBytes() / MB
        out["peak_exec_mem_mb"] = max(out["peak_exec_mem_mb"], d.peakExecutionMemory() / MB)
    return out
