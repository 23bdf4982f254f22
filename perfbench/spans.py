"""Span tracing around the calls the benchmark makes into each layer.

A span records layer, name, wall interval and the Spark work done inside
it. The Spark side is read from outside the program: each span runs its
jobs under a fresh job group (`setJobGroup`, thread-local, so concurrent
client threads keep separate groups), and after the span the group's
jobs are looked up in the driver's status store. Job lists are never
diffed — the retained job list evicts at `spark.ui.retainedJobs`, so a
before/after difference can even go negative.

With tracing disabled, `span()` only yields a record and costs nothing
in Spark.
"""

from __future__ import annotations

import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

SPARK_KEYS = (
    "jobs", "tasks", "cpu_s", "gc_s", "input_bytes", "input_rows",
    "shuffle_bytes", "spill_bytes", "job_s",
)


@dataclass(eq=False)
class Span:
    layer: str
    name: str
    start: float = 0.0
    end: float = 0.0
    parent: "Span | None" = None
    counts: dict = field(default_factory=dict)
    spark: dict = field(default_factory=lambda: dict.fromkeys(SPARK_KEYS, 0.0))
    child_s: float = 0.0
    group: str = ""

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return max(self.wall_s - self.child_s, 0.0)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._sc = spark.sparkContext
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, layer: str, name: str = ""):
        rec = Span(layer, name or layer)
        if not self.enabled:
            yield rec
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec.parent = stack[-1] if stack else None
        rec.group = group = f"perfbench-{next(self._ids)}"
        self._sc.setJobGroup(group, rec.name, interruptOnCancel=False)
        stack.append(rec)
        rec.start = time.perf_counter()
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            stack.pop()
            # restore the enclosing span's group (or none)
            if stack:
                self._sc.setJobGroup(stack[-1].group, stack[-1].name,
                                     interruptOnCancel=False)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self._read_group(group, rec)
            if rec.parent is not None:
                rec.parent.child_s += rec.wall_s
            with self._lock:
                self.spans.append(rec)

    def _read_group(self, group: str, rec: Span) -> None:
        jsc = self._sc._jsc.sc()
        # job/stage end events reach the status store through the
        # asynchronous listener bus; drain it before reading
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        s = rec.spark
        intervals = []
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            s["jobs"] += 1
            try:
                jd = store.job(jid)
                sub, comp = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and comp.isDefined():
                    intervals.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
            except Exception:
                pass
            for sid in info.stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:
                    continue  # skipped stage: never ran
                s["tasks"] += st.numCompleteTasks()
                s["cpu_s"] += st.executorCpuTime() / 1e9
                s["gc_s"] += st.jvmGcTime() / 1e3
                s["input_bytes"] += st.inputBytes()
                s["input_rows"] += st.inputRecords()
                s["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                s["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        s["job_s"] = _union_len(intervals)

    # -- aggregation --------------------------------------------------

    def by_layer(self, spans: list[Span] | None = None) -> dict[str, dict]:
        out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        for sp in self.spans if spans is None else spans:
            agg = out[sp.layer]
            agg["self_s"] += sp.self_s
            agg["wall_s"] += sp.wall_s
            agg["n"] += 1
            for k, v in sp.spark.items():
                agg[k] += v
            for k, v in sp.counts.items():
                agg[k] += v
        return out
