"""Span recorder and Spark job/stage reader for the traced run.

Spans are recorded in memory around the benchmark's calls into each
layer's public functions and written out once, when the run ends. Spark
numbers come from tagging the calling thread with ``setJobGroup`` and
reading ``statusTracker()`` plus the application status store, which is
populated even with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float  # seconds, time.perf_counter()
    end: float
    parent: int | None  # index of the enclosing span
    request: str


def self_time(spans: list[Span], i: int) -> float:
    """Duration of span ``i`` minus the part its child spans cover;
    overlapping children are merged first, so no instant counts twice."""
    s = spans[i]
    kids = [(max(c.start, s.start), min(c.end, s.end)) for c in spans if c.parent == i]
    return (s.end - s.start) - union_length([(a, b) for a, b in kids if b > a])


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class SpanRecorder:
    """Spans from any number of threads; within a thread, ``span()``
    nests by call order and ``request`` names the request in progress."""

    def __init__(self, clock=time.perf_counter):
        self.spans: list[Span] = []
        self._clock = clock
        self._lock = threading.Lock()
        self._local = threading.local()

    @property
    def request(self) -> str:
        return getattr(self._local, "request", "")

    @request.setter
    def request(self, value: str) -> None:
        self._local.request = value

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        span = Span(name, self._clock(), 0.0, stack[-1] if stack else None, self.request)
        with self._lock:
            i = len(self.spans)
            self.spans.append(span)
        stack.append(i)
        try:
            yield span
        finally:
            stack.pop()
            span.end = self._clock()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _named(self, name: str, requests) -> list[int]:
        return [i for i, s in enumerate(self.spans)
                if s.name == name and (requests is None or s.request in requests)]

    def durations(self, name: str, requests=None) -> list[float]:
        """Durations of the spans called ``name``, of ``requests`` only
        when given."""
        return [self.spans[i].end - self.spans[i].start for i in self._named(name, requests)]

    def self_times(self, name: str, requests=None) -> list[float]:
        return [self_time(self.spans, i) for i in self._named(name, requests)]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def plan_nodes(df):
    """(node class, output column names, ``numOutputRows``) for every
    node of ``df``'s executed physical plan, after an action on ``df``
    ran. Adaptive plans are read in their final form, query stages
    through the plan they wrap."""
    out, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        rows = node.metrics().get("numOutputRows")
        attrs = node.output()
        out.append((
            cls,
            [attrs.apply(i).name() for i in range(attrs.size())],
            rows.get().value() if rows.isDefined() else None,
        ))
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


class SparkStats:
    """Job and stage metrics of the jobs one thread ran under a job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def tag(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def group(self, groups: list[str], wall: tuple[float, float]) -> dict:
        """Totals over the jobs of ``groups``; ``wall`` is their (start,
        end) in epoch seconds, so ``driver_gap_ms`` is wall time outside
        every job."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_ms": 0.0,
               "executor_cpu_ms": 0.0, "shuffle_write_bytes": 0}
        intervals = []
        heaviest = (-1.0, None)
        jobs = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
        for jid in jobs:
            out["jobs"] += 1
            jd = self._store.job(jid)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                intervals.append((
                    jd.submissionTime().get().getTime() / 1e3,
                    jd.completionTime().get().getTime() / 1e3,
                ))
            for sid in tracker.getJobInfo(jid).stageIds:
                sd = self._store.lastStageAttempt(sid)
                if str(sd.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["executor_run_ms"] += sd.executorRunTime()
                out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                if sd.executorRunTime() > heaviest[0]:
                    heaviest = (sd.executorRunTime(), (sid, sd.attemptId()))
        clipped = [(max(a, wall[0]), min(b, wall[1])) for a, b in intervals]
        busy = union_length([(a, b) for a, b in clipped if b > a])
        out["driver_gap_ms"] = max(0.0, (wall[1] - wall[0]) - busy) * 1e3
        out["task_skew"] = self._skew(*heaviest[1]) if heaviest[1] else 1.0
        return out

    def _skew(self, sid: int, attempt: int) -> float:
        tasks = self._store.taskList(sid, attempt, 100_000)
        durs = [
            tasks.apply(i).duration().get() for i in range(tasks.size())
            if tasks.apply(i).duration().isDefined()
        ]
        if not durs:
            return 1.0
        med = statistics.median(durs)
        return max(durs) / med if med > 0 else 1.0
