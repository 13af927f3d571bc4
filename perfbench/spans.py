"""Spans and per-span Spark counters for the traced run.

Each span runs under its own Spark job group, so the jobs, stages and
tasks it launched can be read back from ``statusTracker()`` and the
status store once it ends. Spans are kept in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import time
import uuid
from dataclasses import asdict, dataclass, field

_COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes", "gc_s")


@dataclass
class Span:
    name: str
    trace_id: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Py4jCallCounter:
    """Counts Python -> JVM calls by wrapping the gateway client's
    ``send_command``; every py4j round-trip goes through it. Calls made
    inside ``paused()`` (the tracer's own bookkeeping) are not counted."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        self.calls = 0
        self._paused = False

        def counting(*args, **kwargs):
            if not self._paused:
                self.calls += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = counting

    @contextlib.contextmanager
    def paused(self):
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    def close(self) -> None:
        self._client.send_command = self._orig


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.trace_id = uuid.uuid4().hex[:16]
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.py4j = Py4jCallCounter(spark)

    @contextlib.contextmanager
    def span(self, name: str):
        span = Span(
            name, self.trace_id, len(self.spans),
            self._stack[-1] if self._stack else None, time.perf_counter(),
        )
        self.spans.append(span)
        group = f"{self.trace_id}.{span.span_id}"
        with self.py4j.paused():
            self.sc.setJobGroup(group, name)
        self._stack.append(span.span_id)
        calls0 = self.py4j.calls
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            calls = self.py4j.calls - calls0
            self._stack.pop()
            # counters are read outside [start, end], and their py4j
            # calls are not the program's
            with self.py4j.paused():
                span.counters = self._job_counters(group)
                if self._stack:
                    self.sc.setJobGroup(f"{self.trace_id}.{self._stack[-1]}", self.spans[self._stack[-1]].name)
                else:
                    self.sc._jsc.clearJobGroup()
            span.counters["py4j_calls"] = calls

    def _job_counters(self, group: str) -> dict[str, float]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(_COUNTERS, 0.0)
        stages: set[int] = set()
        for job in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        for sid in stages:
            stage = store.lastStageAttempt(sid)
            if stage.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += stage.numCompleteTasks()
            out["shuffle_write_bytes"] += stage.shuffleWriteBytes()
            out["spill_bytes"] += stage.diskBytesSpilled()
            out["gc_s"] += stage.jvmGcTime() / 1000.0
        return out

    def close(self) -> None:
        self.py4j.close()
        self.sc._jsc.clearJobGroup()

    def records(self) -> list[dict]:
        return [asdict(s) for s in self.spans]
