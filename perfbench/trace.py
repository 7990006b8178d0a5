"""Spans and counters recorded at the engine's layer boundaries.

Spans are opened by the benchmark around each call into an engine layer
(``queries.build``, ``ml.als.fit`` …) and kept in memory; the run writes them
out once at the end. Counters come from outside the engine: an exact py4j
call count (a wrapper on the gateway client) and Spark's own job, stage,
task and GC accounting read from Spark's status store.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    op_id: int


class Tracer:
    """In-memory span recorder. ``enabled=False`` records nothing, so the
    untraced timed runs pay one attribute check per layer call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op_id = -1

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name, the summed self time: each span's duration minus the
    part of its interval that its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        own = (s.end - s.start) - _covered(children.get(i, []), s.start, s.end)
        out[s.name] = out.get(s.name, 0.0) + own
    return out


def span_totals(spans: list[Span]) -> dict[str, tuple[float, int]]:
    """Per span name: (summed duration, number of spans)."""
    out: dict[str, tuple[float, int]] = {}
    for s in spans:
        tot, n = out.get(s.name, (0.0, 0))
        out[s.name] = (tot + s.end - s.start, n + 1)
    return out


class Py4jCounter:
    """Exact count of py4j round trips made by this process: every JVM call
    from PySpark goes through the gateway client's ``send_command``."""

    def __init__(self, spark):
        self.calls = 0
        self.active = False
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

        def counted(*args, **kwargs):
            self.calls += self.active
            return self._orig(*args, **kwargs)

        self._client.send_command = counted

    def close(self) -> None:
        self._client.send_command = self._orig


#: Stage-level totals read per op from Spark's status store.
STAGE_FIELDS = {
    "spark.tasks": ("numCompleteTasks", 1.0),
    "spark.failed_tasks": ("numFailedTasks", 1.0),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1.0),
    "spark.input_records": ("inputRecords", 1.0),
    "spark.input_bytes": ("inputBytes", 1.0),
    "spark.executor_run_s": ("executorRunTime", 1e-3),   # ms
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),   # ns
}


class SparkCounters:
    """Job/stage/task/GC accounting between two points in time.

    Jobs are taken as the id range the DAG scheduler handed out in between,
    not a job group: broadcast-exchange jobs run on a thread pool that does
    not inherit the caller's group."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._jvm = self._sc._jvm

    def next_job(self) -> int:
        return self._jsc.dagScheduler().nextJobId()

    def _gc_s(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0

    def mark(self) -> tuple[int, float]:
        return self.next_job(), self._gc_s()

    def since(self, mark: tuple[int, float]) -> dict[str, float]:
        first_job, gc0 = mark
        last_job, gc1 = self.mark()
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        store = self._jsc.statusStore()
        stage_ids: set[int] = set()
        for jid in range(first_job, last_job):
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {k: 0.0 for k in STAGE_FIELDS}
        out.update({"spark.jobs": float(last_job - first_job),
                    "spark.stages": 0.0, "spark.jvm_gc_s": gc1 - gc0})
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # never submitted: skipped by shuffle reuse
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            for key, (getter, scale) in STAGE_FIELDS.items():
                out[key] += getattr(st, getter)() * scale
        return out
