"""Tracing for the benchmark's traced run.

`Tracer` records spans (name, start, end, parent, op id) around the
public calls the workloads make into each package layer, keeps them in
memory and writes them out when the run ends. `SparkProbe` attributes
Spark work to one operation through a per-op job group and reads job,
stage and task counts and executor metrics from the status tracker and
the status store (both work with the Spark UI disabled).
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None


class Tracer:
    """Span recorder. Disabled, `span` is a no-op context manager and
    `wrap` patches nothing, so the untraced run pays nothing for it.
    Spans are recorded from the main thread only; calls made from worker
    threads (such as concurrent continuous-query runs) are attributed to
    the enclosing main-thread span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[type, str, object]] = []
        self._main = threading.get_ident()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled or threading.get_ident() != self._main:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()

    def wrap(self, cls: type, method: str, name: str) -> None:
        """Record a span around every call of `cls.method` (class-level,
        so calls the package makes internally are seen too)."""
        if not self.enabled:
            return
        orig = cls.__dict__[method]

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(cls, method, traced)
        self._patched.append((cls, method, orig))

    def unwrap(self) -> None:
        for cls, method, orig in reversed(self._patched):
            setattr(cls, method, orig)
        self._patched.clear()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name over the spans of measured ops, minus
        the time each span's child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s.op_id is not None:
                out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def durations(self, name: str, in_ops: bool = True) -> list[float]:
        """Durations of the spans called `name`; by default only those
        inside measured ops (not set-up's seeding inserts, say)."""
        return [s.end - s.start for s in self.spans
                if s.name == name and (s.op_id is not None or not in_ops)]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


@dataclass
class OpSpark:
    """Spark work attributed to one operation."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    busy_ms: float = 0.0  # op wall time covered by at least one running job


class SparkProbe:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def begin(self, op_id: int) -> str:
        group = f"perfbench-op-{op_id}"
        self.sc.setJobGroup(group, group)
        return group

    def end(self, group: str, t0_ms: float, t1_ms: float) -> OpSpark:
        """Collect the op's Spark work. t0_ms/t1_ms bound the op in epoch
        milliseconds, for the share of its wall time with a job running."""
        self.sc._jsc.clearJobGroup()
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = OpSpark()
        intervals = []
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out.jobs += 1
            jd = store.job(jid)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                intervals.append((
                    max(t0_ms, jd.submissionTime().get().getTime()),
                    min(t1_ms, jd.completionTime().get().getTime()),
                ))
            for sid in info.stageIds:
                sd = store.lastStageAttempt(sid)
                if str(sd.status()) == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += sd.numCompleteTasks()
                out.executor_run_ms += sd.executorRunTime()
                out.gc_ms += sd.jvmGcTime()
                out.shuffle_write_bytes += sd.shuffleWriteBytes()
                out.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out.busy_ms = _covered(intervals)
        return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [a, b] intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def catalyst_phases_ms(df) -> float:
    """Sum of the Catalyst phase times (parsing, analysis, optimization,
    planning) of an executed DataFrame."""
    it = df._jdf.queryExecution().tracker().phases().iterator()
    total = 0.0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total
