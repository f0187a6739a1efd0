"""Spans and engine counters for the traced benchmark run.

The tracer wraps the program's public functions from outside (module
attributes are swapped for the duration of the traced run and restored
afterwards), so the program itself carries no tracing code.  Spans stay in
memory and are written once, at the end of the run.

Spark jobs and stages are read from the application status store, which
Spark keeps even with the UI disabled; ``innermost`` finds the span a job
was submitted in (layers.py applies it to its breakdown spans).
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark stamps its jobs with
    end: float
    parent: int | None  # index of the enclosing span, None at the root
    pass_id: str
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
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


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children.setdefault(s.parent, []).append((lo, hi))
    return [
        s.duration - covered(children.get(i, [])) for i, s in enumerate(spans)
    ]


def innermost(spans: list[Span], t: float) -> int | None:
    """Index of the innermost span open at time ``t``.

    Spans come from one thread and nest, so the open span that started
    last is the innermost one.
    """
    best = None
    for i, s in enumerate(spans):
        if s.start <= t <= s.end and (best is None or s.start >= spans[best].start):
            best = i
    return best


class Tracer:
    """Records nested spans; ``pass_id`` tags the spans of one pass."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.pass_id = ""
        self.enabled = True
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield Span(name, 0.0, 0.0, None, "")
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), 0.0, parent, self.pass_id)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def wrap(self, fn, name: str, after=None):
        """``fn`` recorded as span ``name``; ``after(span, result, args)``
        may add counts once the call returns."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                result = fn(*args, **kwargs)
            if after is not None:
                after(s, result, args)
            return result

        return traced

    @contextmanager
    def patched(self, targets):
        """Swap each ``(owner, attr, span_name[, after])`` for a traced
        wrapper while the block runs."""
        saved = []
        try:
            for owner, attr, name, *after in targets:
                orig = getattr(owner, attr)
                saved.append((owner, attr, orig))
                setattr(owner, attr, self.wrap(orig, name, *after))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w", encoding="utf-8") as f:
            for s, st in zip(self.spans, selfs):
                f.write(json.dumps({**asdict(s), "self": st}) + "\n")


class SparkStatus:
    """Jobs and stages that completed since the previous read."""

    def __init__(self, spark) -> None:
        self._jsc = spark.sparkContext._jsc.sc()
        self._store = self._jsc.statusStore()
        self._no_quantiles = spark.sparkContext._gateway.new_array(
            spark.sparkContext._jvm.double, 0
        )
        self._last_job = -1
        self._last_stage = -1

    def _drain(self) -> None:
        # the status store is fed asynchronously by the listener bus
        self._jsc.listenerBus().waitUntilEmpty()

    def read(self) -> tuple[list[dict], list[dict]]:
        self._drain()
        jobs = []
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            jid = j.jobId()
            if jid <= self._last_job:
                continue
            sub, done = j.submissionTime(), j.completionTime()
            jobs.append({
                "id": jid,
                "submit": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
                "stages": [int(x) for x in _seq(j.stageIds())],
            })
        stages = []
        it = self._store.stageList(
            None, False, False, self._no_quantiles, None
        ).iterator()
        while it.hasNext():
            st = it.next()
            sid = st.stageId()
            if sid <= self._last_stage or str(st.status()) != "COMPLETE":
                continue
            stages.append({
                "id": sid,
                "tasks": st.numCompleteTasks(),
                "cpu_s": st.executorCpuTime() / 1e9,
                "run_s": st.executorRunTime() / 1e3,
                "input_bytes": st.inputBytes(),
                "shuffle_read_bytes": st.shuffleReadBytes(),
                "shuffle_write_bytes": st.shuffleWriteBytes(),
            })
        if jobs:
            self._last_job = max(j["id"] for j in jobs)
        if stages:
            self._last_stage = max(s["id"] for s in stages)
        return jobs, stages


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def jvm_counters(spark) -> dict[str, float]:
    """Cumulative GC and JIT seconds and code-cache megabytes of the JVM."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    code = sum(
        p.getUsage().getUsed()
        for p in mf.getMemoryPoolMXBeans()
        if "Code" in p.getName()
    )
    return {
        "gc_s": gc_ms / 1e3,
        "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
        "codecache_mb": code / 2**20,
    }


class PlanListener:
    """Catalyst phase times of every executed query, via a
    ``QueryExecutionListener`` implemented over the py4j callback server.

    The listener bus calls it asynchronously; ``phases`` collects the
    analysis + optimization + planning seconds of each query.
    """

    def __init__(self) -> None:
        self.phases: list[float] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        self._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self._record(qe)

    def _record(self, qe) -> None:
        ph = qe.tracker().phases()
        total = 0.0
        for name in ("analysis", "optimization", "planning"):
            opt = ph.get(name)
            if opt.isDefined():
                total += opt.get().durationMs() / 1e3
        self.phases.append(total)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
