"""Spark and JVM counters read from outside the program, plus the span
recorder of the traced run.

Counters come from the SparkContext's status store (the same store the
web UI reads; it is populated with the UI disabled) through py4j, and from
the driver JVM's management beans. Nothing here changes the session.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

STAGE_FIELDS = (
    "numCompleteTasks",
    "executorRunTime",
    "shuffleWriteBytes",
    "diskBytesSpilled",
    "inputBytes",
)


@dataclass
class Stage:
    stage_id: int
    submitted_ms: int  # epoch milliseconds
    values: dict


class SparkCounters:
    """Reads completed stages, jobs, cached storage and JVM GC/heap."""

    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        jvm = spark._jvm
        self._as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        mf = jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        self._heap_pools = [
            p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"
        ]
        self._stage_default4 = getattr(self._store, "stageList$default$4")()
        self._stage_default5 = getattr(self._store, "stageList$default$5")()
        self.stages: list[Stage] = []  # every stage seen, oldest first
        self.jobs: list[tuple[int, int]] = []  # (job id, submitted epoch ms)
        self._last_stage = -1
        self._last_job = -1

    def _drain(self) -> None:
        # The status store is fed asynchronously by the listener bus.
        self._sc.listenerBus().waitUntilEmpty()

    def poll(self) -> None:
        """Append stages and jobs that finished since the last poll. Every
        action the benchmark starts has returned by the time it polls, so
        all newer stages are final; the store lists them newest first."""
        self._drain()
        stage_list = self._store.stageList(
            None, False, False, self._stage_default4, self._stage_default5
        )
        fresh = []
        for sd in self._as_java(stage_list):
            sid = sd.stageId()
            if sid <= self._last_stage:
                break
            sub = sd.submissionTime()
            if sd.status().toString() == "SKIPPED" or sub.isEmpty():
                fresh.append(Stage(sid, 0, dict.fromkeys(STAGE_FIELDS, 0)))
                continue
            values = {f: int(getattr(sd, f)()) for f in STAGE_FIELDS}
            fresh.append(Stage(sid, int(sub.get().getTime()), values))
        if fresh:
            self._last_stage = fresh[0].stage_id
            self.stages.extend(reversed(fresh))
        new_jobs = []
        for jd in self._as_java(self._store.jobsList(None)):
            jid = jd.jobId()
            if jid <= self._last_job:
                break
            sub = jd.submissionTime()
            new_jobs.append((jid, int(sub.get().getTime()) if sub.isDefined() else 0))
        if new_jobs:
            self._last_job = new_jobs[0][0]
            self.jobs.extend(reversed(new_jobs))

    def gc_ms(self) -> int:
        return sum(int(b.getCollectionTime()) for b in self._gc_beans)

    def reset_peak_heap(self) -> None:
        for p in self._heap_pools:
            p.resetPeakUsage()

    def peak_heap_bytes(self) -> int:
        return sum(int(p.getPeakUsage().getUsed()) for p in self._heap_pools)

    def cached_bytes(self) -> int:
        self._drain()
        return sum(
            int(r.memoryUsed()) + int(r.diskUsed())
            for r in self._as_java(self._store.rddList(True))
        )


def totals(stages: list[Stage]) -> dict:
    out = dict.fromkeys(STAGE_FIELDS, 0)
    for s in stages:
        for f in STAGE_FIELDS:
            out[f] += s.values[f]
    out["stages"] = len(stages)
    return out


@dataclass
class Span:
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    stage_lo: int = 0  # index range into SparkCounters.stages
    stage_hi: int = 0
    job_lo: int = 0
    job_hi: int = 0
    wall_start: float = 0.0  # epoch seconds, to split stages by time

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans (name, start, end, parent) around calls into the
    program, and the Spark counters that moved between their boundaries.
    Spans stay in memory until ``dump``."""

    def __init__(self, counters: SparkCounters | None = None):
        self.counters = counters
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].name if self._stack else None
        c = self.counters
        if c is not None:
            c.poll()
        s = Span(name, parent, time.perf_counter() - self.t0, wall_start=time.time())
        if c is not None:
            s.stage_lo, s.job_lo = len(c.stages), len(c.jobs)
        self._stack.append(s)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter() - self.t0
            if c is not None:
                c.poll()
                s.stage_hi, s.job_hi = len(c.stages), len(c.jobs)
            self.spans.append(s)

    def get(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)

    def self_seconds(self, name: str) -> float:
        """Duration minus the part its child spans cover."""
        s = self.get(name)
        children = sum(c.seconds for c in self.spans if c.parent == name)
        return s.seconds - children

    def stages(self, *names: str):
        out = []
        for n in names:
            s = self.get(n)
            out.extend(self.counters.stages[s.stage_lo : s.stage_hi])
        return out

    def dump(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "parent": s.parent,
                "start": round(s.start, 6),
                "end": round(s.end, 6),
                "self": round(self.self_seconds(s.name), 6),
                "stages": s.stage_hi - s.stage_lo,
                "jobs": s.job_hi - s.job_lo,
            }
            for s in sorted(self.spans, key=lambda s: s.start)
        ]
