"""Layer spans recorded from outside the program.

Each span wraps one call into a public function of the program. When
tracing is on, the span runs under its own Spark job group, and on exit
the tracer reads what Spark did inside it: jobs and stages through
``statusTracker``, tasks, shuffle and spill bytes through the status
store. Both work with ``spark.ui.enabled=false``. Spans are kept in
memory; the time the tracer spends on its own bookkeeping is kept too,
so the run can report its overhead.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    request: int | None  # None for set-up spans
    seconds: float
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


class Tracer:
    """Span recorder; a disabled tracer adds nothing but the ``with``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        #: bookkeeping time spent inside requests (outside every span)
        self.overhead_s = 0.0
        self.request: int | None = None
        self._sc = None
        self._groups = 0

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        group = None
        if self._sc is not None:
            self._groups += 1
            group = f"perfbench-{self._groups}"
            self._sc.setJobGroup(group, name)
        t1 = time.perf_counter()
        try:
            yield
        finally:
            t2 = time.perf_counter()
            span = Span(name, self.request, t2 - t1)
            if group is not None:
                self._count(group, span)
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(span)
            if self.request is not None:
                self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def _count(self, group: str, span: Span) -> None:
        sc = self._sc
        jsc = sc._jsc.sc()
        # job/stage end events reach the status store through the
        # asynchronous listener bus; drain it before reading
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        for job in tracker.getJobIdsForGroup(group):
            span.jobs += 1
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                data = store.lastStageAttempt(stage)
                if data.status().toString() == "SKIPPED":
                    continue
                span.stages += 1
                span.tasks += data.numCompleteTasks()
                span.shuffle_bytes += data.shuffleWriteBytes()
                span.spill_bytes += data.diskBytesSpilled()
