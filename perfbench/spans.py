"""Per-layer spans for the traced mode.

A span wraps one call into a layer's public function, tags the Spark jobs
it runs with a job group named after the layer, and reads what those jobs
did from Spark's AppStatusStore (the store behind the web UI, filled even
with the UI off): stages, tasks, executor run and CPU time, GC, shuffle,
spill and peak execution memory.  The stages of a span are the ones that
appeared while it ran; layers are forced one at a time, so no two spans
overlap.  Python-worker CPU comes from /proc (see proc.py).
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import proc


@dataclass
class Span:
    name: str
    wall_s: float = 0.0
    python_cpu_s: float = 0.0
    jobs: int = 0
    stages: list = field(default_factory=list)  # StageData of the span

    @property
    def tasks(self) -> int:
        return sum(s.numCompleteTasks() for s in self.stages)

    @property
    def jvm_cpu_s(self) -> float:
        return sum(s.executorCpuTime() for s in self.stages) / 1e9

    @property
    def gc_s(self) -> float:
        return sum(s.jvmGcTime() for s in self.stages) / 1e3

    @property
    def shuffle_write_mb(self) -> float:
        return sum(s.shuffleWriteBytes() for s in self.stages) / 1e6

    @property
    def spill_mb(self) -> float:
        return sum(s.memoryBytesSpilled() + s.diskBytesSpilled()
                   for s in self.stages) / 1e6

    @property
    def peak_exec_mb(self) -> float:
        return max((s.peakExecutionMemory() for s in self.stages), default=0) / 1e6


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: list[Span] = []

    def _settle(self) -> None:
        # the status store is filled by an asynchronous listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _stages(self) -> dict[int, object]:
        jvm = self.sc._jvm
        seq = self.store.stageList(
            jvm.java.util.ArrayList(), False, False,
            getattr(self.store, "stageList$default$4")(),
            getattr(self.store, "stageList$default$5")(),
        )
        return {s.stageId(): s for s in
                jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)}

    def _job_count(self) -> int:
        return self.store.jobsList(self.sc._jvm.java.util.ArrayList()).size()

    @contextmanager
    def span(self, name: str):
        self._settle()
        before, jobs0 = set(self._stages()), self._job_count()
        py0 = proc.python_worker_cpu_s()
        self.sc.setJobGroup(name, name)
        sp = Span(name)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall_s = time.perf_counter() - t0
            self.sc.setJobGroup(None, None)
            sp.python_cpu_s = proc.python_worker_cpu_s() - py0
            self._settle()
            after = self._stages()
            sp.stages = [s for i, s in sorted(after.items()) if i not in before]
            sp.jobs = self._job_count() - jobs0
            self.spans.append(sp)

    def task_seconds(self, stage) -> list[float]:
        """Durations of the tasks of one stage attempt."""
        seq = self.store.taskList(stage.stageId(), stage.attemptId(), 100000)
        tasks = self.sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)
        return [t.duration().get() / 1e3 for t in tasks if t.duration().isDefined()]

    def totals(self) -> dict[str, float]:
        stages = [s for sp in self.spans for s in sp.stages]
        whole = Span("spark", stages=stages)
        return {
            "spark.jobs": sum(sp.jobs for sp in self.spans),
            "spark.stages": len(stages),
            "spark.tasks": whole.tasks,
            "spark.gc_s": whole.gc_s,
            "spark.shuffle_write_mb": whole.shuffle_write_mb,
            "spark.spill_mb": whole.spill_mb,
        }


def busiest_stage_tasks(tracer: Tracer, span: Span) -> dict[str, float]:
    """Task count, slowest and median task of the span's longest stage."""
    if not span.stages:
        return {"tasks": 0, "task_max_s": 0.0, "task_median_s": 0.0}
    stage = max(span.stages, key=lambda s: s.executorRunTime())
    secs = tracer.task_seconds(stage) or [0.0]
    return {"tasks": len(secs), "task_max_s": max(secs),
            "task_median_s": statistics.median(secs)}
