"""Spans and Spark counters recorded from outside the package.

A :class:`Tracer` records a span (name, layer, start, end, parent,
iteration id) around every public call the benchmark makes; the
end-to-end metrics use only their wall times. With tracing on, each span
also gets the Spark counters read by diffing the application status
store before and after the call. Spans stay in memory until the run
writes them out once.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Dict, List, Optional

COUNTERS = (
    "jobs",
    "tasks",
    "failed_tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


_TICK = os.sysconf("SC_CLK_TCK")
# JIT compiler threads: their CPU time falls as the JVM warms up, and
# belongs to no call
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def cpu_seconds(jvm_pid: int) -> float:
    """User and system CPU time used so far by this process and by every
    thread of the Spark JVM but its JIT compilers. Unlike wall time, it
    leaves out the time the host gave this machine's virtual CPUs to
    other guests."""
    own = os.times()
    total = own.user + own.system
    tasks = "/proc/%d/task" % jvm_pid
    for tid in os.listdir(tasks):
        try:
            with open("%s/%s/stat" % (tasks, tid)) as fh:
                stat = fh.read()
        except OSError:
            continue  # the thread ended since the listing
        name, fields = stat[stat.index("(") + 1 : stat.rindex(")")], stat[stat.rindex(")") + 2 :].split()
        if name not in _JIT_THREADS:
            total += (int(fields[11]) + int(fields[12])) / _TICK
    return total


@dataclass
class Span:
    name: str  # "<layer>.<call>"
    layer: str
    iteration: str  # "setup", "warmup" or the iteration number
    start: float
    end: float = 0.0
    parent: Optional[int] = None  # index into Tracer.spans
    counters: Dict[str, int] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def _scala_list(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


class StatusStoreCounters:
    """Job/stage counters of every Spark job started since a mark.

    Reads Spark's ``AppStatusStore`` (the store behind the Spark UI,
    kept even with the UI disabled). Stage and job ids only grow, so the
    jobs and stages of one call are those above the ids seen before it.
    The listener bus is drained first: the store is updated
    asynchronously after an action returns."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)

    def _stages(self):
        return _scala_list(self._store.stageList(None, False, False, self._no_quantiles, None))

    def _job_ids(self) -> List[int]:
        return [j.jobId() for j in _scala_list(self._store.jobsList(None))]

    def mark(self):
        self._jsc.listenerBus().waitUntilEmpty()
        stage_ids = [s.stageId() for s in self._stages()]
        return max(self._job_ids(), default=-1), max(stage_ids, default=-1)

    def since(self, mark) -> Dict[str, int]:
        last_job, last_stage = mark
        self._jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(COUNTERS, 0)
        out["jobs"] = sum(1 for j in self._job_ids() if j > last_job)
        for s in self._stages():
            if s.stageId() <= last_stage:
                continue
            out["tasks"] += s.numCompleteTasks()
            out["failed_tasks"] += s.numFailedTasks()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out


class Tracer:
    """Spans around the benchmark's calls into the package."""

    def __init__(self, spark, workload: str, counters: bool):
        self._sc = spark.sparkContext
        self.workload = workload
        self.counters = StatusStoreCounters(spark) if counters else None
        self.enabled = False  # read counters around each call
        self.spans: List[Span] = []
        self._stack: List[int] = []
        self.iteration = "setup"

    @contextmanager
    def span(self, name: str):
        """Time one call. Every Spark job it starts carries the job
        description ``bench: <workload>.<name>``."""
        layer = name.split(".", 1)[0]
        parent = self._stack[-1] if self._stack else None
        self.describe(name)
        mark = self.counters.mark() if self.enabled else None
        span = Span(name, layer, self.iteration, time.perf_counter(), parent=parent)
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                span.counters = self.counters.since(mark)
            self.describe(self.spans[parent].name if parent is not None else None)

    def describe(self, name: Optional[str]) -> None:
        self._sc.setJobDescription(
            "bench: %s.%s" % (self.workload, name) if name else None
        )

    def self_seconds(self, iteration: str) -> Dict[str, float]:
        """Self time per layer in one iteration: each span's duration
        minus the part its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.seconds
        out: Dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s.iteration == iteration:
                out[s.layer] = out.get(s.layer, 0.0) + s.seconds - child[i]
        return out

    def to_json(self) -> list:
        return [asdict(s) for s in self.spans]
