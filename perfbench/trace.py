"""Benchmark-side tracing: spans plus Spark job statistics per operation.

Nothing here reaches inside ``metevents_spark``: each operation runs
under its own Spark job group, and after it returns the statistics of
that group's jobs are read from ``SparkContext.statusTracker()`` (jobs,
stages) and from the driver's status store (tasks, shuffle bytes,
input records, executor run and CPU time). Spans (name, start, end,
parent) stay in memory until ``Tracer.dump`` writes them out.
``Tracer.own_s`` adds up the time the tracer's own Spark calls take,
waiting for the listener bus included: the tracing overhead.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None


@dataclass
class GroupStats:
    """Summed over every job a job group ran; skipped stages (reused
    shuffle output) are not counted."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    input_records: int = 0
    shuffle_write_bytes: int = 0
    run_ms: int = 0
    cpu_ms: float = 0.0

    @property
    def cpu_ratio(self) -> float:
        return self.cpu_ms / self.run_ms if self.run_ms else 0.0


def group_stats(sc, group: str) -> GroupStats:
    """Statistics of the jobs run under job group ``group`` so far."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the status store lags job end
    tracker, store = sc.statusTracker(), jsc.statusStore()
    out = GroupStats()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out.jobs += 1
        for stage_id in info.stageIds:
            data = store.lastStageAttempt(stage_id)
            if data.status().toString() != "COMPLETE":
                continue
            out.stages += 1
            out.tasks += data.numCompleteTasks()
            out.input_records += data.inputRecords()
            out.shuffle_write_bytes += data.shuffleWriteBytes()
            out.run_ms += data.executorRunTime()
            out.cpu_ms += data.executorCpuTime() / 1e6
    return out


@dataclass
class Tracer:
    """Spans and per-group statistics of one traced run. ``enabled``
    False makes every method a cheap no-op, so untraced runs share the
    code path without touching job groups or the status store."""

    sc: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=itertools.count)
    _stack: list[int] = field(default_factory=list)
    _groups: itertools.count = field(default_factory=itertools.count)
    own_s: float = 0.0  # time spent in the tracer's own Spark calls

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(next(self._ids), name, time.perf_counter(),
                 parent=self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    @contextmanager
    def paused(self):
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    @contextmanager
    def group(self, name: str):
        """Run the body under a fresh job group; yields a one-element
        list that receives the group's GroupStats on exit."""
        box: list[GroupStats] = []
        if not self.enabled:
            yield box
            return
        t0 = time.perf_counter()
        gid = f"{name}#{next(self._groups)}"
        self.sc.setJobGroup(gid, name)
        self.own_s += time.perf_counter() - t0
        try:
            with self.span(name):
                yield box
        finally:
            t0 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            box.append(group_stats(self.sc, gid))
            self.own_s += time.perf_counter() - t0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
