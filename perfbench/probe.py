"""Measurement helpers: spans, per-call Spark counts and memory high-water.

Every engine call the benchmark times goes through :meth:`Probe.call`.
With tracing off it only reads the clock. With tracing on it also

- tags the call's Spark jobs with a job group of its own
  (``SparkContext.setJobGroup``) and afterwards reads that group's jobs,
  stages and tasks from ``SparkContext.statusTracker()``;
- records a span (name, start, end, parent, request id) in memory;
- adds the time it spends on this bookkeeping to ``overhead_s``, so the
  traced run can report its own cost.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Counts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    def __iadd__(self, other: "Counts") -> "Counts":
        self.jobs += other.jobs
        self.stages += other.stages
        self.tasks += other.tasks
        self.failed_tasks += other.failed_tasks
        return self


def group_counts(sc, group: str) -> Counts:
    """Jobs, stages and tasks Spark ran under one job group. Stages that
    a job lists but skipped (shuffle output reused) run no tasks and are
    not counted."""
    tracker = sc.statusTracker()
    out = Counts()
    stage_ids: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        out.jobs += 1
        info = tracker.getJobInfo(job_id)
        if info is not None:
            stage_ids.update(info.stageIds)
    for stage_id in stage_ids:
        info = tracker.getStageInfo(stage_id)
        if info is None:
            continue
        ran = info.numCompletedTasks + info.numFailedTasks
        if ran:
            out.stages += 1
            out.tasks += ran
            out.failed_tasks += info.numFailedTasks
    return out


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None
    group: str
    counts: Counts | None = None


@dataclass
class Probe:
    """Times calls; when ``trace`` is set, also records spans and counts."""

    sc: object
    trace: bool
    spans: list[Span] = field(default_factory=list)
    overhead_s: float = 0.0
    _stack: list[int] = field(default_factory=list)
    _groups: int = 0

    @contextlib.contextmanager
    def call(self, name: str, request: int | None = None):
        """Time the body; yields a dict that receives ``seconds`` and,
        when tracing, ``counts`` (the body's Spark work)."""
        result: dict = {}
        if not self.trace:
            t0 = time.perf_counter()
            yield result
            result["seconds"] = time.perf_counter() - t0
            return
        b0 = time.perf_counter()
        self._groups += 1
        group = f"perfbench-{os.getpid()}-{self._groups}"
        parent = self._stack[-1] if self._stack else None
        self.sc.setJobGroup(group, name)
        idx = len(self.spans)
        self.spans.append(Span(name, 0.0, 0.0, parent, request, group))
        self._stack.append(idx)
        t0 = time.perf_counter()
        self.overhead_s += t0 - b0
        try:
            yield result
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            # Spark job groups do not nest: a span's own group holds only
            # the jobs it ran outside its children, so add theirs
            counts = group_counts(self.sc, group)
            for child in self.spans[idx + 1:]:
                if child.parent == idx and child.counts is not None:
                    counts += child.counts
            span = self.spans[idx]
            span.start, span.end, span.counts = t0, t1, counts
            if parent is not None:
                self.sc.setJobGroup(self.spans[parent].group, self.spans[parent].name)
            else:
                self.sc.setJobGroup("perfbench-idle", "idle")
            result["seconds"] = t1 - t0
            result["counts"] = counts
            self.overhead_s += time.perf_counter() - t1

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([
                {"id": i, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
                 "request": s.request,
                 **({"jobs": s.counts.jobs, "stages": s.counts.stages, "tasks": s.counts.tasks,
                     "failed_tasks": s.counts.failed_tasks} if s.counts else {})}
                for i, s in enumerate(self.spans)
            ], f)


def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def peak_rss_mb() -> float:
    """High-water resident memory of this process plus every process it
    started (the Spark JVM and its Python workers), in MiB."""
    me = os.getpid()
    return sum(_hwm_kb(p) for p in [me, *_descendants(me)]) / 1024.0
