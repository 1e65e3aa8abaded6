"""Spans around calls into the program's layers, with the Spark work
each call launched.

A span records its name, start and end (seconds since the run began),
its parent span, the round it belongs to, and, when Spark counting is
on, the jobs, stages and tasks of the call. The counts come from a job
group set around the call and read back from
``SparkContext.statusTracker()`` afterwards, so nothing inside the
program changes.

Spans stay in memory; ``run.py`` writes them into the run record at the
end. With tracing off, spans are still kept (a few hundred small objects
a run) but no job group is set and nothing is read from Spark.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    round: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int | None = None
    stages: int | None = None
    tasks: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) launched under a job group. Stages that
    were skipped (their shuffle output was reused) run no tasks and are
    not counted."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    seen: set[int] = set()
    for job_id in jobs:
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            if stage_id in seen:
                continue
            seen.add(stage_id)
            stage = tracker.getStageInfo(stage_id)
            if stage is not None and stage.numCompletedTasks > 0:
                stages += 1
                tasks += stage.numCompletedTasks
    return len(jobs), stages, tasks


class Tracer:
    """Times calls into spans; with ``count_jobs`` it also counts the
    Spark work of each call through a job group.

    ``sc`` may be set after construction, once the session exists.
    """

    def __init__(self, count_jobs: bool, t0: float):
        self.count_jobs = count_jobs
        self.t0 = t0
        self.sc = None
        self.round = 0
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._counting = False
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, *, count_jobs: bool = True):
        """Time the body. Yields the span so the caller can read
        ``wall_s`` or attach ``attrs``.
        Spans nest; Spark work is counted on leaf spans only, since a
        thread carries one job group at a time."""
        parent = self._stack[-1].id if self._stack else None
        s = Span(next(self._ids), name, self.round, parent, time.perf_counter() - self.t0)
        group = None
        if self.count_jobs and count_jobs and self.sc is not None:
            if self._counting:
                raise RuntimeError(f"span {name!r} counts jobs inside a counting span")
            group = f"perfbench-{s.id}"
            self._counting = True
            self.sc.setJobGroup(group, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter() - self.t0
            self._stack.pop()
            if group is not None:
                self.sc._jsc.clearJobGroup()
                self._counting = False
                s.jobs, s.stages, s.tasks = job_counts(self.sc, group)
            self.spans.append(s)
