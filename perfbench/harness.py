"""What every workload shares: the Spark session, the tracer, the
count of attempted and failed operations, and per-round diagnostics."""

from __future__ import annotations

import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from spans import Tracer
from stats import cpu_times, median


@dataclass
class Round:
    index: int
    wall_s: float = 0.0  # the round's timed operations, summed
    busy_cpu_s: float = 0.0  # VM-wide, over the whole round
    steal_s: float = 0.0


@dataclass
class Run:
    """State of one benchmark run, handed to the workload."""

    seed: int
    work: str
    tracer: Tracer
    spark: object = None
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    rounds: list[Round] = field(default_factory=list)
    phases: dict[str, float] = field(default_factory=dict)
    record: dict = field(default_factory=dict)  # workload output for the run record

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"round {self.tracer.round} {what}: {why}")
        print(f"perfbench: FAIL round {self.tracer.round} {what}: {why}", file=sys.stderr)

    def op(self, name: str, call, check=None, *, count_jobs: bool = True):
        """Run one timed operation and check its output outside the
        timing. An exception or a failed check fails the operation and
        is counted; the run goes on. Returns the output, or None when
        the call raised."""
        self.attempted += 1
        span = None
        try:
            with self.tracer.span(name, count_jobs=count_jobs) as span:
                out = call()
        except Exception:  # noqa: BLE001 - a failing operation is a result, not a crash
            self.fail(name, traceback.format_exc(limit=3))
            return None
        finally:
            if span is not None:
                self.rounds[-1].wall_s += span.wall_s
        if check is not None:
            try:
                problem = check(out, span)
            except Exception:  # noqa: BLE001
                problem = "check raised " + traceback.format_exc(limit=3)
            if problem:
                self.fail(name, problem)
        return out

    def timed_part(self, name: str, call):
        """A timed part of a larger operation (the operation is counted
        by the caller); exceptions propagate, and the time of a call that
        raised still counts."""
        span = None
        try:
            with self.tracer.span(name) as span:
                out = call()
        finally:
            if span is not None:
                self.rounds[-1].wall_s += span.wall_s
        return out, span

    @contextmanager
    def round(self, index: int):
        """Scope of one round: its operations add to its ``wall_s``, and
        the VM's busy and steal CPU seconds over it are recorded."""
        self.tracer.round = index
        r = Round(index)
        self.rounds.append(r)
        busy0, steal0 = cpu_times()
        try:
            yield r
        finally:
            busy, steal = cpu_times()
            r.busy_cpu_s, r.steal_s = busy - busy0, steal - steal0


def layer_figure(spans, name: str, key: str) -> float:
    """Median over the run's rounds of one figure of the spans called
    ``name``: ``wall_s``, a Spark count, or an attribute the workload
    attached. 0 when no span has it (the layer was not entered, or the
    operation failed before its figures were taken)."""
    values = []
    for s in spans:
        if s.name != name:
            continue
        if key == "wall_s":
            values.append(s.wall_s)
        elif key in ("jobs", "stages", "tasks"):
            values.append(getattr(s, key) or 0)
        elif key in s.attrs:
            values.append(s.attrs[key])
    return median(values) if values else 0.0


def timed(run: Run, phase: str, call):
    """Time a set-up phase into ``run.phases``."""
    t = time.perf_counter()
    out = call()
    run.phases[phase] = time.perf_counter() - t
    return out
