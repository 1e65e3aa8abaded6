"""Small pure helpers: order statistics, the order-insensitive content
hash of a query result, and ``/proc`` readers for run diagnostics."""

from __future__ import annotations

import hashlib
import math
import os
import resource
import statistics
from collections.abc import Iterable, Sequence


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def quartiles(values: Sequence[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them; a single value is its own quartiles."""
    if not values:
        raise ValueError("quartiles of no values")
    if len(values) == 1:
        return (values[0],) * 3
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: Sequence[float]) -> float:
    """Inter-quartile range as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def canon(v) -> str:
    """Canonical text of one cell. Floats are rounded to 9 significant
    places so the last-ulp differences between engines do not count;
    integral floats print as integers, as DuckDB and Spark disagree on
    ``1.0`` against ``1`` for computed columns."""
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        if math.isinf(v):
            return "<inf>" if v > 0 else "<-inf>"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(float(f"{v:.9g}"))
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(x)}" for k, x in sorted(v.items(), key=str)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def content_hash(rows: Iterable[Sequence]) -> str:
    """Hash of a result that ignores row order and respects column
    order: each row becomes one line of its cells in column order, and
    the sorted lines are hashed."""
    lines = sorted("|".join(canon(c) for c in row) for row in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def arrow_rows(table) -> list[tuple]:
    """Rows of a pyarrow table as tuples, in column order."""
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    return list(zip(*cols))


# -- run diagnostics --------------------------------------------------
def cpu_times() -> tuple[float, float]:
    """(busy, steal) CPU-seconds of the whole VM from ``/proc/stat``,
    summed over all CPUs. Busy excludes idle, iowait and steal."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    tick = os.sysconf("SC_CLK_TCK")
    user, nice, system, idle, iowait, irq, softirq, steal = fields[:8]
    return (user + nice + system + irq + softirq) / tick, steal / tick


def self_maxrss_mb() -> float:
    """Peak resident set of this Python process, in MiB."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
