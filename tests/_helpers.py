"""Shared plain-module test helpers (not a pytest plugin — conftest.py
is reserved for fixtures; importing helpers from it ties collection to
the prepend import mode)."""

from __future__ import annotations

import contextlib
import math


@contextlib.contextmanager
def job_group(spark, group):
    """Tag the Spark jobs run inside the block with ``group``; yields a
    callable returning the group's job ids."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield lambda: sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc._jsc.clearJobGroup()


def py_norm_p(z: float) -> float:
    """Python replay of stats.normal_p_two_sided — the A&S 7.1.26
    polynomial in the EXACT op sequence both engines evaluate (repeated
    multiplication, never pow: t**3 can differ from t*t*t by an ulp).
    One shared copy so the pinned sequence cannot drift between test
    files."""
    x = abs(z) / math.sqrt(2.0)
    t = 1.0 / (1.0 + 0.3275911 * x)
    poly = (
        0.254829592 * t
        - 0.284496736 * t * t
        + 1.421413741 * t * t * t
        - 1.453152027 * t * t * t * t
        + 1.061405429 * t * t * t * t * t
    )
    return poly * math.exp(-(x * x))
