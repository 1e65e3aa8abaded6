"""Unit tests for iterative k-core peeling."""

from __future__ import annotations

import random

import pytest

from bangumi_notion_data_integration_project_spark.operators.graph import k_core


def _frame(spark, edges):
    return spark.createDataFrame(sorted(edges), "a: long, b: long")


def _python_kcore(edges, k):
    """Reference peel: drop nodes with degree < k until fixpoint."""
    es = set(edges)
    while True:
        deg: dict[int, int] = {}
        for a, b in es:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        nxt = {(a, b) for a, b in es if a in keep and b in keep}
        if nxt == es:
            return es
        es = nxt


def test_kcore_known_graph(spark):
    # K4 (every node degree 3) plus a tail 4-5-6: the 2-core is K4 plus
    # nothing (tail peels), the 3-core is exactly K4.
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    tail = [(4, 5), (5, 6)]
    out = {tuple(r) for r in k_core(_frame(spark, k4 + tail), 3).collect()}
    assert out == set(k4)
    out2 = {tuple(r) for r in k_core(_frame(spark, k4 + tail), 2).collect()}
    assert out2 == set(k4)


def test_kcore_empty_result(spark):
    chain = [(i, i + 1) for i in range(6)]
    assert k_core(_frame(spark, chain), 3).count() == 0


def test_kcore_randomized_vs_reference(spark):
    rng = random.Random(3)
    edges = set()
    while len(edges) < 120:
        a, b = rng.randrange(30), rng.randrange(30)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    for k in (2, 3, 4):
        got = {tuple(r) for r in k_core(_frame(spark, edges), k).collect()}
        assert got == _python_kcore(edges, k), f"k={k}"


def test_kcore_nonconvergence_is_loud(spark):
    # a long chain peels one node per END per round under k=2... no —
    # a chain has all-degree-1 ends, so k=2 peels inward one hop per
    # round from each end: diameter/2 rounds. Budget 2 rounds on an
    # 11-edge chain must still be peeling when the budget exhausts.
    chain = [(i, i + 1) for i in range(11)]
    with pytest.raises(RuntimeError, match="still peeling"):
        k_core(_frame(spark, chain), 2, max_rounds=2)
    flagged = k_core(_frame(spark, chain), 2, max_rounds=2, on_nonconverged="flag")
    assert "converged" in flagged.columns
    assert flagged.count() > 0  # partial subgraph returned, marked


def test_kcore_validates_args(spark):
    df = _frame(spark, [(1, 2)])
    with pytest.raises(ValueError):
        k_core(df, 0)
    with pytest.raises(ValueError):
        k_core(df, 2, on_nonconverged="ignore")


def test_kcore_long_peel_converges_under_the_query_budget(spark):
    # a triangle with a 20-node tail hanging off one corner: under k=2
    # only the tail's free end has degree 1, so each round peels one
    # tail node and the fixpoint takes 20 rounds
    from bangumi_notion_data_integration_project_spark.queries import KCORE_PEEL_ROUNDS

    triangle = [(0, 1), (0, 2), (1, 2)]
    tail = [(2, 3)] + [(i, i + 1) for i in range(3, 22)]
    df = _frame(spark, triangle + tail)
    with pytest.raises(RuntimeError, match="still peeling"):
        k_core(df, 2, max_rounds=15)  # needs more than 15 rounds
    out = {tuple(r) for r in k_core(df, 2, max_rounds=KCORE_PEEL_ROUNDS).collect()}
    assert out == set(triangle)
