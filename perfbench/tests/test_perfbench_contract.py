"""BENCHMARK.json and the metrics the workloads emit agree."""

from __future__ import annotations

import json
import os
import re

from etl_sync import PIPELINE_CALLS, EtlSync
from query_batch import ITERATIVE, SCAN, QueryBatch
from spans import Span

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def test_shape():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["command"] == ["python3", "perfbench/run.py"] and b["paths"] == ["perfbench"]
    assert 2 <= len(b["workloads"]) <= 8
    assert [w["name"] for w in b["workloads"]] == [EtlSync.name, QueryBatch.name]
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    e2e = {m["name"]: m for m in b["end_to_end"]}
    assert set(e2e) == {"round_s", "setup_s", "mem_mb"}
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in b["end_to_end"])
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    assert 1 <= len(b["per_layer"]) <= 128
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"] + b["workloads"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    assert len(json.dumps(b)) <= 64 * 1024


def _span(name, i, **attrs):
    s = Span(i, name, 1, None, float(i), float(i) + 0.5, jobs=1, stages=1, tasks=2)
    s.attrs.update(attrs)
    return s


def test_per_layer_names_are_emitted():
    """Every per-layer name in BENCHMARK.json comes from a workload, the
    session phase or the traced round, and every name a workload emits
    that BENCHMARK.json leaves out is a per-query count kept only in the
    run record."""
    stream_attrs = {k: 1 for k in ("upsert.batch_s", "upsert.add_batch_s", "upsert.input_rows",
                                   "rollup.batch_s", "rollup.add_batch_s", "target_rows")}
    etl_spans = [_span(f"pipeline.{c}", i) for i, c in enumerate(PIPELINE_CALLS)]
    etl_spans[-1].attrs.update(rows_posted=1, rows_failed=0)
    etl_spans.append(_span("streaming.refresh", 9, **stream_attrs))
    q_spans = [_span(f"queries.{q}.{p}", i) for i, (q, p) in
               enumerate((q, p) for q in ITERATIVE + SCAN for p in ("build", "plan", "exec"))]
    emitted = set(EtlSync.per_layer(etl_spans)) | set(QueryBatch.per_layer(q_spans))
    emitted |= {"session.get_spark_s", "trace.round_s"}
    listed = {m["name"] for m in _bench()["per_layer"]}
    assert listed <= emitted
    assert all(re.match(r"queries\.\w+\.(build_jobs|exec_jobs|exec_tasks)$", n) for n in emitted - listed)
