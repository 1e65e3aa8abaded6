"""Row-wise REST sink (K4) — the Notion page-insert path, Spark-native.

Reference: iterrows + one POST per row with per-type property
formatting, success/error counters, progress logging
(notion_data_ingestion.py:294-402), retry/backoff (:215-242), and a
soft-delete update (:206-244).

Spark restatement: ``foreachPartition`` — each executor partition gets
one transport (session reuse), posts its rows with the reference's
backoff policy, and adds its per-operation success and error counts to
one accumulator, so one pass serves inserts, updates and soft deletes.
Property formatting (P8) is a plain-Python helper mirroring
format_property (:247-291), including its int-vs-float quirk ('.' in
str) and the 2000-char rich_text truncation (:258,268).

Transports are injectable; tests use a file-backed fake — no network.
"""

from __future__ import annotations

import datetime as _dt
import json
import math
import time
from collections import Counter
from typing import Any

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame

MAX_RICH_TEXT = 2000  # notion_data_ingestion.py:258,268
MAX_RETRIES = 3
RETRY_BACKOFF = 1.0


def format_property(value: Any, prop_type: str) -> dict | None:
    """Notion property payload for one value (reference format_property
    notion_data_ingestion.py:247-291). None/NaN → None (property omitted,
    :250-251)."""
    if value is None:
        return None
    if isinstance(value, float) and math.isnan(value):
        return None
    if prop_type == "title":
        return {"title": [{"text": {"content": str(value)[:MAX_RICH_TEXT]}}]}
    if prop_type == "rich_text":
        return {"rich_text": [{"text": {"content": str(value)[:MAX_RICH_TEXT]}}]}
    if prop_type == "number":
        # reference quirk (:275): int-vs-float decided by '.' in str(value)
        return {"number": float(value) if "." in str(value) else int(value)}
    if prop_type == "date":
        if isinstance(value, (_dt.datetime, _dt.date)):
            return {"date": {"start": value.isoformat()}}
        return {"date": {"start": str(value)}}
    if prop_type == "checkbox":
        return {"checkbox": bool(value)}
    raise ValueError(f"unsupported property type: {prop_type}")


class FileTransport:
    """Test transport: append each POST payload as a JSON line to a
    per-partition file (local-mode executors share the filesystem)."""

    def __init__(self, out_dir: str, fail_on: frozenset | None = None):
        self.out_dir = out_dir
        self.fail_on = fail_on or frozenset()

    def post_row(self, partition_id: int, payload: dict) -> None:
        key = payload.get("__key")
        if key in self.fail_on:
            raise RuntimeError(f"injected failure for {key}")
        path = f"{self.out_dir}/part-{partition_id}.jsonl"
        with open(path, "a", encoding="utf-8") as f:
            f.write(json.dumps(payload, ensure_ascii=False, default=str) + "\n")


class HttpPostTransport:
    """Live transport: POST each payload with backoff (never in tests)."""

    def __init__(self, url: str, headers: dict | None = None):
        self.url = url
        self.headers = headers or {}

    def post_row(self, partition_id: int, payload: dict) -> None:
        import requests

        last: object = None
        for attempt in range(MAX_RETRIES):
            try:
                resp = requests.post(self.url, json=payload, headers=self.headers, timeout=30)
                if resp.status_code == 429:
                    # record the cause so an all-429 run doesn't raise
                    # "...: None"; rate-limit sleeps escalate with the
                    # attempt number instead of a flat 10 s forever
                    last = "rate-limited (HTTP 429)"
                    time.sleep(10.0 * (attempt + 1))
                    continue
                resp.raise_for_status()
                return
            except Exception as e:  # noqa: BLE001
                last = e
                time.sleep(RETRY_BACKOFF * 2**attempt)
        raise RuntimeError(f"REST post failed after {MAX_RETRIES} retries: {last}")


class _CountsParam(AccumulatorParam):
    def zero(self, value):
        return Counter()

    def addInPlace(self, a, b):
        a.update(b)
        return a


def write_rest(
    df: DataFrame,
    transport,
    property_types: dict[str, str],
    key_col: str,
    *,
    op_col: str | None = None,
) -> dict[str, int]:
    """Post every row through the transport in one ``foreachPartition``
    (reference counters :388-401). Each payload carries ``key_col``'s
    value as ``__key``. Returns the successful posts per operation, the
    row's ``op_col`` value (every row counts as 'success' without
    ``op_col``), plus 'errors'."""
    sc = df.sparkSession.sparkContext
    tally = sc.accumulator(Counter(), _CountsParam())
    cols = list(property_types.items())

    def post_partition(rows) -> None:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        counts = Counter()
        for row in rows:
            # a formatting failure is a row error, not a failed task:
            # the reference tolerates and continues (:247-291, 388-401)
            try:
                d = row.asDict()
                payload = {"properties": {}, "__key": d.get(key_col)}
                for col, ptype in cols:
                    formatted = format_property(d.get(col), ptype)
                    if formatted is not None:
                        payload["properties"][col] = formatted
                transport.post_row(pid, payload)
                counts[d[op_col] if op_col else "success"] += 1
            except Exception:  # noqa: BLE001
                counts["errors"] += 1
        tally.add(counts)

    df.foreachPartition(post_partition)
    base = {"errors": 0} if op_col else {"success": 0, "errors": 0}
    return {**base, **tally.value}
