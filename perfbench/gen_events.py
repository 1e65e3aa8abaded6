"""Seeded event batches for the stream refresh, and the state the
streaming upsert and time rollup must reach after them.

Keys and dates are bounded: ``event_id`` is drawn from ``KEYS`` ids and
``ts`` from a fixed 30-day range, so the upsert target and the rollup's
day table stop growing and a late refresh costs what an early one does.
Within a batch every ``ts`` is distinct, so the last-write-wins dedup
on ``ts`` has exactly one answer.
"""

from __future__ import annotations

import os
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
KEYS = 4000
BATCH_ROWS = 3000
_T0 = np.datetime64("2024-01-01T00:00:00", "us")
_SPAN_US = 30 * 86_400_000_000


class EventStream:
    def __init__(self, seed: int):
        self.seed = seed

    def batch(self, n: int) -> pa.Table:
        """Batch ``n`` (0 is the state the target starts from)."""
        rng = np.random.default_rng([self.seed, n])
        k = BATCH_ROWS
        offsets = rng.choice(_SPAN_US, size=k, replace=False)
        return pa.table({
            "event_id": rng.integers(0, KEYS, k, dtype=np.int64),
            "ts": pa.array(_T0 + offsets.astype("timedelta64[us]"), pa.timestamp("us", tz="UTC")),
            "user_id": rng.integers(0, 500, k, dtype=np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), k)],
            "value": np.round(rng.exponential(50.0, k), 2),
        })

    def write_batch(self, n: int, path: str) -> None:
        pq.write_table(self.batch(n), path)

    def write_target(self, target_dir: str) -> None:
        """Write batch 0, deduplicated, as a finished parquet target."""
        os.makedirs(target_dir)
        pq.write_table(latest_by_key([self.batch(0)]), os.path.join(target_dir, "part-00000.parquet"))
        open(os.path.join(target_dir, "_SUCCESS"), "w").close()


def latest_by_key(batches: list[pa.Table]) -> pa.Table:
    """Upsert semantics: a later batch replaces a key wholesale; within
    a batch the row with the largest ``ts`` wins."""
    state: dict[int, dict] = {}
    for table in batches:
        best: dict[int, dict] = {}
        for row in table.to_pylist():
            cur = best.get(row["event_id"])
            if cur is None or row["ts"] > cur["ts"]:
                best[row["event_id"]] = row
        state.update(best)
    rows = [state[k] for k in sorted(state)]
    return pa.Table.from_pylist(rows, schema=batches[0].schema)


def value_cents(values) -> int:
    """Sum of ``value * 100`` rounded to whole cents. Values carry two
    decimals, so each product lies next to an integer and the rounding
    mode cannot matter."""
    return sum(int(round(v * 100)) for v in values)
