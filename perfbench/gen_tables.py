"""Seeded star-schema tables for the query workloads.

The shapes follow the test data the registry queries were written
against (TESTDATA.md, FIXTURES.md F7): the TPC-H-like tables
``region nation customer supplier part orders lineitem`` plus
``events``, ``documents`` and ``embeddings``, with the same columns,
types, value domains and row counts per scale factor; parts are drawn
uniformly, as there. Values are drawn with NumPy from ``seed``; the
same seed and scale give byte-identical parquet files (one file, one
row group per table).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "new", "hot", "big", "old", "blue", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "anvil", "gear", "spring", "nut", "valve"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
EMB_DIM = 64
EMB_LABELS = 10

_D0 = np.datetime64("1995-01-01", "D")
_E0 = np.datetime64("2024-01-01T00:00:00", "us")


def table_rows(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1500, int(1_500_000 * sf)),
        "lineitem": max(6000, int(6_000_000 * sf)),
        "events": max(1000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((_D0 + days).astype("datetime64[us]"), pa.timestamp("us"))


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables. Each table draws from its own
    child generator, so adding a column to one leaves the others as
    they were."""
    n = table_rows(sf)
    root = np.random.SeedSequence(seed)
    rngs = dict(zip(n, (np.random.default_rng(s) for s in root.spawn(len(n)))))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r, k = rngs["customer"], n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": r.integers(0, 25, k, dtype=np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, k),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, k)],
    })

    r, k = rngs["supplier"], n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": r.integers(0, 25, k, dtype=np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, k),
    })

    r, k = rngs["part"], n["part"]
    names = np.char.add(
        np.char.add(np.array(PART_ADJ)[r.integers(0, 8, k)], " "),
        np.array(PART_NOUN)[r.integers(0, 8, k)],
    )
    t["part"] = pa.table({
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": names,
        "p_brand": np.char.add("Brand#", r.integers(1, 26, k).astype(str)),
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, k)],
        "p_size": r.integers(1, 51, k, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 1),
    })

    r, k = rngs["orders"], n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": r.integers(0, n["customer"], k, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, k)],
        "o_totalprice": _money(r, 1000.0, 500_000.0, k),
        "o_orderdate": _ts(r.integers(0, 2405, k)),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, k)],
    })

    r, k = rngs["lineitem"], n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n["orders"], k, dtype=np.int64),
        "l_partkey": r.integers(0, n["part"], k, dtype=np.int64),
        "l_suppkey": r.integers(0, n["supplier"], k, dtype=np.int64),
        "l_linenumber": r.integers(1, 8, k, dtype=np.int32),
        "l_quantity": r.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, k),
        "l_discount": r.integers(0, 11, k) / 100.0,
        "l_tax": r.integers(0, 9, k) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, k)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, k)],
        "l_shipdate": _ts(r.integers(1, 2499, k)),
    })

    r, k = rngs["events"], n["events"]
    offsets = np.sort(r.integers(0, 30 * 86_400_000_000, k))
    t["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": pa.array(_E0 + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": r.integers(0, max(100, int(15_000 * sf)), k, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, k)],
        "value": np.round(r.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)],
    })

    r, k = rngs["documents"], n["documents"]
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[r.integers(0, len(WORDS), m)]) for m in r.integers(10, 101, k)]
    # a few exact duplicates and "dup"-marked near duplicates, so the
    # dedup queries have work to find
    for _ in range(max(2, k // 600)):
        a, b = r.integers(0, k, 2)
        texts[b] = texts[a]
    for i in r.integers(0, k, max(5, k // 20)):
        texts[i] = texts[i] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, k, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })

    r, k = rngs["embeddings"], n["embeddings"]
    labels = r.integers(0, EMB_LABELS, k, dtype=np.int32)
    centers = r.normal(0.0, 0.6, (EMB_LABELS, EMB_DIM))
    vecs = centers[labels] * 0.12 + r.normal(0.0, 1.0, (k, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    })
    return t


def write_tables(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write every table as ``{out_dir}/{name}.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
        counts[name] = table.num_rows
    return counts
