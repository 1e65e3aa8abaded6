from __future__ import annotations

import filecmp
import json
import os

import pytest

import gen_bangumi
import gen_events
import gen_tables
from gen_bangumi import Collection


def _same_tree(a, b) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_pages_are_byte_identical_for_a_seed(tmp_path):
    Collection(7).write_pages(3, tmp_path / "a")
    Collection(7).write_pages(3, tmp_path / "b")
    assert _same_tree(tmp_path / "a", tmp_path / "b")


def test_pages_depend_on_the_seed(tmp_path):
    Collection(7).write_pages(1, tmp_path / "a")
    Collection(8).write_pages(1, tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "b")


def _items(pages_dir):
    for name in sorted(os.listdir(pages_dir)):
        with open(os.path.join(pages_dir, name), encoding="utf-8") as f:
            yield name, json.load(f)


def test_pages_cover_the_f1_edge_cases(tmp_path):
    c = Collection(3)
    counts = c.write_pages(1, tmp_path)
    assert counts[c.empty_cell] == 0 and sum(counts.values()) == gen_bangumi.SIZE
    assert set(counts) == set(gen_bangumi.CELLS)
    pages = dict(_items(tmp_path))
    assert pages[f"{c.empty_cell}_page0.json"]["data"] == []
    # some cell ends on a partial page after a full one
    assert any(n > gen_bangumi.PAGE_LIMIT and n % gen_bangumi.PAGE_LIMIT for n in counts.values())
    subjects = [i["subject"] for p in pages.values() for i in p["data"]]
    names_cn = [s["name_cn"] for s in subjects]
    assert "" in names_cn and None in names_cn
    tags = [s["tags"] for s in subjects]
    assert any(len(t) < 5 for t in tags)
    assert any(not isinstance(x, dict) for t in tags for x in t)
    values = [e["value"] for s in subjects for e in s["infobox"]]
    assert any(isinstance(v, str) and v.strip() for v in values)
    assert any(isinstance(v, str) and not v.strip() for v in values)
    assert any(isinstance(v, dict) and "v" in v for v in values)
    assert any(isinstance(v, list) and all(isinstance(x, dict) for x in v) for v in values)
    assert any(isinstance(v, list) and all(isinstance(x, str) for x in v) for v in values)
    assert None in values
    assert any(not e["key"].strip() for s in subjects for e in s["infobox"])
    text = json.dumps(subjects, ensure_ascii=False)
    assert "科幻" in text or "日常" in text
    assert any(ord(ch) > 0xFFFF for ch in text)  # emoji beyond the BMP


def test_snapshots_differ_by_the_known_delta():
    c = Collection(5)
    prev, cur = set(c.ids(1)), set(c.ids(2))
    d = c.delta()
    assert len(cur - prev) == d.inserts == gen_bangumi.CHURN
    assert len(prev - cur) == d.deletes == gen_bangumi.CHURN
    assert len(cur & prev) == d.updates == gen_bangumi.SIZE - gen_bangumi.CHURN
    # a kept item is rewritten: its per-round fields change
    sid = sorted(cur & prev)[0]
    assert c.item(sid, 1) != c.item(sid, 2)
    assert c.item(sid, 1)["subject"]["name"] == c.item(sid, 2)["subject"]["name"]


def test_tables_are_byte_identical_for_a_seed(tmp_path):
    gen_tables.write_tables(11, 0.001, tmp_path / "a")
    gen_tables.write_tables(11, 0.001, tmp_path / "b")
    gen_tables.write_tables(12, 0.001, tmp_path / "c")
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not filecmp.cmp(tmp_path / "a" / "lineitem.parquet", tmp_path / "c" / "lineitem.parquet",
                           shallow=False)


def test_table_sizes_follow_the_scale_factor():
    n = gen_tables.table_rows(0.01)
    assert (n["lineitem"], n["orders"], n["customer"], n["events"]) == (60_000, 15_000, 1500, 10_000)
    assert gen_tables.table_rows(0.001)["documents"] == 500


def test_event_batches_are_seeded_and_have_distinct_ts():
    a, b = gen_events.EventStream(4).batch(2), gen_events.EventStream(4).batch(2)
    assert a.equals(b) and a.num_rows == gen_events.BATCH_ROWS
    assert not a.equals(gen_events.EventStream(5).batch(2))
    ts = a.column("ts").to_pylist()
    assert len(set(ts)) == len(ts)
    assert max(a.column("event_id").to_pylist()) < gen_events.KEYS


def test_latest_by_key_keeps_the_last_batch_and_the_last_ts():
    import datetime as dt

    import pyarrow as pa

    def t(rows):
        return pa.Table.from_pylist(
            [{"event_id": k, "ts": dt.datetime(2024, 1, 1, h), "value": v} for k, h, v in rows]
        )

    out = gen_events.latest_by_key([t([(1, 5, 1.0), (1, 7, 2.0), (2, 1, 3.0)]), t([(1, 2, 9.0)])])
    assert out.to_pylist() == [
        {"event_id": 1, "ts": dt.datetime(2024, 1, 1, 2), "value": 9.0},
        {"event_id": 2, "ts": dt.datetime(2024, 1, 1, 1), "value": 3.0},
    ]


@pytest.mark.parametrize("values,cents", [([0.29, 1.1], 139), ([0.0], 0), ([12.35, 0.01], 1236)])
def test_value_cents(values, cents):
    assert gen_events.value_cents(values) == cents
