"""End-to-end pipeline test: extract → export → warehouse load →
incremental merge → Notion-style sync, all on replay fixtures.

This is the integration counterpart of the reference's three chained
main()s (SURVEY §3) — run as explicit stages over persisted tables.
"""

from __future__ import annotations

import csv
import glob
import json
import os
import shutil

import pytest
from _helpers import job_group
from pyspark.sql import functions as F

from bangumi_notion_data_integration_project_spark import pipeline
from bangumi_notion_data_integration_project_spark.sinks.rest import FileTransport
from bangumi_notion_data_integration_project_spark.sources.rest import ReplayTransport


def _page(total, offset, items):
    return {"total": total, "limit": 100, "offset": offset, "data": items}


def _item(sid, name_cn=""):
    return {
        "created_at": "2023-04-01T12:30:00+08:00",
        "updated_at": "2023-05-01T00:00:00+08:00",
        "ep_status": 3,
        "vol_status": 0,
        "subject": {
            "id": sid,
            "name": f"subject {sid}",
            "name_cn": name_cn,
            "score": 7.5,
            "rank": 100 + sid,
            "collection_total": 1000,
            "eps": 12,
            "volumes": 0,
            "date": "2013-04",
            "type": 2,
            "short_summary": "summary",
            "tags": [{"name": "科幻", "count": 50}],
            "infobox": [{"key": "导演", "value": "某导演"}],
        },
    }


CELLS = ["2_1", "2_3", "4_1"]


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pipeline_pages")
    (d / "2_1_page0.json").write_text(
        json.dumps(_page(3, 0, [_item(1, "中文一"), _item(2), _item(3)]), ensure_ascii=False),
        encoding="utf-8",
    )
    (d / "2_3_page0.json").write_text(
        json.dumps(_page(2, 0, [_item(10), _item(11)]), ensure_ascii=False), encoding="utf-8"
    )
    (d / "4_1_page0.json").write_text(json.dumps(_page(0, 0, [])), encoding="utf-8")
    return str(d)


@pytest.fixture(scope="module")
def tables(spark, fixture_dir):
    return pipeline.extract(
        spark, cells=CELLS, fixture_dir=fixture_dir, user_id="tester"
    )


def test_extract_builds_three_tables(tables):
    assert tables["raw"].count() == 5
    assert tables["analytics"].count() == 5
    summary = {r["cell_id"]: r for r in tables["summary"].collect()}
    assert set(summary) == set(CELLS)  # empty cell present with zeros
    assert summary["2_1"]["fetched_items"] == 3
    assert summary["2_1"]["completion_pct"] == 100.0
    assert summary["4_1"]["fetched_items"] == 0
    assert summary["4_1"]["completion_pct"] == 0.0


def test_export_writes_bom_csvs(tables, tmp_path):
    paths = pipeline.export_tables(tables, str(tmp_path / "export"))
    for name in ("raw", "analytics", "summary"):
        with open(paths[name], "rb") as f:
            assert f.read(3) == b"\xef\xbb\xbf", f"{name} CSV missing BOM"
    # container has no Excel engine → gated to None; path key still present
    assert "excel" in paths


def test_load_warehouse_prunes_columns(spark, tables, tmp_path):
    wh = str(tmp_path / "wh")
    stats = pipeline.load_warehouse(tables, wh)
    # observe() metrics ride the write action: row count with no extra scan
    assert stats["n_rows"] == 5
    loaded = spark.read.parquet(os.path.join(wh, "fact_view_logs"))
    assert "tag_1_name" not in loaded.columns
    assert "all_tags" in loaded.columns and "name_cn" in loaded.columns
    raw = spark.read.parquet(os.path.join(wh, "fact_view_logs_raw"))
    assert raw.count() == 5


def test_incremental_load_full_cycle(spark, tables, tmp_path):
    wh = str(tmp_path / "wh_inc")
    os.makedirs(wh)
    analytics = tables["analytics"]

    first = pipeline.incremental_load(spark, analytics, wh)
    assert first["initial_load"] == 5

    # same snapshot again → pure update pass, no inserts/deletes
    again = pipeline.incremental_load(spark, analytics, wh)
    assert again["inserts"] == 0 and again["deletes"] == 0
    assert again["updates"] == 5 and again["final_rows"] == 5

    # drop one, add one → one delete, one insert
    changed = analytics.filter(F.col("subject_id") != 11).unionByName(
        analytics.limit(1).withColumn("subject_id", F.lit(99))
    )
    third = pipeline.incremental_load(spark, changed, wh)
    assert third["inserts"] == 1 and third["deletes"] == 1 and third["updates"] == 4
    assert third["final_rows"] == 5
    final_ids = {
        r["subject_id"]
        for r in spark.read.parquet(os.path.join(wh, "fact_view_logs_incremental")).collect()
    }
    assert 99 in final_ids and 11 not in final_ids


def test_notion_sync_insert_update_softdelete(spark, tables, tmp_path):
    out = tmp_path / "notion"
    out.mkdir()
    # sink already holds ids 1, 2 and a stale id 777 absent from source
    existing = spark.createDataFrame([(1,), (2,), (777,)], "subject_id: long")

    metrics = pipeline.notion_sync(
        tables["analytics"], existing, FileTransport(str(out))
    )
    assert metrics == {"inserted": 3, "updated": 2, "soft_deleted": 1, "errors": 0}

    posted = []
    for p in glob.glob(f"{out}/part-*.jsonl"):
        with open(p, encoding="utf-8") as f:
            posted += [json.loads(line) for line in f]
    deletes = [p for p in posted if "is_active" in p["properties"]]
    assert len(deletes) == 1 and deletes[0]["__key"] == 777
    assert deletes[0]["properties"]["is_active"] == {"checkbox": False}
    titled = [p for p in posted if "name_cn" in p["properties"]]
    assert len(titled) == 5  # 3 inserts + 2 updates carry full properties


def _posted(out_dir):
    posted = []
    for p in glob.glob(f"{out_dir}/part-*.jsonl"):
        with open(p, encoding="utf-8") as f:
            posted += [json.loads(line) for line in f]
    return posted


def test_notion_sync_counts_only_the_posts_that_got_through(spark, tables, tmp_path, monkeypatch):
    calls = []
    write_rest = pipeline.write_rest
    monkeypatch.setattr(
        pipeline, "write_rest", lambda *a, **kw: calls.append(1) or write_rest(*a, **kw)
    )
    existing = spark.createDataFrame([(1,), (2,), (777,), (778,)], "subject_id: long")
    # 3 is an insert, 1 an update, 777 a stale key
    out = tmp_path / "readback"
    out.mkdir()
    transport = FileTransport(str(out), fail_on=frozenset({3, 1, 777}))
    metrics = pipeline.notion_sync(tables["analytics"], existing, transport)
    assert metrics == {"inserted": 2, "updated": 1, "soft_deleted": 1, "errors": 3}
    posted = _posted(out)
    assert sorted(p["__key"] for p in posted) == [2, 10, 11, 778]
    deletes = [p for p in posted if "is_active" in p["properties"]]
    assert deletes == [{
        "properties": {"subject_id": {"number": 778}, "is_active": {"checkbox": False}},
        "__key": 778,
    }]

    # no readback: every row is an insert
    out = tmp_path / "fresh"
    out.mkdir()
    transport = FileTransport(str(out), fail_on=frozenset({10}))
    metrics = pipeline.notion_sync(tables["analytics"], None, transport)
    assert metrics == {"inserted": 4, "updated": 0, "soft_deleted": 0, "errors": 1}
    posted = _posted(out)
    assert sorted(p["__key"] for p in posted) == [1, 2, 3, 11]
    assert not any("is_active" in p["properties"] for p in posted)
    assert len(calls) == 2  # one REST pass per sync


def _with_null_key(analytics):
    null_key = F.lit(None).cast(analytics.schema["subject_id"].dataType)
    return analytics.unionByName(
        analytics.filter(F.col("subject_id") == 1).withColumn("subject_id", null_key)
    )


def test_null_key_rows_in_notion_sync(spark, tables, tmp_path):
    source = _with_null_key(tables["analytics"])
    out = tmp_path / "fresh"
    out.mkdir()
    metrics = pipeline.notion_sync(source, None, FileTransport(str(out)))
    assert metrics == {"inserted": 6, "updated": 0, "soft_deleted": 0, "errors": 0}
    nulls = [p for p in _posted(out) if p["__key"] is None]
    assert len(nulls) == 1 and "subject_id" not in nulls[0]["properties"]
    assert nulls[0]["properties"]["name_cn"] == {"title": [{"text": {"content": "中文一"}}]}

    # against a readback the null-key row is neither posted nor counted
    out = tmp_path / "readback"
    out.mkdir()
    existing = spark.createDataFrame([(1,), (2,), (777,), (None,)], "subject_id: long")
    metrics = pipeline.notion_sync(source, existing, FileTransport(str(out)))
    assert metrics == {"inserted": 3, "updated": 2, "soft_deleted": 1, "errors": 0}
    assert sorted(p["__key"] for p in _posted(out)) == [1, 2, 3, 10, 11, 777]


def test_null_key_rows_in_incremental_load(spark, tables, tmp_path):
    wh = str(tmp_path / "wh")
    assert pipeline.incremental_load(spark, tables["analytics"], wh)["initial_load"] == 5
    counts = pipeline.incremental_load(spark, _with_null_key(tables["analytics"]), wh)
    assert counts == {"inserts": 0, "deletes": 0, "updates": 5, "final_rows": 6}
    written = spark.read.parquet(os.path.join(wh, "fact_view_logs_incremental"))
    assert sorted(r["subject_id"] for r in written.collect() if r["subject_id"] is not None) == [
        1, 2, 3, 10, 11
    ]
    assert written.filter(F.col("subject_id").isNull()).count() == 1


def test_initial_load_replaces_a_crash_leftover(spark, tables, tmp_path):
    # parquet files but no _SUCCESS, and no .old/.tmp sibling to recover
    wh = tmp_path / "wh"
    target = wh / "fact_view_logs_incremental"
    tables["analytics"].limit(2).write.parquet(str(target))
    os.remove(target / "_SUCCESS")
    counts = pipeline.incremental_load(spark, tables["analytics"], str(wh))
    assert counts == {"initial_load": 5, "inserts": 5, "deletes": 0, "updates": 0}
    assert (target / "_SUCCESS").exists()
    assert sorted(os.listdir(wh)) == ["fact_view_logs_incremental"]
    ids = sorted(r["subject_id"] for r in spark.read.parquet(str(target)).collect())
    assert ids == [1, 2, 3, 10, 11]


@pytest.mark.parametrize("extra_cells", [0, 1])
def test_extract_runs_one_job_of_one_task_per_core(spark, tmp_path, extra_cells):
    """One job, its tasks sized to the cores: fewer non-empty cells
    than cores give a task per cell, more give a task per core."""
    cores = spark.sparkContext.defaultParallelism
    n_live = 2 if not extra_cells else cores + extra_cells
    cells = [f"2_{i}" for i in range(n_live + 1)]
    for i, cell in enumerate(cells[:-1]):
        (tmp_path / f"{cell}_page0.json").write_text(
            json.dumps(_page(1, 0, [_item(i)])), encoding="utf-8"
        )
    (tmp_path / f"{cells[-1]}_page0.json").write_text(json.dumps(_page(0, 0, [])))
    with job_group(spark, f"extract_contract_{n_live}") as jobs:
        snap = pipeline.extract(spark, cells=cells, fixture_dir=str(tmp_path), user_id="t")
    assert len(jobs()) == 1
    tracker = spark.sparkContext.statusTracker()
    stages = {s for j in jobs() for s in tracker.getJobInfo(j).stageIds}
    assert sum(tracker.getStageInfo(s).numTasks for s in stages) == min(n_live, cores)
    assert snap["raw"].count() == n_live
    # the planner must not size the items by the probed cells: a tiny
    # estimate would broadcast them into every later join
    stats = snap["analytics"]._jdf.queryExecution().optimizedPlan().stats()
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    assert int(str(stats.sizeInBytes())) > threshold


def test_extract_probes_each_cell_once_on_the_driver(spark, fixture_dir, monkeypatch):
    probed = []
    probe = ReplayTransport.probe_total

    def counting_probe(self, cell_id):
        probed.append(cell_id)
        return probe(self, cell_id)

    monkeypatch.setattr(ReplayTransport, "probe_total", counting_probe)
    pipeline.extract(spark, cells=CELLS, fixture_dir=fixture_dir, user_id="tester")
    assert sorted(probed) == sorted(CELLS)


def test_extract_of_only_empty_cells(spark, tmp_path):
    # every probed cell is empty → the scan plans no partition at all
    for cell in ("2_1", "4_1"):
        (tmp_path / f"{cell}_page0.json").write_text(json.dumps(_page(0, 0, [])))
    empty = pipeline.extract(
        spark, cells=["2_1", "4_1"], fixture_dir=str(tmp_path), user_id="tester"
    )
    assert empty["raw"].count() == 0
    assert empty["analytics"].count() == 0
    summary = {r["cell_id"]: r for r in empty["summary"].collect()}
    assert set(summary) == {"2_1", "4_1"}  # one zero row per cell (:487-499)
    for row in summary.values():
        assert row["fetched_items"] == 0 and row["completion_pct"] == 0.0


def _csv_records(path):
    with open(path, encoding="utf-8-sig", newline="") as f:
        return sum(1 for _ in csv.reader(f)) - 1  # minus the header


def test_one_snapshot_feeds_the_whole_cycle(spark, fixture_dir, tmp_path):
    """Once extract returns, the pages are no longer read: every stage
    runs on the pinned snapshot even after the source is gone."""
    pages = shutil.copytree(fixture_dir, tmp_path / "pages")
    snap = pipeline.extract(spark, cells=CELLS, fixture_dir=str(pages), user_id="tester")
    shutil.rmtree(pages)

    paths = pipeline.export_tables(snap, str(tmp_path / "export"))
    assert {n: _csv_records(paths[n]) for n in ("raw", "analytics", "summary")} == {
        "raw": 5, "analytics": 5, "summary": 3,
    }
    wh = str(tmp_path / "wh")
    assert pipeline.load_warehouse(snap, wh)["n_rows"] == 5
    assert pipeline.incremental_load(spark, snap["analytics"], wh)["initial_load"] == 5
    again = pipeline.incremental_load(spark, snap["analytics"], wh)
    assert (again["inserts"], again["deletes"], again["updates"]) == (0, 0, 5)
    out = tmp_path / "notion"
    out.mkdir()
    existing = spark.createDataFrame([(1,), (2,), (777,)], "subject_id: long")
    metrics = pipeline.notion_sync(snap["analytics"], existing, FileTransport(str(out)))
    assert metrics == {"inserted": 3, "updated": 2, "soft_deleted": 1, "errors": 0}


def test_run_report(tmp_path):
    path = pipeline.run_report(
        str(tmp_path / "report.json"), sync={"inserted": 3}, status="ok"
    )
    with open(path, encoding="utf-8") as f:
        report = json.load(f)
    assert report["sync"]["inserted"] == 3 and report["status"] == "ok"
