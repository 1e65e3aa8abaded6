"""Connector tests: paginated REST source (replay mode) + Bangumi
flatten pipeline, exercising the FIXTURES.md F1 edge cases — ragged
infobox, empty pages, truncation, short tag lists, CJK text."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from bangumi_notion_data_integration_project_spark.sources.bangumi import (
    analytics_table,
    category_summary,
    _flatten_item,
    fetch_items,
    items_arrow_schema,
    items_batch,
    normalize_infobox_value,
    raw_table,
)
from bangumi_notion_data_integration_project_spark.sources.rest import (
    PaginatedRestDataSource,
    ReplayTransport,
)


def _page(total, offset, items):
    return {"total": total, "limit": 100, "offset": offset, "data": items}


def _item(sid, **kw):
    subject = {
        "id": sid,
        "name": kw.get("name", f"subject {sid}"),
        "name_cn": kw.get("name_cn", ""),
        "score": kw.get("score", 7.5),
        "rank": 100 + sid,
        "collection_total": 1000,
        "eps": 12,
        "volumes": 0,
        "date": kw.get("date", "2013-04"),
        "type": 2,
        "short_summary": kw.get("short_summary", "summary"),
        "tags": kw.get("tags", [{"name": "科幻", "count": 50}, {"name": "动画", "count": 30}]),
        "infobox": kw.get("infobox", [{"key": "导演", "value": "某导演"}]),
    }
    return {
        "created_at": "2023-04-01T12:30:00+08:00",
        "updated_at": "2023-05-01T00:00:00+08:00",
        "ep_status": 3,
        "vol_status": 0,
        "subject": subject,
    }


RAGGED_INFOBOX = [
    {"key": "导演", "value": "straight string"},
    {"key": "别名", "value": [{"v": "alias one"}, {"v": "alias two"}, "bare string"]},
    {"key": "放送", "value": {"v": "dict value"}},
    {"key": "  ", "value": "dropped: blank key"},
    {"key": "空", "value": "   "},
    {"key": "monograph", "value": None},
]


PAGE_LIMIT_TEST = 3  # small pages so the fixture exercises real pagination


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pages")
    # cell "2_1": one full page (3 items) + one partial page (2 items),
    # total=5 → reader stops when offset (3, then 6) >= total
    items0 = [_item(i) for i in range(3)]
    items0[0]["subject"]["short_summary"] = "x" * 600  # truncation case
    items0[1]["subject"]["tags"] = [{"name": "only", "count": 1}]  # short tags
    items0[2]["subject"]["infobox"] = RAGGED_INFOBOX
    (d / "2_1_page0.json").write_text(
        json.dumps(_page(5, 0, items0), ensure_ascii=False), encoding="utf-8"
    )
    (d / "2_1_page1.json").write_text(
        json.dumps(_page(5, 3, [_item(3), _item(4, name_cn="中文名")]), ensure_ascii=False),
        encoding="utf-8",
    )
    # cell "2_2": empty (pruned at planning time)
    (d / "2_2_page0.json").write_text(json.dumps(_page(0, 0, [])), encoding="utf-8")
    # cell "3_1": single page
    (d / "3_1_page0.json").write_text(
        json.dumps(_page(1, 0, [_item(9)]), ensure_ascii=False), encoding="utf-8"
    )
    return str(d)


def _read_pages(spark, fixture_dir):
    spark.dataSource.register(PaginatedRestDataSource)
    return (
        spark.read.format("paginated_rest")
        .option("cells", json.dumps(["2_1", "2_2", "3_1"]))
        .option("fixture_dir", fixture_dir)
        .option("page_limit", str(PAGE_LIMIT_TEST))
        .load()
    )


def _fetch_items(spark, fixture_dir):
    cells = spark.createDataFrame([("2_1",), ("2_2",), ("3_1",)], "cell_id string")
    return fetch_items(cells, ReplayTransport(fixture_dir), PAGE_LIMIT_TEST)


def test_normalize_infobox_value_raggedness():
    # reference parse_infobox :277-291
    assert normalize_infobox_value("s") == "s"
    assert normalize_infobox_value({"v": "x"}) == "x"
    assert normalize_infobox_value([{"v": "a"}, {"v": "b"}]) == "a, b"
    assert normalize_infobox_value([{"v": "a"}, "bare"]) == "a, bare"
    assert normalize_infobox_value("   ") is None
    assert normalize_infobox_value(None) is None
    assert normalize_infobox_value([]) is None


def test_replay_source_pagination_and_pruning(spark, fixture_dir):
    pages = _read_pages(spark, fixture_dir)
    rows = pages.collect()
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r["cell_id"], []).append(r["offset"])
    assert sorted(by_cell["2_1"]) == [0, 3]  # two pages, offset advanced
    assert "2_2" not in by_cell  # empty cell pruned at planning time
    assert by_cell["3_1"] == [0]


def test_items_flatten_edge_cases(spark, fixture_dir):
    items = _fetch_items(spark, fixture_dir)
    got = {r["subject_id"]: r for r in items.collect()}
    assert len(got) == 6
    # ragged infobox normalized per reference rules
    ib = got[2]["infobox"]
    assert ib["导演"] == "straight string"
    assert ib["别名"] == "alias one, alias two, bare string"
    assert ib["放送"] == "dict value"
    assert "  " not in ib and "空" not in ib and "monograph" not in ib
    # tags kept as structs, CJK intact
    assert got[0]["tags"][0]["name"] == "科幻"


def test_raw_table_semantics(spark, fixture_dir):
    raw = raw_table(_fetch_items(spark, fixture_dir), user_id="u1")
    got = {r["subject_id"]: r for r in raw.collect()}
    assert got[0]["user_id"] == "u1"
    assert got[0]["subject_type"] == 2 and got[0]["collection_type"] == 1
    assert len(got[0]["short_summary"]) == 500  # truncation (:322)
    assert got[0]["tags"] == ["科幻", "动画"]  # names only (:428)
    assert got[0]["created_at"] is not None  # parsed timestamp (:397-403)
    assert json.loads(got[2]["infobox_raw"])[0]["key"] == "导演"  # J5 round-trip


def test_analytics_table_semantics(spark, fixture_dir):
    an = analytics_table(_fetch_items(spark, fixture_dir))
    got = {r["subject_id"]: r for r in an.collect()}
    # display-name coalesce: "" name_cn falls back to name (:438)
    assert got[0]["name_cn"] == "subject 0"
    assert got[4]["name_cn"] == "中文名"
    # 5-slot pivot null-pads (:297-307)
    assert got[1]["tag_1_name"] == "only" and got[1]["tag_2_name"] is None
    assert got[0]["all_tags"] == "科幻, 动画"  # (:457-459)
    assert got[2]["director"] == "straight string"  # multi-key coalesce (:446-450)


def test_category_summary_with_zero_guard(spark, fixture_dir):
    items = _fetch_items(spark, fixture_dir)
    totals = spark.createDataFrame(
        [("2_1", 5), ("2_2", 0), ("3_1", 1)], "cell_id: string, total_items: long"
    )
    summary = category_summary(items, totals).orderBy("cell_id").collect()
    by_cell = {r["cell_id"]: r for r in summary}
    assert by_cell["2_1"]["fetched_items"] == 5
    assert by_cell["2_1"]["completion_pct"] == 100.0
    assert by_cell["2_2"]["completion_pct"] == 0.0  # zero guard (:495)
    assert by_cell["2_2"]["fetched_items"] == 0


# --- the Arrow flatten matches _flatten_item row for row


def _ragged_pages():
    """cell -> pages: ragged infobox values and keys, non-ASCII names,
    a page whose scores and ranks are all null, and an empty page."""
    ragged = _item(20, name="進撃の巨人", name_cn="进击的巨人")
    ragged["subject"]["infobox"] = RAGGED_INFOBOX + [
        {"key": "", "value": "dropped: empty key"},
        {"key": None, "value": "dropped: null key"},
        {"key": "話数", "value": 25},
        {"key": "列表", "value": [{"v": "α"}, {"v": "  "}, 7, {"k": "no v"}]},
        {"key": "空表", "value": []},
        "not an entry",
    ]
    nulls = [_item(30 + i, name=f"ヌル {i}") for i in range(3)]
    for it in nulls:
        it["subject"]["score"] = None
        it["subject"]["rank"] = None
    nulls[1]["subject"]["infobox"] = []
    nulls[2]["subject"]["tags"] = None
    return {
        "5_1": [
            _page(3, 0, [ragged, _item(21, name="Ünïcödé ✓", name_cn="")]),
            _page(3, 2, [_item(22, name_cn="中文名")]),
        ],
        "5_2": [_page(3, 0, nulls)],
        "5_3": [_page(0, 0, [])],
    }


def _expected_rows(pages_by_cell):
    return [
        _flatten_item(cell_id, item)
        for cell_id, pages in pages_by_cell.items()
        for page in pages
        for item in page["data"]
    ]


def test_items_batch_matches_flatten_item(spark):
    schema = items_arrow_schema()
    got = []
    for cell_id, pages in _ragged_pages().items():
        batch = items_batch(cell_id, pages, schema)
        assert batch.schema == schema
        got += batch.to_pylist()
    for row in got:
        row["infobox"] = dict(row["infobox"])  # Arrow map -> (key, value) pairs
    want = _expected_rows(_ragged_pages())
    assert got == want
    assert {r["subject_id"]: r["infobox"] for r in want}[20]["列表"] == "α, 7"
    assert all(r["score"] is None and r["rank"] is None for r in want if r["cell_id"] == "5_2")


def test_fetch_items_matches_flatten_item(spark, tmp_path):
    pages_by_cell = _ragged_pages()
    for cell_id, pages in pages_by_cell.items():
        for i, page in enumerate(pages):
            (tmp_path / f"{cell_id}_page{i}.json").write_text(
                json.dumps(page, ensure_ascii=False), encoding="utf-8"
            )
    cells = spark.createDataFrame([(c,) for c in pages_by_cell], "cell_id string")
    items = fetch_items(cells, ReplayTransport(str(tmp_path)), page_limit=2)
    got = sorted(
        (r.asDict(recursive=True) for r in items.collect()), key=lambda r: r["subject_id"]
    )
    assert got == _expected_rows(pages_by_cell)


def test_replay_transport_missing_file_is_empty(tmp_path):
    t = ReplayTransport(str(tmp_path))
    assert t.probe_total("nope") == 0
    assert t.fetch_page("nope", 0, 100)["data"] == []


# --- S5: cursor-follow pagination (reference notion_data_ingestion.py:150-200)


@pytest.fixture(scope="module")
def cursor_fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("cursor_pages")

    def page(results, has_more, next_cursor):
        return {"results": results, "has_more": has_more, "next_cursor": next_cursor}

    # cell "db1": 3-page chain start → c2 → c3
    (d / "db1_cursor_start.json").write_text(
        json.dumps(page([{"subject_id": 1}, {"subject_id": 2}], True, "c2")),
        encoding="utf-8",
    )
    (d / "db1_cursor_c2.json").write_text(
        json.dumps(page([{"subject_id": 3}], True, "c3")), encoding="utf-8"
    )
    (d / "db1_cursor_c3.json").write_text(
        json.dumps(page([{"subject_id": 4}], False, None)), encoding="utf-8"
    )
    # cell "db2": empty from the first page
    (d / "db2_cursor_start.json").write_text(
        json.dumps(page([], False, None)), encoding="utf-8"
    )
    # cell "db3": malicious/cyclic chain start → loop → loop (must terminate)
    (d / "db3_cursor_start.json").write_text(
        json.dumps(page([{"subject_id": 9}], True, "loop")), encoding="utf-8"
    )
    (d / "db3_cursor_loop.json").write_text(
        json.dumps(page([{"subject_id": 10}], True, "loop")), encoding="utf-8"
    )
    return str(d)


def _read_cursor_pages(spark, cursor_fixture_dir, cells):
    spark.dataSource.register(PaginatedRestDataSource)
    return (
        spark.read.format("paginated_rest")
        .option("cells", json.dumps(cells))
        .option("fixture_dir", cursor_fixture_dir)
        .option("pagination", "cursor")
        .load()
    )


def test_cursor_pagination_follows_next_cursor(spark, cursor_fixture_dir):
    rows = _read_cursor_pages(spark, cursor_fixture_dir, ["db1", "db2"]).collect()
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r["cell_id"], []).append(r)
    assert len(by_cell["db1"]) == 3  # followed the full 3-page chain
    assert sorted(r["offset"] for r in by_cell["db1"]) == [0, 2, 3]
    ids = [
        item["subject_id"]
        for r in sorted(by_cell["db1"], key=lambda r: r["offset"])
        for item in json.loads(r["page"])["results"]
    ]
    assert ids == [1, 2, 3, 4]
    assert "db2" not in by_cell  # empty first page yields no rows


def test_cursor_pagination_terminates_on_cycle(spark, cursor_fixture_dir):
    rows = _read_cursor_pages(spark, cursor_fixture_dir, ["db3"]).collect()
    # start page + one visit of the cyclic cursor, then the guard stops
    assert len(rows) == 2


# --- live-HTTP opt-in (never touches the network in tests)


def test_live_mode_requires_env_opt_in(monkeypatch):
    from bangumi_notion_data_integration_project_spark.sources.rest import (
        LIVE_HTTP_ENV,
        PaginatedRestReader,
    )

    monkeypatch.delenv(LIVE_HTTP_ENV, raising=False)
    with pytest.raises(PermissionError, match=LIVE_HTTP_ENV):
        PaginatedRestReader({"mode": "live", "base_url": "http://example.invalid"})


def test_live_mode_constructs_http_transport(monkeypatch):
    from bangumi_notion_data_integration_project_spark.sources.rest import (
        LIVE_HTTP_ENV,
        HttpTransport,
        PaginatedRestReader,
    )

    monkeypatch.setenv(LIVE_HTTP_ENV, "1")
    reader = PaginatedRestReader(
        {
            "mode": "live",
            "base_url": "http://example.invalid/v0/collections",
            "static_params": json.dumps({"user": "u1"}),
            "cell_param": "subject_type",
        }
    )
    t = reader._transport()
    assert isinstance(t, HttpTransport)
    # param plumbing: static + cell + offset/limit names
    params = t.params_for_cell("2_1", 100, 50)
    assert params == {"user": "u1", "subject_type": "2_1", "offset": 100, "limit": 50}


def test_live_mode_without_base_url_rejected(monkeypatch):
    from bangumi_notion_data_integration_project_spark.sources.rest import (
        LIVE_HTTP_ENV,
        PaginatedRestReader,
    )

    monkeypatch.setenv(LIVE_HTTP_ENV, "1")
    with pytest.raises(ValueError, match="base_url"):
        PaginatedRestReader({"mode": "live"})
