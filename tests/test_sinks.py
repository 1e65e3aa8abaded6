"""Sink tests: CSV (BOM, complex-column stringify), Excel bounding,
JDBC prepare, row-wise REST sink with accumulator counters."""

from __future__ import annotations

import json
import os

import pytest
from _helpers import job_group

from bangumi_notion_data_integration_project_spark.sinks.files import (
    UTF8_BOM,
    _sheet_frames,
    write_csv,
    write_excel,
)
from bangumi_notion_data_integration_project_spark.sinks.jdbc import prepare_for_jdbc
from bangumi_notion_data_integration_project_spark.sinks.rest import (
    FileTransport,
    format_property,
    write_rest,
)


def _df(spark):
    return spark.createDataFrame(
        [(1, "名字", ["a", "b"]), (2, "two", ["c"])],
        "id: long, name: string, tags: array<string>",
    )


def test_write_csv_single_file_bom(spark, tmp_path):
    out = write_csv(_df(spark), str(tmp_path / "out"), single_file=True, bom=True)
    raw = open(out, "rb").read()
    assert raw.startswith(UTF8_BOM)  # utf-8-sig parity (:522-524)
    text = raw.decode("utf-8-sig")
    assert "名字" in text
    assert '"[\\"a\\",\\"b\\"]"' in text  # array JSON-stringified (Spark backslash escape)


def test_write_csv_distributed(spark, tmp_path):
    out = write_csv(_df(spark), str(tmp_path / "dist"))
    files = [f for f in os.listdir(out) if f.startswith("part-")]
    assert files  # distributed layout intact


def test_excel_gated_but_bounded_frames_work(spark, tmp_path):
    with job_group(spark, "excel_frames") as jobs:
        frames = _sheet_frames({"raw": _df(spark)}, max_rows=1)
    assert jobs()  # collecting the sheets runs jobs
    assert len(frames["raw"]) == 1  # bounded
    assert isinstance(frames["raw"]["tags"][0], str)  # stringified
    with job_group(spark, "excel_gated") as jobs:
        with pytest.raises(NotImplementedError):
            write_excel({"raw": _df(spark)}, str(tmp_path / "x.xlsx"))
    assert jobs() == []  # no engine → refused before any sheet is collected


def test_prepare_for_jdbc_stringifies_complex(spark):
    out = prepare_for_jdbc(_df(spark))
    assert dict(out.dtypes)["tags"] == "string"
    assert json.loads(out.filter("id = 1").first()["tags"]) == ["a", "b"]


def test_format_property_reference_quirks():
    # int-vs-float by '.' in str (notion_data_ingestion.py:275)
    assert format_property(5, "number") == {"number": 5}
    assert format_property(5.5, "number") == {"number": 5.5}
    assert format_property(float("nan"), "number") is None  # NaN omitted (:250-251)
    assert format_property(None, "title") is None
    long = "x" * 3000
    assert len(format_property(long, "rich_text")["rich_text"][0]["text"]["content"]) == 2000
    assert format_property(True, "checkbox") == {"checkbox": True}


def test_write_rest_counters_and_failures(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 7.0), (2, "b", None), (3, "c", 1.5)],
        "subject_id: long, name_cn: string, score: double",
    ).repartition(2)
    transport = FileTransport(str(tmp_path), fail_on=frozenset({2}))
    counts = write_rest(
        df,
        transport,
        {"subject_id": "title", "name_cn": "rich_text", "score": "number"},
        key_col="subject_id",
    )
    assert counts == {"success": 2, "errors": 1}
    lines = []
    for f in os.listdir(tmp_path):
        lines += open(tmp_path / f, encoding="utf-8").read().splitlines()
    payloads = {json.loads(ln)["__key"]: json.loads(ln) for ln in lines}
    assert set(payloads) == {1, 3}
    assert payloads[3]["properties"]["score"] == {"number": 1.5}


def test_write_rest_tolerates_format_errors(spark, tmp_path):
    """A malformed value (non-numeric string in a 'number' column, or an
    unsupported property type) counts as a row error and must NOT kill
    the partition task — reference format_property logs and continues
    (notion_data_ingestion.py:247-291)."""
    df = spark.createDataFrame(
        [(1, "7.5"), (2, "not-a-number"), (3, "2")],
        "subject_id: long, score_str: string",
    )
    transport = FileTransport(str(tmp_path))
    counts = write_rest(
        df,
        transport,
        {"subject_id": "title", "score_str": "number"},
        key_col="subject_id",
    )
    assert counts == {"success": 2, "errors": 1}

    bad_type = write_rest(
        df.limit(1), transport, {"score_str": "multi_select"}, key_col="subject_id"
    )
    assert bad_type == {"success": 0, "errors": 1}
