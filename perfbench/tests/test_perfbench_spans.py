from __future__ import annotations

import pytest

from gen_bangumi import CELLS, SIZE, Collection
from gen_tables import write_tables
from spans import Tracer


@pytest.fixture()
def tracer(spark):
    t = Tracer(True, 0.0)
    t.sc = spark.sparkContext
    return t


def test_lazy_extract_launches_no_job(spark, tracer, tmp_path):
    from bangumi_notion_data_integration_project_spark import pipeline

    Collection(2).write_pages(1, tmp_path)
    with tracer.span("pipeline.extract"):
        tables = pipeline.extract(spark, cells=CELLS, fixture_dir=str(tmp_path), user_id="t")
    (span,) = tracer.spans
    assert (span.jobs, span.stages, span.tasks) == (0, 0, 0)
    # the same tables are real: counting them runs jobs under a group
    with tracer.span("count"):
        assert tables["raw"].count() == SIZE
    assert tracer.spans[-1].jobs > 0 and tracer.spans[-1].tasks > 0


def test_eager_kcore_build_launches_jobs(spark, tracer, tmp_path):
    from bangumi_notion_data_integration_project_spark.queries import QUERIES

    write_tables(3, 0.001, tmp_path)
    with tracer.span("queries.parts_kcore.build"):
        QUERIES["parts_kcore"](spark, str(tmp_path))
    span = tracer.spans[-1]
    assert span.jobs > 0 and span.stages > 0 and span.tasks > 0


def test_spans_nest(spark, tracer):
    tracer.round = 4
    with tracer.span("outer", count_jobs=False):
        with tracer.span("inner"):
            spark.range(10).count()
    inner, outer = tracer.spans
    assert inner.parent == outer.id and outer.parent is None
    assert inner.round == outer.round == 4
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert outer.jobs is None and inner.jobs >= 1


def test_counting_spans_do_not_nest(spark, tracer):
    with pytest.raises(RuntimeError):
        with tracer.span("outer"):
            with tracer.span("inner"):
                pass


def test_untraced_spans_only_time(spark):
    t = Tracer(False, 0.0)
    t.sc = spark.sparkContext
    with t.span("x") as s:
        spark.range(3).count()
    assert s.wall_s > 0 and s.jobs is None and t.spans == [s]
