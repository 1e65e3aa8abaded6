"""Property tests for the snapshot merge operator (SURVEY §5.2 —
idempotence, delete-when-absent, NA-row passthrough; reference
implement_incremental_load data_loading_to_mysql_database.py:185-277)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from bangumi_notion_data_integration_project_spark.operators.merge import (
    DIFF_OP,
    key_diff,
    merge_parts,
    merge_snapshot,
)

COLS = ["k", "v"]


def _df(spark, rows):
    return spark.createDataFrame(rows, "k: long, v: string")


def test_merge_parts_classification(spark):
    source = _df(spark, [(1, "s1"), (2, "s2"), (None, "sna")])
    target = _df(spark, [(2, "t2"), (3, "t3"), (None, "tna")])
    parts = merge_parts(source, target, "k")
    assert [r["k"] for r in parts["inserts"].collect()] == [1]
    assert [r["k"] for r in parts["deletes"].collect()] == [3]
    assert [r["v"] for r in parts["updates"].collect()] == ["s2"]  # source wins
    assert [r["v"] for r in parts["source_na"].collect()] == ["sna"]


def test_key_diff_tags_rows_as_merge_parts_splits_them(spark):
    # duplicate keys on both sides and null keys on both sides
    source = _df(spark, [(1, "s1"), (2, "s2"), (2, "s2b"), (4, "s4"), (None, "sna")])
    target = _df(spark, [(2, "t2"), (2, "t2b"), (3, "t3"), (3, "t3b"), (5, "t5"), (None, "tna")])
    parts = merge_parts(source, target, "k")
    want = sorted(
        (r["k"], r["v"], op)
        for op, part in (("insert", "inserts"), ("update", "updates"))
        for r in parts[part].collect()
    ) + sorted((r["k"], None, "delete") for r in parts["deletes"].collect())
    diff = key_diff(source, target, "k")
    assert diff.columns == ["k", "v", DIFF_OP]
    rows = [(r["k"], r["v"], r[DIFF_OP]) for r in diff.collect()]
    got = sorted(r for r in rows if r[2] != "delete") + sorted(r for r in rows if r[2] == "delete")
    assert got == want
    assert got == [(1, "s1", "insert"), (2, "s2", "update"), (2, "s2b", "update"),
                   (4, "s4", "insert"), (3, None, "delete"), (3, None, "delete"),
                   (5, None, "delete")]


def test_full_sync_equals_source_plus_na(spark):
    # delete-when-absent: final state == source rows + source NA rows
    source = _df(spark, [(1, "a"), (2, "b"), (None, "na")])
    target = _df(spark, [(2, "old"), (9, "gone")])
    out = merge_snapshot(source, target, "k", delete_absent=True)
    got = sorted([(r["k"], r["v"]) for r in out.collect()], key=lambda x: (x[0] is None, x[0]))
    assert got == [(1, "a"), (2, "b"), (None, "na")]


def test_upsert_keeps_absent_target_rows(spark):
    source = _df(spark, [(1, "new")])
    target = _df(spark, [(1, "old"), (9, "keep")])
    out = merge_snapshot(source, target, "k", delete_absent=False)
    got = dict((r["k"], r["v"]) for r in out.collect())
    assert got == {1: "new", 9: "keep"}


def test_merge_idempotent(spark):
    # merging the same snapshot twice is a no-op
    snap = _df(spark, [(1, "a"), (2, "b")])
    once = merge_snapshot(snap, snap, "k", delete_absent=True)
    twice = merge_snapshot(snap, once, "k", delete_absent=True)
    assert sorted((r["k"], r["v"]) for r in twice.collect()) == [(1, "a"), (2, "b")]


def test_initial_load_empty_target(spark):
    source = _df(spark, [(1, "a")])
    target = _df(spark, []).limit(0)
    out = merge_snapshot(source, target, "k", delete_absent=True)
    assert [(r["k"], r["v"]) for r in out.collect()] == [(1, "a")]


def _pdf(spark, rows):
    return spark.createDataFrame(rows, "k: long, v: string, p: string")


def test_merge_scoped_untouched_partitions_pass_through(spark):
    from bangumi_notion_data_integration_project_spark.operators.merge import merge_scoped

    target = _pdf(
        spark,
        [(1, "old", "p1"), (2, "keep", "p1"), (3, "zombie", "p2"), (4, "safe", "p3")],
    )
    # touches only p1: updates k=1, inserts k=5, implicitly deletes k=2
    source = _pdf(spark, [(1, "new", "p1"), (5, "ins", "p1")])
    out = merge_scoped(source, target, "k", "p", delete_absent=True)
    got = sorted((r.k, r.v, r.p) for r in out.collect())
    # p2/p3 rows survive untouched even though delete_absent=True —
    # the delete scope is the touched partitions only
    assert got == [
        (1, "new", "p1"),
        (3, "zombie", "p2"),
        (4, "safe", "p3"),
        (5, "ins", "p1"),
    ]


def test_merge_into_partitioned_rewrites_only_touched_partitions(spark, tmp_path):
    import os

    from bangumi_notion_data_integration_project_spark.operators.merge import (
        merge_into_partitioned,
    )

    path = str(tmp_path / "tgt")
    _pdf(
        spark,
        [(1, "old", "p1"), (2, "gone", "p1"), (3, "keep", "p2"), (4, "keep", "p3")],
    ).write.partitionBy("p").parquet(path)

    def files_of(part: str) -> dict[str, float]:
        d = os.path.join(path, f"p={part}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before_p2, before_p3 = files_of("p2"), files_of("p3")
    source = _pdf(spark, [(1, "new", "p1"), (5, "ins", "p1"), (6, "brand", "p4")])
    merge_into_partitioned(spark, source, path, "k", "p", delete_absent=True)

    got = sorted((r.k, r.v, r.p) for r in spark.read.parquet(path).collect())
    assert got == [
        (1, "new", "p1"),  # updated
        (3, "keep", "p2"),  # untouched partition
        (4, "keep", "p3"),  # untouched partition
        (5, "ins", "p1"),  # inserted
        (6, "brand", "p4"),  # new partition materialized
    ]
    # dynamic overwrite must not have rewritten untouched partitions:
    # identical file names AND mtimes (a rewrite changes both)
    assert files_of("p2") == before_p2
    assert files_of("p3") == before_p3


def test_merge_into_partitioned_multi_level_scopes_to_tuple(spark, tmp_path):
    """Two-level hive layout: touched-partition scoping is on the FULL
    (p, q) tuple — a source touching only (p1, q1) must leave the
    sibling (p1, q2) directory's files byte-untouched even though its
    first-level value p1 IS touched."""
    import os

    from bangumi_notion_data_integration_project_spark.operators.merge import (
        merge_into_partitioned,
    )

    path = str(tmp_path / "tgt")
    spark.createDataFrame(
        [(1, "old", "p1", "q1"), (2, "keep", "p1", "q2"), (3, "keep", "p2", "q1")],
        "k: long, v: string, p: string, q: string",
    ).write.partitionBy("p", "q").parquet(path)

    def files_of(p, q):
        d = os.path.join(path, f"p={p}", f"q={q}")
        return {
            f: os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before_p1q2, before_p2q1 = files_of("p1", "q2"), files_of("p2", "q1")
    source = spark.createDataFrame(
        [(1, "new", "p1", "q1"), (4, "ins", "p1", "q1")],
        "k: long, v: string, p: string, q: string",
    )
    merge_into_partitioned(spark, source, path, "k", ["p", "q"], delete_absent=False)
    got = sorted((r.k, r.v, r.p, r.q) for r in spark.read.parquet(path).collect())
    assert got == [
        (1, "new", "p1", "q1"),
        (2, "keep", "p1", "q2"),
        (3, "keep", "p2", "q1"),
        (4, "ins", "p1", "q1"),
    ]
    assert files_of("p1", "q2") == before_p1q2, "sibling leaf rewrote"
    assert files_of("p2", "q1") == before_p2q1, "untouched branch rewrote"


def test_grain_partition_prunes_stored_rollup_read(spark, tmp_path):
    """The (grain, __year) layout's read-side half: the per-batch fold
    filters ``grain == 'day'`` on the stored rollup, and with grain as
    its own partition column that filter must land in the scan's
    PartitionFilters (directory-level listing prune) — fusing grain
    into a grain-year token would demote it to row-group stats behind
    a footer read of every file."""
    path = str(tmp_path / "roll")
    spark.createDataFrame(
        [("day", "2024-01-01", 1, 100, 2024),
         ("week", "2024-01-01", 1, 100, 2024),
         ("month", "2024-01-01", 1, 100, 2023)],
        "grain string, bucket_start string, n_events long,"
        " value_cents long, __year int",
    ).write.partitionBy("grain", "__year").parquet(path)
    df = spark.read.parquet(path).filter(F.col("grain") == "day")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "grain" in m.group(1), plan[:800]
    assert df.count() == 1


def test_merge_into_partitioned_null_partition_keeps_target_rows(spark, tmp_path):
    """A source row in the NULL partition (__HIVE_DEFAULT_PARTITION__)
    must MERGE with the target's NULL-partition rows, not replace the
    directory wholesale — a plain equi-semi-join never matches NULL, so
    without the null-safe branch k=7 would silently vanish."""
    from bangumi_notion_data_integration_project_spark.operators.merge import (
        merge_into_partitioned,
    )

    path = str(tmp_path / "tgt")
    _pdf(spark, [(7, "keep", None), (1, "old", "p1")]).write.partitionBy("p").parquet(
        path
    )
    source = _pdf(spark, [(8, "ins", None)])
    merge_into_partitioned(spark, source, path, "k", "p", delete_absent=False)
    got = sorted(
        ((r.k, r.v, r.p) for r in spark.read.parquet(path).collect()),
        key=lambda t: t[0],
    )
    assert got == [(1, "old", "p1"), (7, "keep", None), (8, "ins", None)]


def test_merge_into_partitioned_idempotent(spark, tmp_path):
    from bangumi_notion_data_integration_project_spark.operators.merge import (
        merge_into_partitioned,
    )

    path = str(tmp_path / "tgt")
    _pdf(spark, [(1, "a", "p1"), (2, "b", "p2")]).write.partitionBy("p").parquet(path)
    source = _pdf(spark, [(1, "x", "p1")])
    merge_into_partitioned(spark, source, path, "k", "p")
    merge_into_partitioned(spark, source, path, "k", "p")
    got = sorted((r.k, r.v, r.p) for r in spark.read.parquet(path).collect())
    assert got == [(1, "x", "p1"), (2, "b", "p2")]


def test_scd2_all_four_transitions(spark):
    from bangumi_notion_data_integration_project_spark.operators.merge import merge_scd2

    history = spark.createDataFrame(
        [
            (1, "a", "2020-01-01", None),        # unchanged in source
            (2, "b", "2020-01-01", None),        # changed in source
            (3, "c", "2019-01-01", "2020-01-01"),  # already-closed version
            (3, "d", "2020-01-01", None),        # absent from source → stays open
        ],
        "k: long, attr: string, valid_from: string, valid_to: string",
    ).selectExpr("k", "attr", "cast(valid_from as date) valid_from", "cast(valid_to as date) valid_to")
    source = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "new")], "k: long, attr: string"
    )
    out = merge_scd2(history, source, "k", ["attr"], "2021-06-01")
    rows = {
        (r.k, r.attr, str(r.valid_from), str(r.valid_to) if r.valid_to else None)
        for r in out.collect()
    }
    assert rows == {
        (1, "a", "2020-01-01", None),              # untouched
        (2, "b", "2020-01-01", "2021-06-01"),      # closed
        (2, "B", "2021-06-01", None),              # reopened with new value
        (3, "c", "2019-01-01", "2020-01-01"),      # closed history preserved
        (3, "d", "2020-01-01", None),              # absent key survives open
        (4, "new", "2021-06-01", None),            # brand-new key
    }


def test_scd2_idempotent_on_unchanged_source(spark):
    from bangumi_notion_data_integration_project_spark.operators.merge import merge_scd2

    history = spark.createDataFrame(
        [(1, "a", "2020-01-01", None)],
        "k: long, attr: string, valid_from: string, valid_to: string",
    ).selectExpr("k", "attr", "cast(valid_from as date) valid_from", "cast(valid_to as date) valid_to")
    source = spark.createDataFrame([(1, "a")], "k: long, attr: string")
    once = merge_scd2(history, source, "k", ["attr"], "2021-06-01")
    twice = merge_scd2(once, source, "k", ["attr"], "2022-06-01")
    assert twice.count() == 1  # re-applying the same snapshot is a no-op
