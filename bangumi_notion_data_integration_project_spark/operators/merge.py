"""Keyed snapshot merge — the reference's incremental load, Spark-first.

Reference semantics (`implement_incremental_load`,
data_loading_to_mysql_database.py:185-277):
  inserts  = source keys − target keys          (:236-240, M1 anti join)
  deletes  = target keys − source keys          (:243,     M2 anti join)
  updates  = source ∩ target, all rewritten     (:246-262, M3 semi join)
  NA-key rows bypass the merge, appended as-is  (:223-227, :265)
  final    = inserts ∪ updates [∪ survivors if keep_absent] ∪ NA rows

Physical notes for 100 TB: ``merge_snapshot`` applies the anti∪semi =
source identity itself (Catalyst cannot prove it across a union of
joins), so full sync is join-free and upsert is one anti join; the
M1-M3 decomposition stays available via ``merge_parts``, and
``key_diff`` tags all three in one full outer join for the sync stages,
which need every class from a single pass. AQE picks
broadcast when one snapshot is small, skew-join when the key is hot.
For a mutable target the partition-scoped path
(``merge_into_partitioned``) replaces only the hive partitions the
delta touches — the plain-parquet equivalent of Delta ``MERGE INTO``;
the whole-target rewrite remains as the exact equivalent of the
reference's `if_exists='replace'` (:268).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_parts(source: DataFrame, target: DataFrame, key: str) -> dict[str, DataFrame]:
    """The M1/M2/M3 decomposition, each part its own DataFrame."""
    s = source.filter(F.col(key).isNotNull())
    t = target.filter(F.col(key).isNotNull())
    return {
        "inserts": s.join(t, key, "left_anti"),
        "deletes": t.join(s, key, "left_anti"),
        "updates": s.join(t, key, "left_semi"),
        "source_na": source.filter(F.col(key).isNull()),
        "target_na": target.filter(F.col(key).isNull()),
    }


DIFF_OP = "_op"


def key_diff(source: DataFrame, target: DataFrame, key: str) -> DataFrame:
    """M1-M3 in ONE full outer join: ``source``'s columns plus
    ``DIFF_OP``: 'insert' or 'update' on every source row, by whether
    ``target`` holds its key, and 'delete' on every target row whose key
    the source lacks, with the other columns NULL. Row for row the same
    classes as :func:`merge_parts`, null keys excluded; only ``target``'s
    key is read, grouped so a source row is tagged once."""
    s = source.filter(F.col(key).isNotNull()).withColumn("__s", F.lit(True))
    t = target.filter(F.col(key).isNotNull()).groupBy(key).agg(F.count(F.lit(1)).alias("__t"))
    j = s.join(t, key, "full_outer")
    deleted = F.col("__s").isNull()
    copies = F.when(deleted, F.col("__t").cast("int")).otherwise(1)
    op = F.when(deleted, "delete").when(F.col("__t").isNull(), "insert").otherwise("update")
    j = j.select("*", F.explode(F.array_repeat(op, copies)).alias(DIFF_OP))
    return j.select(*source.columns, DIFF_OP)


def merge_snapshot(
    source: DataFrame,
    target: DataFrame,
    key: str,
    *,
    delete_absent: bool = True,
) -> DataFrame:
    """Return the post-merge state of the target.

    delete_absent=True  → reference full-sync semantics (rows absent
                          from source are dropped; :243).
    delete_absent=False → upsert-only (absent target rows survive).
    NA-key rows from the source pass through untouched (:223-227).

    Plan note: M1 ∪ M3 partitions the source's non-null-key rows, so
    full sync ≡ source and upsert ≡ source ∪ (target ∖ source-keys).
    Catalyst cannot prove that across a union of joins, so the collapse
    happens here: full sync is join-free and upsert is ONE anti join.
    """
    if delete_absent:
        return source
    survivors = target.filter(F.col(key).isNotNull()).join(
        source.filter(F.col(key).isNotNull()), key, "left_anti"
    )
    return source.unionByName(survivors)


def merge_scoped(
    source: DataFrame,
    target: DataFrame,
    key: str,
    partition_col: str,
    *,
    delete_absent: bool = True,
) -> DataFrame:
    """Post-merge state when the merge is SCOPED to the partitions the
    source actually touches: affected partitions get full
    ``merge_snapshot`` semantics; untouched partitions pass through
    byte-identical. This is the logical core of
    :func:`merge_into_partitioned` (the partition-scoped MERGE INTO),
    split out so it is oracle-checkable as a pure query.

    The affected-partition filter is a semi-join on ``partition_col``
    (never a collected literal list), so on a hive-partitioned target
    the parquet scan prunes via Dynamic Partition Pruning and the
    untouched branch's anti-join prunes the same way — at 100 TB the
    job reads only the partitions the delta names.

    Constraint (same as Delta/Iceberg dynamic overwrite): ``key`` must
    not migrate between partitions — a key whose partition value
    changes would leave its old row live in an untouched partition.

    The partition match is NULL-SAFE: a NULL partition value (hive's
    __HIVE_DEFAULT_PARTITION__) is touched like any other, where an
    equi-semi-join would drop the target's NULL-partition rows.
    """
    touched = source.select(partition_col).distinct()
    cond = F.col(f"t.{partition_col}").eqNullSafe(F.col(f"p.{partition_col}"))
    t, p = target.alias("t"), touched.alias("p")
    affected = t.join(p, cond, "left_semi")
    untouched = t.join(p, cond, "left_anti")
    merged = merge_snapshot(source, affected, key, delete_absent=delete_absent)
    return merged.unionByName(untouched)


def merge_into_partitioned(
    spark,
    source: DataFrame,
    target_path: str,
    key: str,
    partition_col: "str | list[str]",
    *,
    delete_absent: bool = True,
) -> None:
    """Partition-scoped MERGE INTO for a hive-partitioned parquet
    target — the plain-parquet, Spark-first equivalent of Delta
    ``MERGE INTO`` (SURVEY §2.6 M6 at warehouse scale; the reference
    rewrites its whole table on every sync,
    data_loading_to_mysql_database.py:268 ``if_exists='replace'``).
    ``partition_col`` may be one column or a list (multi-level hive
    layout); touched-partition scoping is on the full tuple.

    Write path: ``partitionOverwriteMode=dynamic`` replaces ONLY the
    partitions present in the merged output; every other partition's
    files are never read and never rewritten. Combined with the
    DPP-pruned read in :func:`merge_scoped`, a delta touching 3 of
    10 000 date partitions does 3 partitions of I/O, not a 100 TB
    rewrite.

    Caveats:
    - ``key`` must not migrate across partitions (see merge_scoped).
    - Every touched partition keeps its source rows, so no partition
      is left empty with stale files; truncating a whole partition is a
      layout operation (drop the directory), out of scope here.
    """
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    target = spark.read.parquet(target_path)
    # Write ONLY the touched partitions: dynamic overwrite replaces
    # every partition in the output, so merge_scoped's untouched
    # passthrough would rewrite the whole table.
    # A NULL partition value (__HIVE_DEFAULT_PARTITION__) never matches
    # an equi-semi-join, so that directory would be replaced by the
    # batch alone, dropping target rows. The null-safe match defeats
    # DPP (which wants EqualTo), so one tiny job probes the delta and
    # the null-safe plan is paid only when a NULL partition is present.
    pcols = [partition_col] if isinstance(partition_col, str) else list(partition_col)
    touched = source.select(*pcols).distinct()
    null_probe = F.lit(False)
    for c in pcols:
        null_probe = null_probe | F.col(c).isNull()
    source_has_null_part = source.filter(null_probe).limit(1).count() > 0
    if source_has_null_part:
        cond = F.lit(True)
        for c in pcols:
            cond = cond & F.col(f"t.{c}").eqNullSafe(F.col(f"p.{c}"))
        affected = target.alias("t").join(touched.alias("p"), cond, "left_semi")
    else:
        affected = target.join(touched, pcols, "left_semi")
    merged = merge_snapshot(
        source, affected, key, delete_absent=delete_absent
    ).localCheckpoint(eager=True)  # sever self-referential read→overwrite lineage
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        merged.write.mode("overwrite").partitionBy(*pcols).parquet(target_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def merge_scd2(
    history: DataFrame,
    source: DataFrame,
    key: str,
    attrs: list[str],
    effective,
    *,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge: version rows instead of
    overwriting them (the warehouse-grade extension of the reference's
    rewrite-everything update, data_loading_to_mysql_database.py:
    253-262 — which keeps no history at all).

    ``history`` carries ``key``, ``attrs``, ``from_col`` and ``to_col``
    (NULL ``to_col`` = the current version). For each incoming row:

    - attrs unchanged → current version stays open;
    - attrs changed   → current version closes at ``effective``, a new
                        open version is appended;
    - new key         → first open version appended;
    - key absent from source → current version stays open (SCD2 keeps
      dimension members; use ``merge_snapshot`` for delete semantics).

    Scale shape: ONE full-outer join of the open history against the
    source, then a per-row CASE emits 1-2 versions through an
    ``explode``, so each input is scanned once. Closed history unions
    back untouched, never shuffled. Comparison is null-safe.
    """
    cur = history.filter(F.col(to_col).isNull())
    closed = history.filter(F.col(to_col).isNotNull())
    # existence markers survive the full outer join where key columns
    # from a missing side are NULL; key itself is non-null by contract
    # but markers keep the branch logic independent of that
    c = cur.withColumn("__c", F.lit(True)).alias("c")
    s = source.select(key, *attrs).withColumn("__s", F.lit(True)).alias("s")
    j = c.join(s, F.col(f"c.{key}") == F.col(f"s.{key}"), "full_outer")

    from_type = history.schema[from_col].dataType
    to_type = history.schema[to_col].dataType
    eff_from = F.lit(effective).cast(from_type)
    eff_to = F.lit(effective).cast(to_type)
    null_to = F.lit(None).cast(to_type)

    def _row(key_c, attr_side, from_c, to_c):
        return F.struct(
            key_c.alias(key),
            *[F.col(f"{attr_side}.{a}").alias(a) for a in attrs],
            from_c.alias(from_col),
            to_c.alias(to_col),
        )

    c_key, s_key = F.col(f"c.{key}"), F.col(f"s.{key}")
    c_open = _row(c_key, "c", F.col(f"c.{from_col}"), F.col(f"c.{to_col}"))
    c_closed = _row(c_key, "c", F.col(f"c.{from_col}"), eff_to)
    s_opened = _row(s_key, "s", eff_from, null_to)
    any_diff = reduce(
        lambda a, b: a | b,
        [~F.col(f"c.{a}").eqNullSafe(F.col(f"s.{a}")) for a in attrs],
    )
    versions = (
        F.when(F.col("s.__s").isNull(), F.array(c_open))  # absent → stays open
        .when(F.col("c.__c").isNull(), F.array(s_opened))  # new key
        .when(any_diff, F.array(c_closed, s_opened))  # changed → close + reopen
        .otherwise(F.array(c_open))  # unchanged
    )
    out = j.select(F.explode(versions).alias("r")).select("r.*")
    return closed.select(*history.columns).unionByName(out.select(*history.columns))
