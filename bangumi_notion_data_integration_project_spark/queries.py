"""Named query registry — the driver-facing surface.

Each entry is a callable ``(spark, sf_dir) -> DataFrame`` demonstrating
one operator family from SURVEY.md §2 on the star-schema testdata, with
a matching ANSI-SQL oracle in ``ORACLES`` that DuckDB runs over the same
parquet. Column names are aliased identically on both sides (the driver
compare sorts columns by name before hashing); computed doubles are
rounded identically on both sides (2dp money, 6dp ratios) so the value
hash is stable across engines.

Reference citations in docstrings point into /root/reference/ so parity
can be checked; the implementations are Spark-first, not translations.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import load_table
from .functions.scalar import coalesce_nonempty, map_multikey_coalesce, truncate_str
from .functions.text import (
    LANG_MARKERS,
    STOPWORDS_EN,
    lang_marker_scores,
    mean_token_len,
    positional_fingerprint,
    punct_ratio,
    stopword_ratio,
    token_count,
    tokens,
)
from .functions.vectors import l2_norm
from .operators.dedup import normalized_text
from .operators.merge import merge_parts, merge_scd2, merge_snapshot
from .operators.similarity import brute_force_topk
from .operators.topk import top_k_per_group, top_k_per_group_salted

ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]

# Snapshot cutoffs for the incremental-merge family (orders span
# 1995-01-01 .. 2001-08-01): target = old snapshot, source = new.
MERGE_SOURCE_FROM = "1997-01-01"
MERGE_TARGET_UNTIL = "2000-01-01"


def _orders_snapshots(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    o = load_table(spark, sf_dir, "orders").select(*ORDER_COLS)
    source = o.filter(F.col("o_orderdate") >= MERGE_SOURCE_FROM)
    target = o.filter(F.col("o_orderdate") < MERGE_TARGET_UNTIL)
    return source, target

_MERGE_CTE = f"""
        WITH source AS (SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '{MERGE_SOURCE_FROM} 00:00:00'),
             target AS (SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '{MERGE_TARGET_UNTIL} 00:00:00')
"""


# ---------------------------------------------------------------------------
# A. Aggregation family (reference A1-A6: category summary, ratios, counts)
# ---------------------------------------------------------------------------


def q_category_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: grouped summary with counts, sums and a guarded ratio.

    Restates the reference's per-(subject_type, collection_type) category
    summary (bangumi_data_ingestion.py:487-499, accumulate :200-202,
    ratio-with-zero-guard :495) on the star schema: group `lineitem` by
    (l_returnflag, l_linestatus). Map-side partial aggregation + AQE
    handle this at 100 TB — one shuffle on the (tiny-cardinality) group
    key, no Python in the hot path.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").cast("long").alias("fetched_items"),
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_discount").alias("avg_disc"),
        )
        .withColumn(
            "qty_share_pct",
            F.when(
                F.col("sum_base_price") > 0,
                F.col("sum_qty") / F.col("sum_base_price") * 100.0,
            ).otherwise(F.lit(0.0)),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "fetched_items",
            F.round("sum_qty", 2).alias("sum_qty"),
            F.round("sum_base_price", 2).alias("sum_base_price"),
            F.round("sum_disc_price", 2).alias("sum_disc_price"),
            F.round("avg_qty", 6).alias("avg_qty"),
            F.round("avg_disc", 6).alias("avg_disc"),
            F.round("qty_share_pct", 6).alias("qty_share_pct"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_global_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sums + conditional count (bangumi_data_ingestion.py:538-543,
    :372,476 — overall fetched/total and categories-with-data count)."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.count_if(F.col("o_orderstatus") == "F").cast("long").alias("n_finished"),
        F.countDistinct("o_custkey").cast("long").alias("n_customers"),
    )


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot aggregation (generalizes the reference's per-category matrix
    summary, bangumi_data_ingestion.py:487-499): line-status columns."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnRenamed("F", "qty_f")
        .withColumnRenamed("O", "qty_o")
        .orderBy("l_returnflag")
    )


def q_rollup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping indicators — the §2.5 extension (subtotals +
    grand total the reference computes manually at :538-543)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
        )
        .orderBy("g_flag", "g_status", "l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# P. Projection / filter / scalar family (reference P1-P10)
# ---------------------------------------------------------------------------


def q_project_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + string truncation + literal stamping (reference
    extract_common_fields :309-323, summary[:500] :322, user_id literal
    :410-413)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        truncate_str("p_name", 12).alias("name_short"),
        F.upper("p_brand").alias("brand_uc"),
        F.lit("catalog").alias("source_tag"),
        F.length("p_name").cast("long").alias("name_len"),
    ).orderBy("p_partkey")


def q_coalesce_display(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empty-string-skipping coalesce (reference `name_cn or name`
    :438 — Python `or` treats "" as missing, unlike SQL COALESCE) plus a
    broadcast dim join. The first branch is a data column degraded to
    '' on a deterministic third of rows (name_cn-style sparse alias),
    so the oracle genuinely distinguishes coalesce_nonempty from plain
    COALESCE: rows where the alias is '' must fall through to c_name.
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    alias_name = F.when(
        F.col("c_custkey") % 3 == 0, F.lit("")
    ).otherwise(F.col("c_mktsegment"))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "c_custkey",
            coalesce_nonempty(alias_name, F.col("c_name")).alias("display_name"),
            F.col("n_name").alias("nation_name"),
        )
        .orderBy("c_custkey")
    )


def q_filter_nonempty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null/empty-partition filter (reference NA split :223-227 and
    skip-empty-category :376-377)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(F.col("text").isNotNull() & (F.length(F.trim("text")) > 0) & (F.col("n_chars") > 0))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


def q_timestamp_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp handling (reference pd.to_datetime coerce + tz-strip
    :397-403): truncation, formatting, round-trip reparse."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.date_trunc("day", "ts").alias("day_ts"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        F.hour("ts").cast("long").alias("hour_of_day"),
        F.try_to_timestamp(F.date_format("ts", "yyyy-MM-dd HH:mm:ss")).alias("reparsed"),
    ).orderBy("event_id")


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON parse (reference implicit resp.json() J6; to_json J5):
    extract typed value from a JSON-string column."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
        F.get_json_object("props", "$.missing").alias("missing_val"),
    ).orderBy("event_id")


def q_map_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map lookup with multi-key fallback (reference infobox 导演 or 監督
    :446-450, map built by parse_infobox :263-295)."""
    e = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,string>")
    return e.select(
        "event_id",
        map_multikey_coalesce(m, "missing", "k").alias("k_str"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# J/T. Semi-structured + top-k family (reference J1-J6, T1)
# ---------------------------------------------------------------------------


def q_token_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N positional pivot (reference extract_top_tags :297-307 —
    first 5 tags → 10 null-padded columns; here: first 3 tokens)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    return d.select(
        "doc_id",
        F.try_element_at(toks, F.lit(1)).alias("tok_1"),
        F.try_element_at(toks, F.lit(2)).alias("tok_2"),
        F.try_element_at(toks, F.lit(3)).alias("tok_3"),
        F.size(toks).cast("long").alias("n_tokens"),
    ).orderBy("doc_id")


def q_order_top_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k + array_join (reference top-5 tags :297-307 and
    ", "-joined all_tags :457-459): top-5 parts per order by price."""
    li = load_table(spark, sf_dir, "lineitem")
    pair = F.struct((-F.col("l_extendedprice")).alias("np"), F.col("l_partkey").alias("pk"))
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.array_sort(F.collect_list(pair)).alias("__arr"),
            F.count("*").cast("long").alias("n_items"),
        )
        .select(
            "l_orderkey",
            F.array_join(
                F.transform(F.slice("__arr", 1, 5), lambda x: x.getField("pk").cast("string")),
                ",",
            ).alias("top_parts"),
            "n_items",
        )
        .orderBy("l_orderkey")
    )


def q_top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k per group (SURVEY §2.6 T1 as row_number)."""
    p = load_table(spark, sf_dir, "part")
    return (
        top_k_per_group(
            p,
            ["p_brand"],
            [F.col("p_retailprice").desc(), F.col("p_partkey").asc()],
            3,
        )
        .select(
            "p_brand",
            "p_partkey",
            F.round("p_retailprice", 2).alias("price"),
            F.col("rn").cast("long").alias("rn"),
        )
        .orderBy("p_brand", "rn")
    )


def q_top_parts_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase window top-k (operators/topk.py
    top_k_per_group_salted): the skew-structural form of
    top_parts_per_brand. The salt only routes rows — phase 1 ranks
    within (group, salt), phase 2 re-ranks the bounded survivors — so
    the result is IDENTICAL to the plain window and the oracle is the
    unsalted SQL. This is the 100 TB mitigation for a hot window key:
    AQE cannot split a skewed WINDOW partition (measured in
    SCALING.md's window probe), so parallelism must come from the
    key structure itself."""
    p = load_table(spark, sf_dir, "part")
    return (
        top_k_per_group_salted(
            p,
            ["p_brand"],
            [F.col("p_retailprice").desc(), F.col("p_partkey").asc()],
            3,
            n_salts=8,
            tiebreaker="p_partkey",
        )
        .select(
            "p_brand",
            "p_partkey",
            F.round("p_retailprice", 2).alias("price"),
            F.col("rn").cast("long").alias("rn"),
        )
        .orderBy("p_brand", "rn")
    )


# ---------------------------------------------------------------------------
# M. Merge / set-op family (reference incremental load M1-M9)
# ---------------------------------------------------------------------------


def q_merge_inserts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 — left anti join: rows only in the new snapshot
    (data_loading_to_mysql_database.py:236-240)."""
    source, target = _orders_snapshots(spark, sf_dir)
    return merge_parts(source, target, "o_orderkey")["inserts"].orderBy("o_orderkey")


def q_merge_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 — reversed anti join: rows that vanished from the source
    (data_loading_to_mysql_database.py:243)."""
    source, target = _orders_snapshots(spark, sf_dir)
    return merge_parts(source, target, "o_orderkey")["deletes"].orderBy("o_orderkey")


def q_merge_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 — left semi join: common keys, all rewritten from source
    (data_loading_to_mysql_database.py:246-262; no value-level diff)."""
    source, target = _orders_snapshots(spark, sf_dir)
    return merge_parts(source, target, "o_orderkey")["updates"].orderBy("o_orderkey")


def q_merge_full_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1-M6 composed — full-sync merge (delete-when-absent), the exact
    reference semantics of implement_incremental_load :185-277."""
    source, target = _orders_snapshots(spark, sf_dir)
    return merge_snapshot(source, target, "o_orderkey", delete_absent=True).orderBy("o_orderkey")


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert variant (keep-when-absent) — same machinery, absent target
    rows survive (the Notion-side sync intent, notion_data_ingestion.py
    :135-203 readback + insert/update)."""
    source, target = _orders_snapshots(spark, sf_dir)
    return merge_snapshot(source, target, "o_orderkey", delete_absent=False).orderBy("o_orderkey")


def q_merge_partition_scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-scoped MERGE (operators/merge.merge_scoped — the
    logical core of merge_into_partitioned's dynamic-partition-
    overwrite write path, the plain-parquet equivalent of Delta
    MERGE INTO). The source delta names only the URGENT and MEDIUM
    priority partitions, so full-sync delete semantics apply INSIDE
    those partitions while every other partition rides through
    untouched; on a hive-partitioned 100 TB target the paired write
    path replaces just the touched directories (tests/test_merge.py
    asserts untouched files keep their mtimes)."""
    from .operators.merge import merge_scoped

    source, target = _orders_snapshots(spark, sf_dir)
    src = source.filter(F.col("o_orderpriority").isin("1-URGENT", "3-MEDIUM"))
    return merge_scoped(
        src, target, "o_orderkey", "o_orderpriority", delete_absent=True
    ).orderBy("o_orderkey")


def q_dedup_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 — dedup by key, last-write-wins (reference Notion readback
    keyed dict, later pages win: notion_data_ingestion.py:178-181)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "event_id", "event_type", F.round("value", 2).alias("value"))
        .orderBy("user_id")
    )


def q_union_all_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 — unionByName of disjoint slices then re-aggregate (reference
    pd.concat of merge pieces :265)."""
    o = load_table(spark, sf_dir, "orders")
    lo = o.filter(F.col("o_totalprice") < 100000).select("o_orderstatus", "o_totalprice")
    hi = o.filter(F.col("o_totalprice") >= 150000).select("o_orderstatus", "o_totalprice")
    return (
        lo.unionByName(hi)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


def q_cross_join_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 — tiny-dim cross join (reference subject_type × collection_type
    enumeration :337-338)."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    seg = load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()
    return r.crossJoin(F.broadcast(seg)).orderBy("r_name", "c_mktsegment")


# ---------------------------------------------------------------------------
# X. Extensions: text analysis / dedup / similarity / sessionization (M5)
# ---------------------------------------------------------------------------


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + length stats over documents (training-data
    pipeline extension; SURVEY §7.1 M5)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_total"),
        F.length(F.regexp_replace("text", r"\s", "")).cast("long").alias("n_chars_nows"),
        F.round(mean_token_len("text"), 6).alias("mean_tok_len"),
    ).orderBy("doc_id")


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: punctuation ratio, stopword ratio, flag."""
    d = load_table(spark, sf_dir, "documents")
    sw = F.round(stopword_ratio("text"), 6)
    mtl = F.round(mean_token_len("text"), 6)
    return d.select(
        "doc_id",
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
        sw.alias("stopword_ratio"),
        mtl.alias("mean_tok_len"),
        F.when((sw >= 0.01) & (sw <= 0.6) & (mtl >= 2.0) & (mtl <= 12.0), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("quality_flag"),
    ).orderBy("doc_id")


def q_orders_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals (profiling primitive): one
    narrow scan, one hash agg — the cheapest possible shape for a
    distribution sketch at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    lo, hi, nb = 0.0, 600000.0, 24
    width = (hi - lo) / nb
    bucket = F.least(
        F.floor((F.col("o_totalprice") - lo) / width), F.lit(nb - 1)
    ).cast("long")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("bucket")
    )


def q_docs_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (low entropy =
    repetitive/degenerate text, a standard pretraining quality gate).

    Entirely per-row, zero shuffle before the presentation sort: the
    distinct-character alphabet comes from ``array_distinct`` over the
    char split, and each character's count is ``length(text) -
    length(replace(text, ch))`` — a JVM-side string scan per distinct
    character (alphabet is small, ~O(100), so O(alphabet x len) per
    row). No explode (the old shape shipped one shuffle row per
    character of corpus), no joins, no row cap — the same pattern as
    simhash64 (operators/dedup.py): one narrow projection that scales
    linearly in corpus bytes."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    n = F.length("text").cast("double")
    alphabet = F.array_distinct(
        F.filter(F.split("text", ""), lambda x: F.length(x) > 0)
    )
    terms = F.transform(
        alphabet,
        lambda ch: (
            (F.length("text") - F.length(F.replace(F.col("text"), ch))) / n
        )
        * F.log((F.length("text") - F.length(F.replace(F.col("text"), ch))) / n),
    )
    ent = -F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)
    return d.select(
        "doc_id",
        F.round(ent, 6).alias("char_entropy"),
        F.length("text").cast("long").alias("n_chars"),
    ).orderBy("doc_id")


def q_docs_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed C4/Gopher-style keep/drop gate: every per-document
    quality signal (token count, punctuation ratio, stopword ratio,
    mean token length, duplicate-bigram fraction) evaluated in ONE
    narrow scan + projection — no joins, no shuffles except the final
    presentation sort. Thresholds apply to the ROUNDED signals so the
    decision is bit-reproducible across engines."""
    from .operators.dedup import word_shingles

    d = load_table(spark, sf_dir, "documents")
    nt = token_count("text")
    pr = F.round(punct_ratio("text"), 6)
    sw = F.round(stopword_ratio("text"), 6)
    mtl = F.round(mean_token_len("text"), 6)
    toks = tokens("text")
    total_bi = F.greatest(F.size(toks) - 1, F.lit(0))
    dup = F.round(
        F.when(
            total_bi > 0, 1.0 - F.size(word_shingles("text", 2)) / total_bi
        ).otherwise(F.lit(0.0)),
        6,
    )
    keep = (
        nt.between(10, 1000)
        & sw.between(0.01, 0.6)
        & mtl.between(2.0, 12.0)
        & (pr <= 0.3)
        & (dup <= 0.3)
    )
    return d.select(
        "doc_id",
        nt.alias("n_tokens"),
        pr.alias("punct_ratio"),
        sw.alias("stopword_ratio"),
        mtl.alias("mean_tok_len"),
        dup.alias("dup_bigram_frac"),
        keep.alias("keep"),
    ).orderBy("doc_id")


def q_docs_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: fraction of duplicate word
    bigrams per document (1 − distinct/total). High values flag the
    boilerplate/looping text a training-data pipeline filters out."""
    from .operators.dedup import word_shingles

    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    total_bi = F.greatest(F.size(toks) - 1, F.lit(0))
    distinct_bi = F.size(word_shingles("text", 2))
    dup_frac = F.when(
        total_bi > 0, 1.0 - distinct_bi / total_bi
    ).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        total_bi.cast("long").alias("n_bigrams"),
        distinct_bi.cast("long").alias("n_distinct_bigrams"),
        F.round(dup_frac, 6).alias("dup_bigram_frac"),
    ).orderBy("doc_id")


def q_docs_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span fraction — the scalable
    approximation of exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"):
    carve each document into NON-overlapping 20-token windows, count
    corpus-wide occurrences of each window, and report per document
    the fraction of its windows that occur more than once anywhere.

    Scale shape: the exploded span table has tokens/20 rows — 5% of
    token volume, linear in corpus size — and both shuffles key on the
    span text (span-count aggregate, then a co-partitioned join back).
    No pairwise comparisons anywhere. A production run would group on
    xxhash64(span) to keep shuffle rows narrow; the span string is kept
    here so the DuckDB oracle compares byte-identical keys."""
    W = 20
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens("text")
    n_spans = F.floor(F.size(toks) / W).cast("int")
    idx = F.when(n_spans > 0, F.sequence(F.lit(0), n_spans - 1)).otherwise(
        F.array().cast("array<int>")
    )
    spans = d.select(
        "doc_id",
        F.explode(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i * W + 1, W), " "))
        ).alias("span"),
    )
    counts = spans.groupBy("span").agg(F.count("*").alias("__cnt"))
    return (
        spans.join(counts, "span")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.count_if(F.col("__cnt") > 1).cast("long").alias("n_dup_spans"),
        )
        .withColumn(
            "dup_span_frac",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 6),
        )
        .orderBy("doc_id")
    )


def q_docs_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-prep chunking (operators/chunking.py): 128-token windows
    with 16-token overlap, one output row per chunk. Map-only — no
    shuffle before the presentation sort; chunk text is reported as an
    md5 so the compared rows stay narrow while still pinning the exact
    chunk content."""
    from .operators.chunking import chunk_documents

    # spread=False: this query showcases the operator's true map-only
    # shape (no exchange before the presentation sort) — see the plan
    # test; the single-file fixture keeps it one task locally
    d = load_table(spark, sf_dir, "documents", spread=False).select(
        "doc_id", "text"
    )
    return (
        chunk_documents(d, chunk_size=128, overlap=16)
        .select(
            "doc_id",
            "chunk_id",
            F.md5("chunk_text").alias("chunk_hash"),
            "n_chunk_tokens",
        )
        .orderBy("doc_id", "chunk_id")
    )


def q_docs_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-length distribution in power-of-two buckets —
    the corpus-profiling readout that precedes any length-based filter
    or packing decision. One narrow scan, one small-key aggregate."""
    d = load_table(spark, sf_dir, "documents")
    n = token_count("text")
    # floor(log2(n)) via bit length — exact integer math, immune to the
    # cross-engine float drift of log2() at exact powers of two
    bucket = F.when(n == 0, F.lit(-1)).otherwise(
        F.length(F.bin(n)) - 1
    ).cast("long")
    return (
        d.groupBy(F.col("lang"), bucket.alias("log2_tokens"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(n).cast("long").alias("total_tokens"),
        )
        .orderBy("lang", "log2_tokens")
    )


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic with argmax CASE."""
    d = load_table(spark, sf_dir, "documents")
    s = lang_marker_scores("text")
    en, es, fr, de = s["en"], s["es"], s["fr"], s["de"]
    predicted = (
        F.when((en > 0) & (en >= es) & (en >= fr) & (en >= de), F.lit("en"))
        .when((es > 0) & (es >= fr) & (es >= de), F.lit("es"))
        .when((fr > 0) & (fr >= de), F.lit("fr"))
        .when(de > 0, F.lit("de"))
        .otherwise(F.lit("unk"))
    )
    return d.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        en.alias("score_en"),
        es.alias("score_es"),
        fr.alias("score_fr"),
        de.alias("score_de"),
        predicted.alias("predicted_lang"),
    ).orderBy("doc_id")


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive positional rolling-hash fingerprint per document
    — same arithmetic as functions.text.positional_fingerprint, but
    computed as posexplode + SUM aggregate instead of a per-row
    higher-order fold: HOF lambdas never enter whole-stage codegen
    (the fold runs interpreted, measured ~30× slower at corpus scale),
    while explode + partial/final SUM is fully generated code. The sum
    is order-independent, so the shuffle cannot change the value."""
    P = 2147483647
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode_outer(tokens("text")).alias("__pos", "__tok")
    )
    term = (
        (F.col("__pos") + 1).cast("long")
        * (F.ascii(F.substring("__tok", 1, 1)).cast("long") * 131 + F.length("__tok"))
    ) % P
    return (
        toks.groupBy("doc_id")
        .agg(
            (F.coalesce(F.sum(term), F.lit(0)) % P).cast("long").alias("fingerprint")
        )
        .orderBy("doc_id")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups on normalized text (hash-groupBy tier)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.md5(normalized_text("text")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").cast("long").alias("keeper_id"),
            F.count("*").cast("long").alias("n_copies"),
        )
        .orderBy("keeper_id")
    )


def q_dedup_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words dedup: order-insensitive token-set fingerprint
    (catches word-shuffled near-dups that exact dedup misses)."""
    d = load_table(spark, sf_dir, "documents")
    bow = F.md5(
        F.array_join(F.array_sort(F.array_distinct(F.split(normalized_text("text"), " "))), " ")
    )
    return (
        d.select(bow.alias("bow_hash"), "doc_id")
        .groupBy("bow_hash")
        .agg(
            F.min("doc_id").cast("long").alias("keeper_id"),
            F.count("*").cast("long").alias("n_docs"),
        )
        .orderBy("keeper_id")
    )


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector math over array<float>: L2 norm + dimensionality."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.round(l2_norm("embedding"), 6).alias("l2_norm"),
        F.size("embedding").cast("long").alias("dim"),
    ).orderBy("vec_id")


def q_similarity_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for 3 query vectors (ANN baseline;
    broadcast query side, corpus never shuffles)."""
    e = load_table(spark, sf_dir, "embeddings")
    query = e.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(e, query, k=10).orderBy("query_id", "rank")


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + cumulative flag (30-min inactivity gap)
    — the batch analogue of session windows (SURVEY §2.7 extension)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    # Defensive cast: catalog.load_table normalizes ts to TIMESTAMP, but
    # unix_micros hard-rejects TIMESTAMP_NTZ, so keep the call sites safe
    # against un-normalized inputs too (UTC session ⇒ numeric no-op).
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.unix_micros(prev.cast("timestamp"))
    new_sess = F.when(
        prev.isNull() | ((ts_us - prev_us) > 1800 * 1_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        e.withColumn("__new", new_sess)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("__new").cast("long").alias("n_sessions"),
        )
        .orderBy("user_id")
    )


def q_events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` in BATCH mode (same operator Structured
    Streaming uses, so the batch result is the replay-equivalence
    baseline for streaming/incremental.sessionized_counts). Session =
    events whose half-open [ts, ts+gap) intervals chain; the oracle is
    the classic lag+cumsum islands formulation with the matching
    ``>= gap`` break rule — two independent formulations, two engines,
    one hash."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            # Defensive cast: catalog normalizes ts on load, and both the
            # NTZ-parquet path (cast) and the nanosAsLong path (already
            # TIMESTAMP) yield plain TIMESTAMP; the session tz is
            # UTC-pinned (session.py) so the cast is numerically a no-op.
            F.unix_micros(F.col("w.start").cast("timestamp")).alias("session_start_us"),
            F.unix_micros(F.col("w.end").cast("timestamp")).alias("session_end_us"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start_us")
    )


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join star aggregation (the join shapes the reference's
    merge uses, M1-M3, composed at analytical scale): fact ⋈ fact ⋈
    broadcast dims. Catalyst broadcasts customer/nation/region.

    Lineitem is pre-aggregated to per-order partials BEFORE the join —
    an eager-aggregation rewrite Catalyst doesn't do itself: the
    orderkey exchange then carries one (key, sum, count) row per order
    instead of every line item (4× fewer rows, 2 narrow columns instead
    of the full row). Same result (sum of per-order sums; count via
    sum of per-order counts); at 100 TB the shuffle-byte saving is the
    whole game."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__rev"),
        F.count("*").alias("__nl"),
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.round(F.sum("__rev"), 2).alias("revenue"),
            F.sum("__nl").cast("long").alias("n_lines"),
        )
        .orderBy("n_name")
    )


def q_filtered_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-pushdown aggregate (q6 shape): date + range filters
    reach the parquet scan (verify: PushedFilters in .explain)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


def q_orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with grouping indicators (full §2.5 grouping-sets extension)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.grouping("o_orderpriority").cast("long").alias("g_priority"),
        )
        .orderBy("g_status", "g_priority", "o_orderstatus", "o_orderpriority")
    )


def q_jaccard_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise n-gram Jaccard on a bounded document sample —
    the verification half of near-dedup (the LSH half generates
    candidates at scale; this is the exact math, oracle-checked)."""
    from .operators.dedup import word_shingles

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", word_shingles("text", 3).alias("sh"))
    )
    a = d.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6).alias(
                "jaccard"
            ),
        )
        .orderBy(F.col("jaccard").desc(), "id_a", "id_b")
        .limit(20)
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing on real data: text bytes stand in for an
    opaque media payload; Arrow-batched mapInPandas featurization
    (operators/multimodal.py). Checksums are oracle-checked."""
    from .operators.multimodal import attach_media_meta, extract_features

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), F.encode("text", "UTF-8").alias("payload")
    )
    feats = extract_features(attach_media_meta(d, kind="doc"), n_features=4)
    return feats.select("media_id", "kind", "n_bytes", "checksum", "decode_ok").orderBy(
        "media_id"
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate candidate pairs over all documents
    (rows-only check: the banded-LSH bucket join is not expressible in
    ANSI SQL with matching hash functions)."""
    from .operators.dedup import minhash_lsh_candidates

    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_candidates(d, "text", "doc_id", shingle_n=3).orderBy(
        "id_a", "id_b"
    )


def q_minhash_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full MinHash-LSH production recipe, hash-checked: banded-LSH
    candidate pairs → exact-Jaccard verification at ≥ 0.7 on 3-gram
    shingles. The output is provably a SUBSET of the exact pair set;
    with 16 bands × 2 rows the probability of LSH missing a 0.7-Jaccard
    pair is (1 − 0.49)¹⁶ ≈ 2e-5 (and ~1e-20 at the ≈0.98-Jaccard dups
    this corpus contains), so the verified result EQUALS the exact
    inverted-index pair set the DuckDB oracle computes — turning the
    not-SQL-expressible LSH tier into a value-hash-checked query."""
    from .operators.dedup import minhash_lsh_candidates, word_shingles

    d = load_table(spark, sf_dir, "documents")
    cands = minhash_lsh_candidates(d, "text", "doc_id", shingle_n=3)
    sh = d.select("doc_id", word_shingles("text", 3).alias("sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("__sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("__sb"))
    inter = F.size(F.array_intersect("__sa", "__sb"))
    union = F.size("__sa") + F.size("__sb") - inter
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 6),
        )
        .filter(F.col("jaccard") >= 0.7)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    )


def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints (rows-only: xxhash64 has no DuckDB
    equivalent). Uses the bulk explode+aggregate form — see
    operators/dedup.simhash64_docs for why the per-row fold is the
    wrong shape for corpus-scale scoring."""
    from .operators.dedup import simhash64_docs

    d = load_table(spark, sf_dir, "documents")
    return simhash64_docs(d, "text", "doc_id").orderBy("doc_id")


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k neighbors via random-hyperplane LSH buckets
    with 1-bit multiprobe (recall < 1 by design; hash-checked — the
    oracle reproduces buckets and probe fan-out from the same literal
    hyperplanes)."""
    from .operators.similarity import lsh_topk

    e = load_table(spark, sf_dir, "embeddings")
    query = e.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(e, query, k=10, n_planes=6).orderBy("query_id", "rank")


def q_orders_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each event picks the customer's
    latest order at-or-before the event time. Right side deduped to one
    row per (key, ts) so the pick is deterministic; DuckDB's native
    ASOF JOIN is the oracle."""
    from .operators.asof import asof_join

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("ts").cast("timestamp_ntz").alias("ts")
    )
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(F.col("o_orderkey").desc())
    o_uniq = (
        o.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("o_custkey").alias("user_id"),
            "o_orderdate",
            "o_orderkey",
            "o_totalprice",
        )
    )
    out = asof_join(e, o_uniq, "user_id", "ts", "o_orderdate", suffix="_prev")
    return out.select(
        "event_id",
        "user_id",
        F.col("o_orderkey_prev").alias("prev_orderkey"),
        F.col("o_totalprice_prev").alias("prev_price"),
    ).orderBy("event_id")


def q_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows beyond top-k: cumulative sum, sequence number,
    lag-based gap (SURVEY §2.6 extension — the reference has no window
    functions; Spark gives the full family)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(cum), 2).alias("cum_spend"),
        F.row_number().over(w).cast("long").alias("order_seq"),
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
        .cast("long")
        .alias("days_since_prev"),
    ).orderBy("o_custkey", "order_seq")


def q_customer_balance_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family analytic windows (percent_rank, cume_dist, dense
    rank) — partitioned by market segment so every window task holds
    one segment's customers, never the global table. Ties share ranks
    deterministically; the ORDER BY includes the key so row output is
    total-ordered."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            F.round("c_acctbal", 2).cast("double").alias("acctbal"),
            F.dense_rank().over(w).cast("long").alias("bal_dense_rank"),
            F.round(F.percent_rank().over(w), 6).alias("bal_pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("bal_cume_dist"),
        )
        .filter(F.col("bal_dense_rank") <= 10)
        .orderBy("c_mktsegment", "bal_dense_rank", "c_custkey")
    )


def q_latest_event_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-max aggregation (max_by): latest event per type without a
    window pass — single partial+final agg, no row_number shuffle."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.max_by("event_id", "ts").alias("last_event_id"),
            F.max("ts").alias("last_ts"),
            F.count("*").cast("long").alias("n_events"),
        )
        .orderBy("event_type")
    )


def q_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection: top-20 most similar
    pairs in a bounded sample (the embedding analogue of
    jaccard_top_pairs)."""
    from .functions.vectors import dot_product

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    # norms precomputed per ROW, not per pair (same factoring as
    # operators/similarity.py — identical values, ~3× fewer HOF evals)
    a = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        l2_norm("embedding").alias("norm_a"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        l2_norm("embedding").alias("norm_b"),
    )
    denom = F.col("norm_a") * F.col("norm_b")
    cos = F.when(denom > 0, dot_product("emb_a", "emb_b") / denom).otherwise(F.lit(0.0))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), "id_a", "id_b")
        .limit(20)
    )


def q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-word-ish token counting (BPE proxy) next to whitespace
    tokens — the two standard length signals for training-data costing."""
    from .functions.text import bpe_ish_token_count

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
        token_count("text").alias("n_ws_tokens"),
    ).orderBy("doc_id")


def q_sketch_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog sketch vs exact distinct (rows-only: approx values
    are engine-specific by design; the error column shows the sketch is
    within tolerance)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx_parts"),
            F.countDistinct("l_partkey").cast("long").alias("exact_parts"),
        )
        .withColumn(
            "rel_err_pct",
            F.round(
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                / F.col("exact_parts")
                * 100.0,
                2,
            ),
        )
        .orderBy("l_returnflag")
    )


def q_purchases_after_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (operators/rangejoin.py): purchases by the
    same user within 1 hour after a click (attribution window). The
    naive inequality join is a nested loop; binning time into 1-hour
    buckets makes it an equi-join + exact filter."""
    from .operators.rangejoin import range_join

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").cast("timestamp_ntz").alias("win_start"),
        (F.col("ts").cast("timestamp_ntz") + F.expr("INTERVAL 1 HOUR")).alias("win_end"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").cast("timestamp_ntz").alias("pts"),
    )
    out = range_join(purchases, clicks, "user_id", "pts", "win_start", "win_end", bucket_seconds=3600)
    return out.select("click_id", "purchase_id", "user_id").orderBy("click_id", "purchase_id")


def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join (operators/skew.py): events (5 hot event_type keys —
    exactly the skew shape that stalls a shuffle) joined to a per-type
    aggregate. The salt only reroutes; results match the plain SQL join,
    which is the oracle."""
    from .operators.skew import salted_join

    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = e.groupBy("event_type").agg(F.avg("value").alias("type_avg"))
    joined = salted_join(e, dim, "event_type", n_salts=8, tiebreaker="event_id")
    return (
        joined.filter(F.col("value") > F.col("type_avg"))
        .select(
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.round("type_avg", 6).alias("type_avg"),
        )
        .orderBy("event_id")
    )


def q_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile aggregation (continuous interpolation) — the
    distribution profile a data-quality pass computes per group. Spark's
    `percentile` matches DuckDB's `quantile_cont` bit-for-bit after
    rounding."""
    o = load_table(spark, sf_dir, "orders")
    pct = F.percentile("o_totalprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(pct.getItem(0), 2).alias("p25"),
            F.round(pct.getItem(1), 2).alias("p50"),
            F.round(pct.getItem(2), 2).alias("p75"),
        )
        .orderBy("o_orderpriority")
    )


def q_name_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein near-duplicate pairs over a bounded sample of part
    names — the string-metric tier of the dedup ladder (exact → BoW →
    MinHash → edit distance verify)."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    a = p.select(F.col("p_partkey").alias("id_a"), F.col("p_name").alias("name_a"))
    b = p.select(F.col("p_partkey").alias("id_b"), F.col("p_name").alias("name_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein("name_a", "name_b").cast("long").alias("edit_dist"),
        )
        .orderBy("edit_dist", "id_a", "id_b")
        .limit(20)
    )


def q_summary_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — the explicit form of the rollup/cube family
    (SURVEY §2.5 notes the reference's summary could extend this way):
    per-cell, per-returnflag, and grand-total rows in one shuffle."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_items,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY l_returnflag, l_linestatus
        """
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors: coarse-quantizer cells from a
    deterministic centroid sample, queries probe their 4 best cells
    (rows-only: recall < 1 by design; tests/test_dedup_similarity.py
    measures recall against brute force)."""
    from .operators.similarity import ivf_topk

    e = load_table(spark, sf_dir, "embeddings")
    query = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(e, query, k=10, n_cells=16, n_probe=4).orderBy("query_id", "rank")


def _ann_recall_frame(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """recall@10 of an approximate top-k result against the exact
    brute-force top-k: per query, how many approximate neighbors appear
    in the true top-10. Both inputs carry (query_id, vec_id)."""
    bf = exact.select("query_id", "vec_id").withColumn("__hit", F.lit(1))
    marked = approx.select("query_id", "vec_id").join(
        bf, ["query_id", "vec_id"], "left"
    )
    return (
        marked.groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_approx"),
            F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_hits"),
        )
        .withColumn("recall_at_10", F.round(F.col("n_hits") / 10.0, 6))
        .orderBy("query_id")
    )


def q_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of hyperplane-LSH ANN (1-bit multiprobe) vs exact
    brute force, fully deterministic (seeded plan-literal hyperplanes)
    — the harness that turns the ANN tier from rows-only into a
    hash-checked result. The DuckDB oracle recomputes the same buckets
    AND the same probe fan-out from the same literal hyperplanes.
    Numbers here are a worst case: the synthetic vectors are
    near-uniform, so true top-10 neighbors disagree on several sign
    bits; clustered real embeddings score far higher."""
    from .operators.similarity import brute_force_topk, lsh_topk

    e = load_table(spark, sf_dir, "embeddings")
    query = e.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    lsh = lsh_topk(e, query, k=10, n_planes=6)
    bf = brute_force_topk(e, query, k=10)
    return _ann_recall_frame(lsh, bf)


def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of IVF ANN (deterministic centroid sample, 4-probe) vs
    exact brute force; the oracle re-derives the same centroids and
    routing in SQL."""
    from .operators.similarity import brute_force_topk, ivf_topk

    e = load_table(spark, sf_dir, "embeddings")
    query = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf = ivf_topk(e, query, k=10, n_cells=16, n_probe=4)
    bf = brute_force_topk(e, query, k=10)
    return _ann_recall_frame(ivf, bf)


def q_docs_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling (operators/sampling.py): ~25% of
    documents by key hash — identical membership on any engine/cluster,
    which is what makes train/eval splits reproducible at 100 TB."""
    from .operators.sampling import hash_sample

    d = load_table(spark, sf_dir, "documents")
    return hash_sample(d, "doc_id", 0.25).select("doc_id", "lang", "source").orderBy(
        "doc_id"
    )


def q_docs_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-epoch shuffle: a reproducible global
    permutation of the corpus ordered by a seeded key hash — the
    shuffle a training-data writer pays once per epoch to break
    source/temporal locality before sequential reads. ONE
    range-partitioned sort (orderBy samples range boundaries, no
    single-task global sort); at 100 TB the same plan writes per-file
    deterministic order via repartitionByRange + sortWithinPartitions.
    md5 keys here so the permutation is engine-portable and
    oracle-checkable (production would use xxhash64 — same plan, no
    string allocation)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        "source",
        F.md5(F.concat(F.lit("epoch1:"), F.col("doc_id").cast("string"))).alias(
            "shuffle_key"
        ),
    ).orderBy("shuffle_key", "doc_id")


def q_docs_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/test stamping + per-split counts."""
    from .operators.sampling import train_test_split

    d = load_table(spark, sf_dir, "documents")
    return (
        train_test_split(d, "doc_id", test_fraction=0.1)
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("n_chars").cast("bigint")).alias("total_chars"),
        )
        .orderBy("split")
    )


def q_docs_group_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document caps in hash order (class balancing): at
    most 30 docs per source, deterministically chosen."""
    from .operators.sampling import group_quota

    d = load_table(spark, sf_dir, "documents")
    return group_quota(d, "source", "doc_id", k=30).select(
        "doc_id", "source"
    ).orderBy("source", "doc_id")


def q_docs_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: documents stream into ~4000-token
    bins per (language, shard) — exclusive-cumsum binning, the standard
    packing approximation for LLM training batches. The shard key
    (doc_id mod 8, deterministic and engine-portable) keeps the cumsum
    window partitioned ~8× wider than the language cardinality, so no
    task ever owns a whole language's corpus."""
    from .functions.text import token_count
    from .operators.sampling import pack_into_bins

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count("text").alias("n_tokens")
    )
    packed = pack_into_bins(
        d,
        size_col="n_tokens",
        order_col="doc_id",
        capacity=4000,
        partition_col="lang",
        shard_col=F.pmod(F.col("doc_id"), F.lit(8)),
    )
    return (
        packed.groupBy("lang", "shard", "bin_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
        )
        .orderBy("lang", "shard", "bin_id")
    )


def q_docs_quality_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-decile binning (curriculum buckets) WITHOUT a global
    window: exact decile cut points come from one `percentile`
    aggregate over the rounded score (bounded state: the score has at
    most 1e6 distinct rounded values, so the partial+final agg scales),
    the 9 cut points are broadcast as plan literals, and each row's
    decile is a branch-free count of boundaries — no single-partition
    WindowExec anywhere, unlike ntile(10).

    Decile 1 = highest quality (quality above the 90th-percentile cut).
    Value-ties share a decile, so deciles are value-based rather than
    exactly-equal-population — the semantics that survive 100 TB.

    Quality = lexical diversity (distinct-token ratio), a real
    pretraining curriculum signal with continuous spread.
    """
    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    toks = tokens("text")
    score = F.size(F.array_distinct(toks)) / F.size(toks)
    scored = d.select("doc_id", F.round(score, 6).alias("quality"))
    pcts = [i / 10.0 for i in range(1, 10)]
    cuts_row = scored.agg(
        F.percentile("quality", F.lit(pcts)).alias("cuts")
    ).first()
    cuts = [round(c, 6) for c in cuts_row["cuts"]]
    n_at_or_below = sum(
        (F.col("quality") <= F.lit(c)).cast("int") for c in cuts
    )
    return (
        scored.withColumn("decile", (1 + n_at_or_below).cast("long"))
        .groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.min("quality"), 6).alias("min_quality"),
            F.round(F.max("quality"), 6).alias("max_quality"),
        )
        .orderBy("decile")
    )


def q_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality reconciliation report (the reference's §4.4 rulebook:
    completeness / uniqueness / accuracy as run-time checks, restated as
    one aggregation over the fact table)."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count_if(F.col("o_orderkey").isNull()).cast("long").alias("null_keys"),
        (F.count("*") - F.countDistinct("o_orderkey")).cast("long").alias("dup_keys"),
        F.count_if(F.col("o_totalprice") <= 0).cast("long").alias("nonpositive_price"),
        F.count_if(F.col("o_orderdate").isNull()).cast("long").alias("null_dates"),
        F.round(
            F.count_if(F.col("o_orderkey").isNotNull()) * 100.0 / F.count("*"), 6
        ).alias("key_completeness_pct"),
    )


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: explode tokens, count, top-50 (the wordcount
    shape every data-pipeline engine is benchmarked on, with a
    deterministic tiebreak)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "token")
        .limit(50)
    )


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clusters (operators/components.py): iterative
    min-label propagation over a two-relation edge set (same
    source+n_chars OR same lang+n_chars), so a~b~c chains collapse to
    one cluster even when a and c share nothing directly. Oracle is a
    DuckDB recursive CTE computing the same closure."""
    from .operators.components import dedup_clusters

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "source", "lang", "n_chars")
    )
    a = d.alias("a")
    b = d.alias("b")
    lt = F.col("a.doc_id") < F.col("b.doc_id")
    e1 = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.n_chars") == F.col("b.n_chars"))
        & lt,
    ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    e2 = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.n_chars") == F.col("b.n_chars"))
        & lt,
    ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    edges = e1.unionByName(e2).distinct()
    return dedup_clusters(edges, d.select("doc_id"), id_col="doc_id").orderBy("doc_id")


def q_orders_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — Catalyst decorrelates it into an
    aggregate + join (no per-row re-execution), the optimizer feature
    that makes subquery-style analytics viable at scale."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey,
               round(o.o_totalprice, 2) AS totalprice
        FROM orders_sq o
        WHERE o.o_totalprice > 1.5 * (
            SELECT avg(o2.o_totalprice) FROM orders_sq o2
            WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o.o_orderkey
        """
    )


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS anti-join in SQL-subquery form (the declarative face
    of merge M2's left_anti)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_ne")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_ne")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name
        FROM customer_ne c
        WHERE NOT EXISTS (SELECT 1 FROM orders_ne o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        ORDER BY c.c_custkey
        """
    )


def q_lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (the inverse of the reference's tag pivot J2):
    wide metric columns to (metric, value) rows, then per-flag stats."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice", "l_discount"
    )
    melted = li.unpivot(
        ["l_returnflag"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric",
        "value",
    )
    return (
        melted.groupBy("l_returnflag", "metric")
        .agg(
            F.count("*").cast("long").alias("n_values"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .orderBy("l_returnflag", "metric")
    )


def q_suppliers_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim-chain rollup over supplier → nation → region (completes
    star-schema table coverage; both joins broadcast)."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").cast("long").alias("n_suppliers"),
            F.round(F.avg("s_acctbal"), 2).alias("avg_acctbal"),
        )
        .orderBy("r_name", "n_name")
    )


PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b[0-9]{2,4}-[0-9]{3,4}-[0-9]{3,4}\b"


def q_docs_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (the cleaning step every crawl corpus goes
    through): count and strip email/phone patterns; RE2-safe regexes so
    DuckDB applies the identical rules."""
    d = load_table(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", PII_EMAIL, "<EMAIL>"), PII_PHONE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(PII_PHONE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    ).orderBy("doc_id")


def q_decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: train docs sharing any 5-gram with
    the (hash-designated) test split are flagged. The n-gram inventory
    explodes narrow (doc_id, gram-hash) rows; the overlap is a semi-join
    on the gram — the standard contamination sweep shape at corpus
    scale."""
    from .operators.dedup import word_shingles
    from .operators.sampling import _hash_slot, slot_threshold

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", word_shingles("text", 5).alias("grams")
    )
    test_mark = _hash_slot("doc_id") < slot_threshold(0.1)
    test_grams = (
        d.filter(test_mark)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    train = d.filter(~test_mark).select("doc_id", F.explode("grams").alias("gram"))
    return (
        train.join(test_grams, "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .orderBy("doc_id")
    )


def q_parts_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (operators/skyline.py): parts Pareto-optimal for
    (min retail price, max size). Oracle is the NOT-EXISTS dominance
    definition, so the window-based algorithm is checked against the
    declarative spec."""
    from .operators.skyline import skyline_2d

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_retailprice", "p_size"
    )
    return skyline_2d(p, minimize="p_retailprice", maximize="p_size").select(
        "p_partkey", F.round("p_retailprice", 2).alias("p_retailprice"), "p_size"
    ).orderBy("p_partkey")


def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-aggregate maintenance: a pre-aggregated base (old
    shipdates) is combined with an aggregated delta (new shipdates) by
    summing the partials — never re-scanning the base fact rows. This
    is the algebraic property that makes incremental view maintenance
    work at 100 TB: sums/counts are commutative monoids, so
    agg(base ∪ delta) = combine(agg(base), agg(delta)). The oracle is
    the from-scratch aggregate over all rows — equality IS the
    correctness of the maintenance rule."""
    li = load_table(spark, sf_dir, "lineitem")
    cut = "1997-01-01"

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_rev"),
            F.count("*").alias("n_lines"),
        )

    base = partial(li.filter(F.col("l_shipdate") < cut))
    delta = partial(li.filter(F.col("l_shipdate") >= cut))
    return (
        base.unionByName(delta)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("sum_qty"), 2).alias("sum_qty"),
            F.round(F.sum("sum_rev"), 2).alias("sum_rev"),
            F.sum("n_lines").cast("long").alias("n_lines"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing (operators/multimodal.sample_frames):
    1-row-in → n-frames-out inside an Arrow batch, no shuffle. The
    deterministic fake decoder makes even the Python fan-out oracle-
    checkable: each frame is sha256(payload ‖ frame_idx), which the
    oracle recomputes in SQL."""
    from .operators.multimodal import attach_media_meta, sample_frames

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = attach_media_meta(
        d.select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "UTF-8").alias("payload"),
        ),
        kind="video",
    ).select("media_id", "kind", "payload", "meta")
    return (
        sample_frames(media, n_frames=4)
        .select(
            "media_id",
            F.col("frame_idx").cast("long").alias("frame_idx"),
            F.lower(F.hex("frame")).alias("frame_checksum"),
            "n_bytes",
        )
        .orderBy("media_id", "frame_idx")
    )


def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing (operators/multimodal.resize_images): 1-in-1-out
    Arrow-batched payload rewrite with meta update. The deterministic
    fake decoder derives the resized payload from sha256(payload ‖
    "WxH"), so the oracle recomputes the checksum in SQL."""
    from .operators.multimodal import attach_media_meta, resize_images

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = attach_media_meta(
        d.select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "UTF-8").alias("payload"),
        ),
        kind="image",
    ).select("media_id", "kind", "payload", "meta")
    out = resize_images(media, width=64, height=32)
    return out.select(
        "media_id",
        F.lower(F.hex("payload")).alias("payload_checksum"),
        F.col("meta.width").cast("long").alias("width"),
        F.col("meta.height").cast("long").alias("height"),
    ).orderBy("media_id")


def q_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio windowing plumbing (operators/multimodal.segment_audio):
    data-dependent 1-in-N-out fan-out — window count derives from clip
    duration (payload bytes ÷ 16-bit samples ÷ meta.sample_rate), so
    the oracle re-derives the fan-out arithmetic in SQL, not just the
    checksums. 25 ms windows every 10 ms at a 1 kHz stand-in rate —
    low so the text-bytes payloads span several windows and the
    data-dependent fan-out actually varies per row."""
    from .operators.multimodal import attach_media_meta, segment_audio

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = attach_media_meta(
        d.select(
            F.col("doc_id").alias("media_id"),
            F.encode("text", "UTF-8").alias("payload"),
        ),
        kind="audio",
        sample_rate=1000,
    ).select("media_id", "kind", "payload", "meta")
    return (
        segment_audio(media, window_ms=25, hop_ms=10)
        .select(
            "media_id",
            F.col("segment_idx").cast("long").alias("segment_idx"),
            "start_ms",
            F.lower(F.hex("segment")).alias("segment_checksum"),
        )
        .orderBy("media_id", "segment_idx")
    )


def q_dedup_near_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup over the WHOLE corpus (no sample cap):
    3-gram shingles → inverted shingle index (explode + equi-join — the
    candidate generator; replaces the quadratic all-pairs comparison) →
    exact Jaccard from per-pair co-occurrence counts → transitive
    closure (operators/components.py) → keeper = min doc_id per
    cluster. Shingles with document frequency above DF_CAP are dropped
    from the index before pairing (boilerplate guard: one hot shingle
    contributes df² candidate rows, so at 100 TB a stopword 3-gram
    would dominate the shuffle; dropping it only loses pairs whose
    entire overlap is that boilerplate). Every stage is a
    key-partitioned equi-join or aggregate — nothing is O(n²) in
    documents, and the same plan is the production path (MinHash-LSH,
    minhash_lsh_pairs, trades exactness for a constant-factor cheaper
    index when corpora get huge)."""
    from .operators.components import dedup_clusters
    from .operators.dedup import inverted_index_pairs

    # df_cap=1000 never binds at test SFs; bounds hot-key fanout at
    # scale (see inverted_index_pairs + its cap-binding unit test)
    d = load_table(spark, sf_dir, "documents")
    pairs = inverted_index_pairs(d, "text", "doc_id", shingle_n=3, threshold=0.6, df_cap=1000)
    clustered = dedup_clusters(pairs, d.select("doc_id"), id_col="doc_id")
    return clustered.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
    ).orderBy("doc_id")


def q_events_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order locality audit (catalog.zorder_key): Morton-interleave
    (user_id, minute-of-month) and report per-curve-bucket occupancy.
    Tight, monotone z_min/z_max spans per bucket are what make file-
    level data skipping work on BOTH filter dimensions after
    ``write_zordered``. Pure int64 bit math — identical in any engine,
    hence SQL-oracle-checkable."""
    from .catalog import zorder_key

    e = load_table(spark, sf_dir, "events")
    base_us = 1704067200000000  # 2024-01-01 00:00:00 UTC
    dims = e.select(
        F.col("user_id").alias("x"),
        F.expr(
            f"floor((unix_micros(cast(ts as timestamp)) - {base_us}) / 60000000)"
        ).alias("y"),
    )
    keyed = dims.select(zorder_key("x", "y").alias("z"))
    return (
        keyed.groupBy(F.shiftright("z", 24).alias("z_bucket"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min("z").alias("z_min"),
            F.max("z").alias("z_max"),
        )
        .orderBy("z_bucket")
    )


def q_orders_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD merge (operators/merge.merge_scd2): the old snapshot
    is the open history; the new snapshot arrives with order statuses
    progressed O→F, so overlapping keys with status 'O' close at the
    effective date and reopen with the new value; fresh keys append.
    History preserved — the reference's update path (:253-262) keeps
    none."""
    source, target = _orders_snapshots(spark, sf_dir)
    attrs = ["o_orderstatus", "o_totalprice"]
    history = target.select("o_orderkey", *attrs).withColumns(
        {
            "valid_from": F.lit("1994-01-01").cast("date"),
            "valid_to": F.lit(None).cast("date"),
        }
    )
    src = source.select("o_orderkey", *attrs).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderstatus") == "O", F.lit("F")).otherwise(F.col("o_orderstatus")),
    )
    out = merge_scd2(history, src, "o_orderkey", attrs, "2000-01-01")
    return out.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "valid_from",
        "valid_to",
    ).orderBy("o_orderkey", "valid_from")


def q_docs_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document (text-analysis extension).

    Document frequency is a full-corpus aggregate; term frequency is
    per-doc. The output filter (doc_id < 50) lands only on the TF
    branch — Catalyst cannot push it through the DF aggregate, so the
    corpus statistics stay global, which is the semantic point. Scale
    shape: explode → two hash aggs (partial+final) → broadcast the
    tiny per-term DF table back. Ranking uses the ROUNDED score so the
    order is reproducible across engines (raw doubles can differ in
    the last ulp between libm implementations)."""
    d = load_table(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = terms.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    n_docs = d.select(F.countDistinct("doc_id").alias("n")).select("n")
    scored = (
        tf.filter(F.col("doc_id") < 50)
        .join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (F.log((F.col("n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .orderBy("doc_id", "rank")
    )


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity date, weekly
    activity offsets (the analytics shape behind every retention
    dashboard). One distinct on (user, day), one min-agg for cohorts,
    one self-join sharing the user_id partitioning — at scale the join
    co-locates on the same exchange and the output is tiny."""
    e = load_table(spark, sf_dir, "events")
    act = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    coh = act.groupBy("user_id").agg(F.min("d").alias("cohort_date"))
    return (
        act.join(coh, "user_id")
        .select(
            "cohort_date",
            F.floor(F.datediff("d", "cohort_date") / 7).cast("long").alias("week_offset"),
            "user_id",
        )
        .distinct()
        .groupBy("cohort_date", "week_offset")
        .agg(F.count("*").cast("long").alias("n_active"))
        .orderBy("cohort_date", "week_offset")
    )


def q_event_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation (1 h window, 15 min slide): the batch
    form of ``F.window(ts, win, slide)`` — every event contributes to
    window/slide = 4 overlapping windows. Spark expands the windows
    JVM-side before the hash agg; the oracle expands them with an
    explicit 4-slot unnest, proving the window algebra."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type"
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


def q_event_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch form of the Structured
    Streaming windowed agg; SURVEY §2.7)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("window_start", "event_type")
    )


def q_orders_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 highest-revenue orders still unshipped at a cutoff date —
    the TPC-H Q3 shape (3-way join, pushed date filters, grouped revenue,
    bounded top-k). The customer side is broadcast (small dim after the
    segment filter); both date predicates reach the parquet scans."""
    cutoff = F.to_timestamp(F.lit("1998-06-01"))
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


def q_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority fulfilment check — the TPC-H Q4 shape: EXISTS
    (late lineitem) as a left-semi join with the extra non-equi
    predicate folded into the join condition, then a tiny grouped
    count. Semi join shuffles once on the order key; no correlated
    per-row subquery survives to the physical plan."""
    lo = F.to_timestamp(F.lit("1998-01-01"))
    hi = F.to_timestamp(F.lit("1998-04-01"))
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


#: vocabulary size for the unigram LM quality score (top-K by frequency)
UNIGRAM_VOCAB_K = 200


def _lit_map(keys: list, vals: list) -> Column:
    """Lookup table as a SINGLE map literal: ``map_from_arrays`` over
    two array literals is foldable, so ConstantFolding collapses it to
    one MapType literal in the optimized plan. A ``create_map`` of the
    same content carries 2N literal child expressions instead — at the
    LM gates' 600 entries that codegens a multi-thousand-line janino
    method whose recompilation (after long-session codegen-cache
    eviction) cost ~5 s per bench pass. Values keep their exact Python
    representation either way (floats stay the same IEEE doubles), so
    cross-engine hashes are unchanged."""
    return F.map_from_arrays(F.lit(keys), F.lit(vals))


def q_docs_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score (the CCNet/Gopher-style
    'LM perplexity' gate, reduced to its scalable core): per document,
    the mean log-probability of its tokens under the corpus unigram
    distribution, with out-of-vocabulary tokens floored at ln(0.5/N).

    Scale shape: ONE explode+groupBy pass builds the top-K vocabulary
    (output bounded at K rows — the only shuffle); the (token → logprob)
    table is embedded as a plan-literal map, so scoring is a per-row
    higher-order aggregate over the token array — zero additional
    shuffle, no join against a token-exploded fact table (which would
    move one row per corpus token)."""
    import math

    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    toks = tokens("text")
    total = d.agg(F.sum(F.size(toks))).first()[0]
    vocab = (
        d.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .count()
        .orderBy(F.col("count").desc(), "token")
        .limit(UNIGRAM_VOCAB_K)
        .collect()
    )
    lp_map = _lit_map(
        [r["token"] for r in vocab],
        [math.log(r["count"] / total) for r in vocab],
    )
    oov = math.log(0.5 / total)
    score_sum = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc + F.coalesce(lp_map[t], F.lit(oov)),
    )
    n_tok = F.size(toks)
    return d.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.round(score_sum / n_tok, 6).alias("avg_logprob"),
    ).orderBy("doc_id")


def q_docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced corpus sample (operators/sampling.py
    stratified_sample): every language hash-sampled at its own rate
    min(1, 50/count) — the deterministic data-mixing primitive. Rows
    never shuffle; per-group thresholds ride in a plan-literal map."""
    from .operators.sampling import stratified_sample

    d = load_table(spark, sf_dir, "documents")
    return (
        stratified_sample(d, "lang", "doc_id", target_per_group=50)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


def q_docs_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling table (the standard
    multilingual recipe: sample language l with probability
    p_l ∝ (n_l/N)^α, α = 0.7): upweights low-resource languages
    without the uniform mixture's extreme oversampling. Outputs, per
    language, the raw share, the temperature share, and the expected
    per-document sampling multiplier (temp share ÷ raw share). Same
    plan shape as docs_mixture_weights: tiny grouped count + one-row
    broadcast cross join — the full corpus is scanned once and only
    counts move."""
    ALPHA = 0.7
    d = load_table(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(F.count("*").cast("long").alias("n_docs"))
    powed = per_lang.withColumn(
        "__p", F.pow(F.col("n_docs").cast("double"), F.lit(ALPHA))
    )
    totals = powed.agg(
        F.sum("n_docs").alias("__total"), F.sum("__p").alias("__ptotal")
    )
    return (
        powed.crossJoin(F.broadcast(totals))
        .select(
            "lang",
            "n_docs",
            F.round(F.col("n_docs") / F.col("__total"), 6).alias("raw_frac"),
            F.round(F.col("__p") / F.col("__ptotal"), 6).alias("temp_frac"),
            F.round(
                (F.col("__p") / F.col("__ptotal"))
                / (F.col("n_docs") / F.col("__total")),
                6,
            ).alias("sample_multiplier"),
        )
        .orderBy("lang")
    )


def q_docs_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture reweighting table: per language, the resampling
    weight that moves the corpus to a uniform language mixture
    (target share / actual share). Tiny grouped count + single-row
    broadcast cross join — no window, no second pass over rows."""
    d = load_table(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(F.count("*").cast("long").alias("n_docs"))
    totals = per_lang.agg(
        F.sum("n_docs").alias("__total"),
        F.count("*").cast("double").alias("__n_langs"),
    )
    return (
        per_lang.crossJoin(F.broadcast(totals))
        .select(
            "lang",
            "n_docs",
            F.round(F.col("n_docs") / F.col("__total"), 6).alias("actual_frac"),
            F.round(
                (F.col("__total") / F.col("__n_langs")) / F.col("n_docs"), 6
            ).alias("mix_weight"),
        )
        .orderBy("lang")
    )


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q7 shape: cross-nation shipping volume — revenue between
    every (supplier nation, customer nation) pair by ship year.
    Reference parity: the grouped-summary family (SURVEY §2 A1) at its
    widest join fan-in. Plan shape: nation is broadcast on both legs
    (25 rows at any SF); supplier/customer/orders join by key — AQE
    broadcasts them at small SF, shuffles on keys at 100 TB, which is
    the correct strategy at each scale. The lineitem date filter is
    pushed to the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp_n = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    cust_n = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(supp_n, li.l_suppkey == supp_n.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cust_n, o.o_custkey == cust_n.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        # decimal sum: order-independent, so the 2dp result is identical
        # regardless of partition/merge order (double sums can flip a
        # cent at group counts this size)
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q9 shape: per-nation, per-year profit on one product family
    (p_name contains 'widget'), profit = discounted revenue minus a
    retail-price cost proxy (the testdata has no partsupp/supplycost).
    The part filter prunes before the join; nation broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("widget")).select(
        "p_partkey", "p_retailprice"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # decimal per line: each line's exact profit has at most 4 decimals,
    # so the decimal sum is exact, and a group whose exact profit ends
    # on a half-cent rounds the same in both engines (double sums can
    # land on either side of it)
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(18,4)")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(
            F.round(F.sum(profit), 2).cast("double").alias("profit"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("nation", "l_year")
    )


def q_returned_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q10 shape: customers who returned the most revenue in a
    half-year window — returnflag filter pushed to the lineitem scan,
    orderdate filter pushed to the orders scan, top-20 by rounded
    revenue with a key tiebreak so the limit edge is engine-stable."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-07-01")
    ).select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q14 shape: monthly share of revenue from PROMO-type parts
    across 1997 — conditional aggregation over a part-dimension join
    (guarded-ratio family, SURVEY §2 A2)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.month("l_shipdate").cast("long").alias("l_month"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                6,
            ).alias("promo_pct"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("l_month")
    )


def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q18 shape: orders whose total quantity exceeds 250, with
    their customer — a grouped HAVING feeding a key join. The heavy
    aggregation (lineitem → per-order quantity) happens FIRST so only
    qualifying orders (a few hundred per million) reach the joins."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_price"),
            "sum_qty",
        )
        .orderBy(F.col("o_price").desc(), "o_orderkey")
        .limit(100)
    )


def q_brand_disc_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q19 shape: revenue under an OR-of-ANDs predicate over part
    brand/size and lineitem quantity — the disjunctive-pushdown
    stress: each conjunct constrains both sides of the join, and the
    common bounds (p_size >= 1, l_quantity >= 1) still prune scans."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#20") & F.col("p_size").between(1, 20) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#25") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
    )


def q_top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q15 shape: the supplier(s) whose quarterly revenue equals
    the maximum — grouped revenue, a broadcast single-row max, and an
    equality join back. Revenue is an exact decimal sum, so the
    equality (and therefore membership in the answer) cannot flip with
    partition merge order, which a rounded double sum could."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
        ).alias("__rev")
    )
    mx = rev.agg(F.max("__rev").alias("__mx"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("__rev") == F.col("__mx"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("__rev"), 2).cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q17 shape: average yearly revenue lost to small-quantity
    orders for one brand — a per-part average feeding a correlated
    threshold (l_quantity < 0.2 × avg per part). Quantities are
    integer-valued doubles, so their sums/averages are exact and the
    threshold is engine-deterministic without rounding tricks. The
    per-part aggregate is tiny (one row per part) and broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13").select(
        "p_partkey"
    )
    li_b = li.join(p, li.l_partkey == p.p_partkey).select(
        "p_partkey", "l_quantity", "l_extendedprice"
    )
    avg_q = li_b.groupBy("p_partkey").agg(F.avg("l_quantity").alias("__avg_qty"))
    return (
        li_b.join(F.broadcast(avg_q.withColumnRenamed("p_partkey", "__pk")),
                  F.col("p_partkey") == F.col("__pk"))
        .filter(F.col("l_quantity") < 0.2 * F.col("__avg_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")) / 7.0, 2
            )
            .cast("double")
            .alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q22 shape: customers with above-average positive balance
    and no orders on file, summarized per market segment. The threshold
    compare is cross-multiplied (acctbal × n > total) in exact decimal —
    no division, no rounding, so membership is engine-stable. The
    order-existence check is an anti join on custkey against orders in
    a recent window (the date filter is pushed to the orders scan)."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.col("c_acctbal").cast("decimal(18,2)").alias("__bal")
    )
    pos = c.filter(F.col("__bal") > 0).agg(
        F.sum("__bal").alias("__total"), F.count("*").alias("__n")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2000-01-01"
    ).select("o_custkey")
    return (
        c.crossJoin(F.broadcast(pos))
        .filter(F.col("__bal") * F.col("__n") > F.col("__total"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("__bal"), 2).cast("double").alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


def _supply_catalog(
    spark: SparkSession, sf_dir: str, lineitem: DataFrame | None = None
) -> DataFrame:
    """Supplier-part catalog derived from lineitem (the schema has no
    partsupp table): one row per observed (part, supplier) with the
    minimum observed unit price as the supply cost. min() over doubles
    is merge-order-independent, so the catalog is engine-stable.
    ``lineitem`` lets a caller pre-filter the scan (e.g. a part
    semi-join pushed below the aggregation) without duplicating the
    stability-critical unit-cost expression — per-part mins are
    untouched by dropping OTHER parts' rows, never by dropping a
    subset of one part's rows."""
    li = load_table(spark, sf_dir, "lineitem") if lineitem is None else lineitem
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.round(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")), 4
        ).alias("ps_unit_cost")
    )


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q2 shape: the minimum-cost supplier for each large part
    within one region. The per-part correlated min is a window MIN over
    a partition-keyed window (one lineitem scan, one shuffle on the
    part key) rather than a grouped-aggregate-joined-back — same
    result, but the derived catalog is computed once instead of on both
    sides of a self-join. Region restriction applies to BOTH the
    candidate suppliers and the min (as in q2's correlated subquery).
    The rounded unit cost makes the equality engine-stable. The part
    predicate is pushed BELOW the catalog aggregation as a broadcast
    semi-join on the lineitem scan: per-part mins are untouched by
    dropping other parts, and the (part, supplier) shuffle then
    carries only the selective subset instead of the whole fact —
    at 100 TB that is the difference between shuffling the full
    catalog and ~the filter's selectivity of it."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & F.col("p_size").isin(15, 25, 35, 45)
    ).select("p_partkey", "p_name")
    li = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(p.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
        "left_semi",
    )
    cat = _supply_catalog(spark, sf_dir, lineitem=li)
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", F.col("n_name").alias("nation"))
    )
    cat_r = cat.join(s, cat.ps_suppkey == s.s_suppkey)
    w_part = Window.partitionBy("ps_partkey")
    return (
        cat_r.withColumn("__min_cost", F.min("ps_unit_cost").over(w_part))
        .filter(F.col("ps_unit_cost") == F.col("__min_cost"))
        .join(p, cat_r.ps_partkey == p.p_partkey)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "nation",
            F.round("s_acctbal", 2).cast("double").alias("s_acctbal"),
            F.col("ps_unit_cost").alias("unit_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "p_partkey", "s_name")
    )


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q8 shape: NATION_3's share of PROMO-part revenue delivered
    to AMERICA-region customers, by order year. The share is a
    conditional-sum ratio inside one grouped aggregate — no second
    pass, no window; both sums are exact decimals so the 6dp ratio is
    engine-stable. Dims broadcast; the fact join shuffles by key."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .select("c_custkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == cust.c_custkey, "left_semi")
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol)
                    .otherwise(F.lit(0.0))
                    .cast("decimal(18,4)")
                )
                / F.sum(vol.cast("decimal(18,4)")),
                6,
            )
            .cast("double")
            .alias("mkt_share"),
            F.round(F.sum(vol.cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_volume"),
        )
        .orderBy("o_year")
    )


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q11 shape: parts whose shipped value from NATION_3
    suppliers exceeds 0.1% of that nation's total shipped value. The
    global threshold is a one-row broadcast; membership uses the
    cross-multiplied exact-decimal compare (value * 1000 > total) so
    no division or rounding can flip a row near the cut."""
    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    value = F.col("l_extendedprice").cast("decimal(18,4)")
    per_part = (
        li.join(s, li.l_suppkey == s.s_suppkey, "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(value).alias("__value"))
    )
    total = per_part.agg(F.sum("__value").alias("__total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("__value") * 1000 > F.col("__total"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round(F.col("__value"), 2).cast("double").alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "p_partkey")
    )


def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q12 shape adapted to the schema (no shipmode/receiptdate):
    order-priority mix by shipping-latency bucket. One fact-fact key
    join plus conditional counts — the q12 CASE aggregation — grouped
    by floor(days-late / 30). datediff on midnight timestamps is exact
    integer days in both engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o_full = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o_full, li.l_orderkey == o_full.o_orderkey)
        .withColumn(
            "latency_bucket",
            F.floor(F.datediff("l_shipdate", "o_orderdate") / 30).cast("long"),
        )
        .groupBy("latency_bucket")
        .agg(
            F.count_if(high).cast("long").alias("high_prio_lines"),
            F.count_if(~high).cast("long").alias("low_prio_lines"),
        )
        .orderBy("latency_bucket")
    )


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q13 shape: the distribution of per-customer order counts
    including zero-order customers — a left outer join, a per-customer
    count, then a count-of-counts. Two key shuffles, both on uniform
    keys; the second aggregate's input is one row per customer so it is
    strictly smaller. The priority filter stands in for q13's comment
    anti-pattern filter and lands in the join condition so zero-order
    customers survive the outer join."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").cast("long").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q16 shape: distinct-supplier counts per (brand, type,
    size) for mid-size non-PROMO parts, excluding blacklisted suppliers
    (negative balance, standing in for q16's complaint filter) via an
    anti join. The catalog is the derived lineitem supplier-part pairs;
    count(DISTINCT) shuffles once on the grouping key."""
    cat = _supply_catalog(spark, sf_dir).select("ps_partkey", "ps_suppkey")
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(9, 14, 19, 23, 36, 45, 49, 3)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        cat.join(F.broadcast(bad), cat.ps_suppkey == bad.s_suppkey, "left_anti")
        .join(p, cat.ps_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q_excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q20 shape: suppliers who shipped more than 30% of the 1996
    volume of any red part — a per-(part, supplier) aggregate compared
    against a per-part total (grouped agg joined back by part key, the
    same correlated-threshold-as-join pattern as q2/q17), then a
    distinct supplier list. Cross-multiplied integer-free compare:
    10 × supplier-qty > 3 × part-total in exact decimal."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("red")
    ).select("p_partkey")
    li_red = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "p_partkey", "l_suppkey", F.col("l_quantity").cast("decimal(18,2)").alias("__qty")
    )
    per_supp = li_red.groupBy("p_partkey", "l_suppkey").agg(
        F.sum("__qty").alias("__supp_qty")
    )
    per_part = li_red.groupBy(F.col("p_partkey").alias("__pk")).agg(
        F.sum("__qty").alias("__part_qty")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_supp.join(per_part, per_supp.p_partkey == F.col("__pk"))
        .filter(F.col("__supp_qty") * 10 > F.col("__part_qty") * 3)
        .select("l_suppkey")
        .distinct()
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q21 shape reformulated as one aggregation instead of
    EXISTS/NOT-EXISTS self-joins: for finished multi-supplier orders
    where exactly one supplier shipped late (> 60 days after the order
    date), that supplier takes the blame. Per-order supplier/late
    stats come from a single groupBy over lineitem — the self-join-free
    plan is what survives 100 TB, where q21's textbook four-way
    lineitem self-join would shuffle the fact table three times."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    # two plain aggregations instead of two COUNT(DISTINCT)s: the
    # distinct-agg plan Expands every joined row 2× before the shuffle;
    # pre-deduping to one row per (order, supplier) keeps the exchange
    # at catalog cardinality and needs no Expand at all
    per_os = j.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(late.cast("int")).alias("__late")
    )
    per_order = per_os.groupBy("l_orderkey").agg(
        F.count("*").alias("__n_supp"),
        F.sum("__late").alias("__n_late"),
        F.max(F.when(F.col("__late") == 1, F.col("l_suppkey"))).alias("__late_supp"),
    )
    blamed = per_order.filter(
        (F.col("__n_supp") > 1) & (F.col("__n_late") == 1)
    ).select(F.col("__late_supp").alias("s_suppkey_blamed"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        blamed.groupBy("s_suppkey_blamed")
        .agg(F.count("*").cast("long").alias("numwait"))
        .join(s, F.col("s_suppkey_blamed") == s.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup at scale (operators/similarity.py
    srp_near_dup): signed-random-projection buckets make the self-join
    meet only within a bucket — no O(N²) pair materialization — then
    the cosine threshold keeps pairs ≥ 0.4. Deterministic plan-literal
    hyperplanes; the DuckDB oracle recomputes the same buckets, so this
    scale path is hash-checked, not rows-only."""
    from .operators.similarity import srp_near_dup

    e = load_table(spark, sf_dir, "embeddings")
    return srp_near_dup(e, threshold=0.4, n_planes=6).orderBy("id_a", "id_b")


def q_embedding_near_dup_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded embedding near-dup (operators/similarity.
    srp_near_dup_topk): per vector, its top-5 same-SRP-bucket
    neighbors by cosine — output O(N·k) BY CONSTRUCTION, the
    production-safe sibling of the threshold variant whose pair count
    on independent data is inherently background-density quadratic
    (123× pairs at 10× data in SCALING.md). Same plan-literal
    hyperplanes; the oracle recomputes buckets and ranks, so the
    bounded scale path is hash-checked too."""
    from .operators.similarity import srp_near_dup_topk

    e = load_table(spark, sf_dir, "embeddings")
    return srp_near_dup_topk(e, k=5, n_planes=6).orderBy("vec_id", "rank")


def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means over the embedding corpus
    (operators/clustering.py kmeans_lite): semantic clustering for
    source balancing / embedding-space curation. Iterative ML is
    normally rows-only for a SQL oracle; the deterministic init
    (vec_id % 7 sample, the IVF rule), 6-dp centroid rounding between
    iterations, and lowest-cell tie-breaks make the full iteration
    reproducible in ANSI SQL — so this entry is HASH-checked. Corpus
    never shuffles: assignment is a broadcast cross join, the update
    one partial+final aggregate folded back as literals."""
    from .operators.clustering import kmeans_lite

    e = load_table(spark, sf_dir, "embeddings")
    return kmeans_lite(e, k=8, iterations=1).orderBy("vec_id")


# ---------------------------------------------------------------------------
# L. Round-4 additions: interval analytics, funnels, time-series resample,
#    weighted sampling, reconciliation, graph ranking, market basket
# ---------------------------------------------------------------------------


def q_events_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per event type via the +1/-1 boundary sweep:
    each event holds a 15-minute interval; the answer is the max of the
    running sum over interval boundaries. The sweep is O(n log n) with
    ONE sort-per-key shuffle — the scale-safe alternative to the O(n²)
    interval self-join a range join would do. Ties at the same instant
    net out identically on both engines because the default RANGE window
    frame sums the whole peer group.

    Skew note: event_type is low-cardinality, so at 100 TB use the
    two-phase (event_type, day) sweep — ``events_max_concurrency_2p``
    below, bit-identical output."""
    from .operators.intervals import peak_concurrency

    e = load_table(spark, sf_dir, "events")
    return peak_concurrency(
        e, "event_type", F.col("ts"), F.expr("ts + INTERVAL 15 MINUTES")
    ).orderBy("event_type")


def q_events_max_concurrency_2p(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of the interval sweep (operators/intervals.py,
    ``split_by_day=True``): within-day running sums over (key, day)
    partitions plus a per-key prefix sum of daily net deltas as the
    carry-in — no single task ever sorts a whole key's history. Exact
    for any interval length (the sweep is over boundary points and days
    partition the time axis); shares ``events_max_concurrency``'s
    oracle because the results are identical by construction."""
    from .operators.intervals import peak_concurrency

    e = load_table(spark, sf_dir, "events")
    return peak_concurrency(
        e,
        "event_type",
        F.col("ts"),
        F.expr("ts + INTERVAL 15 MINUTES"),
        split_by_day=True,
    ).orderBy("event_type")


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel signup → click → purchase: per-user strictly
    increasing timestamps across steps, counted with three chained
    conditional-min windows over the SAME partition spec (Catalyst
    reuses one sort/exchange for all three), then a single global
    aggregate. No self-joins, no per-user collect_list."""
    from .operators.funnel import funnel_times

    e = load_table(spark, sf_dir, "events")
    per_user = funnel_times(e, "user_id", "ts", "event_type", ["signup", "click", "purchase"])
    return per_user.agg(
        F.count("*").cast("long").alias("n_users"),
        F.count("step_0").cast("long").alias("n_signup"),
        F.count("step_1").cast("long").alias("n_click_after_signup"),
        F.count("step_2").cast("long").alias("n_purchase_after_click"),
    )


def q_events_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-depth funnel summary (operators/funnel.py): a 4-step
    signup → view → click → purchase funnel as (step_index, step,
    n_reached) rows, denominator at index -1. Funnel depth adds window
    expressions, not sorts — one exchange on user_id total."""
    from .operators.funnel import funnel_counts

    e = load_table(spark, sf_dir, "events")
    return funnel_counts(
        e, "user_id", "ts", "event_type", ["signup", "view", "click", "purchase"]
    ).orderBy("step_index")


def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily resample + gap fill: a calendar spine (sequence/explode of
    the 1-row global min/max aggregate — broadcast, never shuffled)
    cross-joined with the distinct type dimension, left-joined to the
    daily aggregate, missing days filled by last-observation-carried-
    forward (running last_value IGNORE NULLS window). The spine is
    |days|×|types| rows — tiny versus the event table at any scale."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("v"))
    bounds = e.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    types = e.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(spine))
    w = Window.partitionBy("event_type").orderBy("day")
    return (
        grid.join(daily, ["event_type", "day"], "left")
        .withColumn("is_gap", F.col("v").isNull().cast("int"))
        .withColumn(
            "value_filled",
            F.round(F.coalesce(F.last("v", ignorenulls=True).over(w), F.lit(0.0)), 6),
        )
        .select("event_type", "day", "value_filled", "is_gap")
        .orderBy("event_type", "day")
    )


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection: per-type daily event counts
    z-scored against the preceding 7 days (ROWS BETWEEN 7 PRECEDING AND
    1 PRECEDING — the current day never contaminates its own baseline).
    One groupBy + one windowed pass; the window key is (type), bounded
    frame, so state is O(7) per key at any scale."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("n_events")
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    mean = F.avg("n_events").over(w)
    std = F.stddev_samp("n_events").over(w)
    cnt = F.count("n_events").over(w)
    return (
        daily.withColumn("trail_mean", mean)
        .withColumn("trail_std", std)
        .withColumn("trail_n", cnt)
        .filter((F.col("trail_n") >= 3) & (F.col("trail_std") > 0))
        .select(
            "event_type",
            "day",
            "n_events",
            F.round("trail_mean", 6).alias("trail_mean"),
            F.round((F.col("n_events") - F.col("trail_mean")) / F.col("trail_std"), 6).alias(
                "zscore"
            ),
            (F.abs((F.col("n_events") - F.col("trail_mean")) / F.col("trail_std")) > 2)
            .cast("int")
            .alias("is_anomaly"),
        )
        .orderBy("event_type", "day")
    )


def q_docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement (Efraimidis-Spirakis A-ES,
    operators/sampling.py): 20 docs with inclusion probability ∝
    n_chars, via the smallest deterministic -ln(u)/w keys. orderBy+limit
    compiles to TakeOrderedAndProject (per-partition heaps, no global
    sort); ordering on the ROUNDED key keeps the boundary row identical
    across engines despite last-ulp libm differences."""
    from .operators.sampling import weighted_sample_keys

    d = load_table(spark, sf_dir, "documents")
    keyed = weighted_sample_keys(d, "doc_id", "n_chars").withColumn(
        "aes_key", F.round("aes_key", 8)
    )
    return (
        keyed.select("doc_id", "lang", "n_chars", "aes_key")
        .orderBy("aes_key", "doc_id")
        .limit(20)
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed checksum reconciliation (operators/reconcile.py): diff
    the orders snapshot against a deterministically perturbed copy
    (every 97th key deleted, every 101st price bumped) with per-bucket
    (count, md5-digit checksum SUM) — two scans, a 64-row join, zero
    row-level shuffles. The 100 TB way to verify a sync before paying
    for a row-level merge; mismatched buckets localize the follow-up."""
    from .operators.reconcile import snapshot_diff

    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    left = o.select("o_orderkey", cents.alias("cents"))
    right = (
        o.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 101 == 0, cents + 1000).otherwise(cents).alias("cents"),
        )
    )
    return snapshot_diff(left, right, "o_orderkey", ["cents"], n_buckets=64).orderBy("bucket")


def q_parts_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase graph (operators/graph.py): parts
    are linked when they appear in the same order (lineitem self-join on
    the order key — co-located equi-join with per-order bounded fanout,
    ≤ items²), 3 power iterations, damping 0.85. Each iteration is one
    rank⋈edges join + one groupBy — hash shuffles on the node key, no
    collect. Ordering on the ROUNDED rank keeps the top-25 boundary
    stable across engines' FP summation orders."""
    from .operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # per-order basket + double explode beats the naive self-join: ONE
    # shuffle (groupBy order) instead of two join shuffles, and the k²
    # pair fanout happens narrowly inside each basket (k ≤ items/order).
    # Dedup only the a<b half (half the distinct-shuffle volume), then
    # mirror it — the flipped union is distinct by construction.
    baskets = li.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("parts"))
    half = (
        baskets.select(F.explode("parts").alias("src"), "parts")
        .select("src", F.explode("parts").alias("dst"))
        .filter(F.col("src") < F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)  # union reads it twice
    )
    edges = half.union(half.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # symmetric=True: the mirrored union means every node is a source
    # and receives ≥1 contribution, so the operator can skip the
    # per-iteration nodes LEFT JOIN re-attachment (bit-identical ranks;
    # r14, guide §2.4)
    ranks = pagerank(
        edges, iterations=3, damping=0.85, edges_distinct=True, symmetric=True
    )
    return (
        ranks.select(F.col("node").alias("l_partkey"), F.round("rank", 9).alias("pagerank"))
        .orderBy(F.desc("pagerank"), "l_partkey")
        .limit(25)
    )


def q_part_pairs_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association strength: support and lift for part
    pairs co-occurring in ≥ 3 orders. The pair space is generated by the
    same bounded per-order self-join as the co-purchase graph (never
    all-parts²); N enters as a broadcast 1-row aggregate so lift is
    computed JVM-side with no driver scalar."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # one groupBy builds per-order baskets (collect_set dedups within
    # the order); pair counts, item counts and N all derive from it —
    # one wide shuffle total instead of a self-join plus three scans
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("parts")
    ).localCheckpoint(eager=False)
    pair_counts = (
        baskets.select(F.explode("parts").alias("part_a"), "parts")
        .select("part_a", F.explode("parts").alias("part_b"))
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    item_counts = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").cast("long").alias("n_item"))
    )
    n_orders = baskets.agg(F.count("*").cast("double").alias("n_orders"))
    return (
        # plain equi-joins: the item-count side is per-part and can be
        # huge at scale — let AQE broadcast it only when it is small
        pair_counts.join(
            item_counts.withColumnRenamed("l_partkey", "part_a").withColumnRenamed("n_item", "n_a"),
            "part_a",
        )
        .join(
            item_counts.withColumnRenamed("l_partkey", "part_b").withColumnRenamed("n_item", "n_b"),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(
                F.col("n_ab") * F.col("n_orders") / (F.col("n_a") * F.col("n_b")), 6
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(30)
    )


def q_docs_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent-token-pair counts, the inner loop of BPE /
    WordPiece tokenizer training (pick the most frequent pair, merge,
    repeat). Pair generation is a narrow per-document array transform
    (no self-join); the only shuffle is the final pair-count groupBy
    with map-side partial aggregation. Top-30 via TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    bigrams = F.expr(
        "transform(slice(__t, 1, size(__t) - 1), (x, i) -> concat(x, ' ', __t[i + 1]))"
    )
    return (
        d.select(t.alias("__t"))
        .filter(F.size("__t") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "bigram")
        .limit(30)
    )


def q_embedding_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization audit: absmax scale and the mean
    squared error a symmetric-int8 round-trip would introduce — the
    check run before shipping a quantized ANN index. Map-only array
    expressions, zero shuffle; floor(x/s + 0.5) is used instead of
    round() so both engines break .5 ties identically. Zero vectors
    (scale 0) are excluded on both sides."""
    e = load_table(spark, sf_dir, "embeddings")
    absmax = F.array_max(F.transform("embedding", lambda x: F.abs(x)))
    scaled = e.select(
        "vec_id", "embedding", (absmax / F.lit(127.0)).alias("scale")
    ).filter(F.col("scale") > 0)
    err = F.expr(
        "aggregate(transform(embedding, x -> "
        "  pow(x - floor(x / scale + 0.5) * scale, 2)), "
        "cast(0.0 as double), (acc, v) -> acc + v)"
    ) / F.size("embedding")
    return scaled.select(
        "vec_id",
        F.round("scale", 8).alias("scale"),
        F.round(err, 10).alias("quant_mse"),
    ).orderBy("vec_id")


def q_embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (operators/clustering.py:pq_encode):
    dim-64 vectors → 4 subspace codes from a deterministic seed
    codebook — the compressed storage layer of an IVF-PQ index. Corpus
    read once, sub-vectors explode narrowly, codebook broadcasts;
    hash-checked because seeds/slicing/tie-breaks are all
    engine-reproducible."""
    from .operators.clustering import pq_encode

    e = load_table(spark, sf_dir, "embeddings")
    return pq_encode(e, dim=64, m=4, k=4).orderBy("vec_id", "subspace")


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC search over PQ codes (operators/clustering.py:pq_adc_topk):
    per query, an m·k lookup table of subvector→codeword distances is
    built and each corpus vector's approximate distance is m table
    lookups summed — the scan never touches a float vector, which is
    the whole point of PQ at 100 TB (codes are ~64× smaller than the
    raw embeddings). Self matches excluded; completes the ANN family
    next to brute-force / LSH / IVF."""
    from .operators.clustering import pq_adc_topk

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id").isin(0, 1, 2))
    return pq_adc_topk(e, queries, dim=64, m=4, k=4, topk=10).orderBy(
        "query_id", "rank"
    )


def q_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of ADC-over-PQ-codes vs exact squared-L2 brute force —
    the quantization-loss measurement that decides m and k before
    shipping a PQ index. Like the LSH/IVF recall harnesses, fully
    deterministic, so the lossy path itself is hash-checked. Numbers
    are a worst case on near-uniform synthetic vectors (k=4 codewords
    per subspace is extreme compression); clustered real embeddings
    with k=256 score far higher."""
    from .operators.clustering import pq_adc_topk

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id").isin(0, 1, 2))
    adc = pq_adc_topk(e, queries, dim=64, m=4, k=4, topk=10)
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    dist2 = F.round(
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.col("qe"),
                lambda a, b: (a.cast("double") - b.cast("double"))
                * (a.cast("double") - b.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", dist2.alias("dist2"))
    )
    w = Window.partitionBy("query_id").orderBy("dist2", "vec_id")
    exact = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 10)
        .select("query_id", "vec_id")
    )
    return _ann_recall_frame(adc, exact)


def q_events_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution from the funnel operator: for users
    completing signup → click → purchase, the latency from funnel entry
    to completion (minutes) as count/avg/median/p90 — the product
    metric funnels exist to produce. Per-user times come from the one
    funnel sort; the summary is a single global aggregate."""
    from .operators.funnel import funnel_times

    e = load_table(spark, sf_dir, "events")
    per_user = funnel_times(e, "user_id", "ts", "event_type", ["signup", "click", "purchase"])
    lag_min = (
        F.unix_micros(F.col("step_2").cast("timestamp"))
        - F.unix_micros(F.col("step_0").cast("timestamp"))
    ) / F.lit(60_000_000.0)
    completed = per_user.filter(F.col("step_2").isNotNull()).select(
        lag_min.alias("lag_min")
    )
    return completed.agg(
        F.count("*").cast("long").alias("n_converted"),
        F.round(F.avg("lag_min"), 6).alias("avg_lag_min"),
        F.round(F.percentile("lag_min", 0.5), 6).alias("median_lag_min"),
        F.round(F.percentile("lag_min", 0.9), 6).alias("p90_lag_min"),
    )


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination (operators/bloom.py): same
    output as ``decontaminate_overlap`` — and the same oracle — but the
    train-side gram inventory first passes a relational Bloom filter
    built from the test grams (k seeded hashes → distinct bit-position
    table, k broadcast semi-joins), and only the survivors reach the
    exact gram semi-join.

    At 100 TB the exact semi-join must shuffle every train gram string;
    the Bloom stage replaces that with broadcast probes against a table
    bounded at 2^20 longs REGARDLESS of test-set size, so the shuffle
    only carries true matches plus the fp tail. The exact verify makes
    the result independent of the hash functions — which is why the
    DuckDB oracle (no xxhash64) can still check it bit-for-bit."""
    from .operators.bloom import bloom_build, bloom_prefilter
    from .operators.dedup import word_shingles
    from .operators.sampling import _hash_slot, slot_threshold

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", word_shingles("text", 5).alias("grams")
    )
    test_mark = _hash_slot("doc_id") < slot_threshold(0.1)
    test_grams = (
        d.filter(test_mark)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    train = d.filter(~test_mark).select("doc_id", F.explode("grams").alias("gram"))
    bits = bloom_build(test_grams, "gram")
    candidates = bloom_prefilter(train, "gram", bits)
    return (
        candidates.join(test_grams, "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .orderBy("doc_id")
    )


BOILERPLATE_SEGMENT_WORDS = 8
BOILERPLATE_MAX_DF = 5


def q_docs_line_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal (operators/boilerplate.py):
    segments appearing verbatim in ≥ 5 distinct documents are dropped
    from every document; the remainder is reassembled in order and
    fingerprinted. The C4/RefinedWeb line-dedup cleaning pass — the
    synthetic corpus is single-line, so segmentation is by fixed 8-word
    windows (``segment_by_lines`` is the production splitter; the plan
    shape — one explode, two hash aggs, one join, ordered ``array_sort``
    reassembly — is identical)."""
    from .operators.boilerplate import remove_frequent_segments, segment_by_words

    d = load_table(spark, sf_dir, "documents")
    segs = segment_by_words(
        d, "doc_id", "text", words_per_segment=BOILERPLATE_SEGMENT_WORDS
    )
    return remove_frequent_segments(
        segs, "doc_id", max_doc_freq=BOILERPLATE_MAX_DF
    ).orderBy("doc_id")


BM25_TERMS = ("spark", "join", "window", "stream")
BM25_K1 = 1.2
BM25_B = 0.75


def q_docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring over an inverted index — the ranking
    function behind Lucene/Elasticsearch and the lexical half of hybrid
    RAG retrieval. For a literal query-term set: per-(doc, term) TF from
    one explode, per-term DF and corpus (N, avgdl) as tiny broadcast
    aggregates, score summed per doc, global top-20.

    avgdl is exact across engines (integer sum / count); the ranking
    orders on the ROUNDED score (the docs_tfidf_topk stability rule).
    Scale shape: explode → two hash aggs → broadcast DF + stats back —
    the corpus never shuffles by term more than once."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    dl = d.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count("*").cast("double").alias("n")
    )
    tf = (
        d.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(F.lit(1.0) + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf_norm = (
        F.col("tf")
        * (BM25_K1 + 1.0)
        / (
            F.col("tf")
            + BM25_K1
            * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(idf * tf_norm), 6).alias("bm25"),
            F.count("*").cast("long").alias("n_terms"),
        )
    )
    return scored.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()).limit(20)


ATTRIBUTION_WINDOW_DAYS = 7


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's value is split
    equally across the user's click/view touches in the preceding
    7 days, credited to the touch type. The marketing-analytics twin of
    the range join: touch-purchase pairing is a point-in-interval join
    (operators/rangejoin.py — bucketed equi-join, never a nested-loop),
    the per-purchase touch count is a window over the pair output, and
    the result is a tiny per-type rollup."""
    from .operators.rangejoin import range_join

    e = load_table(spark, sf_dir, "events")
    touches = e.filter(F.col("event_type").isin("click", "view")).select(
        "user_id", F.col("ts").alias("touch_ts"), "event_type"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        (F.col("ts") - F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_DAYS} DAYS")).alias(
            "w_start"
        ),
        F.col("ts").alias("w_end"),
        "value",
    )
    pairs = range_join(
        touches,
        purchases,
        "user_id",
        "touch_ts",
        "w_start",
        "w_end",
        bucket_seconds=ATTRIBUTION_WINDOW_DAYS * 86400,
    )
    n_touches = F.count("*").over(Window.partitionBy("purchase_id"))
    credited = pairs.select(
        "event_type",
        "purchase_id",
        (F.col("value") / n_touches).alias("credit"),
    )
    return (
        credited.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            F.countDistinct("purchase_id").cast("long").alias("n_purchases"),
            F.round(F.sum("credit"), 2).alias("attributed_value"),
        )
        .orderBy("event_type")
    )


def q_parts_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-graph triangle census of the co-purchase graph
    (operators/graph.py:triangle_stats): node/edge counts, length-2
    paths, exact triangles, and transitivity. The edge list is the same
    support-≥3 basket co-occurrence as ``part_pairs_lift``; the count
    uses the degree-oriented node-iterator, so wedge fan-out is bounded
    by the ORIENTED degree (O(√m)) even when one part dominates every
    order. The oracle counts triangles by the declarative 3-way
    canonical-edge join — the naive spec the oriented algorithm must
    reproduce exactly."""
    from .operators.graph import triangle_stats

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("parts")
    )
    edges = (
        baskets.select(F.explode("parts").alias("a"), "parts")
        .select("a", F.explode("parts").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
        .select("a", "b")
    )
    return triangle_stats(edges)


def q_cdc_apply_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log replay (operators/cdc.py): a deterministic 3-epoch change
    log derived from orders — seq 1 inserts every order, seq 2 updates
    every 7th key (price +100), seq 3 deletes every 13th — collapsed to
    the net snapshot in ONE max_by groupBy (map-side partial winners;
    the window-sort formulation would shuffle the whole log). The log
    form complements the reference's snapshot diff
    (data_loading_to_mysql_database.py:185-277): same net state, built
    from the stream between snapshots instead of the snapshots."""
    from .operators.cdc import apply_cdc

    o = load_table(spark, sf_dir, "orders")
    payload = ["o_custkey", "o_orderstatus", "price"]
    inserts = o.select(
        "o_orderkey",
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").alias("price"),
    )
    updates = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            F.lit(2).alias("seq"),
            F.lit("U").alias("op"),
            "o_custkey",
            "o_orderstatus",
            (F.col("o_totalprice") + 100.0).alias("price"),
        )
    )
    deletes = (
        o.filter(F.col("o_orderkey") % 13 == 0)
        .select(
            "o_orderkey",
            F.lit(3).alias("seq"),
            F.lit("D").alias("op"),
            F.lit(None).cast("long").alias("o_custkey"),
            F.lit(None).cast("string").alias("o_orderstatus"),
            F.lit(None).cast("double").alias("price"),
        )
    )
    log = inserts.unionAll(updates).unionAll(deletes)
    return apply_cdc(
        log, key="o_orderkey", seq="seq", op="op", payload_cols=payload
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "price",
        "n_versions",
        F.col("last_seq").cast("long").alias("last_seq"),
    )


def q_lineitem_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed closed-form OLS (operators/stats.py): regress
    extended price (cents) on quantity per (returnflag, linestatus) —
    one algebraic aggregate pass, slope/intercept/r² derived from EXACT
    DECIMAL(38,0) moment sums so the doubles are bit-identical across
    partitionings and engines (float moments would be order-dependent).
    The oracle re-derives the same formula from HUGEINT sums rather
    than calling regr_slope, pinning the arithmetic path."""
    from .operators.stats import ols_fit

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    fit = ols_fit(li, ["l_returnflag", "l_linestatus"], "qty", "cents")
    return fit.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        F.round("slope", 6).alias("slope_cents_per_qty"),
        F.round("intercept", 6).alias("intercept_cents"),
        F.round("r2", 6).alias("r2"),
    ).orderBy("l_returnflag", "l_linestatus")


def q_lineitem_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of the four lineitem measures —
    quantity, price cents, discount bp, tax bp — all six pairs computed
    in ONE aggregate pass over one scan (operators/stats.py:corr_pairs),
    exact-integer moments, deterministic doubles. The feature-triage
    step of a training pipeline: which raw columns are redundant before
    they're fed to a model."""
    from .operators.stats import corr_pairs

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.round(F.col("l_discount") * 100).cast("long").alias("disc_bp"),
        F.round(F.col("l_tax") * 100).cast("long").alias("tax_bp"),
    )
    cols = ["qty", "cents", "disc_bp", "tax_bp"]
    pairs = [(cols[i], cols[j]) for i in range(len(cols)) for j in range(i + 1, len(cols))]
    return (
        corr_pairs(li, pairs)
        .select("var_x", "var_y", "n", F.round("corr", 6).alias("corr"))
        .orderBy("var_x", "var_y")
    )


def q_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential path mining: each user-day's first five event types
    (by ts, event_id) joined into a '>' path string, then the 20 most
    frequent paths. The per-session ordering is a bounded array_sort of
    collected (ts, id, type) structs — no window sort over the event
    table, state per session is O(events/user/day). Path extraction is
    the sequence-model precursor to the funnel family
    (q_events_funnel): funnels test ONE hypothesis path, this surfaces
    which paths exist."""
    e = load_table(spark, sf_dir, "events")
    per = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.array_join(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s.event_type,
                ),
                1,
                5,
            ),
            ">",
        ).alias("path"),
        F.count("*").cast("long").alias("n_events"),
    )
    return (
        per.groupBy("path")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.avg("n_events").alias("avg_raw"),
        )
        .select("path", "n_sessions", F.round("avg_raw", 6).alias("avg_session_events"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency (days since last order,
    anchored at the corpus max date), frequency, monetary (exact cents
    so per-customer sums are order-independent), quintile-scored with
    ntile over deterministic (metric, key) orderings. ntile's global
    sort is fine at customer-dimension size; at fact-table size the
    same scores come from broadcast percentile cut points — the
    docs_quality_bins pattern. Top-20 '555' segment preview by
    monetary."""
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max(F.to_date("o_orderdate")).alias("maxd"))
    per = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("lastd"),
            F.count("*").cast("long").alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff("maxd", "lastd").cast("long").alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    r = Window.orderBy("recency_days", "o_custkey")
    fqy = Window.orderBy(F.desc("frequency"), "o_custkey")
    m = Window.orderBy(F.desc("monetary_cents"), "o_custkey")
    scored = per.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        (F.lit(6) - F.ntile(5).over(r)).cast("long").alias("r_score"),
        (F.lit(6) - F.ntile(5).over(fqy)).cast("long").alias("f_score"),
        (F.lit(6) - F.ntile(5).over(m)).cast("long").alias("m_score"),
    )
    return (
        scored.withColumn(
            "segment",
            (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")).cast("long"),
        )
        .orderBy(F.desc("segment"), F.desc("monetary_cents"), "o_custkey")
        .limit(20)
    )


# Peel budget of parts_kcore, shared by the query and its unrolled
# oracle (k_core's default). A uniform-part graph near k=80 can need 15
# rounds (perfbench query_batch seed 14); a budget the peel exhausts
# raises, so it must sit well above what valid inputs need.
KCORE_PEEL_ROUNDS = 30


def q_parts_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the co-purchase graph (operators/graph.py:k_core,
    k=80): iteratively peel parts with fewer than 80 distinct
    co-purchase partners until fixpoint, then report the 25
    highest-degree survivors plus whole-core counts. Peeling is the
    scalable route to "the dense heart of the graph" — each round is a
    degree aggregate + two node-sized semi joins, converging in ≤6
    rounds here; the loop fails loudly if the budget exhausts. The
    oracle unrolls the same ``KCORE_PEEL_ROUNDS`` declaratively (extra
    rounds are fixpoint no-ops), the same unrolled-iteration pattern as
    the pagerank oracle."""
    from .operators.graph import k_core

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("parts"))
    edges = (
        baskets.select(F.explode("parts").alias("a"), "parts")
        .select("a", F.explode("parts").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    core = k_core(edges, 80, max_rounds=KCORE_PEEL_ROUNDS).localCheckpoint(eager=False)
    deg = (
        core.select(F.col("a").alias("l_partkey"))
        .unionAll(core.select(F.col("b").alias("l_partkey")))
        .groupBy("l_partkey")
        .agg(F.count("*").cast("long").alias("core_degree"))
    )
    totals = core.agg(F.count("*").cast("long").alias("n_core_edges")).crossJoin(
        F.broadcast(deg.agg(F.count("*").cast("long").alias("n_core_nodes")))
    )
    return (
        deg.crossJoin(F.broadcast(totals))
        .select("l_partkey", "core_degree", "n_core_nodes", "n_core_edges")
        .orderBy(F.desc("core_degree"), "l_partkey")
        .limit(25)
    )


# Benford expected first-digit shares, log10(1 + 1/d): emitted as the
# SAME literal into the Spark plan and the oracle SQL, so neither
# engine's libm decides the constant.
BENFORD_SHARES = {
    1: 0.30102999566398119,
    2: 0.17609125905568124,
    3: 0.12493873660829993,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def q_orders_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals — the data-quality
    screen for fabricated numeric columns. Exact digit counts (one
    groupBy), expected shares as shared literals (no cross-engine libm
    drift), per-digit chi-square contribution from those exact counts.
    One row per digit 1-9."""
    o = load_table(spark, sf_dir, "orders")
    digit = F.substring(F.floor("o_totalprice").cast("string"), 1, 1).cast("int")
    counts = o.groupBy(digit.alias("digit")).agg(
        F.count("*").cast("long").alias("n_orders")
    )
    expected = F.create_map(
        *[F.lit(x) for kv in BENFORD_SHARES.items() for x in kv]
    )
    total = counts.agg(F.sum("n_orders").cast("long").alias("__n"))
    exp_n = F.col("exp_share") * F.col("__n")
    return (
        counts.withColumn("exp_share", expected[F.col("digit")])
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_orders",
            F.round("exp_share", 6).alias("benford_share"),
            F.round((F.col("n_orders") - exp_n) * (F.col("n_orders") - exp_n) / exp_n, 6).alias(
                "chi2_term"
            ),
        )
        .orderBy("digit")
    )


def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted trailing mean of daily event counts
    (half-per-day decay, 13-day horizon), gap-aware: weights follow the
    actual DAY distance, so missing days decay instead of shifting.
    The dyadic decay (2^-gap) makes every term an exact binary
    fraction — sums are exact regardless of order, so the Spark
    window-array formulation and the oracle's range self-join agree
    bit-for-bit with no FP-order caveat. Per key the state is a ≤14-row
    array; no range join, no unbounded window."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("n_events")
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-13, 0)
    hist = F.collect_list(F.struct("day", "n_events")).over(w)
    daily = daily.withColumn("__hist", hist)
    terms = F.filter(
        F.col("__hist"), lambda s: F.datediff(F.col("day"), s["day"]) <= 13
    )
    num = F.aggregate(
        terms,
        F.lit(0.0),
        lambda acc, s: acc
        + s["n_events"].cast("double") * F.pow(F.lit(0.5), F.datediff(F.col("day"), s["day"])),
    )
    den = F.aggregate(
        terms,
        F.lit(0.0),
        lambda acc, s: acc + F.pow(F.lit(0.5), F.datediff(F.col("day"), s["day"])),
    )
    return daily.select(
        "event_type",
        "day",
        "n_events",
        F.round(num / den, 6).alias("ewma"),
    ).orderBy("event_type", "day")


def q_docs_frequent_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters without shuffling the long tail
    (operators/heavyhitters.py): two-pass Misra-Gries — bounded
    per-partition candidate summaries (map-only, Arrow), then an exact
    recount of the broadcast candidate set. Guaranteed-exact output
    (candidates are a proven superset), so the oracle is the naive
    full groupBy it replaces at scale."""
    from .operators.heavyhitters import frequent_items

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens("text")).alias("token"))
    return (
        frequent_items(toks, "token", threshold=0.002)
        .select("token", "n_occurrences", F.round("share", 6).alias("share"))
        .orderBy(F.desc("n_occurrences"), "token")
    )


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact fixed-point covariance of the embedding corpus
    (operators/pca.py): per-partition BLAS Gram partials (map-only,
    one Arrow pass, d² state per partition), folded element-wise —
    every partial an exact integer-valued float64 on the 2⁻¹⁰ grid, so
    the matrix is bit-identical across partitionings and engines. The
    d²-sized work (explode to (i,j,cov)) happens on ONE reduced row.
    This is the distributed half of PCA; the constant-size
    eigendecomposition is q_embedding_pca_variance."""
    from .operators.pca import covariance_matrix

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        covariance_matrix(emb, "embedding", 64)
        .select("i", "j", F.round("cov", 9).alias("cov"))
        .orderBy("i", "j")
    )


def q_embedding_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA explained-variance spectrum: the covariance Gram pass is the
    only data-sized work (hash-checked separately as
    q_embedding_covariance); the eigendecomposition runs driver-side on
    the constant-size d×d matrix — the standard production split. Top
    10 components with explained and cumulative ratios. No SQL oracle
    (no eigensolver in DuckDB); correctness is pinned by the
    hash-checked covariance sibling + a numpy differential test."""
    from .operators.pca import covariance_matrix, pca_eig

    emb = load_table(spark, sf_dir, "embeddings")
    rows = covariance_matrix(emb, "embedding", 64).collect()  # d²/2 rows, constant size
    comps = pca_eig(rows, 64, 10)
    return spark.createDataFrame(
        [
            (c, round(ev, 9), round(ratio, 6), round(cum, 6))
            for c, ev, ratio, cum in comps
        ],
        "component int, eigenvalue double, explained_ratio double, cumulative_ratio double",
    )


def q_orders_window_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full analytic-window function surface in one keyed pass:
    lag/lead, running first/nth, whole-partition last, percent_rank,
    cume_dist, row_number — all over ONE (customer, date, key) sort, so
    the battery costs a single shuffle+sort regardless of how many
    functions ride it. Every customer key ends in 00 (1% sample via
    key-mod pushdown, not a scan-then-sample)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 100 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.lag("o_totalprice").over(w).alias("prev_price"),
            F.lead("o_totalprice").over(w).alias("next_price"),
            F.first("o_totalprice").over(w).alias("first_price"),
            F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
            F.last("o_totalprice").over(wfull).alias("final_price"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
        .orderBy("o_custkey", "rn")
    )


def q_customer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operator surface (EXCEPT / INTERSECT / UNION) over yearly
    active-customer sets: who churned out of 1995, who was retained
    into 1996, the union population. Distinct key sets, so each set op
    is one hash aggregate over co-partitioned inputs."""
    o = load_table(spark, sf_dir, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    rows = [
        ("churned_after_1995", y95.exceptAll(y96)),
        ("retained_into_1996", y95.intersect(y96)),
        ("active_either_year", y95.union(y96).distinct()),
    ]
    out = None
    for label, df in rows:
        r = df.agg(F.count("*").cast("long").alias("n_customers")).select(
            F.lit(label).alias("cohort"), "n_customers"
        )
        out = r if out is None else out.unionAll(r)
    return out.orderBy("cohort")


SCD2_ASOF_DATE = "2000-06-01"


def q_orders_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (time-travel) read over the SCD2 history: the
    table state as of a date is the rows whose validity interval covers
    it (valid_from ≤ D < valid_to, NULL = still open). With the history
    partitioned/sorted by valid_from, the interval predicate prunes at
    the scan — reconstruction costs a filter, not a replay. Completes
    the temporal family: merge_scd2 WRITES history, this READS any
    point of it."""
    history = q_orders_scd2(spark, sf_dir)
    d = F.lit(SCD2_ASOF_DATE).cast("date")
    return (
        history.filter(
            (F.col("valid_from") <= d)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > d))
        )
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    )


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION step: same transitive clusters as
    q_dedup_components, but the keeper is chosen by QUALITY (longest
    text, doc_id tiebreak) instead of min-id — the policy real corpus
    dedup ships (keep the best copy, not an arbitrary one). One max_by
    aggregate per cluster after the closure; reports keeper, member
    count, and how many docs the cluster discards."""
    from .operators.components import dedup_clusters

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "source", "lang", "n_chars")
    )
    a, b = d.alias("a"), d.alias("b")
    lt = F.col("a.doc_id") < F.col("b.doc_id")
    e1 = a.join(
        b,
        (F.col("a.source") == F.col("b.source")) & (F.col("a.n_chars") == F.col("b.n_chars")) & lt,
    ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    e2 = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang")) & (F.col("a.n_chars") == F.col("b.n_chars")) & lt,
    ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    clusters = dedup_clusters(e1.unionByName(e2).distinct(), d, id_col="doc_id")
    members = clusters.join(d.select("doc_id", "n_chars"), "doc_id")
    pref = F.struct(F.col("n_chars").alias("q"), (-F.col("doc_id")).alias("t"))
    return (
        members.groupBy("cluster_id")
        .agg(
            F.max_by("doc_id", pref).alias("keeper_doc_id"),
            F.max_by("n_chars", pref).alias("keeper_n_chars"),
            F.count("*").cast("long").alias("n_members"),
        )
        .withColumn("n_discarded", (F.col("n_members") - 1).cast("long"))
        .orderBy("cluster_id")
    )


def q_supplier_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier reliability ranked by the Wilson lower confidence bound
    (z=1.96) of the non-return rate — the right ranking when volumes
    differ by orders of magnitude (a 1-shipment supplier with 0 returns
    must not outrank a 1000-shipment one with 2). Exact (n, k) counts
    from one aggregate; the interval arithmetic is the identical
    formula text on both engines. Top 25 by bound."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_suppkey").agg(
        F.count("*").cast("long").alias("n_items"),
        F.count_if(F.col("l_returnflag") != "R").cast("long").alias("n_ok"),
    ).filter(F.col("n_items") >= 20)
    z = F.lit(1.96)
    n = F.col("n_items").cast("double")
    p = F.col("n_ok").cast("double") / n
    denom = F.lit(1.0) + z * z / n
    center = p + z * z / (F.lit(2.0) * n)
    margin = z * F.sqrt((p * (F.lit(1.0) - p) + z * z / (F.lit(4.0) * n)) / n)
    return (
        agg.select(
            "l_suppkey",
            "n_items",
            "n_ok",
            F.round((center - margin) / denom, 6).alias("wilson_lower"),
        )
        .orderBy(F.desc("wilson_lower"), "l_suppkey")
        .limit(25)
    )


def q_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto) curve: sort customers by exact
    total cents descending, cumulative-sum along that order, and report
    each decile's cumulative revenue share — 'the top 10% of customers
    carry X% of revenue'. All sums are exact longs up to the single
    final division, so the curve is engine-exact. The global window
    runs over the CUSTOMER dimension (not the fact table) — the
    docs_quality_bins cut-point pattern is the fact-scale fallback."""
    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    w = Window.orderBy(F.desc("cents"), "o_custkey")
    totals = per.agg(
        F.sum("cents").alias("__total"), F.count("*").cast("long").alias("__n")
    )
    ranked = (
        per.withColumn("rank", F.row_number().over(w))
        .withColumn("cum_cents", F.sum("cents").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .crossJoin(F.broadcast(totals))
        .withColumn("decile", F.ceil(F.col("rank") * 10 / F.col("__n")).cast("int"))
    )
    return (
        ranked.groupBy("decile")
        .agg(
            F.max("rank").cast("long").alias("n_customers_cum"),
            F.round(
                F.max("cum_cents").cast("double") / F.max("__total").cast("double"), 6
            ).alias("cum_revenue_share"),
        )
        .orderBy("decile")
    )


def q_events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types: P(next |
    current) from adjacent pairs within each user-day session (lag
    window on the keyed sort — the same single-sort shape as the
    funnel family). Exact pair/row counts; the probability is the one
    division. Completes the sequence family: top_paths shows WHICH
    sequences, this gives the generative model."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy("ts", "event_id")
    pairs = (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("cur"), "next_type")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )
    totals = pairs.groupBy("cur").agg(F.sum("n_pairs").cast("long").alias("n_out"))
    return (
        pairs.join(totals, "cur")
        .select(
            "cur",
            "next_type",
            "n_pairs",
            F.round(F.col("n_pairs").cast("double") / F.col("n_out"), 6).alias("p_next"),
        )
        .orderBy("cur", "next_type")
    )


def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue from the exact rank-weight
    formula G = Σᵢ(2i−n−1)·xᵢ / (n·Σx) over cents sorted ascending —
    numerator and denominator are exact integer sums (the rank weights
    ride the same customer-dimension sort as the Pareto curve), so the
    coefficient is engine-exact up to the single division. At fact
    scale the weights come from exact longs ≤ 2⁶³; a 10¹⁰-customer
    corpus would move the sums to DECIMAL(38,0) — same pattern as
    operators/stats.py."""
    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    totals = per.agg(
        F.count("*").cast("long").alias("__n"), F.sum("cents").cast("long").alias("__total")
    )
    w = Window.orderBy("cents", "o_custkey")
    ranked = per.withColumn("i", F.row_number().over(w).cast("long")).crossJoin(
        F.broadcast(totals)
    )
    num = F.sum((F.lit(2) * F.col("i") - F.col("__n") - 1) * F.col("cents"))
    return ranked.agg(
        F.max("__n").alias("n_customers"),
        F.max("__total").alias("total_cents"),
        F.round(
            num.cast("double") / (F.max("__n").cast("double") * F.max("__total").cast("double")),
            6,
        ).alias("gini"),
    )


def q_docs_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation confusion matrix: declared vs predicted
    language (the marker-word heuristic of q_text_lang_id), counts and
    within-declared share — the quality-control readout a corpus
    language filter ships with. One extra aggregate over the lang-ID
    projection; the oracle wraps the lang-ID oracle as a subquery so
    both sides share one classifier definition."""
    scored = q_text_lang_id(spark, sf_dir)
    counts = scored.groupBy("declared_lang", "predicted_lang").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    totals = counts.groupBy("declared_lang").agg(
        F.sum("n_docs").cast("long").alias("n_declared")
    )
    return (
        counts.join(totals, "declared_lang")
        .select(
            "declared_lang",
            "predicted_lang",
            "n_docs",
            F.round(F.col("n_docs").cast("double") / F.col("n_declared"), 6).alias("share"),
        )
        .orderBy("declared_lang", "predicted_lang")
    )


def q_orders_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue time series with a trailing-12-month trend and
    year-over-year growth — the reporting rollup every warehouse ships.
    Exact cent sums per month; the moving average divides an exact
    12-term sum, and YoY is one lag(12) on the (tiny) month-dimension
    sort. Trend/YoY are NULL until a full year of history exists."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(F.trunc("o_orderdate", "month").alias("month")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("revenue_cents"),
        F.count("*").cast("long").alias("n_orders"),
    )
    w = Window.orderBy("month")
    trailing = w.rowsBetween(-11, 0)
    return (
        monthly.withColumn("__n12", F.count("*").over(trailing))
        .select(
            "month",
            "revenue_cents",
            "n_orders",
            F.when(
                F.col("__n12") == 12,
                F.round(F.avg("revenue_cents").over(trailing), 6),
            ).alias("trailing_12m_avg"),
            F.round(
                (F.col("revenue_cents") - F.lag("revenue_cents", 12).over(w)).cast("double")
                / F.lag("revenue_cents", 12).over(w),
                6,
            ).alias("yoy_growth"),
        )
        .orderBy("month")
    )


def q_incremental_agg_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O(delta) materialized-view maintenance
    (operators/cdc.py:maintain_grouped_agg): a per-status (count, cent
    total) view is folded forward under a CDC delta — updates bump
    prices (every 7th key, with every 21st MIGRATING status groups),
    deletes drop every 13th key (winning seq ties over updates),
    inserts add fresh keys (every 31st). The base table is read only
    via a touched-key semi join; the oracle recomputes the post-merge
    snapshot from scratch and aggregates it — incremental fold vs full
    recompute is the differential."""
    from .operators.cdc import cdc_net, maintain_grouped_agg

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    upd = base.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
        F.when(F.col("o_orderkey") % 21 == 0, F.lit("F"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        (F.col("cents") + 10000).alias("cents"),
    )
    dels = base.filter(F.col("o_orderkey") % 13 == 0).select(
        "o_orderkey",
        F.lit(2).alias("seq"),
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("long").alias("cents"),
    )
    ins = base.filter(F.col("o_orderkey") % 31 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
        F.lit("P").alias("o_orderstatus"),
        (F.col("cents") + 5000).alias("cents"),
    )
    log = upd.unionAll(dels).unionAll(ins)
    net = cdc_net(
        log,
        key="o_orderkey",
        seq="seq",
        op="op",
        payload_cols=["o_orderstatus", "cents"],
    )
    old_agg = base.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("total"),
    )
    return (
        maintain_grouped_agg(
            old_agg,
            base,
            net,
            key="o_orderkey",
            group_col="o_orderstatus",
            val_col="cents",
        )
        .select("o_orderstatus", "n_rows", F.col("total").cast("long").alias("total_cents"))
        .orderBy("o_orderstatus")
    )


def q_orders_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group statistics: exact median and MAD (median
    absolute deviation) of order totals per priority, plus the count of
    robust-z outliers (|x−med| > 3.5·1.4826·MAD — the Iglewicz-Hoaglin
    screen, immune to the outliers it hunts, unlike stddev). Exact
    percentile on integer cents interpolates to exact half-cents, so
    both engines agree bit-for-bit; three group-sized aggregates, two
    broadcast joins of the 5-row stat table."""
    # pinned: the (priority, cents) projection feeds THREE sequential
    # order-statistic passes (median, MAD, outlier count — inherently
    # serial, each needs the previous stat); without the pin each pass
    # re-scans and re-projects the orders parquet (guide §5: cut
    # lineage of a reused narrow intermediate)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    ).localCheckpoint(eager=False)
    med = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(cents, 0.5)").alias("median_cents"),
        F.count("*").cast("long").alias("n_orders"),
    )
    # dev feeds BOTH the MAD percentile and the outlier count — pin it
    # too so the deviation join runs once
    dev = o.join(F.broadcast(med), "o_orderpriority").withColumn(
        "dev", F.abs(F.col("cents") - F.col("median_cents"))
    ).localCheckpoint(eager=False)
    mad = dev.groupBy("o_orderpriority").agg(F.expr("percentile(dev, 0.5)").alias("mad_cents"))
    outliers = (
        dev.join(F.broadcast(mad), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count_if(F.col("dev") > F.lit(3.5) * F.lit(1.4826) * F.col("mad_cents"))
            .cast("long")
            .alias("n_outliers")
        )
    )
    return (
        med.join(mad, "o_orderpriority")
        .join(outliers, "o_orderpriority")
        .select(
            "o_orderpriority",
            "n_orders",
            F.round("median_cents", 6).alias("median_cents"),
            F.round("mad_cents", 6).alias("mad_cents"),
            "n_outliers",
        )
        .orderBy("o_orderpriority")
    )


def q_docs_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering for training: docs bucketed into length
    deciles (short-to-long as a difficulty proxy), deterministically
    shuffled WITHIN each decile by key hash — easy examples first,
    random order inside a difficulty band, identical on any engine or
    cluster. First 50 positions shown; the full ordering is the
    (decile, md5) sort key, which a writer materializes with
    repartitionByRange at corpus scale."""
    d = load_table(spark, sf_dir, "documents")
    decile = F.ntile(10).over(Window.orderBy("n_chars", "doc_id"))
    keyed = d.select(
        "doc_id",
        "n_chars",
        decile.alias("difficulty_decile"),
        F.md5(F.col("doc_id").cast("string")).alias("__h"),
    )
    rank = F.row_number().over(Window.orderBy("difficulty_decile", "__h", "doc_id"))
    return (
        keyed.select(
            "doc_id",
            F.col("difficulty_decile").cast("long").alias("difficulty_decile"),
            "n_chars",
            rank.cast("long").alias("curriculum_rank"),
        )
        .orderBy("curriculum_rank")
        .limit(50)
    )


def q_events_attribution_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: credit halves per whole day
    between touch and purchase (2^-gap weights — exact binary
    fractions, same dyadic trick as events_ewma), normalized per
    purchase. Same bucketed range-join pairing as the linear variant
    (q_events_attribution); only the credit formula changes — the
    plumbing is the operator, the policy is an expression."""
    from .operators.rangejoin import range_join

    e = load_table(spark, sf_dir, "events")
    touches = e.filter(F.col("event_type").isin("click", "view")).select(
        "user_id", F.col("ts").alias("touch_ts"), "event_type"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        (F.col("ts") - F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_DAYS} DAYS")).alias("w_start"),
        F.col("ts").alias("w_end"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    pairs = range_join(
        touches,
        purchases,
        "user_id",
        "touch_ts",
        "w_start",
        "w_end",
        bucket_seconds=ATTRIBUTION_WINDOW_DAYS * 86400,
    )
    gap_days = F.floor(
        (F.unix_timestamp("w_end") - F.unix_timestamp("touch_ts")) / F.lit(86400)
    )
    weighted = pairs.withColumn("w", F.pow(F.lit(0.5), gap_days))
    sw = F.sum("w").over(Window.partitionBy("purchase_id"))
    credited = weighted.select(
        "event_type",
        "purchase_id",
        (F.col("cents") * F.col("w") / sw).alias("credit_cents"),
    )
    return (
        credited.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            F.countDistinct("purchase_id").cast("long").alias("n_purchases"),
            F.round(F.sum("credit_cents") / 100.0, 2).alias("attributed_value"),
        )
        .orderBy("event_type")
    )


def q_events_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-monitoring freshness/completeness report per event
    type: last event time, staleness in minutes behind the freshest
    type, and calendar completeness (days with ≥1 event vs the global
    span). The table an on-call engineer checks before trusting a
    downstream aggregate; one grouped aggregate + a broadcast 1-row
    global max."""
    e = load_table(spark, sf_dir, "events")
    per = e.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"),
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct(F.to_date("ts")).cast("long").alias("days_present"),
    )
    g = e.agg(
        F.max("ts").alias("gmax"),
        (F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))) + 1)
        .cast("long")
        .alias("span_days"),
    )
    return (
        per.crossJoin(F.broadcast(g))
        .select(
            "event_type",
            "n_events",
            "last_ts",
            F.floor(
                (F.unix_timestamp("gmax") - F.unix_timestamp("last_ts")) / F.lit(60)
            )
            .cast("long")
            .alias("staleness_minutes"),
            "days_present",
            F.round(F.col("days_present") / F.col("span_days"), 6).alias("calendar_coverage"),
        )
        .orderBy("event_type")
    )


def q_brand_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration audit: Herfindahl-Hirschman index of
    supplier revenue within each part brand, computed EXACTLY as
    Σcentsᵢ² / (Σcents)² — integer numerator and denominator, one
    division, so the index is engine-exact with no share-summation
    order dependence (the naive Σ(shareᵢ²) of doubles is not). Flags
    brands where one supplier dominates; two grouped aggregates and a
    broadcast dim join."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "l_suppkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents")
        )
    )
    dec = "decimal(38,0)"
    agg = rev.groupBy("p_brand").agg(
        F.count("*").cast("long").alias("n_suppliers"),
        F.sum("cents").cast(dec).alias("__t"),
        F.sum(F.col("cents").cast(dec) * F.col("cents").cast(dec)).alias("__sq"),
    )
    return (
        agg.select(
            "p_brand",
            "n_suppliers",
            F.col("__t").cast("long").alias("total_cents"),
            F.round(
                F.col("__sq").cast("double")
                / (F.col("__t").cast("double") * F.col("__t").cast("double")),
                6,
            ).alias("hhi"),
        )
        .orderBy(F.desc("hhi"), "p_brand")
        .limit(25)
    )


def q_events_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival time profile per event type: exact median / p95 /
    max of the whole-second gaps between consecutive events of a type —
    the arrival-process fingerprint behind capacity planning and
    anomaly thresholds. One keyed window for the lag, one percentile
    aggregate over exact integer gaps (interpolation lands on exact
    half-seconds, so engines agree bit-for-bit)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = (
        e.withColumn("__prev", F.lag("ts").over(w))
        .filter(F.col("__prev").isNotNull())
        .select(
            "event_type",
            (F.unix_timestamp("ts") - F.unix_timestamp("__prev")).alias("gap_s"),
        )
    )
    # p95 as a DISCRETE rank pick (ceil(0.95·n)-th sorted gap): the
    # interpolated percentile's lower+(upper−lower)·frac arithmetic is
    # not specified identically across engines at arbitrary fractions;
    # p50 interpolation on ints lands on exact halves and IS safe
    wg = Window.partitionBy("event_type").orderBy("gap_s")
    ranked = gaps.withColumn("__rn", F.row_number().over(wg)).withColumn(
        "__n", F.count("*").over(Window.partitionBy("event_type"))
    )
    p95 = ranked.filter(
        F.col("__rn") == F.ceil(F.lit(0.95) * F.col("__n"))
    ).select("event_type", F.col("gap_s").cast("long").alias("p95_gap_s"))
    agg = gaps.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.round(F.expr("percentile(gap_s, 0.5)"), 6).alias("median_gap_s"),
        F.max("gap_s").cast("long").alias("max_gap_s"),
    )
    return (
        agg.join(p95, "event_type")
        .select("event_type", "n_gaps", "median_gap_s", "p95_gap_s", "max_gap_s")
        .orderBy("event_type")
    )


def q_docs_setsim_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set similarity self-join with PPJoin prefix filtering
    (operators/dedup.setsim_prefix_pairs): the lossless candidate tier
    between MinHash-LSH (probabilistic) and the full inverted index.
    The oracle computes the identical pair set from the unfiltered
    inverted index — hash equality PROVES the prefix filter lossless on
    this corpus. Rational threshold 7/10 keeps the accept test integer."""
    from .operators.dedup import setsim_prefix_pairs

    d = load_table(spark, sf_dir, "documents")
    return setsim_prefix_pairs(d, "text", "doc_id", tau_num=7, tau_den=10).orderBy(
        "id_a", "id_b"
    )


def q_docs_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric doc-inside-doc near-dup detection
    (operators/dedup.containment_pairs): directed shingle containment
    |S(A)∩S(B)|/|S(A)| >= 4/5 — the dedup decision symmetric Jaccard
    cannot make (a page quoting a whole paragraph dilutes Jaccard with
    its own size but containment of the paragraph stays ~1)."""
    from .operators.dedup import containment_pairs

    d = load_table(spark, sf_dir, "documents")
    return containment_pairs(d, "text", "doc_id", shingle_n=3).orderBy(
        "contained_id", "container_id"
    )


def q_events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point per event type over daily counts
    (operators/stats.cusum_peaks): the sequential-detection recursion
    S_t = max(0, S_{t-1} + x_t − μ) rewritten to its running-sum /
    running-min closed form so it distributes as ONE ordered window —
    and scaled by n_days so every statistic is an exact integer the
    oracle reproduces bit-for-bit."""
    from .operators.stats import cusum_peaks

    e = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    return cusum_peaks(e, "event_type", "day", F.lit(1)).orderBy("event_type")


def q_events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity continuous aggregate (operators/rollup.py):
    day partials from ONE raw scan, week and month derived from the
    day partials — the hypertable-rollup maintenance shape. Values
    ride as exact integer cents so partial re-aggregation is
    associative and engine-exact."""
    from .operators.rollup import hierarchical_time_rollup

    e = load_table(spark, sf_dir, "events")
    return hierarchical_time_rollup(
        e, "ts", F.round(F.col("value") * 100, 0)
    ).orderBy("grain", "bucket_start")


def q_events_time_rollup_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental continuous-aggregate REFRESH
    (operators/rollup.rollup_refresh_delta): events split
    deterministically into a base (event_id % 5 != 0) and a late-data
    delta; the base rollup is refreshed with O(touched-buckets) work —
    day rows re-folded from partials, touched weeks/months rebuilt
    from day partials only — and the applied result must equal the
    from-scratch rollup of ALL events, which is exactly what the
    oracle computes. The hash match IS the proof that the incremental
    path is exact (the TimescaleDB invalidation-refresh contract)."""
    from .operators.rollup import (
        apply_rollup_refresh,
        hierarchical_time_rollup,
        rollup_refresh_delta,
    )

    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0)
    base = e.filter(F.col("event_id") % 5 != 0)
    delta = e.filter(F.col("event_id") % 5 == 0)
    stored = hierarchical_time_rollup(base, "ts", cents)
    refreshed = rollup_refresh_delta(stored, delta, "ts", cents)
    return apply_rollup_refresh(stored, refreshed).orderBy(
        "grain", "bucket_start"
    )


def q_events_sequence_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential association rules (order-constrained market basket):
    for each ordered event-type pair (a → b), the number of users with
    some a BEFORE some b, and the confidence among users who did a at
    all. ``part_pairs_lift`` is the unordered co-occurrence version;
    the temporal constraint here is what funnels/recommenders need.

    Scale shape: ONE groupBy collapses the log to (user, type,
    first_ts, last_ts) — 'a before b' for a user is exactly
    first_ts(a) < last_ts(b), so the pair join fans out |types|² per
    user (a bounded constant, 25 here), never |events|². No window, no
    self-join of the raw log."""
    e = load_table(spark, sf_dir, "events")
    per = (
        e.groupBy("user_id", "event_type")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
        .localCheckpoint(eager=False)  # feeds a, b, AND na: one log scan
    )
    a = per.select(
        "user_id", F.col("event_type").alias("antecedent"), "first_ts"
    )
    b = per.select(
        "user_id", F.col("event_type").alias("consequent"), "last_ts"
    )
    both = (
        a.join(b, "user_id")
        .filter(
            (F.col("antecedent") != F.col("consequent"))
            & (F.col("first_ts") < F.col("last_ts"))
        )
        .groupBy("antecedent", "consequent")
        .agg(F.count("*").cast("long").alias("n_users_both"))
    )
    na = per.groupBy(F.col("event_type").alias("antecedent")).agg(
        F.count("*").cast("long").alias("n_users_ante")
    )
    return (
        both.join(na, "antecedent")
        .select(
            "antecedent",
            "consequent",
            "n_users_both",
            "n_users_ante",
            F.round(F.col("n_users_both") / F.col("n_users_ante"), 6).alias(
                "confidence"
            ),
        )
        .orderBy("antecedent", "consequent")
    )


def q_brand_monthly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand revenue trend: OLS slope of monthly revenue (cents)
    over a month index, fitted on the AGGREGATE series — the two-level
    shape (fact table → per-period partials → tiny per-group fit) that
    keeps the regression pass proportional to |brands × months|, not
    |lineitem|. Moments stay exact integers end-to-end
    (operators/stats.ols_fit)."""
    from .operators.stats import ols_fit

    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    monthly = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(
            "p_brand",
            (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("mi"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                .cast("long")
            )
            .cast("long")
            .alias("rev_cents")
        )
    )
    fit = ols_fit(monthly, ["p_brand"], "mi", "rev_cents")
    return fit.select(
        "p_brand",
        F.col("n").alias("n_months"),
        F.round("slope", 4).alias("trend_cents_per_month"),
        F.round("r2", 6).alias("r2"),
    ).orderBy("p_brand")


BIGRAM_VOCAB_K = 400


def q_docs_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality score with add-one smoothing —
    the step up from ``docs_unigram_logprob`` toward the real
    perplexity-filter gate: per document, the mean
    ln((c(w₋₁w)+1)/(c(w₋₁)+V)) over its bigrams, with the bigram and
    unigram count tables capped at top-K and embedded as plan-literal
    maps (counts integer, ln computed engine-side — the same parity
    contract the unigram gate proved). V is the exact corpus distinct
    token count. Bounded driver collects: K bigrams + K unigrams + one
    scalar. Scoring is a per-row higher-order fold — zero joins against
    a token-exploded fact table."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.size(tokens("text")) >= 2
    )
    toks = tokens("text")
    # one token-count pass feeds BOTH the exact V and the top-K vocab
    # (eager checkpoint: the explode+groupBy shuffle runs once, the two
    # driver actions read the materialized result)
    tok_counts = (
        d.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .count()
        .localCheckpoint(eager=True)
    )
    v_distinct = tok_counts.count()
    uni = (
        tok_counts.orderBy(F.col("count").desc(), "token")
        .limit(UNIGRAM_VOCAB_K)
        .collect()
    )
    # Bind the token array as a LAMBDA VARIABLE (the one-element array
    # transform trick from operators/dedup.word_shingles): inlining
    # `toks` directly into the bigram lambdas re-runs the whole
    # split per element_at — higher-order-function arguments sit
    # outside codegen subexpression elimination, so the scoring pass
    # was re-tokenizing each document O(words²) times (visible in the
    # committed before-plan: the split subtree appears inside every
    # lambda). Binding costs one projection, zero shuffles, and the
    # produced bigram array (hence every count/score) is identical.
    def _bigrams_of(t):
        return F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(t, i), F.element_at(t, i + 1)
            ),
        )

    bg = F.element_at(
        F.transform(F.array(toks), lambda t: _bigrams_of(t)), 1
    )
    bi = (
        d.select(F.explode(bg).alias("bigram"))
        .groupBy("bigram")
        .count()
        .orderBy(F.col("count").desc(), "bigram")
        .limit(BIGRAM_VOCAB_K)
        .collect()
    )
    umap = _lit_map([r["token"] for r in uni], [int(r["count"]) for r in uni])
    bmap = _lit_map([r["bigram"] for r in bi], [int(r["count"]) for r in bi])
    prev_of = lambda g: F.element_at(F.split(g, " "), 1)  # noqa: E731
    lp = lambda g: F.log(  # noqa: E731
        (F.coalesce(bmap[g], F.lit(0)) + 1)
        / (F.coalesce(umap[prev_of(g)], F.lit(0)) + F.lit(v_distinct))
    )
    # score the bigram array with IT bound as a lambda variable too —
    # n_bigrams and the fold then share one evaluation instead of
    # re-deriving the array three times per row
    scored = F.element_at(
        F.transform(
            F.array(bg),
            lambda barr: F.struct(
                F.size(barr).cast("long").alias("n_bigrams"),
                F.round(
                    F.aggregate(barr, F.lit(0.0), lambda acc, g: acc + lp(g))
                    / F.size(barr),
                    6,
                ).alias("avg_logprob"),
            ),
        ),
        1,
    )
    return (
        d.select("doc_id", scored.alias("__s"))
        .select("doc_id", "__s.n_bigrams", "__s.avg_logprob")
        .orderBy("doc_id")
    )


BPE_N_MERGES = 4


def q_docs_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, the actual merge LOOP (operators/bpe.py):
    4 rounds of count-pairs → pick-winner → fuse-corpus-wide over the
    word-frequency table. The corpus is scanned once; each round runs
    on the |vocab|-sized table with ONE bounded driver collect (the
    winning pair — the k-means plan-literal pattern). The oracle
    re-runs the identical 4 rounds as unrolled CTEs with the same
    total-order tie-break, so the learned merges are hash-checked
    cross-engine — an iterative ML training loop as a verifiable
    query."""
    from .operators.bpe import learn_bpe_merges

    d = load_table(spark, sf_dir, "documents")
    merges = learn_bpe_merges(d, "text", BPE_N_MERGES)
    return spark.createDataFrame(
        merges, "merge_round int, pair string, pair_count long"
    ).orderBy("merge_round")


# ---------------------------------------------------------------------------
# Round 6: cohort/contingency analytics, exact order-statistics, corpus
# curation metrics (coverage, novelty, winnowing fingerprints)
# ---------------------------------------------------------------------------


def q_orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: customers cohorted by first-order
    month, revenue (exact integer cents) by months-since-cohort — the
    retention/LTV triangle every growth warehouse maintains. Two
    shuffles total: the first-order dim aggregates on o_custkey and
    the fact joins back on the same key (co-partitioned, no extra
    exchange); month arithmetic on month-truncated dates is exact
    integers in both engines."""
    o = load_table(spark, sf_dir, "orders")
    first = o.groupBy("o_custkey").agg(
        F.to_date(F.date_trunc("month", F.min("o_orderdate"))).alias(
            "cohort_month"
        )
    )
    j = o.join(first, "o_custkey")
    off = F.months_between(
        F.to_date(F.date_trunc("month", F.col("o_orderdate"))),
        F.col("cohort_month"),
    ).cast("int")
    return (
        j.groupBy("cohort_month", off.alias("month_offset"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_cents"),
        )
        .orderBy("cohort_month", "month_offset")
    )


def q_supplier_lead_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier fulfilment profile: item count, slow-shipment count
    (shipped more than 90 days after the order date), and order→ship
    lead-time stats — exact integer day sums, one division for the
    mean. The orderkey join is the one fact-fact shuffle; the per-
    supplier aggregate is map-side combinable on top of it, and the
    supplier dim joins broadcast AFTER aggregation (|suppliers| rows,
    not |lineitem|)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    lead = F.datediff("l_shipdate", "o_orderdate").cast("long")
    g = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_suppkey")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.count_if(lead > 90).cast("long").alias("n_slow"),
            F.sum(lead).cast("long").alias("sum_lead_days"),
            F.max(lead).cast("long").alias("max_lead_days"),
        )
    )
    return (
        g.join(F.broadcast(s), g.l_suppkey == s.s_suppkey)
        .select(
            "l_suppkey",
            "s_name",
            "n_items",
            "n_slow",
            "sum_lead_days",
            "max_lead_days",
            F.round(F.col("sum_lead_days") / F.col("n_items"), 4).alias(
                "avg_lead_days"
            ),
        )
        .orderBy("l_suppkey")
    )


def q_docs_token_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the fraction of corpus token
    OCCURRENCES covered by the top-k vocabulary at k ∈ {10, 100,
    1000} — the first question a tokenizer/vocab-size decision asks of
    a training corpus. Counts are exact integers; the top-1000 comes
    from a distributed TakeOrdered (per-partition heaps), so nothing
    vocab-sized ever sorts on one partition — at 100 TB the stream
    aggregate is the only fact-scale pass."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)  # feeds top-k, total, and coverage
    )
    # limit-then-rank, not rank-then-filter: orderBy().limit(1000) is a
    # distributed TakeOrdered (per-partition heaps + merge), while a
    # row_number window over the full vocabulary sorts 100M+ tokens on
    # ONE partition at corpus scale. The window then ranks only the
    # 1000 survivors.
    topk = counts.orderBy(F.col("c").desc(), "token").limit(1000)
    ranked = topk.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.col("c").desc(), "token"))
    )
    tot = counts.agg(F.sum("c").cast("long").alias("total"))
    ks = F.explode(F.array(F.lit(10), F.lit(100), F.lit(1000))).alias(
        "vocab_k"
    )
    return (
        ranked.select("c", "rk", ks)
        .filter(F.col("rk") <= F.col("vocab_k"))
        .groupBy("vocab_k")
        .agg(F.sum("c").cast("long").alias("covered_occurrences"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("vocab_k").cast("int").alias("vocab_k"),
            "covered_occurrences",
            F.col("total").alias("total_occurrences"),
            F.round(F.col("covered_occurrences") / F.col("total"), 6).alias(
                "coverage"
            ),
        )
        .orderBy("vocab_k")
    )


WINNOW_K = 3  # tokens per k-gram
WINNOW_W = 4  # k-grams per winnowing window


def q_docs_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (the MOSS algorithm): per doc,
    hash every K-token gram, slide a W-gram window, keep each
    window's minimal hash (ties → rightmost). Guarantees any match of
    length ≥ W+K-1 tokens shares a selected fingerprint, at expected
    density 2/(W+1) — the local-dedup/plagiarism tier between the
    global rolling-hash fingerprint and shingle dedup.

    Engine-exact trick: hash and tie-break pack into ONE integer,
    ``key = h·2²¹ + (2²⁰ − pos)`` (h < 2²⁰ via a prime modulus,
    pos < 2²⁰ — docs here are ≪ 1M tokens), so the window argmin with
    rightmost-tie-break is a plain integer ``min`` in both engines —
    no struct comparison, no float, no engine-specific arg_min tie
    rule. One ordered window per doc, partitioned by doc_id."""
    from .operators.dedup import winnowing_fingerprints

    d = load_table(spark, sf_dir, "documents")
    sel = winnowing_fingerprints(d, "text", "doc_id", k=WINNOW_K, w=WINNOW_W)
    return (
        sel.groupBy("doc_id")
        .agg(
            F.max("n_kgrams").alias("n_kgrams"),
            F.countDistinct("sel_pos").cast("long").alias("n_selected"),
            F.countDistinct("sel_hash").cast("long").alias("n_distinct_fp"),
        )
        .select(
            "doc_id",
            "n_kgrams",
            "n_selected",
            "n_distinct_fp",
            F.round(F.col("n_selected") / F.col("n_kgrams"), 6).alias(
                "density"
            ),
        )
        .orderBy("doc_id")
    )


def q_orders_chi2_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency-table independence profile for (order priority ×
    order status): per cell the observed count, marginals, expected
    count under independence, and the chi-square term. Emitting
    PER-CELL rows keeps everything either exact integers or a single
    fixed-shape float expression per row — no cross-cell float
    summation to flake on — and the downstream consumer can sum the
    terms at whatever precision it owns. One fact-scale aggregate;
    the marginals are windows over the |priorities|×|statuses| cell
    table."""
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").cast("long").alias("observed")
    )
    m = (
        cells.withColumn(
            "row_total",
            F.sum("observed")
            .over(Window.partitionBy("o_orderpriority"))
            .cast("long"),
        )
        .withColumn(
            "col_total",
            F.sum("observed")
            .over(Window.partitionBy("o_orderstatus"))
            .cast("long"),
        )
        .withColumn(
            "n", F.sum("observed").over(Window.partitionBy()).cast("long")
        )
    )
    exp_ = F.col("row_total").cast("double") * F.col("col_total") / F.col("n")
    dev = F.col("observed") - exp_
    return m.select(
        "o_orderpriority",
        "o_orderstatus",
        "observed",
        "row_total",
        "col_total",
        F.round(exp_, 4).alias("expected"),
        # dev*dev, not pow(dev, 2): IEEE multiplication is exact and
        # deterministic; libm pow need not be correctly rounded and may
        # differ between engines in the last ulp
        F.round(dev * dev / exp_, 6).alias("chi2_term"),
    ).orderBy("o_orderpriority", "o_orderstatus")


def q_segment_share_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-segment revenue share by year, in exact integer basis
    points (rev·10⁴ div year-total — integer division, no float
    share), with the year-over-year share delta via a lag window.
    The fact join aggregates to |segments|×|years| rows before any
    window touches it."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.year("o_orderdate").cast("int").alias("yr"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_cents")
        )
    )
    s = g.withColumn(
        "year_total",
        F.sum("rev_cents").over(Window.partitionBy("yr")).cast("long"),
    ).withColumn(
        "share_bp", F.expr("rev_cents * 10000L div year_total").cast("long")
    )
    return (
        s.withColumn(
            "yoy_delta_bp",
            (
                F.col("share_bp")
                - F.lag("share_bp").over(
                    Window.partitionBy("segment").orderBy("yr")
                )
            ).cast("long"),
        )
        .select(
            "segment", "yr", "rev_cents", "year_total", "share_bp", "yoy_delta_bp"
        )
        .orderBy("segment", "yr")
    )


def q_lineitem_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median line price per return flag: the
    smallest price (integer cents) whose cumulative quantity reaches
    half the flag's total — all-integer arithmetic, so the median is
    engine-exact with no interpolation contract to align. Prices
    pre-aggregate per (flag, price) before the ordered window, so the
    window runs over distinct prices, not raw lineitems."""
    li = load_table(spark, sf_dir, "lineitem")
    pp = li.groupBy(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("price_cents"),
    ).agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("w"))
    c = pp.withColumn(
        "cum",
        F.sum("w")
        .over(Window.partitionBy("l_returnflag").orderBy("price_cents"))
        .cast("long"),
    ).withColumn(
        "tot",
        F.sum("w").over(Window.partitionBy("l_returnflag")).cast("long"),
    )
    return (
        c.groupBy("l_returnflag")
        .agg(
            F.min(F.when(2 * F.col("cum") >= F.col("tot"), F.col("price_cents")))
            .cast("long")
            .alias("median_price_cents"),
            F.max("tot").cast("long").alias("total_qty"),
        )
        .orderBy("l_returnflag")
    )


def q_events_user_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order-statistic quantiles of per-user activity per event
    type: p50/p90/p99 of the per-user event-count distribution, each
    the value at rank ⌈q·n⌉ — pure integer rank selection (no
    interpolation, no float), the deterministic twin of
    percentile_approx profiling. The rank window runs on the
    (type, user) aggregate — user-bounded, not event-bounded."""
    e = load_table(spark, sf_dir, "events")
    per = e.groupBy("event_type", "user_id").agg(
        F.count("*").cast("long").alias("n")
    )
    r = per.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("n", "user_id")
        ),
    ).withColumn(
        "cnt",
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).cast("long"),
    )
    def at(q_num: int) -> F.Column:
        pos = F.expr(f"(cnt * {q_num} + 99) div 100")
        return F.max(F.when(F.col("rk") == pos, F.col("n"))).cast("long")
    return (
        r.groupBy("event_type")
        .agg(
            F.max("cnt").cast("long").alias("n_users"),
            at(50).alias("p50"),
            at(90).alias("p90"),
            at(99).alias("p99"),
        )
        .orderBy("event_type")
    )


def q_orders_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap profile per repeat customer: order count, gap
    count, total and mean days between consecutive orders — exact
    integer day sums with one final division. One ordered window per
    customer (key-partitioned) over the orders table; customers with
    a single order drop out (no gaps to profile)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap = F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).cast("long")
    return (
        o.select("o_custkey", gap.alias("gap"))
        .groupBy("o_custkey")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.count("gap").cast("long").alias("n_gaps"),
            F.sum("gap").cast("long").alias("sum_gap_days"),
        )
        .filter(F.col("n_orders") >= 2)
        .withColumn(
            "avg_gap_days",
            F.round(F.col("sum_gap_days") / F.col("n_gaps"), 4),
        )
        .orderBy("o_custkey")
    )


def q_docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-order novelty score per document: the fraction of its
    distinct trigram shingles whose FIRST corpus occurrence (minimum
    doc_id) is this document — near 1 for fresh content, near 0 for
    recombinations of earlier text. The curation signal between exact
    dedup (catches identity) and near-dup (catches high overlap):
    novelty degrades smoothly with template reuse. Shapes like the
    inverted index: one shingle-keyed aggregate (min doc_id per
    shingle — map-side combinable) joined back to the doc-shingle
    stream; no pair materialization at all."""
    from .operators.dedup import word_shingles

    d = load_table(spark, sf_dir, "documents")
    tri = d.select(
        "doc_id", F.explode(word_shingles("text", 3)).alias("s")
    ).localCheckpoint(eager=False)  # feeds first-occurrence agg + join back
    firsts = tri.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    return (
        tri.join(firsts, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_trigrams"),
            F.count_if(F.col("first_doc") == F.col("doc_id"))
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty", F.round(F.col("n_novel") / F.col("n_trigrams"), 6)
        )
        .orderBy("doc_id")
    )


BPE_BATCH_ROUNDS = 2
BPE_BATCH_SIZE = 3
BPE_BATCH_POOL = 12


def q_docs_bpe_merges_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BPE training (operators/bpe.learn_bpe_merges_batched):
    per round ONE bounded driver collect (top-12 pair counts) selects
    up to 3 mutually non-interacting merges — blocked-by-any-higher-
    rank rule, which is a pure anti-self-join so the oracle replays
    the selection relationally — and fuses them in one plan pass.
    This is the driver-sync amortization that makes a 30k-merge
    tokenizer build feasible (30k/B rounds, not 30k); batch_size=1
    reproduces the serial loop exactly (differential-tested)."""
    from .operators.bpe import learn_bpe_merges_batched

    d = load_table(spark, sf_dir, "documents")
    merges = learn_bpe_merges_batched(
        d,
        "text",
        BPE_BATCH_ROUNDS,
        batch_size=BPE_BATCH_SIZE,
        pool=BPE_BATCH_POOL,
    )
    return spark.createDataFrame(
        merges, "merge_round int, merge_pos int, pair string, pair_count long"
    ).orderBy("merge_round", "merge_pos")


def _bpe_batched_oracle(n_rounds: int, batch_size: int, pool: int) -> str:
    """Unrolled batched-BPE oracle: per round, pair counts → top-pool
    ranked candidates → the blocked-by-any-higher-rank anti-self-join
    → LIMIT batch_size, then the selected pairs fused sequentially in
    selection order (3-pass replace each, innermost = pos 1),
    mirroring learn_bpe_merges_batched exactly. A missing pos (round
    selected fewer than batch_size pairs) fuses via a never-occurring
    sentinel needle so the nested replace chain stays total."""
    parts = [
        r"""WITH wf AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
            FROM documents)
      WHERE regexp_full_match(w, '[a-z]+')
      GROUP BY w
    ), s0 AS MATERIALIZED (
      SELECT freq, ' ' || regexp_replace(w, '([a-z])', '\1 ', 'g') AS seq
      FROM wf
    )"""
    ]
    for r in range(n_rounds):
        parts.append(
            f""", p{r} AS (
      SELECT pair, CAST(sum(freq) AS BIGINT) AS c
      FROM (
        SELECT freq, sym[i] || ' ' || sym[i + 1] AS pair
        FROM (SELECT freq, sym, unnest(range(1, len(sym))) AS i
              FROM (SELECT freq, string_split(trim(seq), ' ') AS sym
                    FROM s{r})))
      GROUP BY pair
    ), pool{r} AS MATERIALIZED (
      SELECT pair, c, row_number() OVER (ORDER BY c DESC, pair) AS rk,
             string_split(pair, ' ')[1] AS l, string_split(pair, ' ')[2] AS rr,
             replace(pair, ' ', '') AS fs
      FROM p{r} ORDER BY c DESC, pair LIMIT {pool}
    ), t{r} AS MATERIALIZED (
      SELECT pair, c, row_number() OVER (ORDER BY rk) AS pos
      FROM pool{r} a
      WHERE NOT EXISTS (
        SELECT 1 FROM pool{r} b
        WHERE b.rk < a.rk
          AND (b.l IN (a.l, a.rr, a.fs) OR b.rr IN (a.l, a.rr, a.fs)
               OR b.fs IN (a.l, a.rr, a.fs)))
      ORDER BY rk LIMIT {batch_size}
    )"""
        )
        if r + 1 < n_rounds:
            fused = "seq"
            for k in range(1, batch_size + 1):
                p = (
                    f"coalesce(' ' || (SELECT pair FROM t{r} WHERE pos = {k})"
                    " || ' ', chr(1))"
                )
                f_ = (
                    f"coalesce(' ' || (SELECT replace(pair, ' ', '') FROM t{r}"
                    f" WHERE pos = {k}) || ' ', chr(1))"
                )
                for _ in range(3):
                    fused = f"replace({fused}, {p}, {f_})"
            parts.append(
                f""", s{r + 1} AS MATERIALIZED (
      SELECT freq, {fused} AS seq FROM s{r}
    )"""
            )
    sel = "\n    UNION ALL\n    ".join(
        f"SELECT {r} AS merge_round, CAST(pos AS INT) AS merge_pos, pair,"
        f" c AS pair_count FROM t{r}"
        for r in range(n_rounds)
    )
    parts.append(f"\n    {sel}\n    ORDER BY merge_round, merge_pos")
    return "".join(parts)


def _bpe_oracle(n_merges: int) -> str:
    """Unrolled n-round BPE oracle; each round = pair counts + arg-max
    + 3-pass replace fuse, mirroring operators/bpe.py exactly.
    Multiply-referenced CTEs are MATERIALIZED (memory: DuckDB inlines
    them exponentially otherwise)."""
    fuse = (
        "replace(replace(replace(seq, {p}, {f}), {p}, {f}), {p}, {f})".format(
            p="' ' || (SELECT pair FROM t{r}) || ' '",
            f="' ' || (SELECT replace(pair, ' ', '') FROM t{r}) || ' '",
        )
    )
    parts = [
        r"""WITH wf AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
            FROM documents)
      WHERE regexp_full_match(w, '[a-z]+')
      GROUP BY w
    ), s0 AS MATERIALIZED (
      SELECT freq, ' ' || regexp_replace(w, '([a-z])', '\1 ', 'g') AS seq
      FROM wf
    )"""
    ]
    for r in range(n_merges):
        parts.append(
            f""", p{r} AS (
      SELECT pair, CAST(sum(freq) AS BIGINT) AS c
      FROM (
        SELECT freq, sym[i] || ' ' || sym[i + 1] AS pair
        FROM (SELECT freq, sym, unnest(range(1, len(sym))) AS i
              FROM (SELECT freq, string_split(trim(seq), ' ') AS sym
                    FROM s{r})))
      GROUP BY pair
    ), t{r} AS MATERIALIZED (
      SELECT pair, c FROM p{r} ORDER BY c DESC, pair LIMIT 1
    )"""
        )
        if r + 1 < n_merges:
            parts.append(
                f""", s{r + 1} AS MATERIALIZED (
      SELECT freq, {fuse.format(r=r)} AS seq FROM s{r}
    )"""
            )
    sel = "\n    UNION ALL\n    ".join(
        f"SELECT {r} AS merge_round, pair, c AS pair_count FROM t{r}"
        for r in range(n_merges)
    )
    parts.append(f"\n    {sel}\n    ORDER BY merge_round")
    return "".join(parts)


# ---------------------------------------------------------------------------
# Round-7 batch: record linkage, time-weighted stats, seasonality
# profiles, joint histograms, interval backlog, tokenizer fertility,
# vocabulary growth, and batch debounce
# ---------------------------------------------------------------------------


def q_fuzzy_name_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage: near-duplicate part NAMES found by
    (first token, second-token initial) blocking + Levenshtein 1..3 —
    the classic record-linkage recipe (block to bound the candidate
    set, then edit-distance verify inside blocks). The self-join runs
    over DISTINCT names with their member counts, never over the fact
    rows, so output and compare work scale with |name vocabulary|² per
    block, not |parts|²; ``n_linked_pairs`` = n_a·n_b recovers the
    record-level pair count exactly. Complements name_edit_distance
    (bounded-sample all-pairs) with the production blocking shape."""
    p = load_table(spark, sf_dir, "part")
    names = (
        p.groupBy("p_name")
        .agg(F.count("*").cast("long").alias("n_parts"))
        .withColumn("__b1", F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)))
        .withColumn(
            "__b2",
            F.substring(F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)), 1, 1),
        )
    )
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_a"),
        "__b1",
        "__b2",
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_b"),
        F.col("__b1").alias("__c1"),
        F.col("__b2").alias("__c2"),
    )
    return (
        a.join(
            b,
            (F.col("__b1") == F.col("__c1"))
            & (F.col("__b2") == F.col("__c2"))
            & (F.col("name_a") < F.col("name_b")),
        )
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter((F.col("edit_dist") >= 1) & (F.col("edit_dist") <= 3))
        .select(
            "name_a",
            "name_b",
            "edit_dist",
            "n_a",
            "n_b",
            (F.col("n_a") * F.col("n_b")).cast("long").alias("n_linked_pairs"),
        )
        .orderBy("name_a", "name_b")
    )


def q_events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per (event_type, day) — the TWAP
    shape used for prices/gauges where plain AVG over-weights bursts.
    Each event's value holds until the next event of the type that day
    (the last one holds to midnight), so the weight is an exact
    whole-second duration; numerator Σ(cents·dur) and denominator
    Σ(dur) are exact integers and only the final division is float.
    One keyed lead() window, then a grouped aggregate."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.unix_timestamp("ts").cast("long").alias("__u"),
    )
    w = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    dur = (
        base.withColumn("__next_u", F.lead("__u").over(w))
        .withColumn(
            "__day_end",
            F.unix_timestamp(F.date_add(F.col("day"), 1).cast("timestamp")).cast(
                "long"
            ),
        )
        .withColumn("dur_s", F.coalesce("__next_u", "__day_end") - F.col("__u"))
    )
    return (
        dur.groupBy("event_type", "day")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("dur_s").cast("long").alias("total_dur_s"),
            F.sum(F.col("cents") * F.col("dur_s")).cast("long").alias("__wsum"),
        )
        .select(
            "event_type",
            "day",
            "n_events",
            "total_dur_s",
            F.round(
                F.col("__wsum").cast("double") / F.col("total_dur_s") / 100.0, 6
            ).alias("twap_value"),
        )
        .orderBy("event_type", "day")
    )


def q_orders_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per market segment: order count,
    exact cent revenue, the segment's weekday revenue share in integer
    basis points (rev·10⁴ div segment total — no float shares), and the
    mean order value. The fact join aggregates to |segments|×7 rows
    before the share window touches it; customer is broadcast.
    Complements orders_seasonal (monthly trend) on the weekly axis."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("segment"),
        F.dayofweek("o_orderdate").cast("long").alias("dow"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    g = base.groupBy("segment", "dow").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )
    return (
        g.withColumn(
            "seg_total",
            F.sum("revenue_cents").over(Window.partitionBy("segment")).cast("long"),
        )
        .withColumn(
            "share_bp", F.expr("revenue_cents * 10000L div seg_total").cast("long")
        )
        .withColumn(
            "avg_order_cents",
            F.round(F.col("revenue_cents").cast("double") / F.col("n_orders"), 6),
        )
        .select(
            "segment",
            "dow",
            "n_orders",
            "revenue_cents",
            "seg_total",
            "share_bp",
            "avg_order_cents",
        )
        .orderBy("segment", "dow")
    )


def q_docs_quality_joint_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint 2-D corpus histogram: character-length band × type-token-
    ratio band (TTR = distinct/total tokens, banded by the integer rule
    min(4, 5·types div tokens) — no float boundary to flake). The 2-D
    cell grid is what curation dashboards cut on ("short AND
    repetitive" is the junk cell; 1-D histograms hide the interaction).
    Fixed integer band edges keep it one pure groupBy — no global rank,
    fully distributed at any scale."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    base = d.select(
        "n_chars",
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_types"),
    ).filter(F.col("n_tok") > 0)
    banded = base.select(
        F.least(F.lit(9).cast("long"), F.expr("n_chars div 150L")).alias("len_band"),
        F.least(F.lit(4).cast("long"), F.expr("(n_types * 5L) div n_tok")).alias(
            "ttr_band"
        ),
        "n_chars",
        "n_tok",
    )
    return (
        banded.groupBy("len_band", "ttr_band")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.sum("n_chars").cast("double") / F.count("*"), 6).alias(
                "avg_chars"
            ),
            F.sum("n_tok").cast("long").alias("total_tokens"),
        )
        .orderBy("len_band", "ttr_band")
    )


def q_docs_lang_topk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-5 tokens by frequency (count desc, token asc —
    a total order, so ties are deterministic): the grouped wordcount
    every corpus audit starts from, via the shared top_k_per_group
    operator over the aggregated (lang, token) counts — the window
    never sees exploded fact rows."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select("lang", F.explode(tokens("text")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
    )
    return (
        top_k_per_group(
            counts,
            ["lang"],
            [F.desc("n_occurrences"), F.asc("token")],
            5,
            rank_col="rank",
        )
        .select("lang", F.col("rank").cast("long").alias("rank"), "token", "n_occurrences")
        .orderBy("lang", "rank")
    )


def q_orders_running_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog from interval endpoints: each order is
    open from its order date through its last ship date; explode to
    (+1 at start, −1 the day after close), aggregate per day, then one
    running prefix sum. The ordered window runs over the O(distinct
    days) aggregate — calendar-bounded regardless of fact size, the
    same shape as events concurrency (operators/intervals.py) on the
    orders star."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("start_day")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("close_day"))
    )
    iv = o.join(li, o["o_orderkey"] == li["l_orderkey"])
    deltas = iv.select(
        F.col("start_day").alias("day"), F.lit(1).alias("delta")
    ).unionByName(
        iv.select(F.date_add("close_day", 1).alias("day"), F.lit(-1).alias("delta"))
    )
    daily = deltas.groupBy("day").agg(
        F.sum("delta").cast("long").alias("net_change"),
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_opened"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.withColumn("n_open", F.sum("net_change").over(w).cast("long"))
        .select("day", "n_opened", "net_change", "n_open")
        .orderBy("day")
    )


def q_docs_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: sub-word (BPE-proxy) tokens
    per whitespace word, and characters per sub-word token — the two
    standard metrics for judging how well a tokenizer fits each
    language in a multilingual training corpus (fertility ≫ 1 means
    the tokenizer shreds that language into fragments, inflating
    training cost). Both numerator and denominator are exact integer
    corpus sums; only the two final ratios are float. Pure map + one
    grouped aggregate — no joins, no windows."""
    from .functions.text import bpe_ish_token_count

    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        "n_chars",
        bpe_ish_token_count("text").alias("n_bpe"),
        token_count("text").alias("n_ws"),
    ).filter(F.col("n_ws") > 0)
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_ws").cast("long").alias("ws_tokens"),
            F.sum("n_bpe").cast("long").alias("bpe_tokens"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .withColumn(
            "fertility",
            F.round(F.col("bpe_tokens").cast("double") / F.col("ws_tokens"), 6),
        )
        .withColumn(
            "chars_per_bpe",
            F.round(F.col("total_chars").cast("double") / F.col("bpe_tokens"), 6),
        )
        .orderBy("lang")
    )


def q_events_seasonal_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal anomaly profile: per (event_type, day-of-week, hour)
    cell, the event count, mean value, and how many events sit more
    than 3σ from their OWN cell's mean. The z² > 9 test is evaluated in
    exact integer moments — (n·x−S)² > 9(nQ−S²) with DECIMAL(38,0)
    sums — so the outlier count is engine-exact with no float σ, and
    zero-variance cells fall out naturally (0 > 0 is false; no guard
    needed on either side, the ADVICE-r5 zero-variance lesson applied
    by construction). Profile is broadcast back onto the facts."""
    e = load_table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    base = e.select(
        "event_type",
        F.dayofweek("ts").cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hour"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    prof = base.groupBy("event_type", "dow", "hour").agg(
        F.count("*").cast(dec).alias("__n"),
        F.sum(F.col("cents").cast(dec)).alias("__s"),
        F.sum(F.col("cents").cast(dec) * F.col("cents").cast(dec)).alias("__q"),
    )
    flagged = base.join(F.broadcast(prof), ["event_type", "dow", "hour"]).withColumn(
        "__dev", F.col("__n") * F.col("cents").cast(dec) - F.col("__s")
    )
    is_out = (F.col("__dev") * F.col("__dev")) > (
        F.lit(9).cast(dec) * (F.col("__n") * F.col("__q") - F.col("__s") * F.col("__s"))
    )
    return (
        flagged.groupBy("event_type", "dow", "hour")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("cents").cast("double") / F.count("*") / 100.0, 6).alias(
                "mean_value"
            ),
            F.sum(F.when(is_out, 1).otherwise(0)).cast("long").alias("n_outliers"),
        )
        .orderBy("event_type", "dow", "hour")
    )


def q_docs_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth curve: scanning the corpus in doc_id
    order in buckets of 50 docs, the cumulative token count, cumulative
    DISTINCT vocabulary (each type attributed to the bucket of its
    first appearance — min(bucket) per token, so no quadratic
    recount), and the running type-token ratio. All counts exact
    integers; the prefix-sum window runs over the O(buckets) aggregate.
    The curve is how training-data pipelines spot corpus saturation
    (new data stops adding vocabulary)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        F.expr("doc_id div 50L").alias("bucket"),
        F.explode(tokens("text")).alias("token"),
    )
    totals = tok.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_tokens")
    )
    news = (
        tok.groupBy("token")
        .agg(F.min("bucket").alias("first_bucket"))
        .groupBy("first_bucket")
        .agg(F.count("*").cast("long").alias("n_new_types"))
    )
    n_docs = d.groupBy(F.expr("doc_id div 50L").alias("bucket")).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    joined = (
        totals.join(news, totals["bucket"] == news["first_bucket"], "left")
        .select(
            totals["bucket"],
            "n_tokens",
            F.coalesce("n_new_types", F.lit(0)).cast("long").alias("n_new_types"),
        )
        .join(n_docs, "bucket")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        joined.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
        .withColumn("cum_vocab", F.sum("n_new_types").over(w).cast("long"))
        .withColumn(
            "ttr", F.round(F.col("cum_vocab").cast("double") / F.col("cum_tokens"), 6)
        )
        .select(
            "bucket",
            "n_docs",
            "n_tokens",
            "n_new_types",
            "cum_tokens",
            "cum_vocab",
            "ttr",
        )
        .orderBy("bucket")
    )


def q_events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch debounce (operators/debounce.py): per (user, event_type)
    keep an event only if ≥24 h have passed since the previously KEPT
    event — the rate-limit/notification-throttle semantics a lag()
    filter cannot express (its anchor must be the last survivor, a
    sequential per-key fold). Runs as one shuffle on the key into
    per-key sorted arrays, folded by a JVM-side F.aggregate — no
    Python in the plan (the applyInPandas formulation paid per-group
    Arrow overhead: 32.9 s vs 1.9 s warm at sf0.1); the oracle replays
    the identical fold as a DuckDB recursive CTE advancing one row per
    key per step."""
    from .operators.debounce import debounce

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    kept = debounce(
        e, ["user_id", "event_type"], "ts", ["ts", "event_id"], min_gap_s=86400
    )
    return kept.select("event_id", "user_id", "event_type", "ts").orderBy("event_id")


# ---------------------------------------------------------------------------
# Round-7 batch: sketch registry entries, survival/ACF/seasonal series
# analytics, PMI collocations, Zipf fit, interval coverage, corpus JSD
# ---------------------------------------------------------------------------


def q_lineitem_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable bottom-k quantile sketch (operators/quantile_sketch)
    validated against its own rank-error guarantee in one query:
    sketch l_extendedprice cents at k=2048, extract five quantile
    estimates, measure each estimate's TRUE rank over the full table,
    and compare |rank − q| with the 5-sigma bound rank_error_bound(k,
    q). xxhash64 sampling is seeded, so every column is deterministic
    and within_bound must read true — the query validates itself,
    which is what makes a rows-only registry entry (DuckDB has no
    Spark-compatible xxhash64) trustworthy. Scale: the build is
    TakeOrderedAndProject (per-partition partial bottom-k; only k rows
    move), the rank probe is one broadcast join + a map-side-
    combinable aggregate — the full-scan probe is the TEST harness,
    not the serving path (production reads quantiles from the k-row
    sketch alone)."""
    from .operators.quantile_sketch import (
        quantile_sketch,
        rank_error_bound,
        sketch_quantiles,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    probs = [0.25, 0.5, 0.75, 0.9, 0.99]
    sk = quantile_sketch(li, "cents", ["l_orderkey", "l_linenumber"], k=2048)
    est = sketch_quantiles(sk, probs)
    bounds = spark.createDataFrame(
        [(float(p), float(rank_error_bound(2048, p))) for p in probs],
        "prob double, err_bound double",
    )
    probe = (
        li.crossJoin(F.broadcast(est))
        .groupBy("prob", "est")
        .agg(
            F.sum(F.when(F.col("cents") <= F.col("est"), 1).otherwise(0))
            .cast("long")
            .alias("n_le"),
            F.count("*").cast("long").alias("n_total"),
        )
    )
    return (
        probe.join(F.broadcast(bounds), "prob")
        .select(
            "prob",
            "est",
            "n_le",
            "n_total",
            F.round(
                F.abs(F.col("n_le") / F.col("n_total") - F.col("prob")), 6
            ).alias("rank_err"),
            F.round("err_bound", 6).alias("err_bound"),
            (
                F.abs(F.col("n_le") / F.col("n_total") - F.col("prob"))
                <= F.col("err_bound")
            ).alias("within_bound"),
        )
        .orderBy("prob")
    )


def q_lineitem_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry-visible semilattice proof for the grouped quantile
    sketch: shard lineitem by orderkey parity, build one per-
    returnflag sketch per shard, merge them, and compare ROW FOR ROW
    against the sketch built over the unsharded table. merge(sketch(A),
    sketch(B)) == sketch(A ∪ B) exactly is the property that lets a
    100 TB build run per-file/per-day with no coordination and lets
    the streaming twin replay batches with no transactional machinery
    — so n_only_direct / n_only_merged must both read 0 and the two
    median estimates must be equal, deterministically (seeded
    xxhash64; rows-only because DuckDB can't replay that hash).
    One-scan shard build since r14 (guide §6): the two per-parity
    sketches come from ONE finer-keyed sketch pass — the per-(flag,
    parity) bottom-k IS the per-flag bottom-k of each parity subset
    (pinned in tests/test_quantile_sketch.py::
    test_finer_key_sketch_equals_filtered_builds) — so lineitem is
    scanned twice (direct + sharded), not three times, and the
    independent-shard merge demonstration is unchanged."""
    from .operators.quantile_sketch import (
        grouped_quantile_sketch,
        grouped_sketch_quantiles,
        merge_grouped_quantile_sketches,
    )

    k = 512
    ids = ["l_orderkey", "l_linenumber"]
    li = load_table(spark, sf_dir, "lineitem").select(
        *ids,
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    direct = grouped_quantile_sketch(
        li, "cents", ids, ["l_returnflag"], k=k
    ).localCheckpoint(eager=False)
    sharded = grouped_quantile_sketch(
        li.withColumn("__par", F.col("l_orderkey") % 2),
        "cents",
        ids,
        ["l_returnflag", "__par"],
        k=k,
    ).localCheckpoint(eager=False)  # ≤ flags·2·k rows; feeds both shards
    merged = merge_grouped_quantile_sketches(
        [
            sharded.filter(F.col("__par") == i).drop("__par")
            for i in (0, 1)
        ],
        ["l_returnflag"],
        k=k,
    ).localCheckpoint(eager=False)
    cols = direct.columns
    only_d = (
        direct.join(merged, cols, "left_anti")
        .groupBy("l_returnflag")
        .agg(F.count("*").cast("long").alias("n_only_direct"))
    )
    only_m = (
        merged.join(direct, cols, "left_anti")
        .groupBy("l_returnflag")
        .agg(F.count("*").cast("long").alias("n_only_merged"))
    )
    base = direct.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n_sketch_rows")
    )
    med_d = grouped_sketch_quantiles(direct, ["l_returnflag"], [0.5]).select(
        "l_returnflag", F.col("est").alias("p50_direct")
    )
    med_m = grouped_sketch_quantiles(merged, ["l_returnflag"], [0.5]).select(
        "l_returnflag", F.col("est").alias("p50_merged")
    )
    return (
        base.join(only_d, "l_returnflag", "left")
        .join(only_m, "l_returnflag", "left")
        .join(med_d, "l_returnflag")
        .join(med_m, "l_returnflag")
        .select(
            "l_returnflag",
            "n_sketch_rows",
            F.coalesce("n_only_direct", F.lit(0)).cast("long").alias("n_only_direct"),
            F.coalesce("n_only_merged", F.lit(0)).cast("long").alias("n_only_merged"),
            "p50_direct",
            "p50_merged",
            (F.col("p50_direct") == F.col("p50_merged")).alias("medians_equal"),
        )
        .orderBy("l_returnflag")
    )


def q_events_weekly_users_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored-sketch re-aggregation (operators/distinct_sketch): per-DAY
    HLL sketches of active users are unioned up to calendar weeks —
    the raw events are scanned once to build 4 KB day sketches, and
    the weekly numbers come from re-aggregating THOSE, which is how a
    100 TB warehouse serves "weekly uniques" (or any coarser rollup
    decided later) without ever re-scanning history. The exact
    per-week countDistinct rides alongside with the relative error
    (lg_k=12 → ~1.6% RSE; DataSketches HLL is deterministic for a
    given input set, so the estimates are stable — rows-only because
    DuckDB's HLL is a different implementation)."""
    from .operators.distinct_sketch import (
        distinct_sketch,
        merge_distinct_sketches,
        sketch_estimates,
    )

    e = load_table(spark, sf_dir, "events").select(
        F.to_date(F.date_trunc("week", "ts")).alias("week"),
        F.to_date("ts").alias("day"),
        "user_id",
    )
    day_sk = distinct_sketch(e, ["week", "day"], "user_id", lg_k=12)
    week_sk = merge_distinct_sketches([day_sk.drop("day")])
    exact = e.groupBy("week").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    return (
        sketch_estimates(week_sk)
        .join(exact, "week")
        .select(
            "week",
            F.col("distinct_est").alias("est_users"),
            "exact_users",
            F.round(
                F.abs(F.col("distinct_est") - F.col("exact_users"))
                / F.col("exact_users")
                * 100.0,
                2,
            ).alias("rel_err_pct"),
        )
        .orderBy("week")
    )


def q_orders_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier customer-lifetime curve (operators/stats.
    km_survival): duration = days between a customer's first and last
    order; a customer whose last order precedes the dataset's end by
    more than 90 days is an observed churn event, later ones are
    right-censored. The oracle replays the cumulative survival product
    as the SAME ordered fold (DuckDB list() window + list_reduce), so
    both engines multiply identical doubles in identical order —
    bit-identical S(t) with no transcendental tricks."""
    from .operators.stats import km_survival

    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("gmax"))
    per_c = (
        o.groupBy("o_custkey")
        .agg(
            F.min("o_orderdate").alias("first_d"),
            F.max("o_orderdate").alias("last_d"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            F.datediff("last_d", "first_d").cast("long").alias("duration_days"),
            (F.datediff("gmax", "last_d") > 90).cast("long").alias("churned"),
        )
    )
    return km_survival(per_c, "duration_days", "churned")


def q_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily revenue series at lags 1..7 from
    EXACT integer moments: with S = Σx over n days, the n-scaled
    deviation D_t = n·x_t − S is an exact integer, so the numerator
    Σ D_t·D_{t−k} and denominator Σ D_t² accumulate exactly in
    DECIMAL(38,0) under any partitioning; each acf value is ONE double
    division at the end. Lag pairing is a calendar self-join on the
    O(days) daily aggregate (broadcast — calendar-bounded, never
    data-bounded, so the nested-loop inequality join is ~days² tiny)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("n"), F.sum("x").cast("long").alias("s")
    )
    dev = (
        daily.crossJoin(F.broadcast(tot))
        .select(
            "d",
            (F.col("n").cast("decimal(38,0)") * F.col("x") - F.col("s"))
            .cast("decimal(38,0)")
            .alias("dev"),
        )
        .localCheckpoint(eager=False)  # referenced three times below
    )
    den = dev.agg(
        F.sum(F.col("dev") * F.col("dev")).cast("decimal(38,0)").alias("den")
    )
    a, b = dev.alias("a"), dev.alias("b")
    lag = F.datediff(F.col("a.d"), F.col("b.d"))
    pairs = a.join(F.broadcast(b), (lag >= 1) & (lag <= 7)).select(
        lag.cast("long").alias("lag"),
        (F.col("a.dev") * F.col("b.dev")).alias("prod"),
    )
    return (
        pairs.groupBy("lag")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("prod").cast("decimal(38,0)").alias("num"),
        )
        .crossJoin(F.broadcast(den))
        .select(
            "lag",
            "n_pairs",
            F.round(
                F.col("num").cast("double") / F.col("den").cast("double"), 6
            ).alias("acf"),
        )
        .orderBy("lag")
    )


def q_docs_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 bigram collocations by PMI with a min-count floor. PMI =
    ln(p(xy) / (p(x)·p(y))) is MONOTONE in the integer ratio
    c_xy·N² / (M·c_x·c_y), so the ranking needs no transcendental at
    all: the score is that exact-integer ratio evaluated in one double
    division (identical integer operands → identical double in every
    engine) and ln never enters. Counts aggregate map-side; the
    unigram lookups broadcast (vocab ≪ corpus); the global top-50 is
    TakeOrdered under a (score desc, w1, w2) total order."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    )
    uni = (
        d.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)  # feeds c1, c2 and the N total
    )
    nn = uni.agg(F.sum("c").cast("long").alias("n_uni"))
    big = (
        d.filter(F.size("tk") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk)-1),"
                    " i -> struct(element_at(tk, i) as w1,"
                    " element_at(tk, i+1) as w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .localCheckpoint(eager=False)  # feeds the pair counts and M
    )
    mm = big.agg(F.count("*").cast("long").alias("m_big"))
    bgc = (
        big.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= 5)
    )
    c1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("n_w1"))
    c2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("n_w2"))
    scored = (
        bgc.join(F.broadcast(c1), "w1")
        .join(F.broadcast(c2), "w2")
        .crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(mm))
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_w1",
            "n_w2",
            (
                (
                    F.col("n_pair").cast("decimal(38,0)")
                    * F.col("n_uni")
                    * F.col("n_uni")
                ).cast("double")
                / (
                    F.col("m_big").cast("decimal(38,0)")
                    * F.col("n_w1")
                    * F.col("n_w2")
                ).cast("double")
            ).alias("__score"),
        )
    )
    top = scored.orderBy(F.col("__score").desc(), "w1", "w2").limit(50)
    w = Window.orderBy(F.col("__score").desc(), "w1", "w2")
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select(
            "rank",
            "w1",
            "w2",
            "n_pair",
            "n_w1",
            "n_w2",
            F.round("__score", 6).alias("pmi_ratio"),
        )
        .orderBy("rank")
    )


def q_docs_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top-1000 token types: OLS of ln(count)
    on ln(rank). Per-row ln is engine-identical (same libm double —
    the docs_char_entropy precedent); each ln is rounded at 1e-6 and
    SCALED TO INTEGER micro-units so every moment sum is an exact
    integer (a raw double Σ is partition-order-dependent), and slope /
    intercept / r² are closed-form double expressions of those
    integers, written with the identical operation sequence in the
    oracle. The top-1000 cut is TakeOrdered under a (count desc,
    token) total order — never a full vocab sort."""
    d = load_table(spark, sf_dir, "documents").select(tokens("text").alias("tk"))
    uni = (
        d.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    top = uni.orderBy(F.col("c").desc(), "w").limit(1000)
    w = Window.orderBy(F.col("c").desc(), "w")
    xy = top.select(
        F.round(F.log(F.row_number().over(w).cast("double")) * 1e6)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("c").cast("double")) * 1e6).cast("long").alias("y"),
    )
    m = xy.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    # Degenerate-corpus guards (ANSI): a single token type makes denx
    # 0; all-equal top counts make deny 0 — NULL out, never divide.
    slope = F.when(denx != F.lit(0.0), num / denx)
    return m.select(
        F.col("n").cast("long").alias("n_types"),
        F.round(slope, 6).alias("slope"),
        F.round(
            F.when(
                (denx != F.lit(0.0)) & (F.col("n") > 0),
                (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
                / F.col("n").cast("double")
                / F.lit(1000000.0),
            ),
            6,
        ).alias("intercept"),
        F.round(
            F.when(
                (denx != F.lit(0.0)) & (deny != F.lit(0.0)), slope * (num / deny)
            ),
            6,
        ).alias("r2"),
    )


def q_events_user_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user active-time coverage (operators/intervals.
    interval_coverage): each event opens a 30-minute activity window;
    overlapping windows must count once, so the union length is
    computed with the running-max-of-end merge — one ordered window +
    one aggregate, zero self-joins, exact integer seconds. The merged-
    interval count rides along (a session count under a fixed
    horizon)."""
    from .operators.intervals import interval_coverage

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_timestamp("ts").cast("long").alias("u")
    )
    return (
        interval_coverage(e, "user_id", F.col("u"), 1800, ["event_id"])
        .select(
            "user_id",
            F.col("n_rows").alias("n_events"),
            "n_intervals",
            "covered_s",
        )
        .orderBy("user_id")
    )


def q_orders_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical moving-average seasonal decomposition of daily
    revenue, exact to the last integer: the trend is the CENTERED
    7-row moving SUM (kept ×7 — no division), the residual
    residual_x7 = 7·x − trend_x7 is an exact integer, and the
    day-of-week seasonal component is the exact rational mean of those
    residuals, divided once at presentation. Edge rows without a full
    7-row window are excluded by the same count(*)-over-frame guard in
    both engines. The ordered window runs on the one-row-per-day
    aggregate — calendar-bounded, so its single partition is safe by
    construction (same argument as the KM and sketch extractors)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    res = daily.select(
        "d",
        "x",
        F.when(
            F.count("*").over(w7) == 7,
            F.lit(7) * F.col("x") - F.sum("x").over(w7),
        )
        .cast("long")
        .alias("res_x7"),
    )
    return (
        res.groupBy(F.dayofweek("d").cast("long").alias("dow"))
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum(F.when(F.col("res_x7").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_days_full"),
            F.sum("x").cast("long").alias("revenue_cents"),
            F.sum("res_x7").cast("long").alias("res_x7_sum"),
        )
        .select(
            "dow",
            "n_days",
            "n_days_full",
            "revenue_cents",
            "res_x7_sum",
            F.round(
                # ANSI guard: a span under ~10 days leaves a dow group
                # with no full 7-row window — NULL, never divide by 0
                F.when(
                    F.col("n_days_full") > 0,
                    F.col("res_x7_sum").cast("double")
                    / (F.lit(7.0) * F.col("n_days_full")),
                ),
                4,
            ).alias("seasonal_cents"),
            F.round(
                F.col("revenue_cents").cast("double") / F.col("n_days"), 4
            ).alias("mean_daily_cents"),
        )
        .orderBy("dow")
    )


def q_docs_source_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the token
    distributions of document SOURCES — the standard corpus-drift /
    mixture-monitoring measure for training-data pipelines (symmetric,
    bounded [0,1] in bits). Per-token terms are double expressions
    (per-row libm ln — identical cross-engine, the entropy precedent),
    rounded at 1e-9 and integer-summed so the Σ over the vocabulary is
    order-free; ln(2) enters as the same literal on both sides. The
    source-pair fan-out is |sources|² (tiny, broadcast); token counts
    aggregate map-side before any join."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", tokens("text").alias("tk")
    )
    cnt = (
        d.select("source", F.explode("tk").alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)  # reused for totals + both sides
    )
    totals = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("n_tok"))
    pa = totals.select(
        F.col("source").alias("source_a"), F.col("n_tok").alias("n_a")
    )
    pb = totals.select(
        F.col("source").alias("source_b"), F.col("n_tok").alias("n_b")
    )
    pairs = pa.crossJoin(pb).filter(F.col("source_a") < F.col("source_b"))
    # per-pair token union, NOT global-vocab x pairs: each (source, w)
    # count row fans out only to the pairs its source belongs to, so a
    # pair's rows are exactly |V_a ∪ V_b| after the distinct — tokens
    # in neither source are never materialized
    toks = (
        cnt.join(
            F.broadcast(pairs),
            (F.col("source") == F.col("source_a"))
            | (F.col("source") == F.col("source_b")),
        )
        .select("source_a", "source_b", "n_a", "n_b", "w")
        .distinct()
    )
    ca = cnt.select(
        F.col("source").alias("source_a"), "w", F.col("c").alias("ca")
    )
    cb = cnt.select(
        F.col("source").alias("source_b"), "w", F.col("c").alias("cb")
    )
    j = (
        toks.join(ca, ["source_a", "w"], "left")
        .join(cb, ["source_b", "w"], "left")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            F.coalesce("ca", F.lit(0)).cast("long").alias("ca"),
            F.coalesce("cb", F.lit(0)).cast("long").alias("cb"),
        )
    )
    p = F.col("ca").cast("double") / F.col("n_a").cast("double")
    q = F.col("cb").cast("double") / F.col("n_b").cast("double")
    mid = (p + q) / F.lit(2.0)
    term = F.when(F.col("ca") > 0, p * F.log(p / mid)).otherwise(
        F.lit(0.0)
    ) * F.lit(0.5) + F.when(F.col("cb") > 0, q * F.log(q / mid)).otherwise(
        F.lit(0.0)
    ) * F.lit(0.5)
    return (
        j.select(
            "source_a",
            "source_b",
            F.round(term * F.lit(1000000000.0)).cast("long").alias("t_nano"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("long").alias("n_types_union"),
            F.sum("t_nano").cast("long").alias("__s"),
        )
        .select(
            "source_a",
            "source_b",
            "n_types_union",
            F.round(
                F.col("__s").cast("double")
                / F.lit(1000000000.0)
                / F.lit(0.6931471805599453),
                6,
            ).alias("jsd_bits"),
        )
        .orderBy("source_a", "source_b")
    )


def q_revenue_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of daily revenue at lags 1..7
    (operators/stats.pacf_from_acf): Durbin-Levinson on the EXACT
    hash-matched ACF values of ``revenue_acf``. The recursion input is
    max_lag rows — a bounded driver-side collect (the BPE-winner
    budget class) — and the oracle is the machine-generated unrolled
    recursion (stats.pacf_unrolled_sql over the registered ACF
    oracle), replaying every float op in the identical order, so both
    engines are bit-equal (pinned in tests/test_cdc_stats.py)."""
    from .operators.stats import pacf_from_acf

    return pacf_from_acf(q_revenue_acf(spark, sf_dir), max_lag=7)


def q_revenue_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double exponential) smoothing of daily revenue
    cents (operators/stats.holt_linear), dyadic α=1/2 β=1/4 — exact
    binary fractions, so no engine can disagree on the coefficients.
    The level/trend recursion folds the calendar-bounded daily
    aggregate in day order as one JVM ``aggregate``; the oracle
    replays the identical steps with a RECURSIVE CTE (the
    events_debounce pattern — NOT list_reduce, whose struct
    accumulators DuckDB 1.0.0 mis-folds; shape pinned in
    tests/test_cdc_stats.py)."""
    from .operators.stats import holt_linear

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    return holt_linear(daily, "d", "x", horizons=(1, 7, 30))


def q_revenue_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on daily revenue around its median
    (operators/stats.runs_test): is the day-to-day series random or
    trending/mean-reverting? Everything up to the final z is exact
    integer work — the median is the lower order statistic at rank
    ceil(n/2) (no interpolation), runs come from one lag over the
    O(days) aggregate, and the moments are closed-form doubles of the
    counts written in the identical operation order in the oracle."""
    from .operators.stats import runs_test

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    return runs_test(daily, "d", "x")


def q_orders_breakpoint_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-segment changepoint fit over daily revenue cents
    (operators/stats.segmented_trend): ONE ordered window accumulates
    exact DECIMAL(38,0) prefix moments, every candidate breakpoint's
    two SSEs are closed-form doubles of the prefix row + broadcast
    totals (suffix = total − prefix), and the argmin is a (sse, k)
    total order — n candidates for one projection, not n regressions.
    The oracle replays the identical integer moments (HUGEINT) and the
    identical double expression sequence, so the selected breakpoint
    and both slopes match bit-for-bit."""
    from .operators.stats import segmented_trend

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    return segmented_trend(daily, "d", "x", min_seg=3)


def q_segment_churn_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment Kaplan-Meier churn curves (operators/stats.
    km_survival_grouped): the orders_survival_km construction joined
    to customer segments, with every window partitioned by segment so
    no task holds more than one segment's duration-bounded aggregate.
    The oracle replays the per-group cumulative product as the same
    ordered fold (DuckDB list() window + list_reduce, scalar double
    accumulator — safe), bit-identical per group."""
    from .operators.stats import km_survival_grouped

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    mx = o.agg(F.max("o_orderdate").alias("gmax"))
    per_c = (
        o.groupBy("o_custkey")
        .agg(
            F.min("o_orderdate").alias("first_d"),
            F.max("o_orderdate").alias("last_d"),
        )
        .crossJoin(F.broadcast(mx))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_mktsegment",
            F.datediff("last_d", "first_d").cast("long").alias("duration_days"),
            (F.datediff("gmax", "last_d") > 90).cast("long").alias("churned"),
        )
    )
    return km_survival_grouped(
        per_c, ["c_mktsegment"], "duration_days", "churned"
    )


def q_docs_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-25 RAKE keywords (operators/keywords.rake_keywords):
    candidate phrases are maximal stopword-free token runs (the
    run-splitting is one posexplode + per-document ordered window,
    bounded by document length); word degree/freq are exact integer
    aggregates; each phrase score folds its member-word scores in
    phrase order. The oracle replays the identical run-split (sum of
    stopword flags over a per-doc pos window — doc_id is unique in
    documents, so the per-row isolation the operator gets from
    monotonically_increasing_id holds for the SQL partition too), the
    same long/long word divisions, and the same ordered fold
    (list_reduce over scalar doubles; 0.0-init vs first-element-init
    identical in IEEE)."""
    from .operators.keywords import rake_keywords

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return rake_keywords(d, "doc_id", "text", max_phrase_len=4, top_k=25)


def q_docs_branching_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left/right branching entropy of the 25 most frequent tokens —
    the segmentation/collocation signal (a token whose right-context
    distribution has LOW entropy glues to what follows; high entropy
    marks a word boundary). Bigram and unigram counts aggregate
    map-side; the top-25 cut is TakeOrdered under a (count desc,
    token) total order; each context term p·ln(p) is one double
    expression of exact integer counts (per-row libm ln — the entropy
    precedent), rounded at 1e-9 and integer-summed so the Σ over
    context types is order-free; ln(2) enters as the same literal on
    both sides. Only bigrams whose endpoint is a top-25 token survive
    the broadcast semi-join — the vocab-scale bigram table is never
    shuffled whole."""
    d = load_table(spark, sf_dir, "documents").select(tokens("text").alias("tk"))
    uni = (
        d.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c_uni"))
    )
    top = uni.orderBy(F.col("c_uni").desc(), "w").limit(25)
    big = (
        d.filter(F.size("tk") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk)-1),"
                    " i -> struct(element_at(tk, i) as w1,"
                    " element_at(tk, i+1) as w2))"
                )
            ).alias("bg")
        )
        .groupBy("bg.w1", "bg.w2")
        .agg(F.count("*").cast("long").alias("n_pair"))
        .localCheckpoint(eager=False)  # feeds the right AND left sides
    )
    ln2 = F.lit(0.6931471805599453)
    nano = F.lit(1000000000.0)

    def side(key: str, out_n: str, out_h: str) -> DataFrame:
        b = big.join(
            F.broadcast(top.select(F.col("w").alias(key))), key
        )
        tot = b.groupBy(key).agg(F.sum("n_pair").cast("long").alias("__t"))
        p = F.col("n_pair").cast("double") / F.col("__t").cast("double")
        return (
            b.join(F.broadcast(tot), key)
            .select(
                F.col(key).alias("w"),
                F.round(p * F.log(p) * nano).cast("long").alias("__tn"),
            )
            .groupBy("w")
            .agg(
                F.count("*").cast("long").alias(out_n),
                F.sum("__tn").cast("long").alias("__s"),
            )
            .select(
                "w",
                out_n,
                F.round(-F.col("__s").cast("double") / nano / ln2, 6).alias(
                    out_h
                ),
            )
        )

    right = side("w1", "n_right", "right_entropy_bits")
    left = side("w2", "n_left", "left_entropy_bits")
    w_rank = Window.orderBy(F.col("c_uni").desc(), "w")
    return (
        top.join(right, "w", "left")
        .join(left, "w", "left")
        .select(
            F.row_number().over(w_rank).cast("long").alias("rank"),
            F.col("w").alias("token"),
            "c_uni",
            F.coalesce("n_right", F.lit(0)).cast("long").alias("n_right"),
            "right_entropy_bits",
            F.coalesce("n_left", F.lit(0)).cast("long").alias("n_left"),
            "left_entropy_bits",
        )
        .orderBy("rank")
    )


def q_events_value_quantiles_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type quantiles from the GROUPED mergeable sketch
    (operators/quantile_sketch.grouped_quantile_sketch), validated
    in-query against the per-group rank-error guarantee: sketch value
    cents at k=512 per type, extract p25/p50/p90 per group, measure
    each estimate's true rank within its group over the full table,
    and compare |rank − q| with rank_error_bound(512, q). Seeded
    xxhash64 sampling → deterministic; within_bound must read true —
    the self-validating rows-only pattern (DuckDB has no
    Spark-compatible xxhash64). The build is one per-group window over
    a single scan; the probe is one broadcast join + map-side
    aggregate (test harness, not the serving path)."""
    from .operators.quantile_sketch import (
        grouped_quantile_sketch,
        grouped_sketch_quantiles,
        rank_error_bound,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    probs = [0.25, 0.5, 0.9]
    sk = grouped_quantile_sketch(
        e, "cents", ["event_id"], ["event_type"], k=512
    )
    est = grouped_sketch_quantiles(sk, ["event_type"], probs)
    bounds = spark.createDataFrame(
        [(float(p), float(rank_error_bound(512, p))) for p in probs],
        "prob double, err_bound double",
    )
    probe = (
        e.join(F.broadcast(est), "event_type")
        .groupBy("event_type", "prob", "est")
        .agg(
            F.sum(F.when(F.col("cents") <= F.col("est"), 1).otherwise(0))
            .cast("long")
            .alias("n_le"),
            F.count("*").cast("long").alias("n_total"),
        )
    )
    return (
        probe.join(F.broadcast(bounds), "prob")
        .select(
            "event_type",
            "prob",
            "est",
            "n_le",
            "n_total",
            F.round(
                F.abs(F.col("n_le") / F.col("n_total") - F.col("prob")), 6
            ).alias("rank_err"),
            F.round("err_bound", 6).alias("err_bound"),
            (
                F.abs(F.col("n_le") / F.col("n_total") - F.col("prob"))
                <= F.col("err_bound")
            ).alias("within_bound"),
        )
        .orderBy("event_type", "prob")
    )


def q_events_type_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event types from STORED per-type HLL
    sketches (operators/distinct_sketch.sketch_intersection_estimates):
    |A∩B| ≈ est(A) + est(B) − est(A∪B) with the union the exact
    register-max hll_union — no raw data touched on the serving path.
    The exact per-pair intersection rides alongside (distinct users
    per type, one equi-join on user_id — bounded by |users|·|types|,
    types are a bounded dimension) with a tolerance check: inclusion-
    exclusion inherits the ABSOLUTE error of three lg_k=12 estimates
    (~1.6% RSE each), so within_tol tests |err| ≤ max(5% of the union,
    16). DataSketches HLL is deterministic for a given input set →
    stable rows; rows-only because DuckDB's HLL is a different
    implementation."""
    from .operators.distinct_sketch import (
        distinct_sketch,
        sketch_intersection_estimates,
    )

    e = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    sk = distinct_sketch(e, ["event_type"], "user_id", lg_k=12).localCheckpoint(
        eager=False
    )  # reused for both pair sides
    ta = sk.select(F.col("event_type").alias("type_a"), F.col("__hll"))
    tb = sk.select(F.col("event_type").alias("type_b"), F.col("__hll"))
    pairs = (
        ta.select("type_a")
        .crossJoin(tb.select("type_b"))
        .filter(F.col("type_a") < F.col("type_b"))
    )
    a_side = pairs.join(F.broadcast(ta), "type_a")
    b_side = pairs.join(F.broadcast(tb), "type_b")
    est = sketch_intersection_estimates(
        a_side.select("type_a", "type_b", "__hll"),
        # |types|² rows — broadcast so the pair join never shuffles
        F.broadcast(b_side.select("type_a", "type_b", "__hll")),
        ["type_a", "type_b"],
    )
    u = e.distinct()
    ua = u.select(F.col("event_type").alias("type_a"), "user_id")
    ub = u.select(F.col("event_type").alias("type_b"), "user_id")
    exact = (
        ua.join(ub, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("exact_intersection"))
    )
    err = F.abs(
        F.col("est_intersection")
        - F.coalesce(F.col("exact_intersection"), F.lit(0))
    )
    return (
        est.join(F.broadcast(exact), ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "est_a",
            "est_b",
            "est_union",
            "est_intersection",
            F.coalesce("exact_intersection", F.lit(0))
            .cast("long")
            .alias("exact_intersection"),
            err.cast("long").alias("abs_err"),
            (
                err
                <= F.greatest(
                    F.lit(0.05) * F.col("est_union").cast("double"), F.lit(16.0)
                )
            ).alias("within_tol"),
        )
        .orderBy("type_a", "type_b")
    )


def q_docs_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-25 TextRank keywords (operators/textrank.
    textrank_keywords): weighted PageRank over the word co-occurrence
    graph — per-document lead() windows build the edges (bounded by
    document length, no self-join), each of the 4 damped iterations is
    one node-sized join + one destination-key aggregate, and
    ``per_iteration_round=9`` re-snaps both engines to the 1e-9 grid
    every round so neighbor-sum order drift cannot accumulate (pinned
    cross-engine in tests/test_textrank.py). The oracle is the
    machine-generated unrolled iteration chain over the identical
    integer edge table."""
    from .operators.textrank import textrank_keywords

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return textrank_keywords(
        d,
        "doc_id",
        "text",
        window=2,
        iterations=4,
        per_iteration_round=9,
        top_k=25,
    )


def q_docs_textrank_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 TextRank keyphrases (operators/textrank.
    textrank_keyphrases): the full pipeline — rank words (same 4
    rounded iterations as ``docs_textrank_keywords``), keep the top-50
    under the (rounded score, token) total order, collapse ADJACENT
    top words in the original token stream into phrases (the RAKE
    run-split shape: pos minus rank-in-selection is constant exactly
    on consecutive stretches), score each phrase by folding its
    member-word ROUNDED scores in phrase order (identical words →
    identical fold bits, so grouping by the score is safe). The
    oracle replays run-split + fold with list_reduce over scalar
    doubles (the DuckDB-safe accumulator class)."""
    from .operators.textrank import textrank_keyphrases

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return textrank_keyphrases(
        d,
        "doc_id",
        "text",
        window=2,
        iterations=4,
        per_iteration_round=9,
        top_word_count=50,
        top_k=25,
    )


def q_orders_price_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the order-price distribution,
    early era (orderdate < 1998-01-01) as the reference vs the late
    era as current (operators/drift.psi): exact integer order-
    statistic edges built on the reference's DISTINCT-VALUE aggregate
    (never raw rows — plan-pinned), broadcast range-join bucketize,
    Laplace-smoothed integer shares, per-bucket terms rounded at 1e-9
    and integer-summed so the Σ is order-free. At 100 TB the same
    psi() accepts sketch-fed edges; this exact path is the
    oracle-checkable one (chain pinned cross-engine in
    tests/test_drift.py)."""
    from .operators.drift import psi

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    ref = o.filter(F.col("o_orderdate") < "1998-01-01").select("x")
    cur = o.filter(F.col("o_orderdate") >= "1998-01-01").select("x")
    return psi(ref, cur, "x", n_buckets=10)


def q_revenue_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter over daily revenue cents (operators/robust.
    hampel_outliers, half_window=3, n_mads=3): rolling median and MAD
    are the lower order statistics at plan-literal rank 4 of the
    sorted 7-day window — exact integer work end to end, so both
    engines agree bit-for-bit (pinned cross-engine in
    tests/test_robust.py). Rows without a full window (edges — and any
    window containing a NULL, gated on count(x)) report NULL; a flat
    window has mad = 0 so any deviation flags, the textbook
    behavior."""
    from .operators.robust import hampel_outliers

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    return hampel_outliers(daily, "d", "x", half_window=3, n_mads=3)


def q_events_user_overlap_setsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity overlap between event types from KMV bottom-k set
    sketches (operators/setsketch): the sketched item is the distinct
    (user_id, active-day) pair, so the per-type sets genuinely differ.
    k=512 rows per type is the ONLY state — union is the semilattice
    merge cut back to bottom-k, |A∪B| = (k−1)/u_k, |A∩B| = c/k·|A∪B|
    (the theta-sketch estimator; both EXACT whenever the merged set
    holds < k rows, e.g. at sf0.001). The exact answers ride alongside
    (one equi-join on the distinct aggregate) with tolerance checks:
    KMV RSE at k=512 ≈ 4.4%, so within_tol tests |err| ≤ max(12% of
    est_union, 16) ≈ 2.7σ — union_within_tol and
    intersection_within_tol must read true (the self-validating
    rows-only pattern; DuckDB has no Spark-compatible xxhash64).
    Measured at sf0.1: worst union err 5.5%, worst intersection err
    3.7% of union."""
    from .operators.setsketch import _H, set_sketch, set_sketch_overlap

    k = 512
    e = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", F.to_date("ts").alias("day")
    )
    sk = set_sketch(
        e, ["event_type"], ["user_id", "day"], k=k
    ).localCheckpoint(eager=False)  # reused for both pair sides
    ta = sk.select(F.col("event_type").alias("type_a"), _H)
    tb = sk.select(F.col("event_type").alias("type_b"), _H)
    pairs = (
        ta.select("type_a")
        .distinct()
        .crossJoin(tb.select("type_b").distinct())
        .filter(F.col("type_a") < F.col("type_b"))
    )
    # |types|²-bounded pair table; each side broadcast so the k-row
    # sketches never shuffle
    a_side = pairs.join(F.broadcast(ta), "type_a").select(
        "type_a", "type_b", _H
    )
    b_side = pairs.join(F.broadcast(tb), "type_b").select(
        "type_a", "type_b", _H
    )
    est = set_sketch_overlap(a_side, b_side, ["type_a", "type_b"], k=k)
    # the exact side reads the distinct (type, user, day) frame three
    # times (both self-join sides + the per-type counts) — pin it so
    # the events scan + distinct shuffle run once (r14, guide §5; the
    # frame is bounded by distinct activity triples, not fact rows)
    u = e.distinct().localCheckpoint(eager=False)
    ua = u.select(F.col("event_type").alias("type_a"), "user_id", "day")
    ub = u.select(F.col("event_type").alias("type_b"), "user_id", "day")
    exact_i = (
        ua.join(ub, ["user_id", "day"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("exact_intersection"))
    )
    cnt = u.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))
    tol = F.greatest(
        F.lit(0.12) * F.col("est_union").cast("double"), F.lit(16.0)
    )
    err_u = F.abs(F.col("est_union") - F.col("exact_union"))
    err_i = F.abs(F.col("est_intersection") - F.col("exact_intersection"))
    return (
        est.join(F.broadcast(exact_i), ["type_a", "type_b"], "left")
        .join(
            F.broadcast(
                cnt.select(
                    F.col("event_type").alias("type_a"),
                    F.col("n").alias("__na"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                cnt.select(
                    F.col("event_type").alias("type_b"),
                    F.col("n").alias("__nb"),
                )
            ),
            "type_b",
        )
        .withColumn(
            "exact_intersection",
            F.coalesce("exact_intersection", F.lit(0)).cast("long"),
        )
        .withColumn(
            "exact_union",
            (F.col("__na") + F.col("__nb") - F.col("exact_intersection"))
            .cast("long"),
        )
        .select(
            "type_a",
            "type_b",
            "n_union_kept",
            "est_union",
            "est_intersection",
            "jaccard_est",
            "exact_union",
            "exact_intersection",
            err_u.cast("long").alias("abs_err_union"),
            err_i.cast("long").alias("abs_err_intersection"),
            (err_u <= tol).alias("union_within_tol"),
            (err_i <= tol).alias("intersection_within_tol"),
        )
        .orderBy("type_a", "type_b")
    )


def q_segment_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment Holt linear smoothing of daily revenue cents
    (operators/stats.holt_linear_grouped, dyadic α=1/2 β=1/4): the
    ``revenue_holt`` recursion partitioned by segment — each group's
    calendar-bounded series folds under its own key (scale-probed:
    1.0× wall at 10× keys, SCALING.md). The oracle walks all segments
    in lockstep with one recursive CTE carrying (segment, rn) — the
    events_debounce pattern, never list_reduce struct accumulators."""
    from .operators.stats import holt_linear_grouped

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    daily = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", F.col("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("x")
        )
    )
    return holt_linear_grouped(
        daily, ["c_mktsegment"], "d", "x", horizons=(1, 7, 30)
    )


def q_events_type_breakpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type two-segment changepoint fit over daily value
    cents (operators/stats.segmented_trend_grouped): the
    ``orders_breakpoint_trend`` construction with every window
    partitioned by event type (scale-probed: 0.9× wall at 10× keys,
    SCALING.md) — one prefix-moment window pass per group, every
    candidate breakpoint one projection, argmin under the (sse, k)
    total order. Oracle = the pinned breakpoint SQL with PARTITION BY
    throughout and per-group argmin."""
    from .operators.stats import segmented_trend_grouped

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    return segmented_trend_grouped(
        daily, ["event_type"], "d", "x", min_seg=3
    )


def q_events_conversion_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel time-to-conversion as a Kaplan-Meier curve
    (operators/stats.km_survival): per user, duration = days from
    first signup to first subsequent purchase, right-censored at the
    corpus max timestamp when no purchase follows — S(t) is the
    fraction not yet converted by day t. Reuses the churn-KM operator
    verbatim with a new duration/censoring construction: two map-side
    min() aggregates, a broadcast scalar max-date (aggregate, not
    filter — always exactly one row), and the duration-bounded step
    fold."""
    from .operators.stats import km_survival

    e = load_table(spark, sf_dir, "events")
    su = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    pu = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts")
        .join(su, "user_id")
        .filter(F.col("ts") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    mx = e.agg(F.max("ts").alias("gmax"))
    per_u = (
        su.join(pu, "user_id", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            F.datediff(
                F.to_date(F.coalesce("tp", "gmax")), F.to_date("t0")
            )
            .cast("long")
            .alias("duration_days"),
            F.col("tp").isNotNull().cast("long").alias("converted"),
        )
    )
    return km_survival(per_u, "duration_days", "converted")


def _daily_revenue_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day order revenue in exact cents — the shared trend-battery
    input (the km_survival/holt contract: feed the per-period
    aggregate so every pairwise/window stage is calendar-bounded)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )


def q_revenue_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on daily revenue cents
    (operators/stats.mann_kendall): S is the exact integer sign sum
    over the calendar-bounded pairwise join (days², fixed at any fact
    volume), the tie-corrected variance numerator is one integer
    expression, and the continuity-corrected z is ONE double — both
    engines agree bit-for-bit (chain pinned cross-engine in
    tests/test_trend.py). Completes the randomness/trend battery:
    runs_test asks "is it random", this asks "is it monotone", Sen's
    slope (revenue_sen_trend) asks "how steep"."""
    from .operators.stats import mann_kendall

    return mann_kendall(_daily_revenue_cents(spark, sf_dir), "d", "x")


def q_orders_seasonal_mk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall (Hirsch-Slack) on daily revenue with
    day-of-week seasons (operators/stats.seasonal_mann_kendall): MK
    runs WITHIN each dow so the weekly cycle cannot masquerade as
    trend; S and Var(S) sum across seasons. The season key is
    days-since-epoch-Monday mod 7 via datediff arithmetic — Spark's
    dayofweek() is 1=Sunday..7 while DuckDB's is 0=Sunday..6, so the
    builtin is NOT cross-engine safe (the pinned trap,
    tests/test_trend.py)."""
    from .operators.stats import seasonal_mann_kendall

    daily = _daily_revenue_cents(spark, sf_dir)
    dowd = daily.withColumn(
        "dow",
        (F.datediff("d", F.lit("1970-01-05").cast("date")) % 7).cast(
            "long"
        ),
    )
    return seasonal_mann_kendall(dowd, "d", "x", "dow")


def q_revenue_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust slope of MONTHLY revenue cents
    (operators/stats.sen_slope): the median of all pairwise slopes
    over the rank-indexed series, immune to the outliers that wreck
    OLS. Monthly grain is the deliberate registry choice — the daily
    series' 2.9M-pair single-partition rank pass measured 4.3 s, while
    ~80 months is 3160 pairs (the grain IS the scale story: Sen is
    quadratic in periods, so you pick the period, not the row count).
    Both medians are LOWER order statistics of exact integer-ratio
    doubles — bit-equal across engines (pinned in
    tests/test_trend.py)."""
    from .operators.stats import sen_slope

    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.trunc(F.to_date("o_orderdate"), "month").alias("m")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    return sen_slope(monthly, "m", "x")


def q_revenue_ship_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation (±7-day lags) between daily ORDER revenue and
    daily SHIPPED revenue (operators/stats.cross_correlation) — "how
    long after ordering does revenue ship?": deviations are exact
    integers (n·x − Σx), lag products and both denominators accumulate
    exactly in DECIMAL(38,0) under any partitioning, each ccf is ONE
    double expression. The lag pairing is a broadcast calendar
    self-join on the per-day aggregate — days², never raw-row-scaled
    (chain pinned cross-engine in tests/test_trend.py)."""
    from .operators.stats import cross_correlation

    ox = _daily_revenue_cents(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    sy = li.groupBy(F.to_date("l_shipdate").alias("d")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    both = ox.join(sy, "d")
    return cross_correlation(both, "d", "x", "y", max_lag=7)


def q_events_type_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type PSI drift monitor (operators/drift.psi_grouped —
    ONE shared implementation with the global psi): events value cents
    split on day-of-month parity, 6 buckets per type. The group key
    threads through every stage — per-group exact order-statistic
    edges built on the DISTINCT-VALUE aggregate (plan-pinned, never
    raw rows), grouped bucketize join, per-group Laplace-smoothed
    shares, per-group 1e-9-rounded integer term sum. NULL keys raise
    (fail-loud, never silently vanish from the monitor). Chain pinned
    cross-engine in tests/test_drift.py."""
    from .operators.drift import psi_grouped

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.dayofmonth("ts").alias("dom"),
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    ref = e.filter(F.col("dom") % 2 == 0).select("event_type", "x")
    cur = e.filter(F.col("dom") % 2 == 1).select("event_type", "x")
    return psi_grouped(ref, cur, "x", ["event_type"], n_buckets=6)


def q_events_type_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Hampel filter over per-event-type daily value cents
    (operators/robust.hampel_outliers with group_cols): every rolling
    window partitions by the type, so one spiky type can't pollute
    another's median/MAD. Exact integer order statistics end to end
    (lower-median at plan-literal rank 4 of the sorted 7-day window);
    edge rows and NULL-containing windows report NULL via the count(x)
    fullness gate. Chain pinned cross-engine in tests/test_robust.py."""
    from .operators.robust import hampel_outliers

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    return hampel_outliers(
        daily, "d", "x", group_cols=["event_type"], half_window=3, n_mads=3
    )


def q_lineitem_ols2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature closed-form OLS — lineitem price cents on quantity
    and discount basis points (operators/stats.ols_fit2): nine exact
    integer moments in ONE map-side-combinable aggregate (the only
    shuffle carries one row), Cramer's rule on the centered 2×2
    system, b1/b2/intercept/r² each ONE double expression of exact
    integers. Collinearity guard is RELATIVE (|det| > 1e-12·A11·A22);
    chain pinned cross-engine in tests/test_trend.py."""
    from .operators.stats import ols_fit2

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_discount") * 10000).cast("long").alias("disc_bp"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    return ols_fit2(li, "q", "disc_bp", "cents")


def q_events_type_mk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Mann-Kendall — one trend verdict per event type over
    its daily value-cents series (operators/stats.mann_kendall with
    group_cols): the pairwise sign join adds the type equality, so
    each group's S/ties/z are computed in isolation; every group
    reports a row (a pairless group carries S = 0 and NULL z — the
    left-join fix from the r9 ADVICE). The per-group chain is the
    pinned global MK SQL with the key threaded through (the
    psi_grouped/hampel-grouped house pattern)."""
    from .operators.stats import mann_kendall

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    return mann_kendall(daily, "d", "x", group_cols=["event_type"])


def q_events_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the first-order event-type Markov chain — how
    predictable is the next step given the current one. Builds on the
    events_markov transition counts (same user-day lag window): per
    current-state entropy H(cur) = −Σ p·log₂p over its outgoing
    transition probabilities, stationary weight π(cur) = n_out/Σn_out
    (the empirical visit share), and rate = Σ π·H. Float sums are made
    ORDER-FREE by the psi trick: each p·log₂p term (and each π·H
    contribution) is rounded at 1e-9, cast to integer, and
    integer-summed — so the Σ is identical under any partitioning and
    across engines. One row per state with the global rate repeated
    (the psi single-pass-reader convention)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy(
        "ts", "event_id"
    )
    counts = (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("cur"), "next_type")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )
    totals = counts.groupBy("cur").agg(
        F.sum("n_pairs").cast("long").alias("n_out")
    )
    p = F.col("n_pairs").cast("double") / F.col("n_out").cast("double")
    terms = counts.join(totals, "cur").select(
        "cur",
        "n_out",
        F.round(p * F.log2(p) * F.lit(1000000000.0))
        .cast("long")
        .alias("__tn"),
    )
    hper = terms.groupBy("cur", "n_out").agg(
        (
            -(F.sum("__tn").cast("double") / F.lit(1000000000.0))
        ).alias("__h_raw")
    )
    gt = hper.agg(F.sum("n_out").cast("long").alias("__n_total"))
    pi = F.col("n_out").cast("double") / F.col("__n_total").cast("double")
    contrib = hper.crossJoin(F.broadcast(gt)).select(
        "cur",
        "n_out",
        "__h_raw",
        pi.alias("__pi_raw"),
        F.round(pi * F.col("__h_raw") * F.lit(1000000000.0))
        .cast("long")
        .alias("__cn"),
    )
    rate = contrib.agg(
        F.round(
            F.sum("__cn").cast("double") / F.lit(1000000000.0), 6
        ).alias("entropy_rate")
    )
    return (
        contrib.crossJoin(F.broadcast(rate))
        .select(
            "cur",
            "n_out",
            F.round("__pi_raw", 6).alias("pi"),
            F.round("__h_raw", 6).alias("h_bits"),
            "entropy_rate",
        )
        .orderBy("cur")
    )


def q_parts_freq_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-frequency estimates from a count-min sketch
    (operators/cms): depth=4 × width=4096 integer cells are the ONLY
    state (constant-size at any fact volume; the build is one
    map-side-combinable (d,w) groupBy), probed for the top-25 parts by
    exact lineitem count. Self-validating rows-only (DuckDB has no
    Spark-compatible xxhash64): est_ge_exact must ALWAYS read true
    (the deterministic CM guarantee — est ≥ true), and within_bound
    checks est ≤ exact + ceil(e/width·N), the w.p. ≥ 1−e⁻⁴ ceiling —
    verified true at sf0.001/0.01/0.1 (seeded hashes → the estimates
    are a fixed function of the data, not of the run)."""
    import math

    from .operators.cms import cms_build, cms_lookup

    depth, width = 4, 4096
    # pinned: the raw partkey stream feeds the sketch build AND the
    # exact counts (two full scans otherwise); N is re-derived from
    # the exact per-part counts (their sum IS the row count) instead
    # of a third raw aggregate — the same value from a frame that is
    # already distinct-part-sized
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey").localCheckpoint(
        eager=False
    )
    sketch = cms_build(li, ["l_partkey"], depth=depth, width=width)
    exact = li.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("exact")
    ).localCheckpoint(eager=False)
    top = exact.orderBy(
        F.col("exact").desc(), F.col("l_partkey").asc()
    ).limit(25)
    est = cms_lookup(sketch, top, ["l_partkey"], depth=depth, width=width)
    n_total = exact.agg(F.sum("exact").cast("long").alias("__n"))
    bound = F.ceil(
        F.lit(math.e / float(width)) * F.col("__n").cast("double")
    ).cast("long")
    return (
        top.join(F.broadcast(est), "l_partkey")
        .crossJoin(F.broadcast(n_total))
        .select(
            "l_partkey",
            "exact",
            "est",
            bound.alias("err_bound"),
            (F.col("est") >= F.col("exact")).alias("est_ge_exact"),
            (F.col("est") <= F.col("exact") + bound).alias("within_bound"),
        )
        .orderBy("l_partkey")
    )


def q_orders_price_psi_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB PSI edges path made registry-visible: the SAME
    psi() as orders_price_psi but with bucket edges estimated from the
    mergeable bottom-k quantile sketch (operators/quantile_sketch,
    k=1024) instead of the exact order-statistic build — at warehouse
    scale the sketch is built shard-local and merged, so the edge pass
    never sorts distinct values. Rows-only (seeded xxhash64 sampling
    → deterministic, but no DuckDB twin). This is the SERVING path
    only (the r11 verdict's bench remediation: the query had doubled
    to >10 s because it also computed the exact-edge sibling PSI for
    in-query self-validation); the |psi_sketch − psi_exact| ≤
    max(20% of exact, 0.02) regime-equivalence check now lives in
    tests/test_quantile_sketch.py::
    test_registry_psi_sketch_matches_exact_sibling (real testdata,
    both SFs) alongside tests/test_drift.py::
    test_sketch_fed_edges_path's planted-drift bound."""
    from .operators.drift import psi
    from .operators.quantile_sketch import quantile_sketch, sketch_quantiles

    nb = 10
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderdate",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    ref = o.filter(F.col("o_orderdate") < "1998-01-01").select(
        "o_orderkey", "x"
    )
    cur = o.filter(F.col("o_orderdate") >= "1998-01-01").select("x")
    sk = quantile_sketch(ref, "x", ["o_orderkey"], k=1024)
    edges = sketch_quantiles(sk, [i / nb for i in range(1, nb)]).select(
        F.round(F.col("prob") * nb).cast("int").alias("bucket"),
        F.col("est").cast("long").alias("edge"),
    )
    return (
        psi(ref.select("x"), cur, "x", n_buckets=nb, edges=edges)
        .withColumnRenamed("psi", "psi_sketch")
        .select("bucket", "edge", "n_ref", "n_cur", "psi_sketch")
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# r12 batch: the drift-significance playbook (operators built r10,
# oracles cross-engine pinned in tests/test_twosample.py,
# tests/test_rankcorr.py, tests/test_robust.py BEFORE registration —
# the house de-risk pattern)
# ---------------------------------------------------------------------------


def q_orders_price_mwu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U / rank-sum significance of the order-price era
    drift — the SIGNIFICANCE sibling of ``orders_price_psi`` (same
    early-vs-late split: PSI reports how BIG the shift is, this
    reports whether it is statistically REAL, plus the effect size as
    ROC-AUC = P(early price > late price) + ½ties). Doubled-rank
    exact-integer cumulative window over the DISTINCT-VALUE aggregate
    (O(distinct prices) windowed rows at any fact volume — the psi
    scale contract), tie-corrected variance in DOUBLE under the exact
    n³ zero-variance guard, continuity-corrected z, A&S polynomial p
    (operators/twosample.mann_whitney_u; oracle pinned cross-engine in
    tests/test_twosample.py before registration; 10× probe in
    SCALING.md). One-scan era split since r14 (guide §6/§2.3): the
    side flag replaces the two disjoint filters, so orders is scanned
    once instead of once per era — identical sided-counts frame,
    bit-identical statistic."""
    from .operators.twosample import two_sample

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    side = F.when(F.col("o_orderdate") < "1998-01-01", 1).when(
        F.col("o_orderdate") >= "1998-01-01", 2
    )
    return two_sample("mwu", o, "x", side)


def q_orders_price_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov on the same order-price era split
    — the shape-sensitive member of the drift-significance family
    (MWU sees location shifts; KS sees ANY ECDF divergence, with
    ``location`` naming the price where the distributions part
    furthest). The sup|F₁−F₂| numerator is an exact integer attained
    at combined distinct values, the argmin location rides an exact
    DECIMAL struct-min, and the 16-term Smirnov tail is a fixed
    unrolled expression identical in both engines, with the λ<0.2 →
    p=1 probks branch (operators/twosample.ks_two_sample; oracle
    pinned in tests/test_twosample.py). One-scan era split since r14
    (the orders_price_mwu note)."""
    from .operators.twosample import two_sample

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    side = F.when(F.col("o_orderdate") < "1998-01-01", 1).when(
        F.col("o_orderdate") >= "1998-01-01", 2
    )
    return two_sample("ks", o, "x", side)


def q_events_type_mwu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Mann-Whitney U — one drift-significance verdict per
    event type over its value-cents distribution, first half of the
    month vs second (the grouped twin of ``orders_price_mwu`` and the
    significance sibling of ``events_type_psi``). Every rank is
    computed per type on the per-type DISTINCT-VALUE aggregate (the
    cumulative window partitions by the group key, so skew stays
    bounded by a type's distinct values, not its row count); one-sided
    groups report NULL stats with their counts (the psi asymmetry
    convention). One-scan era split since r14 (the orders_price_mwu
    note)."""
    from .operators.twosample import two_sample

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    side = F.when(F.col("ts") < "2024-01-16", 1).when(
        F.col("ts") >= "2024-01-16", 2
    )
    return two_sample("mwu", e, "x", side, group_cols=["event_type"])


def q_events_type_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped two-sample KS per event type on the same half-month
    split as ``events_type_mwu`` — the pair completes the per-segment
    drift dashboard row: PSI magnitude (events_type_psi), MWU
    location significance, KS shape significance. Per-group ECDFs
    step only at the type's own distinct values; the integer
    numerator max and its argmin location are exact per group.
    One-scan era split since r14 (the orders_price_mwu note)."""
    from .operators.twosample import two_sample

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    side = F.when(F.col("ts") < "2024-01-16", 1).when(
        F.col("ts") >= "2024-01-16", 2
    )
    return two_sample("ks", e, "x", side, group_cols=["event_type"])


def q_revenue_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between daily ORDERED revenue
    and daily SHIPPED revenue (joined on calendar day) — monotone
    association robust to outliers, with tau-b's tie normalization.
    The concordant-minus-discordant sum is exact integer work on the
    calendar-bounded day frame (O(days²) pairs on ~2.4k days — the
    seasonal-MK quadratic-axis precedent: the axis is calendar length,
    never fact rows), tie terms are exact integer halves (shiftright
    on the doubled sums; operators/stats.kendall_tau, oracle pinned in
    tests/test_rankcorr.py)."""
    from .operators.stats import kendall_tau

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ox = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    sy = li.groupBy(F.to_date("l_shipdate").alias("d")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    # the operator reads the day frame five times (pair sides, both
    # tie sums, n) — pin the calendar-bounded aggregate so the fact
    # scans happen once (the setsketch reuse pattern)
    both = ox.join(sy, "d").localCheckpoint(eager=False)
    return kendall_tau(both, "d", "x", "y")


def q_revenue_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation on the same daily ordered-vs-shipped
    revenue pair — Pearson on the tie-averaged rank transform, the
    O(n log n) companion to ``revenue_kendall_tau``. Average ranks
    stay EXACT by doubling (2·avgrank is an integer from two
    cumulative windows over the value order) and the Pearson moments
    of the doubled ranks accumulate in DECIMAL(38,0); ρ is one double
    expression of exact integers, bit-equal across engines
    (operators/stats.spearman_rho, oracle pinned in
    tests/test_rankcorr.py)."""
    from .operators.stats import spearman_rho

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ox = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    sy = li.groupBy(F.to_date("l_shipdate").alias("d")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    return spearman_rho(ox.join(sy, "d"), "d", "x", "y")


def q_revenue_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt changepoint test on daily revenue cents — WHERE does
    the distribution shift, rank-based (the robust companion to the
    OLS-scored breakpoint queries): U_t from two cumulative-count
    windows over the VALUE order plus one running sum over the TIME
    order — O(n log n) on the calendar-bounded day frame, never the
    O(n²) textbook double sum — with K = max|U_t|, the earliest
    attaining day as the changepoint, and the 2·exp(−6K²/(n³+n²))
    approximate p (operators/stats.pettitt_test, oracle pinned in
    tests/test_rankcorr.py)."""
    from .operators.stats import pettitt_test

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    return pettitt_test(daily, "d", "x")


def q_segment_mk_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multiple-testing capstone of the trend battery: grouped
    Mann-Kendall per market segment over its MONTHLY-revenue series →
    two-sided p via the shared A&S polynomial (computed from the
    published 6dp z, the documented oracle contract) → Benjamini-
    Hochberg step-up selection at FDR α=0.05 with the segment as the
    deterministic tie key (bh_select fails loud without one). Testing
    many segments at raw α manufactures false trends; this is the
    corrected verdict a dashboard should show. Monthly grain is the
    deliberate registry choice (the revenue_sen_trend precedent: MK's
    pairwise axis is quadratic in PERIODS, so you pick the period —
    5 segments × ~80 months is 16k pairs, vs 14.5M for daily);
    everything after the per-segment MK collapse is O(segments)
    rows."""
    from .operators.stats import bh_select, mann_kendall, normal_p_two_sided

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    monthly = (
        o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
               o.o_custkey == c.c_custkey)
        .groupBy(
            "c_mktsegment",
            F.trunc(F.to_date("o_orderdate"), "month").alias("m"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("x")
        )
        # MK reads the month frame four times (pair sides, ties, n) —
        # pin the segment×calendar-bounded aggregate so the
        # orders⋈customer scan happens once (the setsketch pattern)
        .localCheckpoint(eager=False)
    )
    mk = mann_kendall(monthly, "m", "x", group_cols=["c_mktsegment"])
    scored = (
        mk.select("c_mktsegment", "n_points", "s_stat", "z")
        .withColumn("p", F.round(normal_p_two_sided(F.col("z")), 9))
        # bh_select reads its input four times (rank, m, step-up max,
        # NULL-p branch) — pin the O(segments)-row test frame so the
        # MK chain runs once
        .localCheckpoint(eager=False)
    )
    return bh_select(
        scored, "p", alpha=0.05, tie_cols=["c_mktsegment"]
    ).orderBy("c_mktsegment")


def q_lineitem_returns_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on the lineitem RETURN RATE, early vs
    late ship era — the categorical member of the drift-significance
    family (MWU/KS ask whether a value distribution moved; this asks
    whether a RATE did). Four exact integer counts from one map-side
    aggregate per side (the only shuffle carries one row), pooled-
    variance continuity-corrected z as one double expression, A&S p;
    non-0/1 successes fail loud (operators/twosample.
    two_proportion_ztest, oracle pinned in tests/test_twosample.py).
    One-scan era split since r14 (the orders_price_mwu note): one
    conditional aggregate over the flagged lineitem scan replaces the
    per-side aggregate pair."""
    from .operators.twosample import two_proportion_ztest_split

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_shipdate",
        (F.col("l_returnflag") == "R").cast("long").alias("ret"),
    )
    side = F.when(F.col("l_shipdate") < "1996-01-01", 1).when(
        F.col("l_shipdate") >= "1996-01-01", 2
    )
    return two_proportion_ztest_split(li, "ret", side)


def q_revenue_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10%-trimmed mean of daily revenue cents — the robust
    location estimate that one viral day cannot drag (pairs with the
    Hampel outlier queries). k = floor(0.1·n) cut from each tail in
    EXACT integer arithmetic (trim scales to parts-per-million on the
    driver so IEEE 0.1·n can never under-trim); the kept mass per
    distinct value is a span-overlap of integer ranks, so the whole
    computation is one ordered window over the DISTINCT-VALUE
    aggregate plus exact integer sums (operators/robust.trimmed_mean,
    oracle pinned in tests/test_robust.py)."""
    from .operators.robust import trimmed_mean

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    return trimmed_mean(daily, "x", trim=0.1)


# ---------------------------------------------------------------------------
# r13 batch: the drift playbook's magnitude + omnibus rungs (operators
# built r11, oracles cross-engine pinned in tests/test_driftmetrics.py,
# tests/test_twosample.py, tests/test_robust.py BEFORE registration —
# the house de-risk pattern)
# ---------------------------------------------------------------------------


def q_orders_price_w1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-Wasserstein (earth-mover) distance on the order-price era
    split — the L1 drift MAGNITUDE in cents ("the typical order moved
    $X"), completing the metric family next to ``orders_price_psi``
    (bucketed magnitude), ``orders_price_mwu`` (location
    significance) and ``orders_price_ks`` (shape significance). The
    |m₁n₂ − m₂n₁|·gap core accumulates exactly in DECIMAL(38,0) over
    the DISTINCT-VALUE aggregate — one cumulative window + one lead,
    O(distinct prices) windowed rows at any fact volume
    (operators/twosample.wasserstein_1; oracle pinned cross-engine in
    tests/test_driftmetrics.py before registration; 10× probe in
    SCALING.md "r13-prep"). One-scan era split since r14 (the
    orders_price_mwu note)."""
    from .operators.twosample import two_sample

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    side = F.when(F.col("o_orderdate") < "1998-01-01", 1).when(
        F.col("o_orderdate") >= "1998-01-01", 2
    )
    return two_sample("w1", o, "x", side)


def q_orders_price_cvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises criterion on the same order-price
    era split — the L2 ECDF divergence (more sensitive to distributed
    shape differences than KS's single sharp sup), standardized
    against Anderson's exact small-sample H₀ moments. Each term's
    normalized contribution is one double of exact DECIMAL integers,
    quantized at 1e-12 and integer-summed so the Σ is order-free and
    engine-identical at any scale (operators/twosample.
    cramer_von_mises; oracle pinned in tests/test_driftmetrics.py).
    One-scan era split since r14 (the orders_price_mwu note)."""
    from .operators.twosample import two_sample

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    side = F.when(F.col("o_orderdate") < "1998-01-01", 1).when(
        F.col("o_orderdate") >= "1998-01-01", 2
    )
    return two_sample("cvm", o, "x", side)


def q_orders_price_mood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test on the same order-price era split — did the
    MEDIAN move: the blunt, maximally robust family member (only which
    side of the pooled median a row lands on matters, so a handful of
    extreme prices cannot move the verdict at all). Pooled median via
    one cumulative window over the distinct-value aggregate, exact
    integer 2×2 table, Yates-corrected χ²₁, A&S p
    (operators/twosample.mood_median_test; oracle pinned in
    tests/test_driftmetrics.py). One-scan era split since r14 (the
    orders_price_mwu note)."""
    from .operators.twosample import two_sample

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    side = F.when(F.col("o_orderdate") < "1998-01-01", 1).when(
        F.col("o_orderdate") >= "1998-01-01", 2
    )
    return two_sample("mood", o, "x", side)


def q_events_type_kw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H over event types on value cents — the
    k-sample omnibus FRONT GATE of the drift playbook ("did ANY
    type's value distribution differ"), run BEFORE the per-type
    MWU/KS battery so k segments are charged one test until something
    actually moves. Pooled doubled ranks from two RANGE windows over
    the per-(type, value) count aggregate — no join, O(k·distinct
    values) windowed rows at any fact volume; exact-integer 2R_g and
    tie terms, quantized order-free H contributions, Wilson-Hilferty
    χ²_{k−1} tail through the shared A&S polynomial
    (operators/twosample.kruskal_wallis; oracle pinned in
    tests/test_driftmetrics.py; 10× probe in SCALING.md)."""
    from .operators.twosample import kruskal_wallis

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    return kruskal_wallis(e, "event_type", "x")


def q_events_type_w1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped 1-Wasserstein per event type on the half-month split —
    the unit-bearing magnitude column of the per-type drift dashboard
    row (events_type_psi says how big in bucket mass, events_type_mwu
    /_ks say how sure; this says how FAR in value cents). Every
    cumulative window partitions by the type key over the per-type
    distinct-value aggregate, so skew stays bounded by a type's
    distinct values, never its row count; one-sided types report NULL
    w1 with their counts (the psi asymmetry convention). One-scan era
    split since r14 (the orders_price_mwu note)."""
    from .operators.twosample import two_sample

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    side = F.when(F.col("ts") < "2024-01-16", 1).when(
        F.col("ts") >= "2024-01-16", 2
    )
    return two_sample("w1", e, "x", side, group_cols=["event_type"])


def q_segment_returns_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on the lineitem RETURN RATE per market
    segment, early vs late ship era — the segment-grain twin of
    ``lineitem_returns_ztest`` (a fleet-wide rate can hold steady
    while one segment's return rate quietly doubles; this is the
    dashboard row that catches it). The lineitem⋈orders key join is
    the only data-scaled shuffle; the customer dim broadcasts (the
    segment_mk_bh precedent) and the per-side aggregate is map-side
    combinable — the final shuffle carries one row per segment
    (operators/twosample.two_proportion_ztest, grouped; ungrouped
    oracle pinned in tests/test_twosample.py). One-scan era split
    since r14 (the orders_price_mwu note) — the payoff is largest
    here: the lineitem⋈orders join spine used to run once PER SIDE;
    the flagged form runs it once."""
    from .operators.twosample import two_proportion_ztest_split

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_shipdate",
        (F.col("l_returnflag") == "R").cast("long").alias("ret"),
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_mktsegment", "l_shipdate", "ret")
    )
    side = F.when(F.col("l_shipdate") < "1996-01-01", 1).when(
        F.col("l_shipdate") >= "1996-01-01", 2
    )
    return two_proportion_ztest_split(
        j, "ret", side, group_cols=["c_mktsegment"]
    )


def q_segment_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10%-trimmed mean of daily revenue cents PER market
    segment — the robust per-segment location estimate one viral day
    cannot drag (the grouped twin of ``revenue_trimmed_mean``; pairs
    with segment_mk_bh on the same orders⋈broadcast-customer spine).
    The span-overlap window partitions by segment over the per-segment
    distinct-value aggregate of the segment×day rollup — O(segments ×
    distinct daily totals) windowed rows at any fact volume
    (operators/robust.trimmed_mean, grouped; ungrouped oracle pinned
    in tests/test_robust.py)."""
    from .operators.robust import trimmed_mean

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    daily = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("x")
        )
    )
    return trimmed_mean(daily, "x", trim=0.1, group_cols=["c_mktsegment"])


# ---------------------------------------------------------------------------
# r14 batch: the playbook's post-hoc, dispersion, ordered-trend and
# categorical-mix rungs plus the grouped rank-correlation variants
# (operators built r12, oracles cross-engine pinned in
# tests/test_driftmetrics.py and tests/test_rankcorr.py BEFORE
# registration — the house de-risk pattern)
# ---------------------------------------------------------------------------


def q_events_type_dunn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc over event types on value cents — after
    ``events_type_kw`` says SOME type's value distribution moved,
    this names WHICH pairs differ, BH-corrected at FDR 0.05 across
    the k(k−1)/2 comparisons (raw pairwise MWUs after a KW rejection
    would re-manufacture the multiple-testing problem the omnibus
    prevented). Reuses the SAME pooled doubled-rank fold as the
    omnibus (O(k·distinct values) windowed rows at any fact volume,
    pinned via lazy localCheckpoint); the pair frame is a broadcast
    self-join of the O(k)-row group aggregate — pairs of GROUPS,
    never fact rows (operators/twosample.dunn_test; oracle pinned in
    tests/test_driftmetrics.py; plan pin tests/test_plans.py)."""
    from .operators.twosample import dunn_test

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    return dunn_test(e, "event_type", "x")


def q_orders_price_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley scale test on the order-price era split — the
    DISPERSION leg of the drift playbook (MWU asks did the CENTER
    move, KS/CvM ask did the SHAPE, this asks did the SPREAD: a
    price distribution can hold its median while its tails fan out,
    and only a rank-scale statistic is robust to that without moment
    assumptions). Doubled block scores in closed form from the pooled
    cumulative counts over the DISTINCT-VALUE sided-counts aggregate
    — the same one-window fold MWU/KS/W1/CvM/Mood ride, O(distinct
    prices) windowed rows at any fact volume; exact integers until
    the one quantized double fold (operators/twosample.ansari_bradley;
    oracle pinned in tests/test_driftmetrics.py). One-scan era split
    since r14 (the orders_price_mwu note)."""
    from .operators.twosample import two_sample

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    side = F.when(F.col("o_orderdate") < "1998-01-01", 1).when(
        F.col("o_orderdate") >= "1998-01-01", 2
    )
    return two_sample("ab", o, "x", side)


def q_events_type_jt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-trend test over event types on
    value cents — the k-sample Mann-Kendall: where Kruskal-Wallis
    asks "did ANY type differ", JT asks "do the types TREND in their
    label order", which is the right question for ordered segments
    (funnel stages, quality tiers, severity levels). One pass over
    the dense (group × pooled distinct values) grid — a broadcast
    nested-loop of two AGGREGATES — with exact DECIMAL 2J and the
    Hollander-Wolfe tie-exact variance; the all-tied degenerate is
    guarded by the exact distinct-value witness, never the rounded
    var terms (operators/twosample.jonckheere_terpstra; oracle pinned
    in tests/test_driftmetrics.py; plan pin tests/test_plans.py)."""
    from .operators.twosample import jonckheere_terpstra

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    return jonckheere_terpstra(e, "event_type", "x")


def q_events_mix_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square homogeneity on the event-type MIX, first half-month
    vs second — the categorical member of the drift-significance
    family ("did the composition shift, and is it real"), pairing a
    p-value with the magnitude-only divergence readings
    (events_type_psi / docs_source_jsd). One map-side count aggregate
    per side on the category key (O(categories) rows at any fact
    volume), a keyed merge, a scalar fold; exact DECIMAL d_c with the
    1e-9-quantized order-free sum; the χ²₁ tail is EXACT for k = 2
    (operators/twosample.chi2_homogeneity; oracle pinned in
    tests/test_driftmetrics.py; plan pin tests/test_plans.py).
    One-scan era split since r14 (the orders_price_mwu note)."""
    from .operators.twosample import two_sample

    e = load_table(spark, sf_dir, "events")
    side = F.when(F.col("ts") < "2024-01-16", 1).when(
        F.col("ts") >= "2024-01-16", 2
    )
    return two_sample("chi2", e.select("event_type", "ts"), "event_type", side)


def q_events_mix_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-category MIX-share comparison on the event-type
    composition, first half-month vs second — the magnitude/display
    companion of ``events_mix_chi2`` ("the view mix moved from 31% to
    38%"): the χ² omnibus says the composition shifted, this names
    the category and by how much. One conditional count aggregate on
    the category key (O(categories) rows at any fact volume — the
    chi2 cost shape), shares as one double each,
    delta at 6dp; one-sided categories report NULL share for the
    empty side (never a 0/0). Deterministic category order (the
    registry hash contract). The share tail
    (``twosample._mix_shares``) is the one
    ``streaming.read_streaming_mix_shares`` serves over the
    ``start_streaming_mix`` state."""
    e = load_table(spark, sf_dir, "events")
    # one-scan era split since r14 (the orders_price_mwu note): one
    # conditional count aggregate replaces the per-side aggregate pair
    # + full-outer merge — a category present in only one era gets the
    # same (c, 0) row the outer join produced
    side = F.when(F.col("ts") < "2024-01-16", 1).when(
        F.col("ts") >= "2024-01-16", 2
    )
    from .operators.twosample import _mix_shares

    vc = (
        e.select(F.col("event_type").alias("category"), side.alias("__s"))
        .filter(F.col("__s").isNotNull())
        .groupBy("category")
        .agg(
            F.sum(F.when(F.col("__s") == 1, 1).otherwise(0))
            .cast("long")
            .alias("__c1"),
            F.sum(F.when(F.col("__s") == 2, 1).otherwise(0))
            .cast("long")
            .alias("__c2"),
        )
    )
    return _mix_shares(
        vc.withColumnRenamed("category", "__cat"), []
    ).orderBy("category")


def q_events_type_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt changepoint PER EVENT TYPE on the daily value-cents
    sum — the grouped twin of ``revenue_pettitt`` ("which day did
    THIS type's level break, and is the break significant"): a
    fleet-wide series can look stable while one type steps; this is
    the per-type dashboard row that catches the step and dates it.
    Both value-order cumulative windows and the time-order running
    sum partition by the type key over the per-type DAILY aggregate —
    O(types × days) windowed rows at any fact volume, the
    calendar-bounded contract (operators/stats.pettitt_test, grouped;
    grouped behavior pinned vs python in tests/test_rankcorr.py, the
    ungrouped oracle pinned cross-engine there)."""
    from .operators.stats import pettitt_test

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    return pettitt_test(daily, "d", "x", group_cols=["event_type"])


def q_segment_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b PER MARKET SEGMENT between daily order volume
    and daily revenue cents — the grouped twin of
    ``revenue_kendall_tau`` ("does more orders mean more revenue in
    THIS segment, monotonically"): a segment whose volume-revenue
    concordance decays is shifting toward smaller baskets even when
    both marginals trend up. The pairwise sign-product join keys on
    the segment over the per-segment DAILY aggregate — days² pairs
    per segment, calendar-bounded at any fact volume; exact integer
    C−D and tie terms, one double tau (operators/stats.kendall_tau,
    grouped; grouped behavior pinned vs python in
    tests/test_rankcorr.py, the ungrouped oracle pinned there)."""
    from .operators.stats import kendall_tau

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    daily = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", F.to_date("o_orderdate").alias("d"))
        .agg(
            F.count("*").cast("long").alias("x"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("y"),
        )
    )
    # the operator reads the day frame five times (pair sides, both
    # tie sums, n) — pin the calendar-bounded aggregate so the fact
    # scans happen once (the revenue_kendall_tau reuse pattern)
    return kendall_tau(
        daily.localCheckpoint(eager=False),
        "d", "x", "y", group_cols=["c_mktsegment"],
    )


def q_segment_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rho PER MARKET SEGMENT on the same daily
    volume-vs-revenue pair — tau's companion reading (tau counts
    concordant pairs, rho is the Pearson of tie-averaged ranks; they
    disagree exactly when a few extreme days dominate, which is the
    signal worth a dashboard row). Doubled tie-average ranks from two
    RANGE windows partitioned by segment over the per-segment daily
    aggregate, HUGEINT-exact Pearson moments, one double rho
    (operators/stats.spearman_rho, grouped; grouped behavior pinned
    vs python in tests/test_rankcorr.py, the ungrouped oracle pinned
    there)."""
    from .operators.stats import spearman_rho

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    daily = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", F.to_date("o_orderdate").alias("d"))
        .agg(
            F.count("*").cast("long").alias("x"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("y"),
        )
    )
    return spearman_rho(daily, "d", "x", "y", group_cols=["c_mktsegment"])


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# Registry order is deliberate: the driver's CORRECTNESS gate checks a
# strict 50-entry prefix of this dict. The round-11 window carries, in
# order: (a) the 11 r11-batch queries registered r10 and never
# driver-checked — new queries outrank every refresh; (b) the 23
# remaining r6-vintage rows (the registry's stalest driver evidence —
# this retires the r6 debt entirely, vintage floor becomes r7);
# (c) 16 r7-vintage rows FLAGSHIP FAMILY FIRST (the reference-parity
# anchors a reference user hits first — category_summary,
# global_summary, the P/J/M front section — must never age past 4
# rounds). No in-window query's code path changed this round (the r10
# ADVICE fixes touch bh_select/kendall_tau/mann_whitney_u/
# ks_two_sample and the streaming PSI/MWU twins — all first registered
# at positions 51-60 below, outside this window, or not registered at
# all).
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # -- the 8 r14-batch queries (registered r13, never
    # -- driver-checked — new queries outrank every refresh): the
    # -- playbook's post-hoc (Dunn), dispersion (Ansari-Bradley),
    # -- ordered-trend (JT) and categorical-mix (χ²) rungs + the
    # -- grouped rank-correlation variants (per-type Pettitt,
    # -- per-segment volume-revenue tau-b and rho)
    "events_type_dunn": q_events_type_dunn,
    "orders_price_ab": q_orders_price_ab,
    "events_type_jt": q_events_type_jt,
    "events_mix_chi2": q_events_mix_chi2,
    "events_mix_shares": q_events_mix_shares,
    "events_type_pettitt": q_events_type_pettitt,
    "segment_kendall": q_segment_kendall,
    "segment_spearman": q_segment_spearman,
    # -- the last latest-row-r8 entry (the r13 rotation re-checked
    # -- the other 43), then the 41 stalest r9 rows (registry order)
    "embedding_kmeans": q_embedding_kmeans,
    "revenue_pacf": q_revenue_pacf,
    "revenue_holt": q_revenue_holt,
    "revenue_runs_test": q_revenue_runs_test,
    "orders_breakpoint_trend": q_orders_breakpoint_trend,
    "segment_churn_km": q_segment_churn_km,
    "docs_rake_keywords": q_docs_rake_keywords,
    "docs_branching_entropy": q_docs_branching_entropy,
    "events_value_quantiles_sketch": q_events_value_quantiles_sketch,
    "events_type_overlap_sketch": q_events_type_overlap_sketch,
    "ann_pq_recall": q_ann_pq_recall,
    "customer_set_ops": q_customer_set_ops,
    "dedup_bow": q_dedup_bow,
    "docs_bigram_counts": q_docs_bigram_counts,
    "docs_pack_bins": q_docs_pack_bins,
    "docs_weighted_sample": q_docs_weighted_sample,
    "embedding_covariance": q_embedding_covariance,
    "embedding_pq_codes": q_embedding_pq_codes,
    "events_funnel_steps": q_events_funnel_steps,
    "events_max_concurrency_2p": q_events_max_concurrency_2p,
    "lineitem_correlations": q_lineitem_correlations,
    "merge_updates": q_merge_updates,
    "events_markov": q_events_markov,
    "revenue_gini": q_revenue_gini,
    "docs_lang_confusion": q_docs_lang_confusion,
    "orders_seasonal": q_orders_seasonal,
    "incremental_agg_cdc": q_incremental_agg_cdc,
    "orders_mad": q_orders_mad,
    "docs_curriculum": q_docs_curriculum,
    "events_attribution_decay": q_events_attribution_decay,
    "events_freshness": q_events_freshness,
    "brand_concentration": q_brand_concentration,
    "events_inter_arrival": q_events_inter_arrival,
    "events_cusum": q_events_cusum,
    "events_sequence_rules": q_events_sequence_rules,
    "dedup_latest_by_key": q_dedup_latest_by_key,
    "union_all_counts": q_union_all_counts,
    "cross_join_dims": q_cross_join_dims,
    "text_token_stats": q_text_token_stats,
    "text_quality": q_text_quality,
    "text_lang_id": q_text_lang_id,
    "docs_repetition": q_docs_repetition,
    # -- displaced r13 window (7 r13-batch + 43 r8 refreshes), every
    # -- row green in its latest driver round, prior order preserved
    # --------- driver checked-window boundary (position 50) ---------
    # ROUND-15 ROTATION NOTE: after r14 lands, the stalest evidence
    # is the 9 remaining r9 rows (orders_price_histogram,
    # doc_fingerprint, embedding_norms,
    # orders_cube, running_revenue, latest_event_per_type,
    # text_bpe_tokens, ann_lsh_recall, ann_ivf_recall — registry
    # order), then the r10 vintage — BUT the flagship/parity family
    # (category_summary, global_summary, the P/J/M anchors:
    # project_truncate, filter_nonempty, timestamp_parse,
    # json_extract, map_multikey, token_pivot, coalesce_display,
    # merge_inserts/deletes/full_sync/upsert, dedup_exact) carries
    # r11 rows and the never-age-past-4 rule forces them into the
    # r15 window ahead of fresher r10 rows. Rotate r15 = the r15
    # batch just below this comment (orders_price_bm /
    # events_type_median are built, oracle-pinned, plan-pinned —
    # register them in r14) + the 8 r9 rows + the flagship family +
    # stalest r10 rows up to the 50 budget.
    "orders_price_w1": q_orders_price_w1,
    "orders_price_cvm": q_orders_price_cvm,
    "orders_price_mood": q_orders_price_mood,
    "events_type_kw": q_events_type_kw,
    "events_type_w1": q_events_type_w1,
    "segment_returns_ztest": q_segment_returns_ztest,
    "segment_trimmed_mean": q_segment_trimmed_mean,
    "docs_zipf_fit": q_docs_zipf_fit,
    "events_user_coverage": q_events_user_coverage,
    "orders_seasonal_decompose": q_orders_seasonal_decompose,
    "docs_source_jsd": q_docs_source_jsd,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "simhash_docs": q_simhash_docs,
    "sketch_distinct_counts": q_sketch_distinct_counts,
    "dedup_near_pipeline": q_dedup_near_pipeline,
    "docs_tfidf_topk": q_docs_tfidf_topk,
    "minhash_lsh_verified": q_minhash_lsh_verified,
    "embedding_pca_variance": q_embedding_pca_variance,
    "orders_window_battery": q_orders_window_battery,
    "orders_scd2_asof": q_orders_scd2_asof,
    "dedup_keep_best": q_dedup_keep_best,
    "supplier_wilson": q_supplier_wilson,
    "revenue_pareto": q_revenue_pareto,
    "orders_benford": q_orders_benford,
    "events_ewma": q_events_ewma,
    "docs_frequent_tokens": q_docs_frequent_tokens,
    "similarity_bruteforce": q_similarity_bruteforce,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "events_max_concurrency": q_events_max_concurrency,
    "events_funnel": q_events_funnel,
    "events_conversion_lag": q_events_conversion_lag,
    "events_gap_fill": q_events_gap_fill,
    "events_anomaly": q_events_anomaly,
    "snapshot_diff_orders": q_snapshot_diff,
    "parts_pagerank": q_parts_pagerank,
    "part_pairs_lift": q_part_pairs_lift,
    "embedding_quantize_stats": q_embedding_quantize_stats,
    "ann_pq_topk": q_ann_pq_topk,
    "decontaminate_bloom": q_decontaminate_bloom,
    "docs_line_scrub": q_docs_line_scrub,
    "docs_bm25_topk": q_docs_bm25_topk,
    "events_attribution": q_events_attribution,
    "parts_triangles": q_parts_triangles,
    "cdc_apply_orders": q_cdc_apply_orders,
    "lineitem_regression": q_lineitem_regression,
    "events_top_paths": q_events_top_paths,
    "customer_rfm": q_customer_rfm,
    "parts_kcore": q_parts_kcore,
    "top_parts_salted": q_top_parts_salted,
    "orders_price_mwu": q_orders_price_mwu,
    "orders_price_ks": q_orders_price_ks,
    "events_type_mwu": q_events_type_mwu,
    "events_type_ks": q_events_type_ks,
    "revenue_kendall_tau": q_revenue_kendall_tau,
    "revenue_spearman": q_revenue_spearman,
    "revenue_pettitt": q_revenue_pettitt,
    "segment_mk_bh": q_segment_mk_bh,
    "lineitem_returns_ztest": q_lineitem_returns_ztest,
    "revenue_trimmed_mean": q_revenue_trimmed_mean,
    "events_twap": q_events_twap,
    "orders_dow_profile": q_orders_dow_profile,
    "docs_quality_joint_hist": q_docs_quality_joint_hist,
    "docs_lang_topk_tokens": q_docs_lang_topk_tokens,
    "orders_running_backlog": q_orders_running_backlog,
    "docs_tokenizer_fertility": q_docs_tokenizer_fertility,
    "events_seasonal_zscore": q_events_seasonal_zscore,
    "docs_vocab_growth": q_docs_vocab_growth,
    "events_debounce": q_events_debounce,
    "customer_order_distribution": q_customer_order_distribution,
    "supplier_part_variety": q_supplier_part_variety,
    "excess_share_suppliers": q_excess_share_suppliers,
    "waiting_suppliers": q_waiting_suppliers,
    "docs_dup_spans": q_docs_dup_spans,
    "docs_length_histogram": q_docs_length_histogram,
    "docs_chunks": q_docs_chunks,
    "customer_balance_ranks": q_customer_balance_ranks,
    "events_session_window": q_events_session_window,
    "events_zorder_stats": q_events_zorder_stats,
    "events_sessionize": q_events_sessionize,
    "docs_train_test_split": q_docs_train_test_split,
    "dq_report": q_dq_report,
    "merge_partition_scoped": q_merge_partition_scoped,
    "docs_epoch_shuffle": q_docs_epoch_shuffle,
    "audio_segments": q_audio_segments,
    "docs_temperature_mix": q_docs_temperature_mix,
    "docs_filter_pipeline": q_docs_filter_pipeline,
    "jaccard_top_pairs": q_jaccard_top_pairs,
    "multimodal_features": q_multimodal_features,
    "event_window_agg": q_event_window_agg,
    "pivot_status": q_pivot_status,
    "rollup_summary": q_rollup_summary,
    "order_top_parts": q_order_top_parts,
    "top_parts_per_brand": q_top_parts_per_brand,
    "lineitem_quantile_sketch": q_lineitem_quantile_sketch,
    "lineitem_sketch_merge": q_lineitem_sketch_merge,
    "events_weekly_users_sketch": q_events_weekly_users_sketch,
    "orders_survival_km": q_orders_survival_km,
    "revenue_acf": q_revenue_acf,
    "docs_pmi_collocations": q_docs_pmi_collocations,
    "revenue_mann_kendall": q_revenue_mann_kendall,
    "orders_seasonal_mk": q_orders_seasonal_mk,
    "revenue_sen_trend": q_revenue_sen_trend,
    "revenue_ship_ccf": q_revenue_ship_ccf,
    "events_type_psi": q_events_type_psi,
    "events_type_hampel": q_events_type_hampel,
    "lineitem_ols2": q_lineitem_ols2,
    "events_type_mk": q_events_type_mk,
    "events_markov_entropy": q_events_markov_entropy,
    "parts_freq_cms": q_parts_freq_cms,
    "orders_price_psi_sketch": q_orders_price_psi_sketch,
    "parts_skyline": q_parts_skyline,
    "incremental_agg_merge": q_incremental_agg_merge,
    "events_retention": q_events_retention,
    "docs_char_entropy": q_docs_char_entropy,
    "coalesce_display": q_coalesce_display,
    "orders_top_unshipped": q_orders_top_unshipped,
    "order_priority_counts": q_order_priority_counts,
    "docs_unigram_logprob": q_docs_unigram_logprob,
    "docs_stratified_sample": q_docs_stratified_sample,
    "docs_mixture_weights": q_docs_mixture_weights,
    "volume_shipping": q_volume_shipping,
    "product_profit": q_product_profit,
    "returned_top_customers": q_returned_top_customers,
    "promo_revenue": q_promo_revenue,
    "large_volume_customers": q_large_volume_customers,
    "brand_disc_revenue": q_brand_disc_revenue,
    "top_revenue_suppliers": q_top_revenue_suppliers,
    "small_qty_revenue": q_small_qty_revenue,
    "idle_rich_customers": q_idle_rich_customers,
    "min_cost_supplier": q_min_cost_supplier,
    "market_share": q_market_share,
    "important_parts": q_important_parts,
    "late_shipment_priority": q_late_shipment_priority,
    "category_summary": q_category_summary,
    "global_summary": q_global_summary,
    "revenue_by_nation": q_revenue_by_nation,
    "project_truncate": q_project_truncate,
    "filter_nonempty": q_filter_nonempty,
    "timestamp_parse": q_timestamp_parse,
    "json_extract": q_json_extract,
    "map_multikey": q_map_multikey,
    "token_pivot": q_token_pivot,
    "merge_inserts": q_merge_inserts,
    "merge_deletes": q_merge_deletes,
    "merge_full_sync": q_merge_full_sync,
    "merge_upsert": q_merge_upsert,
    "dedup_exact": q_dedup_exact,
    "orders_asof_join": q_orders_asof_join,
    "fuzzy_name_blocking": q_fuzzy_name_blocking,
    "docs_textrank_keywords": q_docs_textrank_keywords,
    "docs_textrank_phrases": q_docs_textrank_phrases,
    "orders_price_psi": q_orders_price_psi,
    "revenue_hampel_outliers": q_revenue_hampel_outliers,
    "events_user_overlap_setsketch": q_events_user_overlap_setsketch,
    "segment_holt": q_segment_holt,
    "events_type_breakpoint": q_events_type_breakpoint,
    "events_conversion_km": q_events_conversion_km,
    "event_sliding_window": q_event_sliding_window,
    "orders_scd2": q_orders_scd2,
    "dedup_components": q_dedup_components,
    "embedding_dup_pairs": q_embedding_dup_pairs,
    "purchases_after_click": q_purchases_after_click,
    "filtered_revenue": q_filtered_revenue,
    "docs_pii_scrub": q_docs_pii_scrub,
    "salted_skew_join": q_salted_skew_join,
    "name_edit_distance": q_name_edit_distance,
    "price_percentiles": q_price_percentiles,
    "summary_grouping_sets": q_summary_grouping_sets,
    "docs_hash_sample": q_docs_hash_sample,
    "docs_group_quota": q_docs_group_quota,
    "docs_quality_bins": q_docs_quality_bins,
    "vocab_topk": q_vocab_topk,
    "events_time_rollup_refresh": q_events_time_rollup_refresh,
    "docs_bpe_merges_batched": q_docs_bpe_merges_batched,
    "embedding_near_dup_topk": q_embedding_near_dup_topk,
    "orders_cohort_ltv": q_orders_cohort_ltv,
    "supplier_lead_times": q_supplier_lead_times,
    "docs_token_coverage": q_docs_token_coverage,
    "docs_winnowing": q_docs_winnowing,
    "orders_chi2_cells": q_orders_chi2_cells,
    "segment_share_yoy": q_segment_share_yoy,
    "lineitem_weighted_median": q_lineitem_weighted_median,
    "events_user_quantiles": q_events_user_quantiles,
    "orders_gap_stats": q_orders_gap_stats,
    "docs_ngram_novelty": q_docs_ngram_novelty,
    "docs_setsim_prefix": q_docs_setsim_prefix,
    "docs_containment": q_docs_containment,
    "brand_monthly_trend": q_brand_monthly_trend,
    "docs_bigram_logprob": q_docs_bigram_logprob,
    "docs_bpe_merges": q_docs_bpe_merges,
    "events_time_rollup": q_events_time_rollup,
    "embedding_near_dup": q_embedding_near_dup,
    "orders_above_cust_avg": q_orders_above_cust_avg,
    "customers_without_orders": q_customers_without_orders,
    "lineitem_unpivot": q_lineitem_unpivot,
    "suppliers_per_region": q_suppliers_per_region,
    "image_resize": q_image_resize,
    "video_frame_sample": q_video_frame_sample,
    "decontaminate_overlap": q_decontaminate_overlap,
    "orders_price_histogram": q_orders_price_histogram,
    "doc_fingerprint": q_doc_fingerprint,
    "embedding_norms": q_embedding_norms,
    "orders_cube": q_orders_cube,
    "running_revenue": q_running_revenue,
    "latest_event_per_type": q_latest_event_per_type,
    "text_bpe_tokens": q_text_bpe_tokens,
    "ann_lsh_recall": q_ann_lsh_recall,
    "ann_ivf_recall": q_ann_ivf_recall,
}


_SW = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
_TOKS = "string_split_regex(trim(text), '\\s+')"
_NTOK = f"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len({_TOKS}) END"
_NS = "string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')"
_NBI = f"greatest({_NTOK} - 1, 0)"
_DBI = (
    f"len(list_distinct(list_transform(range(1, greatest(len({_NS}) - 1, 0) + 1), "
    f"i -> concat({_NS}[i], ' ', {_NS}[i+1]))))"
)
_DUPF = (
    f"round(CASE WHEN {_NBI} > 0 THEN 1.0 - {_DBI} / cast({_NBI} AS DOUBLE) "
    f"ELSE 0.0 END, 6)"
)
_PUNCT = (
    "round(CASE WHEN length(text) > 0 THEN cast(length(text) - "
    "length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) "
    "ELSE 0.0 END, 6)"
)
_SWR = (
    f"round(CASE WHEN {_NTOK} > 0 THEN cast(len(list_filter({_TOKS}, "
    f"x -> list_contains([{_SW}], lower(x)))) AS DOUBLE) / {_NTOK} ELSE 0.0 END, 6)"
)
_MTL = (
    f"round(CASE WHEN {_NTOK} > 0 THEN cast(length(regexp_replace(text, '\\s', '', 'g')) "
    f"AS DOUBLE) / {_NTOK} ELSE 0.0 END, 6)"
)


def _marker_count(lang: str) -> str:
    arr = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return (
        f"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE "
        f"len(list_filter({_TOKS}, x -> list_contains([{arr}], lower(x)))) END"
    )


# --- ANN oracle SQL builders -----------------------------------------------
# The LSH hyperplanes and IVF centroid rule are deterministic (seeded /
# value-derived), so the approximate indexes are exactly reproducible in
# DuckDB: the SAME literal hyperplanes are emitted into the oracle SQL,
# and the centroid sample (vec_id % 7 == 0, first 16 by id) is re-derived
# relationally. That upgrades the ANN tier from rows-only to hash-checked.


def _duck_norm(v: str) -> str:
    return (
        f"sqrt(list_sum(list_transform({v}, x -> cast(x AS DOUBLE) * cast(x AS DOUBLE))))"
    )


def _duck_pair_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> cast({a}[i] AS DOUBLE) * cast({b}[i] AS DOUBLE)))"
    )


def _duck_cosine(a: str, b: str) -> str:
    return (
        f"round(CASE WHEN {_duck_norm(a)} * {_duck_norm(b)} > 0 "
        f"THEN {_duck_pair_dot(a, b)} / ({_duck_norm(a)} * {_duck_norm(b)}) "
        f"ELSE 0.0 END, 6)"
    )


def _lsh_plane_values(n_planes: int = 6, dim: int = 64, seed: int = 42) -> str:
    """(weight, plane) VALUES rows with the exact doubles the Spark plan
    uses (operators/similarity.random_hyperplanes, same seed)."""
    from .operators.similarity import random_hyperplanes

    planes = random_hyperplanes(dim, n_planes, seed)
    return ", ".join(
        "(" + str(1 << i) + ", ["
        + ", ".join(f"'{x!r}'::DOUBLE" for x in plane)
        + "])"
        for i, plane in enumerate(planes)
    )


# shared CTE block: bucket every embedding with the literal hyperplanes,
# score candidates in the query's bucket OR any 1-bit-flip neighbor
# bucket (the Spark side's multiprobe fan-out, reproduced relationally
# via a flips values-join), rank by (cosine, vec_id)
_LSH_FLIPS = ", ".join(f"({f})" for f in [0] + [1 << i for i in range(6)])
# Shared PQ CTEs: deterministic seed codebook, per-subspace slices,
# distances, and the per-(vector, subspace) code assignment.
_PQ_CTES = """
        seeds AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding
          FROM (SELECT vec_id, embedding FROM embeddings
                WHERE vec_id % 7 = 0 ORDER BY vec_id LIMIT 4)
        ), ss AS (
          SELECT unnest(range(0, 4)) AS subspace
        ), cb AS (
          SELECT ss.subspace, seeds.cell,
                 list_transform(range(1, 17),
                   i -> CAST(embedding[ss.subspace * 16 + i] AS DOUBLE)) AS cvec
          FROM seeds CROSS JOIN ss
        ), sub AS (
          SELECT e.vec_id, ss.subspace,
                 list_transform(range(1, 17),
                   i -> CAST(e.embedding[ss.subspace * 16 + i] AS DOUBLE)) AS svec
          FROM embeddings e CROSS JOIN ss
        ), pqd AS (
          SELECT sub.vec_id, sub.subspace, cb.cell,
                 round(list_sum(list_transform(range(1, 17),
                   i -> (sub.svec[i] - cb.cvec[i]) * (sub.svec[i] - cb.cvec[i]))),
                   6) AS dist2
          FROM sub JOIN cb USING (subspace)
        ), pq_codes AS (
          SELECT vec_id, subspace, cell AS code, dist2
          FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
                                             ORDER BY dist2, cell) AS rn FROM pqd)
          WHERE rn = 1
        )"""

# Shared ADC CTEs (extend _PQ_CTES): per-query LUT and approximate sums.
_PQ_ADC_CTES = """
        qsub AS (
          SELECT vec_id AS query_id, subspace, svec FROM sub
          WHERE vec_id IN (0, 1, 2)
        ), lut AS (
          SELECT q.query_id, q.subspace, cb.cell AS code,
                 round(list_sum(list_transform(range(1, 17),
                   i -> (q.svec[i] - cb.cvec[i]) * (q.svec[i] - cb.cvec[i]))),
                   6) AS d2
          FROM qsub q JOIN cb USING (subspace)
        ), approx AS (
          SELECT l.query_id, c.vec_id, round(sum(l.d2), 6) AS approx_dist2
          FROM pq_codes c JOIN lut l
            ON c.subspace = l.subspace AND c.code = l.code
          WHERE c.vec_id <> l.query_id
          GROUP BY l.query_id, c.vec_id
        )"""



_LSH_CTES = f"""
        planes(w, p) AS (VALUES {_lsh_plane_values()}),
        flips(f) AS (VALUES {_LSH_FLIPS}),
        bkt AS (
          SELECT e.vec_id,
                 cast(sum(CASE WHEN list_sum(list_transform(range(1, 65),
                        j -> cast(e.embedding[j] AS DOUBLE) * pl.p[j])) >= 0
                      THEN pl.w ELSE 0 END) AS BIGINT) AS bucket
          FROM embeddings e CROSS JOIN planes pl GROUP BY e.vec_id),
        q AS (SELECT b.vec_id AS query_id, e.embedding AS qe, b.bucket
              FROM bkt b JOIN embeddings e ON e.vec_id = b.vec_id
              WHERE b.vec_id IN (0, 1, 2)),
        lsh_scored AS (
          SELECT q.query_id, e.vec_id, {_duck_cosine('e.embedding', 'q.qe')} AS cosine_sim
          FROM q CROSS JOIN flips
               JOIN bkt b ON xor(q.bucket, flips.f) = b.bucket
               JOIN embeddings e ON e.vec_id = b.vec_id),
        lsh_ranked AS (
          SELECT query_id, vec_id, cosine_sim,
                 row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine_sim DESC, vec_id ASC) AS rank
          FROM lsh_scored)"""

# shared CTE block: IVF — centroids are the deterministic corpus sample
# (vec_id % 7 == 0, first 16 by id), routing is argmax of dot/|centroid|
# with first-wins ties, queries probe their 4 best cells
_IVF_CTES = f"""
        cent AS (
          SELECT row_number() OVER (ORDER BY vec_id) AS ci, embedding AS cemb
          FROM embeddings WHERE vec_id % 7 = 0 ORDER BY vec_id LIMIT 16),
        csim AS (
          SELECT e.vec_id, c.ci,
                 CASE WHEN {_duck_norm('c.cemb')} = 0 THEN 0.0
                      ELSE {_duck_pair_dot('e.embedding', 'c.cemb')} / {_duck_norm('c.cemb')}
                 END AS s
          FROM embeddings e CROSS JOIN cent c),
        cells AS (
          SELECT vec_id, ci AS cell FROM (
            SELECT vec_id, ci,
                   row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci ASC) AS r
            FROM csim) WHERE r = 1),
        qprobe AS (
          SELECT vec_id AS query_id, ci AS cell FROM (
            SELECT vec_id, ci,
                   row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci ASC) AS r
            FROM csim WHERE vec_id < 3) WHERE r <= 4),
        qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
        ivf_scored AS (
          SELECT qp.query_id, cl.vec_id, {_duck_cosine('e.embedding', 'qv.qe')} AS cosine_sim
          FROM qprobe qp
               JOIN qv ON qv.query_id = qp.query_id
               JOIN cells cl ON cl.cell = qp.cell
               JOIN embeddings e ON e.vec_id = cl.vec_id),
        ivf_ranked AS (
          SELECT query_id, vec_id, cosine_sim,
                 row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine_sim DESC, vec_id ASC) AS rank
          FROM ivf_scored)"""

# brute-force top-10 per query (the exact reference set for recall@10)
_BF10_CTES = f"""
        bf_scored AS (
          SELECT q.query_id, e.vec_id, {_duck_cosine('e.embedding', 'q.qe')} AS cosine_sim
          FROM embeddings e CROSS JOIN q),
        bf10 AS (
          SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine_sim DESC, vec_id ASC) AS rank
            FROM bf_scored) WHERE rank <= 10)"""

_RECALL_SELECT = """
        SELECT a.query_id,
               count(*) AS n_approx,
               cast(sum(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
               round(sum(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END) / 10.0, 6) AS recall_at_10
        FROM a10 a LEFT JOIN bf10 b ON a.query_id = b.query_id AND a.vec_id = b.vec_id
        GROUP BY a.query_id ORDER BY a.query_id"""


ORACLES: dict[str, str] = {
    "category_summary": """
        SELECT l_returnflag, l_linestatus,
               count(*) AS fetched_items,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_quantity), 6) AS avg_qty,
               round(avg(l_discount), 6) AS avg_disc,
               round(CASE WHEN sum(l_extendedprice) > 0
                     THEN sum(l_quantity) / sum(l_extendedprice) * 100.0
                     ELSE 0.0 END, 6) AS qty_share_pct
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "global_summary": """
        SELECT count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
               count(DISTINCT o_custkey) AS n_customers
        FROM orders
    """,
    "pivot_status": """
        SELECT l_returnflag,
               round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS qty_f,
               round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2) AS qty_o
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "rollup_summary": """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_items,
               round(sum(l_quantity), 2) AS sum_qty,
               cast(grouping(l_returnflag) AS BIGINT) AS g_flag,
               cast(grouping(l_linestatus) AS BIGINT) AS g_status
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY g_flag, g_status, l_returnflag, l_linestatus
    """,
    "project_truncate": """
        SELECT p_partkey,
               substring(p_name, 1, 12) AS name_short,
               upper(p_brand) AS brand_uc,
               'catalog' AS source_tag,
               length(p_name) AS name_len
        FROM part ORDER BY p_partkey
    """,
    "coalesce_display": """
        SELECT c_custkey,
               coalesce(
                 nullif(CASE WHEN c_custkey % 3 = 0 THEN '' ELSE c_mktsegment END, ''),
                 nullif(c_name, '')) AS display_name,
               n_name AS nation_name
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        ORDER BY c_custkey
    """,
    "filter_nonempty": """
        SELECT doc_id, lang, n_chars FROM documents
        WHERE text IS NOT NULL AND length(trim(text)) > 0 AND n_chars > 0
        ORDER BY doc_id
    """,
    "timestamp_parse": """
        SELECT event_id,
               cast(date_trunc('day', ts) AS TIMESTAMP) AS day_ts,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
               cast(hour(ts) AS BIGINT) AS hour_of_day,
               strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS reparsed
        FROM events ORDER BY event_id
    """,
    "json_extract": """
        SELECT event_id,
               cast(props->>'$.k' AS BIGINT) AS k_val,
               props->>'$.missing' AS missing_val
        FROM events ORDER BY event_id
    """,
    "map_multikey": """
        SELECT event_id,
               coalesce(nullif(props->>'$.missing', ''), nullif(props->>'$.k', '')) AS k_str
        FROM events ORDER BY event_id
    """,
    "token_pivot": f"""
        SELECT doc_id,
               ({_TOKS})[1] AS tok_1,
               ({_TOKS})[2] AS tok_2,
               ({_TOKS})[3] AS tok_3,
               cast({_NTOK} AS BIGINT) AS n_tokens
        FROM documents ORDER BY doc_id
    """,
    "order_top_parts": """
        SELECT l_orderkey,
               array_to_string(
                 list_transform(
                   (list(l_partkey ORDER BY l_extendedprice DESC, l_partkey ASC))[1:5],
                   x -> cast(x AS VARCHAR)), ',') AS top_parts,
               count(*) AS n_items
        FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey
    """,
    "top_parts_per_brand": """
        SELECT p_brand, p_partkey, round(p_retailprice, 2) AS price, rn
        FROM (
          SELECT p_brand, p_partkey, p_retailprice,
                 row_number() OVER (PARTITION BY p_brand
                                    ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
          FROM part)
        WHERE rn <= 3 ORDER BY p_brand, rn
    """,
    # the salt is routing-only, so the salted form shares the plain oracle
    "top_parts_salted": """
        SELECT p_brand, p_partkey, round(p_retailprice, 2) AS price, rn
        FROM (
          SELECT p_brand, p_partkey, p_retailprice,
                 row_number() OVER (PARTITION BY p_brand
                                    ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
          FROM part)
        WHERE rn <= 3 ORDER BY p_brand, rn
    """,
    "merge_inserts": _MERGE_CTE + """
        SELECT s.* FROM source s
        WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t.o_orderkey = s.o_orderkey)
        ORDER BY o_orderkey
    """,
    "merge_deletes": _MERGE_CTE + """
        SELECT t.* FROM target t
        WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey)
        ORDER BY o_orderkey
    """,
    "merge_updates": _MERGE_CTE + """
        SELECT s.* FROM source s
        WHERE EXISTS (SELECT 1 FROM target t WHERE t.o_orderkey = s.o_orderkey)
        ORDER BY o_orderkey
    """,
    "merge_full_sync": _MERGE_CTE + """
        SELECT * FROM source ORDER BY o_orderkey
    """,
    "merge_upsert": _MERGE_CTE + """
        SELECT * FROM source
        UNION ALL
        SELECT t.* FROM target t
        WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.o_orderkey = t.o_orderkey)
        ORDER BY o_orderkey
    """,
    "merge_partition_scoped": _MERGE_CTE + """
        , src AS (SELECT * FROM source
                  WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM'))
        SELECT * FROM src
        UNION ALL
        -- untouched = partitions NOT PRESENT in the delta (derived, not
        -- the filter constant: mirrors merge_scoped's touched-set
        -- semantics even if a fixture's source lacks one priority)
        SELECT t.* FROM target t
        WHERE NOT EXISTS (SELECT 1 FROM src s
                          WHERE s.o_orderpriority = t.o_orderpriority)
        ORDER BY o_orderkey
    """,
    "dedup_latest_by_key": """
        SELECT user_id, event_id, event_type, round(value, 2) AS value
        FROM (
          SELECT user_id, event_id, event_type, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
        WHERE rn = 1 ORDER BY user_id
    """,
    "union_all_counts": """
        SELECT o_orderstatus,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS sum_price
        FROM (
          SELECT o_orderstatus, o_totalprice FROM orders WHERE o_totalprice < 100000
          UNION ALL
          SELECT o_orderstatus, o_totalprice FROM orders WHERE o_totalprice >= 150000)
        GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "cross_join_dims": """
        SELECT r_name, c_mktsegment
        FROM region CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer)
        ORDER BY r_name, c_mktsegment
    """,
    "text_token_stats": f"""
        SELECT doc_id,
               cast({_NTOK} AS BIGINT) AS n_tokens,
               cast(length(text) AS BIGINT) AS n_chars_total,
               cast(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS n_chars_nows,
               round(CASE WHEN {_NTOK} > 0
                     THEN cast(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / {_NTOK}
                     ELSE 0.0 END, 6) AS mean_tok_len
        FROM documents ORDER BY doc_id
    """,
    "text_quality": f"""
        SELECT doc_id,
               round(CASE WHEN length(text) > 0
                     THEN cast(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)
                     ELSE 0.0 END, 6) AS punct_ratio,
               round(CASE WHEN {_NTOK} > 0
                     THEN cast(len(list_filter({_TOKS}, x -> list_contains([{_SW}], lower(x)))) AS DOUBLE) / {_NTOK}
                     ELSE 0.0 END, 6) AS stopword_ratio,
               round(CASE WHEN {_NTOK} > 0
                     THEN cast(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / {_NTOK}
                     ELSE 0.0 END, 6) AS mean_tok_len,
               cast(CASE WHEN round(CASE WHEN {_NTOK} > 0
                          THEN cast(len(list_filter({_TOKS}, x -> list_contains([{_SW}], lower(x)))) AS DOUBLE) / {_NTOK}
                          ELSE 0.0 END, 6) BETWEEN 0.01 AND 0.6
                     AND round(CASE WHEN {_NTOK} > 0
                          THEN cast(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / {_NTOK}
                          ELSE 0.0 END, 6) BETWEEN 2.0 AND 12.0
                     THEN 1 ELSE 0 END AS BIGINT) AS quality_flag
        FROM documents ORDER BY doc_id
    """,
    "text_lang_id": f"""
        SELECT doc_id,
               lang AS declared_lang,
               cast({_marker_count('en')} AS BIGINT) AS score_en,
               cast({_marker_count('es')} AS BIGINT) AS score_es,
               cast({_marker_count('fr')} AS BIGINT) AS score_fr,
               cast({_marker_count('de')} AS BIGINT) AS score_de,
               CASE WHEN {_marker_count('en')} > 0 AND {_marker_count('en')} >= {_marker_count('es')}
                         AND {_marker_count('en')} >= {_marker_count('fr')} AND {_marker_count('en')} >= {_marker_count('de')} THEN 'en'
                    WHEN {_marker_count('es')} > 0 AND {_marker_count('es')} >= {_marker_count('fr')}
                         AND {_marker_count('es')} >= {_marker_count('de')} THEN 'es'
                    WHEN {_marker_count('fr')} > 0 AND {_marker_count('fr')} >= {_marker_count('de')} THEN 'fr'
                    WHEN {_marker_count('de')} > 0 THEN 'de'
                    ELSE 'unk' END AS predicted_lang
        FROM documents ORDER BY doc_id
    """,
    "doc_fingerprint": f"""
        SELECT doc_id,
               cast(coalesce(list_sum(list_transform(range(1, {_NTOK} + 1),
                    i -> (i * (ascii(substring(({_TOKS})[i], 1, 1)) * 131
                          + length(({_TOKS})[i]))) % 2147483647)), 0)
                    % 2147483647 AS BIGINT) AS fingerprint
        FROM documents ORDER BY doc_id
    """,
    "dedup_exact": """
        SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS text_hash,
               min(doc_id) AS keeper_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY 1 ORDER BY keeper_id
    """,
    "dedup_bow": """
        SELECT md5(array_to_string(list_sort(list_distinct(
                 string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '))), ' ')) AS bow_hash,
               min(doc_id) AS keeper_id,
               count(*) AS n_docs
        FROM documents
        GROUP BY 1 ORDER BY keeper_id
    """,
    "embedding_norms": """
        SELECT vec_id,
               round(sqrt(list_sum(list_transform(embedding,
                     x -> cast(x AS DOUBLE) * cast(x AS DOUBLE)))), 6) AS l2_norm,
               cast(len(embedding) AS BIGINT) AS dim
        FROM embeddings ORDER BY vec_id
    """,
    "volume_shipping": """
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               cast(year(l_shipdate) AS BIGINT) AS l_year,
               cast(round(sum(cast(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_lines
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          AND sn.n_name <> cn.n_name
        GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year
    """,
    "product_profit": """
        SELECT n_name AS nation, cast(year(l_shipdate) AS BIGINT) AS l_year,
               cast(round(sum(cast(l_extendedprice * (1 - l_discount)
                                   - 0.1 * p_retailprice * l_quantity AS DECIMAL(18,4))), 2)
                    AS DOUBLE) AS profit,
               count(*) AS n_lines
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%widget%'
        GROUP BY 1, 2 ORDER BY nation, l_year
    """,
    "returned_top_customers": """
        SELECT c_custkey, c_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_lines
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    "promo_revenue": """
        SELECT cast(month(l_shipdate) AS BIGINT) AS l_month,
               round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_pct,
               count(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY 1 ORDER BY l_month
    """,
    "large_volume_customers": """
        WITH big AS (
          SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
          FROM lineitem GROUP BY 1 HAVING round(sum(l_quantity), 2) > 250)
        SELECT c_custkey, c_name, o_orderkey, o_orderdate,
               round(o_totalprice, 2) AS o_price, sum_qty
        FROM big
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_price DESC, o_orderkey LIMIT 100
    """,
    "brand_disc_revenue": """
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#25' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 20 AND 30)
    """,
    "top_revenue_suppliers": """
        WITH rev AS (
          SELECT l_suppkey,
                 sum(cast(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS r
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
          GROUP BY 1)
        SELECT s_suppkey, s_name,
               cast(round(r, 2) AS DOUBLE) AS total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE r = (SELECT max(r) FROM rev)
        ORDER BY s_suppkey
    """,
    "small_qty_revenue": """
        WITH li_b AS (
          SELECT p_partkey, l_quantity, l_extendedprice
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_brand = 'Brand#13'),
        avg_q AS (
          SELECT p_partkey AS pk, avg(l_quantity) AS avg_qty
          FROM li_b GROUP BY 1)
        SELECT cast(round(sum(cast(l_extendedprice AS DECIMAL(18,4))) / 7.0, 2) AS DOUBLE) AS avg_yearly,
               count(*) AS n_lines
        FROM li_b JOIN avg_q ON p_partkey = pk
        WHERE l_quantity < 0.2 * avg_qty
    """,
    "idle_rich_customers": """
        WITH c AS (
          SELECT c_custkey, c_mktsegment,
                 cast(c_acctbal AS DECIMAL(18,2)) AS bal
          FROM customer),
        pos AS (
          SELECT sum(bal) AS total, count(*) AS n FROM c WHERE bal > 0)
        SELECT c_mktsegment, count(*) AS n_customers,
               cast(round(sum(bal), 2) AS DOUBLE) AS total_bal
        FROM c CROSS JOIN pos
        WHERE bal * n > total
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        GROUP BY 1 ORDER BY c_mktsegment
    """,
    "min_cost_supplier": """
        WITH cat AS (
          SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                 round(min(l_extendedprice / l_quantity), 4) AS ps_unit_cost
          FROM lineitem GROUP BY 1, 2),
        s AS (
          SELECT s_suppkey, s_name, s_acctbal, n_name AS nation
          FROM supplier
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'ASIA'),
        cat_r AS (
          SELECT * FROM cat JOIN s ON ps_suppkey = s_suppkey),
        mn AS (
          SELECT ps_partkey AS pk, min(ps_unit_cost) AS min_cost
          FROM cat_r GROUP BY 1)
        SELECT p_partkey, p_name, s_name, nation,
               cast(round(s_acctbal, 2) AS DOUBLE) AS s_acctbal,
               ps_unit_cost AS unit_cost
        FROM cat_r
        JOIN mn ON ps_partkey = pk AND ps_unit_cost = min_cost
        JOIN part ON ps_partkey = p_partkey
        WHERE p_type = 'LARGE' AND p_size IN (15, 25, 35, 45)
        ORDER BY s_acctbal DESC, p_partkey, s_name
    """,
    "market_share": """
        SELECT cast(year(o_orderdate) AS BIGINT) AS o_year,
               cast(round(
                 sum(cast(CASE WHEN n_name = 'NATION_3'
                     THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(18,4)))
                 / sum(cast(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 6) AS DOUBLE) AS mkt_share,
               cast(round(sum(cast(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_volume
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_type = 'PROMO'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND o_custkey IN (
            SELECT c_custkey FROM customer
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            JOIN region ON cn.n_regionkey = r_regionkey
            WHERE r_name = 'AMERICA')
        GROUP BY 1 ORDER BY o_year
    """,
    "important_parts": """
        WITH per_part AS (
          SELECT l_partkey, sum(cast(l_extendedprice AS DECIMAL(18,4))) AS value
          FROM lineitem
          WHERE l_suppkey IN (
            SELECT s_suppkey FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3')
          GROUP BY 1)
        SELECT l_partkey AS p_partkey,
               cast(round(value, 2) AS DOUBLE) AS part_value
        FROM per_part
        WHERE value * 1000 > (SELECT sum(value) FROM per_part)
        ORDER BY part_value DESC, p_partkey
    """,
    "late_shipment_priority": """
        SELECT cast(floor(date_diff('day', o_orderdate, l_shipdate) / 30.0) AS BIGINT) AS latency_bucket,
               count(*) FILTER (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS high_prio_lines,
               count(*) FILTER (o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS low_prio_lines
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY 1 ORDER BY latency_bucket
    """,
    "customer_order_distribution": """
        WITH per_cust AS (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer
          LEFT JOIN orders ON c_custkey = o_custkey
                          AND o_orderpriority <> '5-LOW'
          GROUP BY 1)
        SELECT c_count, count(*) AS custdist
        FROM per_cust GROUP BY 1
        ORDER BY custdist DESC, c_count DESC
    """,
    "supplier_part_variety": """
        SELECT p_brand, p_type, p_size,
               count(DISTINCT ps_suppkey) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
              FROM lineitem) cat
        JOIN part ON ps_partkey = p_partkey
        WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
          AND p_size IN (9, 14, 19, 23, 36, 45, 49, 3)
          AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    "excess_share_suppliers": """
        WITH li_red AS (
          SELECT p_partkey, l_suppkey, cast(l_quantity AS DECIMAL(18,2)) AS qty
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_name LIKE 'red%'
            AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'),
        per_supp AS (
          SELECT p_partkey, l_suppkey, sum(qty) AS supp_qty
          FROM li_red GROUP BY 1, 2),
        per_part AS (
          SELECT p_partkey AS pk, sum(qty) AS part_qty
          FROM li_red GROUP BY 1)
        SELECT DISTINCT s_suppkey, s_name
        FROM per_supp
        JOIN per_part ON p_partkey = pk
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE supp_qty * 10 > part_qty * 3
        ORDER BY s_suppkey
    """,
    "docs_dup_spans": """
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
          FROM documents),
        spans AS (
          SELECT doc_id,
                 array_to_string(t[u.n * 20 + 1 : u.n * 20 + 20], ' ') AS span
          FROM toks, unnest(range(0, len(t) // 20)) AS u(n)),
        cnt AS (SELECT span, count(*) AS c FROM spans GROUP BY 1)
        SELECT doc_id, count(*) AS n_spans,
               count(*) FILTER (c > 1) AS n_dup_spans,
               round(cast(count(*) FILTER (c > 1) AS DOUBLE) / count(*), 6) AS dup_span_frac
        FROM spans JOIN cnt USING (span)
        GROUP BY 1 ORDER BY doc_id
    """,
    "docs_chunks": """
        WITH toks AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
          FROM documents WHERE length(trim(text)) > 0),
        nc AS (
          SELECT doc_id, t,
                 1 + (greatest(len(t) - 128, 0) + 112 - 1) // 112 AS n_chunks
          FROM toks),
        ch AS (
          SELECT doc_id, u.i AS chunk_id,
                 array_to_string(t[u.i * 112 + 1 : u.i * 112 + 128], ' ') AS chunk_text
          FROM nc, unnest(range(0, n_chunks)) AS u(i))
        SELECT doc_id, chunk_id, md5(chunk_text) AS chunk_hash,
               len(string_split(chunk_text, ' ')) AS n_chunk_tokens
        FROM ch ORDER BY doc_id, chunk_id
    """,
    "events_session_window": """
        WITH o AS (
          SELECT user_id, ts, value, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        g AS (
          SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sid
          FROM o)
        SELECT user_id,
               epoch_us(min(ts)) AS session_start_us,
               epoch_us(max(ts)) + 1800000000 AS session_end_us,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM g GROUP BY user_id, sid
        ORDER BY user_id, session_start_us
    """,
    "customer_balance_ranks": """
        WITH ranked AS (
          SELECT c_mktsegment, c_custkey,
                 cast(round(c_acctbal, 2) AS DOUBLE) AS acctbal,
                 cast(dense_rank() OVER w AS BIGINT) AS bal_dense_rank,
                 round(percent_rank() OVER w, 6) AS bal_pct_rank,
                 round(cume_dist() OVER w, 6) AS bal_cume_dist
          FROM customer
          WINDOW w AS (PARTITION BY c_mktsegment
                       ORDER BY c_acctbal DESC, c_custkey))
        SELECT * FROM ranked
        WHERE bal_dense_rank <= 10
        ORDER BY c_mktsegment, bal_dense_rank, c_custkey
    """,
    "minhash_lsh_verified": """
        WITH sh AS (
          SELECT doc_id, unnest(
                 list_distinct(list_transform(
                   range(1, greatest(len(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) - 2, 0) + 1),
                   i -> concat(
                     string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')[i], ' ',
                     string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')[i+1], ' ',
                     string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')[i+2])))) AS s
          FROM documents),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)
        SELECT id_a, id_b,
               round(cast(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE round(cast(c AS DOUBLE) / (sa.n + sb.n - c), 6) >= 0.7
        ORDER BY id_a, id_b
    """,
    "docs_length_histogram": """
        WITH n AS (
          SELECT lang,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+')) END AS ntok
          FROM documents)
        SELECT lang,
               CASE WHEN ntok = 0 THEN cast(-1 AS BIGINT)
                    ELSE cast(length(printf('%b', ntok)) - 1 AS BIGINT) END AS log2_tokens,
               count(*) AS n_docs,
               cast(sum(ntok) AS BIGINT) AS total_tokens
        FROM n GROUP BY 1, 2 ORDER BY lang, log2_tokens
    """,
    "waiting_suppliers": """
        WITH per_order AS (
          SELECT l_orderkey,
                 count(DISTINCT l_suppkey) AS n_supp,
                 count(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                                     THEN l_suppkey END) AS n_late,
                 max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                          THEN l_suppkey END) AS late_supp
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderstatus = 'F'
          GROUP BY 1)
        SELECT s_name, count(*) AS numwait
        FROM per_order JOIN supplier ON late_supp = s_suppkey
        WHERE n_supp > 1 AND n_late = 1
        GROUP BY 1
        ORDER BY numwait DESC, s_name
        LIMIT 20
    """,
    "embedding_near_dup": f"""
        WITH planes(w, p) AS (VALUES {_lsh_plane_values()}),
        bkt AS (
          SELECT e.vec_id,
                 cast(sum(CASE WHEN list_sum(list_transform(range(1, 65),
                        j -> cast(e.embedding[j] AS DOUBLE) * pl.p[j])) >= 0
                      THEN pl.w ELSE 0 END) AS BIGINT) AS bucket
          FROM embeddings e CROSS JOIN planes pl GROUP BY e.vec_id),
        cand AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 {_duck_cosine('ea.embedding', 'eb.embedding')} AS cosine_sim
          FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
          JOIN embeddings ea ON ea.vec_id = a.vec_id
          JOIN embeddings eb ON eb.vec_id = b.vec_id)
        SELECT id_a, id_b, cosine_sim FROM cand
        WHERE cosine_sim >= 0.4 ORDER BY id_a, id_b
    """,
    "embedding_near_dup_topk": f"""
        WITH planes(w, p) AS (VALUES {_lsh_plane_values()}),
        bkt AS (
          SELECT e.vec_id,
                 cast(sum(CASE WHEN list_sum(list_transform(range(1, 65),
                        j -> cast(e.embedding[j] AS DOUBLE) * pl.p[j])) >= 0
                      THEN pl.w ELSE 0 END) AS BIGINT) AS bucket
          FROM embeddings e CROSS JOIN planes pl GROUP BY e.vec_id),
        cand AS (
          SELECT a.vec_id, b.vec_id AS neighbor_id,
                 {_duck_cosine('ea.embedding', 'eb.embedding')} AS cosine_sim
          FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
          JOIN embeddings ea ON ea.vec_id = a.vec_id
          JOIN embeddings eb ON eb.vec_id = b.vec_id),
        ranked AS (
          SELECT vec_id, neighbor_id, cosine_sim,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cosine_sim DESC, neighbor_id) AS rk
          FROM cand)
        SELECT vec_id, neighbor_id, cosine_sim, CAST(rk AS BIGINT) AS rank
        FROM ranked WHERE rk <= 5 ORDER BY vec_id, rank
    """,
    # k-means: the oracle re-derives the deterministic init (vec_id % 7
    # sample, first 8), ONE Lloyd update with 6-dp centroid rounding,
    # and the final squared-L2 assignment — iteration-for-iteration the
    # same arithmetic as operators/clustering.kmeans_lite
    "embedding_kmeans": """
        WITH c0 AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                 list_transform(embedding, x -> cast(x AS DOUBLE)) AS cvec
          FROM (SELECT vec_id, embedding FROM embeddings
                WHERE vec_id % 7 = 0 ORDER BY vec_id LIMIT 8)),
        d1 AS (
          SELECT e.vec_id, c.cell,
                 round(list_sum(list_transform(range(1, 65),
                   i -> (cast(e.embedding[i] AS DOUBLE) - c.cvec[i])
                      * (cast(e.embedding[i] AS DOUBLE) - c.cvec[i]))), 6) AS dist2
          FROM embeddings e CROSS JOIN c0 c),
        a1 AS (
          SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cell) AS rn
            FROM d1) WHERE rn = 1),
        upd AS (
          SELECT a1.cell, i.idx,
                 round(avg(cast(e.embedding[i.idx] AS DOUBLE)), 6) AS cx
          FROM a1 JOIN embeddings e USING (vec_id)
          CROSS JOIN (SELECT unnest(range(1, 65)) AS idx) i
          GROUP BY a1.cell, i.idx),
        c1 AS (SELECT cell, list(cx ORDER BY idx) AS cvec FROM upd GROUP BY cell),
        cf AS (
          SELECT c0.cell, coalesce(c1.cvec, c0.cvec) AS cvec
          FROM c0 LEFT JOIN c1 USING (cell)),
        d2 AS (
          SELECT e.vec_id, c.cell,
                 round(list_sum(list_transform(range(1, 65),
                   i -> (cast(e.embedding[i] AS DOUBLE) - c.cvec[i])
                      * (cast(e.embedding[i] AS DOUBLE) - c.cvec[i]))), 6) AS dist2
          FROM embeddings e CROSS JOIN cf c)
        SELECT vec_id, cast(cell AS BIGINT) AS cluster, dist2 FROM (
          SELECT vec_id, cell, dist2,
                 row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cell) AS rn
          FROM d2) WHERE rn = 1 ORDER BY vec_id
    """,
    "ann_lsh_topk": f"""
        WITH {_LSH_CTES}
        SELECT query_id, vec_id, cosine_sim, cast(rank AS BIGINT) AS rank
        FROM lsh_ranked WHERE rank <= 10 ORDER BY query_id, rank
    """,
    "ann_lsh_recall": f"""
        WITH {_LSH_CTES},
        {_BF10_CTES},
        a10 AS (SELECT query_id, vec_id FROM lsh_ranked WHERE rank <= 10)
        {_RECALL_SELECT}
    """,
    "ann_ivf_topk": f"""
        WITH {_IVF_CTES}
        SELECT query_id, vec_id, cosine_sim, cast(rank AS BIGINT) AS rank
        FROM ivf_ranked WHERE rank <= 10 ORDER BY query_id, rank
    """,
    "ann_ivf_recall": f"""
        WITH {_IVF_CTES},
        q AS (SELECT query_id, qe FROM qv),
        {_BF10_CTES},
        a10 AS (SELECT query_id, vec_id FROM ivf_ranked WHERE rank <= 10)
        {_RECALL_SELECT}
    """,
    "similarity_bruteforce": """
        WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id IN (0, 1, 2)),
        scored AS (
          SELECT q.query_id, e.vec_id,
                 round(CASE WHEN sqrt(list_sum(list_transform(e.embedding, x -> cast(x AS DOUBLE) * cast(x AS DOUBLE))))
                            * sqrt(list_sum(list_transform(q.qe, x -> cast(x AS DOUBLE) * cast(x AS DOUBLE)))) > 0
                       THEN list_sum(list_transform(range(1, len(e.embedding) + 1),
                              i -> cast(e.embedding[i] AS DOUBLE) * cast(q.qe[i] AS DOUBLE)))
                            / (sqrt(list_sum(list_transform(e.embedding, x -> cast(x AS DOUBLE) * cast(x AS DOUBLE))))
                               * sqrt(list_sum(list_transform(q.qe, x -> cast(x AS DOUBLE) * cast(x AS DOUBLE)))))
                       ELSE 0.0 END, 6) AS cosine_sim
          FROM embeddings e CROSS JOIN q),
        ranked AS (
          SELECT query_id, vec_id, cosine_sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine_sim DESC, vec_id ASC) AS rank
          FROM scored)
        SELECT query_id, vec_id, cosine_sim, cast(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= 10 ORDER BY query_id, rank
    """,
    "events_sessionize": """
        SELECT user_id, count(*) AS n_events,
               cast(sum(is_new) AS BIGINT) AS n_sessions
        FROM (
          SELECT user_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                      OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        GROUP BY user_id ORDER BY user_id
    """,
    "event_window_agg": """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM events
        GROUP BY 1, 2 ORDER BY window_start, event_type
    """,
    "revenue_by_nation": """
        SELECT n_name, r_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_lines
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY n_name, r_name ORDER BY n_name
    """,
    "filtered_revenue": """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
               count(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    "orders_cube": """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS sum_price,
               cast(grouping(o_orderstatus) AS BIGINT) AS g_status,
               cast(grouping(o_orderpriority) AS BIGINT) AS g_priority
        FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority
    """,
    "jaccard_top_pairs": """
        WITH sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   range(1, greatest(len(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) - 2, 0) + 1),
                   i -> concat(
                     string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')[i], ' ',
                     string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')[i+1], ' ',
                     string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')[i+2]))) AS s
          FROM documents WHERE doc_id < 100)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(CASE WHEN (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) > 0
                     THEN cast(len(list_intersect(a.s, b.s)) AS DOUBLE)
                          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                     ELSE 0.0 END, 6) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        ORDER BY jaccard DESC, id_a, id_b LIMIT 20
    """,
    "multimodal_features": """
        SELECT doc_id AS media_id,
               'doc' AS kind,
               cast(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               lower(sha256(text)) AS checksum,
               octet_length(encode(text)) > 0 AS decode_ok
        FROM documents ORDER BY media_id
    """,
    "orders_asof_join": """
        WITH r AS (
          SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
          FROM (
            SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                      ORDER BY o_orderkey DESC) AS rn
            FROM orders)
          WHERE rn = 1)
        SELECT e.event_id, e.user_id,
               r.o_orderkey AS prev_orderkey,
               r.o_totalprice AS prev_price
        FROM events e ASOF LEFT JOIN r
        ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
        ORDER BY event_id
    """,
    "running_revenue": """
        SELECT o_custkey, o_orderkey,
               round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_spend,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS order_seq,
               cast(date_diff('day',
                    lag(o_orderdate) OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate, o_orderkey),
                    o_orderdate) AS BIGINT) AS days_since_prev
        FROM orders ORDER BY o_custkey, order_seq
    """,
    "latest_event_per_type": """
        SELECT event_type,
               arg_max(event_id, ts) AS last_event_id,
               max(ts) AS last_ts,
               count(*) AS n_events
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "embedding_dup_pairs": """
        WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(CASE WHEN sqrt(list_sum(list_transform(a.embedding, x -> cast(x AS DOUBLE) * cast(x AS DOUBLE))))
                          * sqrt(list_sum(list_transform(b.embedding, x -> cast(x AS DOUBLE) * cast(x AS DOUBLE)))) > 0
                     THEN list_sum(list_transform(range(1, len(a.embedding) + 1),
                            i -> cast(a.embedding[i] AS DOUBLE) * cast(b.embedding[i] AS DOUBLE)))
                          / (sqrt(list_sum(list_transform(a.embedding, x -> cast(x AS DOUBLE) * cast(x AS DOUBLE))))
                             * sqrt(list_sum(list_transform(b.embedding, x -> cast(x AS DOUBLE) * cast(x AS DOUBLE)))))
                     ELSE 0.0 END, 6) AS cosine_sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        ORDER BY cosine_sim DESC, id_a, id_b LIMIT 20
    """,
    "text_bpe_tokens": f"""
        SELECT doc_id,
               cast(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
               cast({_NTOK} AS BIGINT) AS n_ws_tokens
        FROM documents ORDER BY doc_id
    """,
    "purchases_after_click": """
        SELECT c.event_id AS click_id, p.event_id AS purchase_id, p.user_id
        FROM events p JOIN events c
          ON p.user_id = c.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts
         AND p.ts <= c.ts + INTERVAL 1 HOUR
        ORDER BY click_id, purchase_id
    """,
    "salted_skew_join": """
        WITH dim AS (SELECT event_type, avg(value) AS type_avg FROM events GROUP BY event_type)
        SELECT e.event_id, e.event_type,
               round(e.value, 2) AS value,
               round(d.type_avg, 6) AS type_avg
        FROM events e JOIN dim d USING (event_type)
        WHERE e.value > d.type_avg
        ORDER BY e.event_id
    """,
    "price_percentiles": """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               round(quantile_cont(o_totalprice, 0.25), 2) AS p25,
               round(quantile_cont(o_totalprice, 0.50), 2) AS p50,
               round(quantile_cont(o_totalprice, 0.75), 2) AS p75
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "name_edit_distance": """
        WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_partkey <= 200)
        SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
               cast(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
        FROM p a JOIN p b ON a.p_partkey < b.p_partkey
        ORDER BY edit_dist, id_a, id_b LIMIT 20
    """,
    "summary_grouping_sets": """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_items,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY l_returnflag, l_linestatus
    """,
    "docs_hash_sample": """
        SELECT doc_id, lang, source FROM documents
        WHERE substr(md5(doc_id::VARCHAR), 1, 4) < '4000'
        ORDER BY doc_id
    """,
    "docs_epoch_shuffle": """
        SELECT doc_id, lang, source,
               md5('epoch1:' || doc_id::VARCHAR) AS shuffle_key
        FROM documents ORDER BY shuffle_key, doc_id
    """,
    "docs_train_test_split": """
        SELECT CASE WHEN substr(md5(doc_id::VARCHAR), 1, 4) < '199a'
                    THEN 'test' ELSE 'train' END AS split,
               count(*) AS n_docs,
               cast(sum(n_chars::BIGINT) AS BIGINT) AS total_chars
        FROM documents GROUP BY split ORDER BY split
    """,
    "docs_group_quota": """
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                     ORDER BY substr(md5(doc_id::VARCHAR), 1, 4), doc_id) AS rn
          FROM documents)
        WHERE rn <= 30 ORDER BY source, doc_id
    """,
    "orders_top_unshipped": """
        SELECT l_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               o_orderdate, o_orderpriority
        FROM lineitem
             JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-01'
          AND l_shipdate > TIMESTAMP '1998-06-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
    "order_priority_counts": """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1998-01-01'
          AND o_orderdate < TIMESTAMP '1998-04-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate)
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "docs_unigram_logprob": f"""
        WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
                   FROM documents WHERE length(trim(text)) > 0),
        -- position carried so the final fold replays Spark's ordered
        -- left-to-right F.aggregate exactly (unordered avg() sums in
        -- engine-chosen order — a last-ulp flake risk on long docs;
        -- same fix as the bigram gate)
        tok AS (SELECT doc_id, i AS pos, tk[i] AS token
                FROM d, unnest(range(1, len(tk) + 1)) AS u(i)),
        tot AS (SELECT count(*)::DOUBLE AS n FROM tok),
        vocab AS (SELECT token, count(*) AS c FROM tok
                  GROUP BY token ORDER BY c DESC, token
                  LIMIT {UNIGRAM_VOCAB_K}),
        scored AS (
          SELECT tok.doc_id,
                 count(*) AS n_tokens,
                 list_reduce(list(coalesce(ln(v.c / tot.n), ln(0.5 / tot.n))
                                  ORDER BY tok.pos),
                             (a, b) -> a + b) / count(*) AS alp
          FROM tok CROSS JOIN tot LEFT JOIN vocab v ON tok.token = v.token
          GROUP BY tok.doc_id)
        SELECT doc_id, n_tokens::BIGINT AS n_tokens,
               round(alp, 6) AS avg_logprob
        FROM scored ORDER BY doc_id
    """,
    "docs_stratified_sample": """
        WITH cnt AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        thr AS (SELECT lang,
                       CASE WHEN c <= 50 THEN 'g'
                            ELSE printf('%04x',
                                 CAST(floor((50.0 / c) * 65536) AS INT)) END AS th
                FROM cnt)
        SELECT d.doc_id, d.lang, d.source
        FROM documents d JOIN thr ON d.lang = thr.lang
        WHERE substr(md5(d.doc_id::VARCHAR), 1, 4) < thr.th
        ORDER BY d.doc_id
    """,
    "docs_temperature_mix": """
        WITH per AS (SELECT lang, count(*) AS n_docs FROM documents
                     GROUP BY lang),
        tot AS (SELECT cast(sum(n_docs) AS DOUBLE) AS total,
                       sum(pow(cast(n_docs AS DOUBLE), 0.7)) AS ptotal FROM per)
        SELECT lang, n_docs,
               cast(round(n_docs / tot.total, 6) AS DOUBLE) AS raw_frac,
               cast(round(pow(cast(n_docs AS DOUBLE), 0.7) / tot.ptotal, 6)
                    AS DOUBLE) AS temp_frac,
               cast(round((pow(cast(n_docs AS DOUBLE), 0.7) / tot.ptotal)
                          / (n_docs / tot.total), 6) AS DOUBLE) AS sample_multiplier
        FROM per CROSS JOIN tot ORDER BY lang
    """,
    "docs_mixture_weights": """
        WITH per AS (SELECT lang, count(*) AS n_docs FROM documents
                     GROUP BY lang),
        tot AS (SELECT sum(n_docs)::DOUBLE AS total,
                       count(*)::DOUBLE AS n_langs FROM per)
        SELECT lang, n_docs,
               round(n_docs / tot.total, 6) AS actual_frac,
               round((tot.total / tot.n_langs) / n_docs, 6) AS mix_weight
        FROM per CROSS JOIN tot ORDER BY lang
    """,
    "docs_pack_bins": f"""
        WITH sized AS (
          SELECT doc_id, lang, doc_id % 8 AS shard,
                 cast({_NTOK} AS BIGINT) AS n_tokens FROM documents),
        binned AS (
          SELECT lang, shard, n_tokens,
                 cast(floor(coalesce(sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 4000) AS BIGINT) AS bin_id
          FROM sized)
        SELECT lang, shard, bin_id, count(*) AS n_docs,
               cast(sum(n_tokens) AS BIGINT) AS bin_tokens
        FROM binned GROUP BY lang, shard, bin_id ORDER BY lang, shard, bin_id
    """,
    "docs_quality_bins": f"""
        WITH scored AS (
          SELECT doc_id,
                 round(cast(len(list_distinct({_TOKS})) AS DOUBLE)
                       / len({_TOKS}), 6) AS quality
          FROM documents WHERE length(trim(text)) > 0),
        cuts AS (
          SELECT list_transform(
                   quantile_cont(quality, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
                   c -> round(c, 6)) AS cs
          FROM scored),
        binned AS (
          SELECT doc_id, quality,
                 cast(1 + len(list_filter(cs, c -> quality <= c)) AS BIGINT) AS decile
          FROM scored, cuts)
        SELECT decile, count(*) AS n_docs,
               round(min(quality), 6) AS min_quality,
               round(max(quality), 6) AS max_quality
        FROM binned GROUP BY decile ORDER BY decile
    """,
    "dq_report": """
        SELECT count(*) AS n_rows,
               cast(count_if(o_orderkey IS NULL) AS BIGINT) AS null_keys,
               cast(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS dup_keys,
               cast(count_if(o_totalprice <= 0) AS BIGINT) AS nonpositive_price,
               cast(count_if(o_orderdate IS NULL) AS BIGINT) AS null_dates,
               cast(round(count_if(o_orderkey IS NOT NULL) * 100.0 / count(*), 6)
                    AS DOUBLE) AS key_completeness_pct
        FROM orders
    """,
    "vocab_topk": """
        SELECT token, count(*) AS n_occurrences
        FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
              FROM documents WHERE length(trim(text)) > 0)
        GROUP BY token ORDER BY n_occurrences DESC, token LIMIT 50
    """,
    "dedup_components": """
        WITH RECURSIVE
        d AS (SELECT doc_id, source, lang, n_chars FROM documents WHERE doc_id < 200),
        e1 AS (SELECT a.doc_id AS u, b.doc_id AS v FROM d a JOIN d b
                 ON a.source = b.source AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id),
        e2 AS (SELECT a.doc_id AS u, b.doc_id AS v FROM d a JOIN d b
                 ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id),
        sym AS (SELECT u, v FROM e1 UNION SELECT u, v FROM e2
                UNION SELECT v, u FROM e1 UNION SELECT v, u FROM e2),
        reach AS (SELECT u, v FROM sym
                  UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u)
        SELECT d.doc_id,
               least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_id
        FROM d LEFT JOIN reach r ON r.u = d.doc_id
        GROUP BY d.doc_id ORDER BY d.doc_id
    """,
    "orders_above_cust_avg": """
        SELECT o.o_orderkey, o.o_custkey,
               round(o.o_totalprice, 2) AS totalprice
        FROM orders o
        WHERE o.o_totalprice > 1.5 * (
            SELECT avg(o2.o_totalprice) FROM orders o2
            WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o.o_orderkey
    """,
    "customers_without_orders": """
        SELECT c.c_custkey, c.c_name
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        ORDER BY c.c_custkey
    """,
    "suppliers_per_region": """
        SELECT r.r_name, n.n_name,
               count(*) AS n_suppliers,
               round(avg(s.s_acctbal), 2) AS avg_acctbal
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name ORDER BY r.r_name, n.n_name
    """,
    "docs_pii_scrub": f"""
        SELECT doc_id,
               cast(len(regexp_extract_all(text, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
               cast(len(regexp_extract_all(text, '{PII_PHONE.replace(chr(92) + 'b', chr(92) + chr(92) + 'b')}')) AS BIGINT) AS n_phones,
               md5(regexp_replace(regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g'),
                   '{PII_PHONE.replace(chr(92) + 'b', chr(92) + chr(92) + 'b')}', '<PHONE>', 'g')) AS scrubbed_md5
        FROM documents ORDER BY doc_id
    """,
    "decontaminate_overlap": """
        WITH toks AS (
          SELECT doc_id,
                 string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t,
                 substr(md5(doc_id::VARCHAR), 1, 4) < '199a' AS is_test
          FROM documents),
        grams AS (
          SELECT DISTINCT doc_id, is_test,
                 array_to_string(list_slice(t, i, i + 4), ' ') AS gram
          FROM toks, unnest(range(1, greatest(len(t) - 4, 0) + 1)) AS u(i)),
        test_grams AS (SELECT DISTINCT gram FROM grams WHERE is_test)
        SELECT DISTINCT g.doc_id
        FROM grams g
        WHERE NOT g.is_test AND g.gram IN (SELECT gram FROM test_grams)
        ORDER BY g.doc_id
    """,
    "parts_skyline": """
        SELECT p_partkey, round(p_retailprice, 2) AS p_retailprice, p_size
        FROM part a
        WHERE NOT EXISTS (
            SELECT 1 FROM part b
            WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
              AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
        ORDER BY p_partkey
    """,
    "incremental_agg_merge": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_rev,
               count(*) AS n_lines
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "video_frame_sample": """
        SELECT d.doc_id AS media_id, i.i AS frame_idx,
               lower(sha256(d.text || cast(i.i AS VARCHAR))) AS frame_checksum,
               cast(32 AS BIGINT) AS n_bytes
        FROM (SELECT doc_id, text FROM documents WHERE doc_id < 200) d
        CROSS JOIN (SELECT unnest(range(0, 4)) AS i) i
        ORDER BY media_id, frame_idx
    """,
    "audio_segments": """
        WITH d AS (
          SELECT doc_id, text,
                 ((octet_length(encode(text)) // 2) * 1000) // 1000 AS dur_ms,
                 octet_length(encode(text)) AS nb
          FROM documents WHERE doc_id < 200),
        seg AS (
          SELECT doc_id, text,
                 CASE WHEN nb = 0 THEN 0
                      WHEN dur_ms <= 25 THEN 1
                      ELSE 1 + (dur_ms - 25) // 10 END AS n_seg
          FROM d)
        SELECT doc_id AS media_id,
               cast(i.i AS BIGINT) AS segment_idx,
               cast(i.i * 10 AS BIGINT) AS start_ms,
               lower(sha256(text || 'seg' || cast(i.i AS VARCHAR))) AS segment_checksum
        FROM seg CROSS JOIN LATERAL (SELECT unnest(range(0, n_seg)) AS i) i
        ORDER BY media_id, segment_idx
    """,
    "docs_filter_pipeline": f"""
        SELECT doc_id,
               {_NTOK} AS n_tokens,
               {_PUNCT} AS punct_ratio,
               {_SWR} AS stopword_ratio,
               {_MTL} AS mean_tok_len,
               {_DUPF} AS dup_bigram_frac,
               ({_NTOK} BETWEEN 10 AND 1000
                AND {_SWR} BETWEEN 0.01 AND 0.6
                AND {_MTL} BETWEEN 2.0 AND 12.0
                AND {_PUNCT} <= 0.3
                AND {_DUPF} <= 0.3) AS keep
        FROM documents ORDER BY doc_id
    """,
    "orders_price_histogram": """
        SELECT cast(least(floor((o_totalprice - 0.0) / 25000.0), 23) AS BIGINT) AS bucket,
               count(*) AS n_orders,
               round(min(o_totalprice), 2) AS min_price,
               round(max(o_totalprice), 2) AS max_price
        FROM orders GROUP BY bucket ORDER BY bucket
    """,
    "docs_char_entropy": """
        SELECT doc_id,
               round(-list_sum(list_transform(
                 list_distinct(list_filter(string_split(text, ''), x -> x != '')),
                 ch -> ((length(text) - length(replace(text, ch, '')))
                          / cast(length(text) AS DOUBLE))
                       * ln((length(text) - length(replace(text, ch, '')))
                          / cast(length(text) AS DOUBLE)))), 6) AS char_entropy,
               cast(length(text) AS BIGINT) AS n_chars
        FROM documents
        WHERE text IS NOT NULL AND length(text) > 0
        ORDER BY doc_id
    """,
    "docs_repetition": """
        WITH b AS (
          SELECT doc_id,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+')) END AS ntok,
                 list_distinct(list_transform(
                   range(1, greatest(len(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) - 1, 0) + 1),
                   i -> concat(
                     string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')[i], ' ',
                     string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')[i+1]))) AS bi
          FROM documents)
        SELECT doc_id,
               cast(greatest(ntok - 1, 0) AS BIGINT) AS n_bigrams,
               cast(len(bi) AS BIGINT) AS n_distinct_bigrams,
               round(CASE WHEN ntok - 1 > 0
                     THEN 1.0 - len(bi) / cast(ntok - 1 AS DOUBLE)
                     ELSE 0.0 END, 6) AS dup_bigram_frac
        FROM b ORDER BY doc_id
    """,
    "image_resize": """
        SELECT doc_id AS media_id,
               lower(sha256(text || '64x32')) AS payload_checksum,
               cast(64 AS BIGINT) AS width, cast(32 AS BIGINT) AS height
        FROM documents WHERE doc_id < 200 ORDER BY media_id
    """,
    "dedup_near_pipeline": """
        WITH RECURSIVE
        sh AS (
          SELECT doc_id, unnest(
                 list_distinct(list_transform(
                   range(1, greatest(len(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) - 2, 0) + 1),
                   i -> concat(
                     string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')[i], ' ',
                     string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')[i+1], ' ',
                     string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')[i+2])))) AS s
          FROM documents),
        ok AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000),
        idx AS (SELECT doc_id, s FROM sh WHERE s IN (SELECT s FROM ok)),
        inter AS (
          SELECT a.doc_id AS u, b.doc_id AS v, count(*) AS c
          FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        pairs AS (
          SELECT u, v
          FROM inter
          JOIN sizes sa ON u = sa.doc_id
          JOIN sizes sb ON v = sb.doc_id
          WHERE cast(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.6),
        sym AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
        reach AS (SELECT u, v FROM sym
                  UNION SELECT r.u, s2.v FROM reach r JOIN sym s2 ON r.v = s2.u)
        SELECT d.doc_id,
               least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_id,
               d.doc_id = least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS is_keeper
        FROM (SELECT doc_id FROM documents) d
        LEFT JOIN reach r ON r.u = d.doc_id
        GROUP BY d.doc_id ORDER BY d.doc_id
    """,
    "events_zorder_stats": """
        WITH b AS (
          SELECT user_id AS x,
                 cast(floor((epoch(ts) - 1704067200) / 60) AS BIGINT) AS y
          FROM events),
        zz AS (
          SELECT cast(list_sum(list_transform(range(0, 16),
                   i -> (((x >> i) & 1) << (2 * i)) + (((y >> i) & 1) << (2 * i + 1))))
                 AS BIGINT) AS z
          FROM b)
        SELECT z >> 24 AS z_bucket, count(*) AS n_events,
               min(z) AS z_min, max(z) AS z_max
        FROM zz GROUP BY z_bucket ORDER BY z_bucket
    """,
    "orders_scd2": """
        WITH source AS (SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'),
             target AS (SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'),
        cur AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
                       DATE '1994-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
                FROM target),
        s AS (SELECT o_orderkey,
                     CASE WHEN o_orderstatus = 'O' THEN 'F' ELSE o_orderstatus END AS o_orderstatus,
                     o_totalprice
              FROM source),
        changed AS (SELECT c.o_orderkey FROM cur c JOIN s ON c.o_orderkey = s.o_orderkey
                    WHERE c.o_orderstatus IS DISTINCT FROM s.o_orderstatus
                       OR c.o_totalprice IS DISTINCT FROM s.o_totalprice),
        closed_now AS (SELECT o_orderkey, o_orderstatus, o_totalprice, valid_from,
                              DATE '2000-01-01' AS valid_to
                       FROM cur WHERE o_orderkey IN (SELECT o_orderkey FROM changed)),
        open_kept AS (SELECT * FROM cur
                      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changed)),
        opened AS (SELECT s.o_orderkey, s.o_orderstatus, s.o_totalprice,
                          DATE '2000-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
                   FROM s
                   WHERE s.o_orderkey IN (SELECT o_orderkey FROM changed)
                      OR s.o_orderkey NOT IN (SELECT o_orderkey FROM cur))
        SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice,
               valid_from, valid_to
        FROM (SELECT * FROM closed_now UNION ALL SELECT * FROM open_kept
              UNION ALL SELECT * FROM opened)
        ORDER BY o_orderkey, valid_from
    """,
    "docs_tfidf_topk": """
        WITH terms AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
          FROM documents WHERE length(trim(text)) > 0),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
        df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY term),
        n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term,
                 round(tf.tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
          FROM tf JOIN df USING (term) CROSS JOIN n
          WHERE tf.doc_id < 50),
        ranked AS (
          SELECT doc_id, term, tfidf,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, term ASC) AS rank
          FROM scored)
        SELECT doc_id, term, tfidf, cast(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank
    """,
    "event_sliding_window": """
        WITH expanded AS (
          SELECT time_bucket(INTERVAL '15 minutes', ts) - i.i * INTERVAL '15 minutes'
                   AS window_start,
                 event_type, value
          FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS i) i)
        SELECT window_start, event_type,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM expanded
        GROUP BY window_start, event_type
        ORDER BY window_start, event_type
    """,
    "events_retention": """
        WITH act AS (SELECT DISTINCT user_id, cast(ts AS DATE) AS d FROM events),
        coh AS (SELECT user_id, min(d) AS cohort_date FROM act GROUP BY user_id),
        uw AS (SELECT DISTINCT act.user_id, coh.cohort_date,
                      cast(floor(date_diff('day', coh.cohort_date, act.d) / 7.0) AS BIGINT)
                        AS week_offset
               FROM act JOIN coh ON act.user_id = coh.user_id)
        SELECT cohort_date, week_offset, count(*) AS n_active
        FROM uw GROUP BY cohort_date, week_offset ORDER BY cohort_date, week_offset
    """,
    "lineitem_unpivot": """
        WITH melted AS (
          SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
          UNION ALL
          SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
          UNION ALL
          SELECT l_returnflag, 'l_discount', l_discount FROM lineitem)
        SELECT l_returnflag, metric,
               count(*) AS n_values,
               round(avg(value), 6) AS avg_value
        FROM melted GROUP BY l_returnflag, metric
        ORDER BY l_returnflag, metric
    """,
    "events_max_concurrency": """
        WITH pts AS (
          SELECT event_type, ts AS t, 1 AS delta FROM events
          UNION ALL
          SELECT event_type, ts + INTERVAL 15 MINUTE, -1 FROM events
        ), running AS (
          SELECT event_type,
                 sum(delta) OVER (PARTITION BY event_type ORDER BY t) AS cur
          FROM pts
        )
        SELECT event_type, CAST(max(cur) AS BIGINT) AS max_concurrent
        FROM running GROUP BY event_type ORDER BY event_type
    """,
    "events_max_concurrency_2p": """
        WITH pts AS (
          SELECT event_type, ts AS t, 1 AS delta FROM events
          UNION ALL
          SELECT event_type, ts + INTERVAL 15 MINUTE, -1 FROM events
        ), running AS (
          SELECT event_type,
                 sum(delta) OVER (PARTITION BY event_type ORDER BY t) AS cur
          FROM pts
        )
        SELECT event_type, CAST(max(cur) AS BIGINT) AS max_concurrent
        FROM running GROUP BY event_type ORDER BY event_type
    """,
    "events_funnel": """
        WITH w1 AS (
          SELECT user_id, event_type, ts,
                 min(CASE WHEN event_type = 'signup' THEN ts END)
                   OVER (PARTITION BY user_id) AS s1
          FROM events
        ), w2 AS (
          SELECT *, min(CASE WHEN event_type = 'click' AND ts > s1 THEN ts END)
                      OVER (PARTITION BY user_id) AS c1
          FROM w1
        ), w3 AS (
          SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > c1 THEN ts END)
                      OVER (PARTITION BY user_id) AS p1
          FROM w2
        ), per_user AS (
          SELECT user_id, max(s1) AS s1, max(c1) AS c1, max(p1) AS p1
          FROM w3 GROUP BY user_id
        )
        SELECT count(*) AS n_users,
               count(s1) AS n_signup,
               count(c1) AS n_click_after_signup,
               count(p1) AS n_purchase_after_click
        FROM per_user
    """,
    "events_funnel_steps": """
        WITH w1 AS (
          SELECT user_id, event_type, ts,
                 min(CASE WHEN event_type = 'signup' THEN ts END)
                   OVER (PARTITION BY user_id) AS t0
          FROM events
        ), w2 AS (
          SELECT *, min(CASE WHEN event_type = 'view' AND ts > t0 THEN ts END)
                      OVER (PARTITION BY user_id) AS t1
          FROM w1
        ), w3 AS (
          SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                      OVER (PARTITION BY user_id) AS t2
          FROM w2
        ), w4 AS (
          SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                      OVER (PARTITION BY user_id) AS t3
          FROM w3
        ), per_user AS (
          SELECT user_id, max(t0) AS t0, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
          FROM w4 GROUP BY user_id
        )
        SELECT -1 AS step_index, 'total' AS step, count(*) AS n_reached FROM per_user
        UNION ALL
        SELECT 0, 'signup', count(t0) FROM per_user
        UNION ALL
        SELECT 1, 'view', count(t1) FROM per_user
        UNION ALL
        SELECT 2, 'click', count(t2) FROM per_user
        UNION ALL
        SELECT 3, 'purchase', count(t3) FROM per_user
        ORDER BY step_index
    """,
    "events_conversion_lag": """
        WITH w1 AS (
          SELECT user_id, event_type, ts,
                 min(CASE WHEN event_type = 'signup' THEN ts END)
                   OVER (PARTITION BY user_id) AS t0
          FROM events
        ), w2 AS (
          SELECT *, min(CASE WHEN event_type = 'click' AND ts > t0 THEN ts END)
                      OVER (PARTITION BY user_id) AS t1
          FROM w1
        ), w3 AS (
          SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t1 THEN ts END)
                      OVER (PARTITION BY user_id) AS t2
          FROM w2
        ), per_user AS (
          SELECT user_id, max(t0) AS t0, max(t2) AS t2 FROM w3 GROUP BY user_id
        ), lags AS (
          SELECT epoch_us(t2 - t0) / 60000000.0 AS lag_min
          FROM per_user WHERE t2 IS NOT NULL
        )
        SELECT count(*) AS n_converted,
               round(avg(lag_min), 6) AS avg_lag_min,
               round(quantile_cont(lag_min, 0.5), 6) AS median_lag_min,
               round(quantile_cont(lag_min, 0.9), 6) AS p90_lag_min
        FROM lags
    """,
    "events_gap_fill": """
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day, round(sum(value), 6) AS v
          FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), bounds AS (
          SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events
        ), spine AS (
          SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM bounds
        ), grid AS (
          SELECT t.event_type, s.day
          FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN spine s
        )
        SELECT g.event_type, g.day,
               round(coalesce(
                 last_value(d.v IGNORE NULLS)
                   OVER (PARTITION BY g.event_type ORDER BY g.day), 0.0), 6)
                 AS value_filled,
               CAST(d.v IS NULL AS INT) AS is_gap
        FROM grid g LEFT JOIN daily d
          ON g.event_type = d.event_type AND g.day = d.day
        ORDER BY g.event_type, g.day
    """,
    "events_anomaly": """
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
          FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), trail AS (
          SELECT event_type, day, n_events,
                 avg(n_events) OVER w AS trail_mean,
                 stddev_samp(n_events) OVER w AS trail_std,
                 count(n_events) OVER w AS trail_n
          FROM daily
          WINDOW w AS (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_type, day, n_events,
               round(trail_mean, 6) AS trail_mean,
               round((n_events - trail_mean) / trail_std, 6) AS zscore,
               CAST(abs((n_events - trail_mean) / trail_std) > 2 AS INT) AS is_anomaly
        FROM trail
        WHERE trail_n >= 3 AND trail_std > 0
        ORDER BY event_type, day
    """,
    "docs_weighted_sample": """
        WITH keyed AS (
          SELECT doc_id, lang, n_chars,
                 round(
                   -ln((CAST(substr(regexp_replace(md5(doc_id::VARCHAR),
                                                   '[a-f]', '', 'g') || '000000',
                             1, 6) AS BIGINT) + 0.5) / 1000000.0)
                   / n_chars, 8) AS aes_key
          FROM documents WHERE n_chars > 0
        )
        SELECT doc_id, lang, n_chars, aes_key
        FROM keyed ORDER BY aes_key, doc_id LIMIT 20
    """,
    "snapshot_diff_orders": """
        WITH lft AS (
          SELECT o_orderkey,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders
        ), rgt AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 101 = 0
                      THEN CAST(round(o_totalprice * 100) AS BIGINT) + 1000
                      ELSE CAST(round(o_totalprice * 100) AS BIGINT) END AS cents
          FROM orders WHERE o_orderkey % 97 <> 0
        ), lsum AS (
          SELECT o_orderkey % 64 AS bucket, count(*) AS left_rows,
                 sum(CAST(substr(regexp_replace(
                       md5(o_orderkey::VARCHAR || ':' || cents::VARCHAR),
                       '[a-f]', '', 'g') || '000000', 1, 6) AS BIGINT)) AS left_sum
          FROM lft GROUP BY o_orderkey % 64
        ), rsum AS (
          SELECT o_orderkey % 64 AS bucket, count(*) AS right_rows,
                 sum(CAST(substr(regexp_replace(
                       md5(o_orderkey::VARCHAR || ':' || cents::VARCHAR),
                       '[a-f]', '', 'g') || '000000', 1, 6) AS BIGINT)) AS right_sum
          FROM rgt GROUP BY o_orderkey % 64
        )
        SELECT bucket,
               coalesce(left_rows, 0) AS left_rows,
               coalesce(right_rows, 0) AS right_rows,
               CAST(coalesce(left_sum, 0) AS BIGINT) AS left_sum,
               CAST(coalesce(right_sum, 0) AS BIGINT) AS right_sum,
               CASE WHEN coalesce(left_rows, 0) = coalesce(right_rows, 0)
                     AND coalesce(left_sum, 0) = coalesce(right_sum, 0)
                    THEN 'ok' ELSE 'diff' END AS status
        FROM lsum l FULL OUTER JOIN rsum r USING (bucket)
        ORDER BY bucket
    """,
    "parts_pagerank": """
        WITH edges AS (
          SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
          WHERE a.l_partkey <> b.l_partkey
        ), deg AS (
          SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM edges GROUP BY src
        ), nodes AS (
          SELECT src AS node FROM edges UNION SELECT dst FROM edges
        ), nn AS (
          SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
        ), r0 AS (
          SELECT node, 1.0 / nn.n AS rank FROM nodes, nn
        ), c1 AS (
          SELECT e.dst AS node, sum(r.rank / d.outdeg) AS incoming
          FROM r0 r JOIN edges e ON r.node = e.src JOIN deg d ON e.src = d.src
          GROUP BY e.dst
        ), r1 AS (
          SELECT nd.node, 0.15 / nn.n + 0.85 * coalesce(c.incoming, 0.0) AS rank
          FROM nodes nd CROSS JOIN nn LEFT JOIN c1 c ON nd.node = c.node
        ), c2 AS (
          SELECT e.dst AS node, sum(r.rank / d.outdeg) AS incoming
          FROM r1 r JOIN edges e ON r.node = e.src JOIN deg d ON e.src = d.src
          GROUP BY e.dst
        ), r2 AS (
          SELECT nd.node, 0.15 / nn.n + 0.85 * coalesce(c.incoming, 0.0) AS rank
          FROM nodes nd CROSS JOIN nn LEFT JOIN c2 c ON nd.node = c.node
        ), c3 AS (
          SELECT e.dst AS node, sum(r.rank / d.outdeg) AS incoming
          FROM r2 r JOIN edges e ON r.node = e.src JOIN deg d ON e.src = d.src
          GROUP BY e.dst
        ), r3 AS (
          SELECT nd.node, 0.15 / nn.n + 0.85 * coalesce(c.incoming, 0.0) AS rank
          FROM nodes nd CROSS JOIN nn LEFT JOIN c3 c ON nd.node = c.node
        )
        SELECT node AS l_partkey, round(rank, 9) AS pagerank
        FROM r3 ORDER BY round(rank, 9) DESC, node LIMIT 25
    """,
    "part_pairs_lift": """
        WITH li AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), pair_counts AS (
          SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_ab
          FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY a.l_partkey, b.l_partkey HAVING count(*) >= 3
        ), item_counts AS (
          SELECT l_partkey, count(*) AS n_item FROM li GROUP BY l_partkey
        ), nn AS (
          SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n_orders FROM li
        )
        SELECT p.part_a, p.part_b, p.n_ab,
               round(p.n_ab * nn.n_orders / (ia.n_item * ib.n_item), 6) AS lift
        FROM pair_counts p
        JOIN item_counts ia ON p.part_a = ia.l_partkey
        JOIN item_counts ib ON p.part_b = ib.l_partkey
        CROSS JOIN nn
        ORDER BY round(p.n_ab * nn.n_orders / (ia.n_item * ib.n_item), 6) DESC,
                 p.part_a, p.part_b
        LIMIT 30
    """,
    "embedding_pq_codes": f"""
        WITH {_PQ_CTES}
        SELECT vec_id, CAST(subspace AS BIGINT) AS subspace,
               CAST(code AS BIGINT) AS code, dist2
        FROM pq_codes ORDER BY vec_id, subspace
    """,
    "ann_pq_topk": f"""
        WITH {_PQ_CTES},
        {_PQ_ADC_CTES}
        SELECT query_id, vec_id, approx_dist2, CAST(rn AS BIGINT) AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY approx_dist2, vec_id) AS rn
              FROM approx)
        WHERE rn <= 10 ORDER BY query_id, rank
    """,
    "ann_pq_recall": f"""
        WITH {_PQ_CTES},
        {_PQ_ADC_CTES},
        a10 AS (
          SELECT query_id, vec_id
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY approx_dist2, vec_id) AS rn
                FROM approx)
          WHERE rn <= 10
        ), qv2 AS (
          SELECT vec_id AS query_id, embedding AS qe FROM embeddings
          WHERE vec_id IN (0, 1, 2)
        ), ex AS (
          SELECT q.query_id, e.vec_id,
                 round(list_sum(list_transform(range(1, 65),
                   i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qe[i] AS DOUBLE))
                      * (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qe[i] AS DOUBLE)))),
                   6) AS dist2
          FROM embeddings e CROSS JOIN qv2 q WHERE e.vec_id <> q.query_id
        ), bf10 AS (
          SELECT query_id, vec_id
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY dist2, vec_id) AS rn FROM ex)
          WHERE rn <= 10
        )
        {_RECALL_SELECT}
    """,
    "docs_bigram_counts": """
        WITH toks AS (
          SELECT string_split_regex(trim(text), '\\s+') AS t
          FROM documents WHERE length(trim(text)) > 0
        ), bg AS (
          SELECT unnest(list_transform(range(1, len(t)),
                                       i -> t[i] || ' ' || t[i + 1])) AS bigram
          FROM toks WHERE len(t) >= 2
        )
        SELECT bigram, count(*) AS n_occurrences
        FROM bg GROUP BY bigram
        ORDER BY n_occurrences DESC, bigram LIMIT 30
    """,
    "embedding_quantize_stats": """
        WITH s AS (
          SELECT vec_id, embedding,
                 -- CAST: list_max over a FLOAT list stays FLOAT in DuckDB,
                 -- and round(FLOAT, 8) cannot represent the rounded value
                 CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
                   / 127.0 AS scale
          FROM embeddings
        )
        SELECT vec_id, round(scale, 8) AS scale,
               round(list_sum(list_transform(embedding,
                       x -> pow(x - floor(x / scale + 0.5) * scale, 2)))
                     / len(embedding), 10) AS quant_mse
        FROM s WHERE scale > 0 ORDER BY vec_id
    """,
    # Identical to decontaminate_overlap by design: the Bloom stage is a
    # prefilter whose false positives are removed by the exact verify,
    # so the result is hash-independent and the exact-overlap SQL IS the
    # specification the Bloom path must reproduce.
    "decontaminate_bloom": """
        WITH toks AS (
          SELECT doc_id,
                 string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t,
                 substr(md5(doc_id::VARCHAR), 1, 4) < '199a' AS is_test
          FROM documents),
        grams AS (
          SELECT DISTINCT doc_id, is_test,
                 array_to_string(list_slice(t, i, i + 4), ' ') AS gram
          FROM toks, unnest(range(1, greatest(len(t) - 4, 0) + 1)) AS u(i)),
        test_grams AS (SELECT DISTINCT gram FROM grams WHERE is_test)
        SELECT DISTINCT g.doc_id
        FROM grams g
        WHERE NOT g.is_test AND g.gram IN (SELECT gram FROM test_grams)
        ORDER BY g.doc_id
    """,
    "docs_line_scrub": """
        WITH toks AS (
          SELECT doc_id,
                 string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS t
          FROM documents),
        words AS (
          SELECT doc_id, i - 1 AS pos, t[i] AS word
          FROM toks, unnest(range(1, len(t) + 1)) AS u(i)),
        segs AS (
          SELECT doc_id, pos // 8 AS seg_idx,
                 string_agg(word, ' ' ORDER BY pos) AS segment
          FROM words GROUP BY doc_id, pos // 8),
        freq AS (
          SELECT segment, count(DISTINCT doc_id) AS df FROM segs GROUP BY segment)
        SELECT s.doc_id,
               count(*) AS n_segments,
               count(*) FILTER (WHERE f.df < 5) AS n_kept,
               md5(coalesce(string_agg(CASE WHEN f.df < 5 THEN s.segment END,
                                       ' ' ORDER BY s.seg_idx), '')) AS kept_md5
        FROM segs s JOIN freq f USING (segment)
        GROUP BY s.doc_id ORDER BY s.doc_id
    """,
    "docs_bm25_topk": """
        WITH toks AS (
          SELECT doc_id,
                 CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(trim(text), '\\s+') END AS t
          FROM documents),
        dl AS (SELECT doc_id, len(t) AS dl FROM toks),
        stats AS (SELECT avg(dl) AS avgdl, CAST(count(*) AS DOUBLE) AS n FROM dl),
        tf AS (
          SELECT doc_id, word AS term, CAST(count(*) AS DOUBLE) AS tf
          FROM (SELECT doc_id, unnest(t) AS word FROM toks)
          WHERE word IN ('spark', 'join', 'window', 'stream')
          GROUP BY doc_id, word),
        dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term)
        SELECT tf.doc_id,
               round(sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
                         * tf.tf * 2.2
                         / (tf.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))), 6) AS bm25,
               count(*) AS n_terms
        FROM tf
        JOIN dfreq d ON tf.term = d.term
        JOIN dl l ON tf.doc_id = l.doc_id
        CROSS JOIN stats s
        GROUP BY tf.doc_id
        ORDER BY bm25 DESC, tf.doc_id
        LIMIT 20
    """,
    "events_attribution": """
        WITH touches AS (
          SELECT user_id, ts AS touch_ts, event_type
          FROM events WHERE event_type IN ('click', 'view')),
        purch AS (
          SELECT user_id, event_id AS purchase_id, ts, value
          FROM events WHERE event_type = 'purchase'),
        pairs AS (
          SELECT t.event_type, p.purchase_id, p.value,
                 count(*) OVER (PARTITION BY p.purchase_id) AS n_touches
          FROM touches t
          JOIN purch p ON t.user_id = p.user_id
           AND t.touch_ts >= p.ts - INTERVAL 7 DAY
           AND t.touch_ts <= p.ts)
        SELECT event_type,
               count(*) AS n_touches,
               count(DISTINCT purchase_id) AS n_purchases,
               round(sum(value / n_touches), 2) AS attributed_value
        FROM pairs GROUP BY event_type ORDER BY event_type
    """,
    # Declarative spec: triangles counted by the naive 3-way join over
    # canonical (a < b) edges — each triangle {a<b<c} matches exactly
    # once as (a,b)(b,c)(a,c). The Spark side's degree-oriented
    # node-iterator must reproduce these numbers exactly.
    "parts_triangles": """
        WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        edges AS (
          SELECT x.l_partkey AS a, y.l_partkey AS b
          FROM b x JOIN b y ON x.l_orderkey = y.l_orderkey
                           AND x.l_partkey < y.l_partkey
          GROUP BY x.l_partkey, y.l_partkey
          HAVING count(*) >= 3),
        deg AS (
          SELECT node, CAST(count(*) AS BIGINT) AS d
          FROM (SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)
          GROUP BY node),
        tri AS (
          SELECT CAST(count(*) AS BIGINT) AS n_triangles
          FROM edges e1
          JOIN edges e2 ON e2.a = e1.b
          JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b)
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
               (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
               (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_paths2,
               t.n_triangles,
               round(3.0 * t.n_triangles
                     / (SELECT sum(d * (d - 1) // 2) FROM deg), 6) AS transitivity
        FROM tri t
    """,
    "cdc_apply_orders": """
        WITH log AS (
          SELECT o_orderkey, 1 AS seq, 'I' AS op,
                 o_custkey, o_orderstatus, o_totalprice AS price
          FROM orders
          UNION ALL
          SELECT o_orderkey, 2, 'U', o_custkey, o_orderstatus, o_totalprice + 100
          FROM orders WHERE o_orderkey % 7 = 0
          UNION ALL
          SELECT o_orderkey, 3, 'D', NULL, NULL, NULL
          FROM orders WHERE o_orderkey % 13 = 0
        ), r AS (
          SELECT *,
                 row_number() OVER (PARTITION BY o_orderkey
                                    ORDER BY seq DESC,
                                             CASE WHEN op = 'D' THEN 0 ELSE 1 END) AS rn,
                 count(*) OVER (PARTITION BY o_orderkey) AS n_versions,
                 max(seq) OVER (PARTITION BY o_orderkey) AS last_seq
          FROM log
        )
        SELECT o_orderkey, o_custkey, o_orderstatus, price,
               CAST(n_versions AS BIGINT) AS n_versions,
               CAST(last_seq AS BIGINT) AS last_seq
        FROM r WHERE rn = 1 AND op <> 'D'
        ORDER BY o_orderkey
    """,
    "lineitem_regression": """
        WITH li AS (
          SELECT l_returnflag, l_linestatus,
                 CAST(l_quantity AS BIGINT) AS qty,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
          FROM lineitem
        ), m AS (
          SELECT l_returnflag, l_linestatus,
                 CAST(count(*) AS HUGEINT) AS n,
                 CAST(sum(qty) AS HUGEINT) AS sx,
                 CAST(sum(cents) AS HUGEINT) AS sy,
                 CAST(sum(qty * qty) AS HUGEINT) AS sxx,
                 CAST(sum(cents * cents) AS HUGEINT) AS syy,
                 CAST(sum(qty * cents) AS HUGEINT) AS sxy
          FROM li GROUP BY l_returnflag, l_linestatus
        ), fit AS (
          SELECT l_returnflag, l_linestatus, n,
                 CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
                 CAST(n * sxy - sx * sy AS DOUBLE) AS numd,
                 CAST(n * sxx - sx * sx AS DOUBLE) AS dxd,
                 CAST(n * syy - sy * sy AS DOUBLE) AS dyd,
                 CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
          FROM m
        )
        SELECT l_returnflag, l_linestatus, CAST(n AS BIGINT) AS n,
               round(slope, 6) AS slope_cents_per_qty,
               round((syd - slope * sxd) / CAST(n AS DOUBLE), 6) AS intercept_cents,
               round(numd * numd / (dxd * dyd), 6) AS r2
        FROM fit ORDER BY l_returnflag, l_linestatus
    """,
    "lineitem_correlations": """
        WITH li AS (
          SELECT CAST(l_quantity AS BIGINT) AS qty,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
                 CAST(round(l_discount * 100) AS BIGINT) AS disc_bp,
                 CAST(round(l_tax * 100) AS BIGINT) AS tax_bp
          FROM lineitem
        ), m AS (
          SELECT CAST(count(*) AS HUGEINT) AS n,
                 CAST(sum(qty) AS HUGEINT) AS s_qty,
                 CAST(sum(cents) AS HUGEINT) AS s_cents,
                 CAST(sum(disc_bp) AS HUGEINT) AS s_disc,
                 CAST(sum(tax_bp) AS HUGEINT) AS s_tax,
                 CAST(sum(qty * qty) AS HUGEINT) AS ss_qty,
                 CAST(sum(cents * cents) AS HUGEINT) AS ss_cents,
                 CAST(sum(disc_bp * disc_bp) AS HUGEINT) AS ss_disc,
                 CAST(sum(tax_bp * tax_bp) AS HUGEINT) AS ss_tax,
                 CAST(sum(qty * cents) AS HUGEINT) AS x_qty_cents,
                 CAST(sum(qty * disc_bp) AS HUGEINT) AS x_qty_disc,
                 CAST(sum(qty * tax_bp) AS HUGEINT) AS x_qty_tax,
                 CAST(sum(cents * disc_bp) AS HUGEINT) AS x_cents_disc,
                 CAST(sum(cents * tax_bp) AS HUGEINT) AS x_cents_tax,
                 CAST(sum(disc_bp * tax_bp) AS HUGEINT) AS x_disc_tax
          FROM li
        ), pairs AS (
          SELECT 'qty' AS var_x, 'cents' AS var_y, n,
                 CAST(n * x_qty_cents - s_qty * s_cents AS DOUBLE) AS num,
                 CAST(n * ss_qty - s_qty * s_qty AS DOUBLE) AS dx,
                 CAST(n * ss_cents - s_cents * s_cents AS DOUBLE) AS dy FROM m
          UNION ALL
          SELECT 'qty', 'disc_bp', n,
                 CAST(n * x_qty_disc - s_qty * s_disc AS DOUBLE),
                 CAST(n * ss_qty - s_qty * s_qty AS DOUBLE),
                 CAST(n * ss_disc - s_disc * s_disc AS DOUBLE) FROM m
          UNION ALL
          SELECT 'qty', 'tax_bp', n,
                 CAST(n * x_qty_tax - s_qty * s_tax AS DOUBLE),
                 CAST(n * ss_qty - s_qty * s_qty AS DOUBLE),
                 CAST(n * ss_tax - s_tax * s_tax AS DOUBLE) FROM m
          UNION ALL
          SELECT 'cents', 'disc_bp', n,
                 CAST(n * x_cents_disc - s_cents * s_disc AS DOUBLE),
                 CAST(n * ss_cents - s_cents * s_cents AS DOUBLE),
                 CAST(n * ss_disc - s_disc * s_disc AS DOUBLE) FROM m
          UNION ALL
          SELECT 'cents', 'tax_bp', n,
                 CAST(n * x_cents_tax - s_cents * s_tax AS DOUBLE),
                 CAST(n * ss_cents - s_cents * s_cents AS DOUBLE),
                 CAST(n * ss_tax - s_tax * s_tax AS DOUBLE) FROM m
          UNION ALL
          SELECT 'disc_bp', 'tax_bp', n,
                 CAST(n * x_disc_tax - s_disc * s_tax AS DOUBLE),
                 CAST(n * ss_disc - s_disc * s_disc AS DOUBLE),
                 CAST(n * ss_tax - s_tax * s_tax AS DOUBLE) FROM m
        )
        SELECT var_x, var_y, CAST(n AS BIGINT) AS n,
               round(CASE WHEN dx <> 0 AND dy <> 0
                          THEN num / sqrt(dx * dy) END, 6) AS corr
        FROM pairs ORDER BY var_x, var_y
    """,
    "events_top_paths": """
        WITH ranked AS (
          SELECT user_id, CAST(ts AS DATE) AS day, event_type,
                 row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                    ORDER BY ts, event_id) AS rn
          FROM events
        ), per AS (
          SELECT user_id, day,
                 string_agg(CASE WHEN rn <= 5 THEN event_type END, '>' ORDER BY rn) AS path,
                 CAST(count(*) AS BIGINT) AS n_events
          FROM ranked GROUP BY user_id, day
        )
        SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
               round(avg(n_events), 6) AS avg_session_events
        FROM per GROUP BY path
        ORDER BY n_sessions DESC, path LIMIT 20
    """,
    "customer_rfm": """
        WITH per AS (
          SELECT o_custkey,
                 date_diff('day', max(CAST(o_orderdate AS DATE)),
                           (SELECT max(CAST(o_orderdate AS DATE)) FROM orders)) AS rec,
                 CAST(count(*) AS BIGINT) AS frequency,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS monetary_cents
          FROM orders GROUP BY o_custkey
        ), scored AS (
          SELECT o_custkey, CAST(rec AS BIGINT) AS recency_days, frequency, monetary_cents,
                 CAST(6 - ntile(5) OVER (ORDER BY rec, o_custkey) AS BIGINT) AS r_score,
                 CAST(6 - ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT)
                   AS f_score,
                 CAST(6 - ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS BIGINT)
                   AS m_score
          FROM per
        )
        SELECT o_custkey, recency_days, frequency, monetary_cents,
               r_score, f_score, m_score,
               CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS segment
        FROM scored
        ORDER BY segment DESC, monetary_cents DESC, o_custkey LIMIT 20
    """,
}


def _kcore_oracle(k: int = 80, rounds: int = KCORE_PEEL_ROUNDS) -> str:
    """Unrolled-iteration oracle for q_parts_kcore (the pagerank-oracle
    pattern): each peel round is a degree filter + edge restriction;
    rounds past the fixpoint are no-ops. The unroll count is the
    engine's budget, ``KCORE_PEEL_ROUNDS``: fewer oracle rounds would
    mismatch a correct engine result whenever a graph needs more peels
    than the oracle unrolls (the engine raises loudly past its budget,
    so a longer peel cannot slip through)."""
    sql = """
        WITH e0 AS MATERIALIZED (
          SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
          FROM lineitem x JOIN lineitem y
            ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        )"""
    prev = "e0"
    for i in range(1, rounds + 1):
        sql += f""",
        d{i} AS MATERIALIZED (
          SELECT node FROM (SELECT a AS node FROM {prev}
                            UNION ALL SELECT b FROM {prev})
          GROUP BY node HAVING count(*) >= {k}),
        e{i} AS MATERIALIZED (
          SELECT a, b FROM {prev}
          WHERE a IN (SELECT node FROM d{i}) AND b IN (SELECT node FROM d{i}))"""
        prev = f"e{i}"
    sql += f""",
        deg AS MATERIALIZED (
          SELECT node AS l_partkey, CAST(count(*) AS BIGINT) AS core_degree
          FROM (SELECT a AS node FROM {prev} UNION ALL SELECT b FROM {prev})
          GROUP BY node)
        SELECT l_partkey, core_degree,
               (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_core_nodes,
               (SELECT CAST(count(*) AS BIGINT) FROM {prev}) AS n_core_edges
        FROM deg ORDER BY core_degree DESC, l_partkey LIMIT 25"""
    return sql


ORACLES["parts_kcore"] = _kcore_oracle()


def _benford_oracle() -> str:
    """Share literals emitted from the SAME dict the Spark plan uses."""
    cases = " ".join(
        f"WHEN {d} THEN CAST({s!r} AS DOUBLE)" for d, s in BENFORD_SHARES.items()
    )
    return f"""
        WITH counts AS (
          SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                      AS INT) AS digit,
                 CAST(count(*) AS BIGINT) AS n_orders
          FROM orders GROUP BY 1
        ), t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n FROM counts),
        e AS (
          SELECT digit, n_orders,
                 CASE digit {cases} END AS exp_share,
                 CASE digit {cases} END * (SELECT n FROM t) AS exp_n
          FROM counts
        )
        SELECT digit, n_orders,
               round(exp_share, 6) AS benford_share,
               round((n_orders - exp_n) * (n_orders - exp_n) / exp_n, 6) AS chi2_term
        FROM e ORDER BY digit
    """


ORACLES["orders_benford"] = _benford_oracle()

ORACLES["events_ewma"] = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT d1.event_type, d1.day, d1.n_events,
           round(sum(CAST(d2.n_events AS DOUBLE)
                     * power(0.5, date_diff('day', d2.day, d1.day)))
                 / sum(power(0.5, date_diff('day', d2.day, d1.day))), 6) AS ewma
    FROM daily d1 JOIN daily d2
      ON d2.event_type = d1.event_type
     AND d2.day <= d1.day
     AND d2.day >= d1.day - INTERVAL 13 DAY
    GROUP BY d1.event_type, d1.day, d1.n_events
    ORDER BY d1.event_type, d1.day
"""

ORACLES["brand_concentration"] = """
    WITH rev AS (
      SELECT p.p_brand, l.l_suppkey,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand, l.l_suppkey
    ), agg AS (
      SELECT p_brand, CAST(count(*) AS BIGINT) AS n_suppliers,
             CAST(sum(cents) AS HUGEINT) AS t,
             CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS sq
      FROM rev GROUP BY p_brand
    )
    SELECT p_brand, n_suppliers, CAST(t AS BIGINT) AS total_cents,
           round(CAST(sq AS DOUBLE) / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)), 6)
             AS hhi
    FROM agg ORDER BY hhi DESC, p_brand LIMIT 25
"""

ORACLES["events_inter_arrival"] = """
    WITH g0 AS (
      SELECT event_type, ts,
             lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev
      FROM events
    ), gaps AS (
      SELECT event_type, CAST(date_diff('second', prev, ts) AS BIGINT) AS gap_s
      FROM g0 WHERE prev IS NOT NULL
    ), ranked AS (
      SELECT event_type, gap_s,
             row_number() OVER (PARTITION BY event_type ORDER BY gap_s) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM gaps
    ), p95 AS (
      SELECT event_type, CAST(gap_s AS BIGINT) AS p95_gap_s
      FROM ranked WHERE rn = CAST(ceil(CAST(0.95 AS DOUBLE) * n) AS BIGINT)
    ), agg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
             round(quantile_cont(gap_s, 0.5), 6) AS median_gap_s,
             CAST(max(gap_s) AS BIGINT) AS max_gap_s
      FROM gaps GROUP BY event_type
    )
    SELECT a.event_type, a.n_gaps, a.median_gap_s, p.p95_gap_s, a.max_gap_s
    FROM agg a JOIN p95 p ON a.event_type = p.event_type
    ORDER BY a.event_type
"""

ORACLES["events_attribution_decay"] = """
    WITH touches AS (
      SELECT user_id, ts AS touch_ts, event_type
      FROM events WHERE event_type IN ('click', 'view')),
    purch AS (
      SELECT user_id, event_id AS purchase_id, ts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
    pairs AS (
      SELECT t.event_type, p.purchase_id, p.cents,
             power(0.5, floor(CAST(date_diff('second', t.touch_ts, p.ts) AS DOUBLE)
                              / 86400)) AS w
      FROM touches t
      JOIN purch p ON t.user_id = p.user_id
       AND t.touch_ts >= p.ts - INTERVAL 7 DAY
       AND t.touch_ts <= p.ts),
    norm AS (
      SELECT event_type, purchase_id, cents, w,
             sum(w) OVER (PARTITION BY purchase_id) AS sw
      FROM pairs)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(count(DISTINCT purchase_id) AS BIGINT) AS n_purchases,
           round(sum(cents * w / sw) / 100.0, 2) AS attributed_value
    FROM norm GROUP BY event_type ORDER BY event_type
"""

ORACLES["events_freshness"] = """
    WITH per AS (
      SELECT event_type, max(ts) AS last_ts,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS days_present
      FROM events GROUP BY event_type
    ), g AS (
      SELECT max(ts) AS gmax,
             CAST(date_diff('day', min(CAST(ts AS DATE)),
                            max(CAST(ts AS DATE))) + 1 AS BIGINT) AS span_days
      FROM events
    )
    SELECT event_type, n_events, last_ts,
           CAST(floor(CAST(date_diff('second', last_ts, g.gmax) AS DOUBLE) / 60)
                AS BIGINT) AS staleness_minutes,
           days_present,
           round(CAST(days_present AS DOUBLE) / g.span_days, 6) AS calendar_coverage
    FROM per CROSS JOIN g ORDER BY event_type
"""

ORACLES["orders_mad"] = """
    WITH o AS (
      SELECT o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), med AS (
      SELECT o_orderpriority,
             quantile_cont(cents, 0.5) AS median_cents,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM o GROUP BY o_orderpriority
    ), dev AS (
      SELECT o.o_orderpriority, abs(o.cents - m.median_cents) AS dev,
             m.median_cents
      FROM o JOIN med m ON o.o_orderpriority = m.o_orderpriority
    ), mad AS (
      SELECT o_orderpriority, quantile_cont(dev, 0.5) AS mad_cents
      FROM dev GROUP BY o_orderpriority
    ), outl AS (
      SELECT d.o_orderpriority,
             CAST(count(*) FILTER (
               WHERE d.dev > CAST(3.5 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * a.mad_cents
             ) AS BIGINT) AS n_outliers
      FROM dev d JOIN mad a ON d.o_orderpriority = a.o_orderpriority
      GROUP BY d.o_orderpriority
    )
    SELECT m.o_orderpriority, m.n_orders,
           round(m.median_cents, 6) AS median_cents,
           round(a.mad_cents, 6) AS mad_cents,
           o.n_outliers
    FROM med m
    JOIN mad a ON a.o_orderpriority = m.o_orderpriority
    JOIN outl o ON o.o_orderpriority = m.o_orderpriority
    ORDER BY m.o_orderpriority
"""

ORACLES["docs_curriculum"] = """
    WITH keyed AS (
      SELECT doc_id, n_chars,
             CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT)
               AS difficulty_decile,
             md5(doc_id::VARCHAR) AS h
      FROM documents
    )
    SELECT doc_id, difficulty_decile, n_chars,
           CAST(row_number() OVER (ORDER BY difficulty_decile, h, doc_id) AS BIGINT)
             AS curriculum_rank
    FROM keyed ORDER BY curriculum_rank LIMIT 50
"""

ORACLES["incremental_agg_cdc"] = """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), upd AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 21 = 0 THEN 'F' ELSE o_orderstatus END
               AS o_orderstatus,
             cents + 10000 AS cents
      FROM base WHERE o_orderkey % 7 = 0
    ), ins AS (
      SELECT o_orderkey + 100000000 AS o_orderkey, 'P' AS o_orderstatus,
             cents + 5000 AS cents
      FROM base WHERE o_orderkey % 31 = 0
    ), final AS (
      SELECT o_orderkey, o_orderstatus, cents FROM base
      WHERE o_orderkey % 13 <> 0 AND o_orderkey % 7 <> 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, cents FROM upd WHERE o_orderkey % 13 <> 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, cents FROM ins
    )
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus
"""

ORACLES["docs_lang_confusion"] = f"""
    WITH scored AS ({ORACLES["text_lang_id"]}),
    counts AS (
      SELECT declared_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM scored GROUP BY declared_lang, predicted_lang
    ), totals AS (
      SELECT declared_lang, CAST(sum(n_docs) AS BIGINT) AS n_declared
      FROM counts GROUP BY declared_lang
    )
    SELECT c.declared_lang, c.predicted_lang, c.n_docs,
           round(CAST(c.n_docs AS DOUBLE) / t.n_declared, 6) AS share
    FROM counts c JOIN totals t ON c.declared_lang = t.declared_lang
    ORDER BY c.declared_lang, c.predicted_lang
"""

ORACLES["orders_seasonal"] = """
    WITH monthly AS (
      SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT month, revenue_cents, n_orders,
           CASE WHEN count(*) OVER t = 12
                THEN round(avg(revenue_cents) OVER t, 6) END AS trailing_12m_avg,
           round(CAST(revenue_cents - lag(revenue_cents, 12) OVER m AS DOUBLE)
                 / lag(revenue_cents, 12) OVER m, 6) AS yoy_growth
    FROM monthly
    WINDOW m AS (ORDER BY month),
           t AS (ORDER BY month ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
    ORDER BY month
"""

ORACLES["events_markov"] = """
    WITH pairs AS (
      SELECT event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ), counts AS (
      SELECT cur, next_type, CAST(count(*) AS BIGINT) AS n_pairs
      FROM pairs WHERE next_type IS NOT NULL GROUP BY cur, next_type
    ), totals AS (
      SELECT cur, CAST(sum(n_pairs) AS BIGINT) AS n_out FROM counts GROUP BY cur
    )
    SELECT c.cur, c.next_type, c.n_pairs,
           round(CAST(c.n_pairs AS DOUBLE) / t.n_out, 6) AS p_next
    FROM counts c JOIN totals t ON c.cur = t.cur
    ORDER BY c.cur, c.next_type
"""

ORACLES["revenue_gini"] = """
    WITH per AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ), t AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS total
      FROM per
    ), rk AS (
      SELECT cents, CAST(row_number() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS i
      FROM per
    )
    SELECT (SELECT n FROM t) AS n_customers,
           (SELECT total FROM t) AS total_cents,
           round(CAST(sum((2 * i - (SELECT n FROM t) - 1) * cents) AS DOUBLE)
                 / (CAST((SELECT n FROM t) AS DOUBLE)
                    * CAST((SELECT total FROM t) AS DOUBLE)), 6) AS gini
    FROM rk
"""

ORACLES["dedup_keep_best"] = """
    WITH RECURSIVE
    d AS (SELECT doc_id, source, lang, n_chars FROM documents WHERE doc_id < 200),
    e1 AS (SELECT a.doc_id AS u, b.doc_id AS v FROM d a JOIN d b
             ON a.source = b.source AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id),
    e2 AS (SELECT a.doc_id AS u, b.doc_id AS v FROM d a JOIN d b
             ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id),
    sym AS (SELECT u, v FROM e1 UNION SELECT u, v FROM e2
            UNION SELECT v, u FROM e1 UNION SELECT v, u FROM e2),
    reach AS (SELECT u, v FROM sym
              UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
    clusters AS (
      SELECT d.doc_id,
             least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_id
      FROM d LEFT JOIN reach r ON r.u = d.doc_id GROUP BY d.doc_id),
    m AS (SELECT c.cluster_id, c.doc_id, dd.n_chars
          FROM clusters c JOIN d dd ON dd.doc_id = c.doc_id),
    rk AS (SELECT *,
                  row_number() OVER (PARTITION BY cluster_id
                                     ORDER BY n_chars DESC, doc_id) AS rn,
                  count(*) OVER (PARTITION BY cluster_id) AS nm
           FROM m)
    SELECT cluster_id, doc_id AS keeper_doc_id, n_chars AS keeper_n_chars,
           CAST(nm AS BIGINT) AS n_members,
           CAST(nm - 1 AS BIGINT) AS n_discarded
    FROM rk WHERE rn = 1 ORDER BY cluster_id
"""

ORACLES["supplier_wilson"] = """
    WITH agg AS (
      SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_items,
             CAST(count(*) FILTER (WHERE l_returnflag <> 'R') AS BIGINT) AS n_ok
      FROM lineitem GROUP BY l_suppkey HAVING count(*) >= 20
    ), w AS (
      SELECT l_suppkey, n_items, n_ok,
             CAST(1.96 AS DOUBLE) AS z,
             CAST(n_items AS DOUBLE) AS n,
             CAST(n_ok AS DOUBLE) / CAST(n_items AS DOUBLE) AS p
      FROM agg
    )
    SELECT l_suppkey, n_items, n_ok,
           round(((p + z * z / (2.0 * n))
                  - z * sqrt((p * (1.0 - p) + z * z / (4.0 * n)) / n))
                 / (1.0 + z * z / n), 6) AS wilson_lower
    FROM w ORDER BY wilson_lower DESC, l_suppkey LIMIT 25
"""

ORACLES["revenue_pareto"] = """
    WITH per AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ), t AS (
      SELECT CAST(sum(cents) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n
      FROM per
    ), rk AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents DESC, o_custkey) AS rank,
             sum(cents) OVER (ORDER BY cents DESC, o_custkey
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM per
    )
    SELECT CAST(ceil(rank * 10.0 / (SELECT n FROM t)) AS INT) AS decile,
           CAST(max(rank) AS BIGINT) AS n_customers_cum,
           round(CAST(max(cum) AS DOUBLE) / (SELECT CAST(total AS DOUBLE) FROM t), 6)
             AS cum_revenue_share
    FROM rk GROUP BY 1 ORDER BY decile
"""

ORACLES["orders_scd2_asof"] = f"""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM ({ORACLES["orders_scd2"]}) h
    WHERE valid_from <= DATE '{SCD2_ASOF_DATE}'
      AND (valid_to IS NULL OR valid_to > DATE '{SCD2_ASOF_DATE}')
    ORDER BY o_orderkey
"""

ORACLES["orders_window_battery"] = """
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER w AS rn,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           first_value(o_totalprice) OVER w AS first_price,
           nth_value(o_totalprice, 2) OVER w AS second_price,
           last_value(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS final_price,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM orders WHERE o_custkey % 100 = 0
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, rn
"""

ORACLES["customer_set_ops"] = """
    WITH y95 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE year(o_orderdate) = 1995),
         y96 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE year(o_orderdate) = 1996)
    SELECT 'churned_after_1995' AS cohort, CAST(count(*) AS BIGINT) AS n_customers
    FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y96)
    UNION ALL
    SELECT 'retained_into_1996', CAST(count(*) AS BIGINT)
    FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96)
    UNION ALL
    SELECT 'active_either_year', CAST(count(*) AS BIGINT)
    FROM (SELECT * FROM y95 UNION SELECT * FROM y96)
    ORDER BY cohort
"""

ORACLES["embedding_covariance"] = """
    WITH q AS (
      SELECT vec_id, CAST(t.i AS INT) - 1 AS i,
             CAST(round(CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) * 1024) AS BIGINT) AS xq
      FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t
    ), s AS (
      SELECT i, CAST(sum(xq) AS DOUBLE) AS si FROM q GROUP BY i
    ), nn AS (
      SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings
    ), g AS (
      SELECT a.i AS i, b.i AS j, CAST(sum(a.xq * b.xq) AS DOUBLE) AS gij
      FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.i >= a.i
      GROUP BY a.i, b.i
    )
    SELECT g.i, g.j,
           round((nn.n * g.gij - sa.si * sb.si) / (nn.n * nn.n)
                 / (1024.0 * 1024.0), 9) AS cov
    FROM g
    JOIN s sa ON sa.i = g.i
    JOIN s sb ON sb.i = g.j
    CROSS JOIN nn
    ORDER BY g.i, g.j
"""

ORACLES["docs_frequent_tokens"] = r"""
    WITH t AS (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents WHERE length(trim(text)) > 0
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM t)
    SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences,
           round(CAST(count(*) AS DOUBLE) / (SELECT total FROM n), 6) AS share
    FROM t GROUP BY token
    HAVING count(*) > CAST(0.002 AS DOUBLE) * (SELECT total FROM n)
    ORDER BY n_occurrences DESC, token
"""

ORACLES["docs_setsim_prefix"] = r"""
    WITH tk2 AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) - 2, 0) + 1),
               i -> concat(
                 string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')[i], ' ',
                 string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')[i+1], ' ',
                 string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')[i+2])))) AS token
      FROM documents
    ), sz AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tk2 GROUP BY doc_id
    ), inter AS (
      -- full inverted index (no prefix filter): the Spark side's prefix
      -- filter is lossless, so the result sets must be identical
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM tk2 a JOIN tk2 b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_common,
           round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE n_common * 17 >= 7 * (sa.n + sb.n)
    ORDER BY id_a, id_b
"""

ORACLES["docs_containment"] = r"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) - 2, 0) + 1),
               i -> concat(
                 string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')[i], ' ',
                 string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')[i+1], ' ',
                 string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')[i+2])))) AS s
      FROM documents
    ), sz AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
             CAST(count(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT contained_id, container_id, n_common,
           round(CAST(n_common AS DOUBLE) / sa.n, 6) AS containment
    FROM inter JOIN sz sa ON sa.doc_id = contained_id
    WHERE n_common * 5 >= 4 * sa.n
    ORDER BY contained_id, container_id
"""

ORACLES["events_cusum"] = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS total
      FROM daily GROUP BY 1
    ), p AS (
      SELECT d.event_type, d.day, t.n,
             CAST(sum(t.n * d.x - t.total) OVER (
               PARTITION BY d.event_type ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pf
      FROM daily d JOIN tot t USING (event_type)
    ), s AS (
      SELECT event_type, day, n,
             pf - least(CAST(0 AS BIGINT), CAST(min(pf) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)) AS stat
      FROM p
    )
    SELECT event_type, day AS peak_day, CAST(stat AS BIGINT) AS peak_stat,
           CAST(n AS BIGINT) AS n_periods
    FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                    ORDER BY stat DESC, day ASC) AS rk FROM s)
    WHERE rk = 1 ORDER BY event_type
"""

ORACLES["events_time_rollup"] = """
    WITH day AS (
      SELECT CAST(ts AS DATE) AS bucket_start,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events GROUP BY 1
    )
    SELECT 'day' AS grain, bucket_start, n_events, value_cents FROM day
    UNION ALL
    SELECT 'week', date_trunc('week', bucket_start),
           CAST(sum(n_events) AS BIGINT), CAST(sum(value_cents) AS BIGINT)
    FROM day GROUP BY 2
    UNION ALL
    SELECT 'month', date_trunc('month', bucket_start),
           CAST(sum(n_events) AS BIGINT), CAST(sum(value_cents) AS BIGINT)
    FROM day GROUP BY 2
    ORDER BY grain, bucket_start
"""

# The refresh query's contract: incremental base+delta refresh ==
# from-scratch rollup of ALL events — so the oracle IS the full rollup.
ORACLES["events_time_rollup_refresh"] = ORACLES["events_time_rollup"]

ORACLES["events_sequence_rules"] = """
    WITH per AS (
      SELECT user_id, event_type, min(ts) AS first_ts, max(ts) AS last_ts
      FROM events GROUP BY 1, 2
    ), ab AS (
      SELECT a.event_type AS antecedent, b.event_type AS consequent,
             CAST(count(*) AS BIGINT) AS n_users_both
      FROM per a JOIN per b
        ON a.user_id = b.user_id
       AND a.event_type <> b.event_type
       AND a.first_ts < b.last_ts
      GROUP BY 1, 2
    ), na AS (
      SELECT event_type AS antecedent, CAST(count(*) AS BIGINT) AS n_users_ante
      FROM per GROUP BY 1
    )
    SELECT antecedent, consequent, n_users_both, n_users_ante,
           round(CAST(n_users_both AS DOUBLE) / n_users_ante, 6) AS confidence
    FROM ab JOIN na USING (antecedent)
    ORDER BY antecedent, consequent
"""

ORACLES["brand_monthly_trend"] = """
    WITH monthly AS (
      SELECT p_brand,
             year(l_shipdate) * 12 + month(l_shipdate) AS mi,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT)) AS BIGINT) AS rev_cents
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2
    ), m AS (
      SELECT p_brand,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(mi) AS HUGEINT) AS sx,
             CAST(sum(rev_cents) AS HUGEINT) AS sy,
             CAST(sum(CAST(mi AS HUGEINT) * mi) AS HUGEINT) AS sxx,
             CAST(sum(CAST(rev_cents AS HUGEINT) * rev_cents) AS HUGEINT) AS syy,
             CAST(sum(CAST(mi AS HUGEINT) * rev_cents) AS HUGEINT) AS sxy
      FROM monthly GROUP BY p_brand
    ), fit AS (
      SELECT p_brand, n,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
             CAST(n * sxy - sx * sy AS DOUBLE) AS numd,
             CAST(n * sxx - sx * sx AS DOUBLE) AS dxd,
             CAST(n * syy - sy * sy AS DOUBLE) AS dyd
      FROM m
    )
    SELECT p_brand, CAST(n AS BIGINT) AS n_months,
           -- zero-variance guards mirror the Spark side's when(dx != 0)
           -- / when(dy != 0): a brand with one month (or constant
           -- revenue) must yield NULL, not DuckDB's IEEE 0/0 NaN
           round(CASE WHEN dxd <> 0 THEN slope END, 4) AS trend_cents_per_month,
           round(CASE WHEN dxd <> 0 AND dyd <> 0
                 THEN numd * numd / (dxd * dyd) END, 6) AS r2
    FROM fit ORDER BY p_brand
"""

ORACLES["docs_bigram_logprob"] = r"""
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
      FROM documents
      WHERE len(string_split_regex(trim(text), '\s+')) >= 2
    ), tok AS (
      SELECT doc_id, unnest(tk) AS token FROM d
    ), bg AS (
      -- position carried through so the final fold can replay Spark's
      -- left-to-right F.aggregate order exactly (an unordered avg()
      -- sums in engine-chosen order — a last-ulp flake risk on long
      -- documents)
      SELECT doc_id, i AS pos, concat(tk[i], ' ', tk[i+1]) AS bigram
      FROM d, unnest(range(1, len(tk))) AS t(i)
    ), vd AS (
      SELECT CAST(count(DISTINCT token) AS BIGINT) AS v FROM tok
    ), uni AS (
      SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok
      GROUP BY token ORDER BY c DESC, token LIMIT 200
    ), bivocab AS (
      SELECT bigram, CAST(count(*) AS BIGINT) AS c FROM bg
      GROUP BY bigram ORDER BY c DESC, bigram LIMIT 400
    )
    SELECT bg.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(list_reduce(
                   list(ln(CAST(coalesce(bv.c, 0) + 1 AS DOUBLE)
                           / (coalesce(u.c, 0) + vd.v)) ORDER BY bg.pos),
                   (a, b) -> a + b) / count(*), 6) AS avg_logprob
    FROM bg
    CROSS JOIN vd
    LEFT JOIN bivocab bv ON bg.bigram = bv.bigram
    LEFT JOIN uni u ON string_split(bg.bigram, ' ')[1] = u.token
    GROUP BY bg.doc_id
    ORDER BY bg.doc_id
"""

ORACLES["docs_bpe_merges"] = _bpe_oracle(BPE_N_MERGES)
ORACLES["docs_bpe_merges_batched"] = _bpe_batched_oracle(
    BPE_BATCH_ROUNDS, BPE_BATCH_SIZE, BPE_BATCH_POOL
)

ORACLES["orders_cohort_ltv"] = """
    WITH first AS (
      SELECT o_custkey, date_trunc('month', min(o_orderdate)) AS cohort_month
      FROM orders GROUP BY 1
    )
    SELECT CAST(f.cohort_month AS DATE) AS cohort_month,
           CAST(date_diff('month', f.cohort_month,
                          date_trunc('month', o.o_orderdate)) AS INT)
             AS month_offset,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS rev_cents
    FROM orders o JOIN first f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2 ORDER BY 1, 2
"""

ORACLES["supplier_lead_times"] = """
    SELECT l_suppkey, s_name,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(count(*) FILTER (WHERE date_diff('day', o_orderdate, l_shipdate) > 90)
                AS BIGINT) AS n_slow,
           CAST(sum(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT)
             AS sum_lead_days,
           CAST(max(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT)
             AS max_lead_days,
           round(CAST(sum(date_diff('day', o_orderdate, l_shipdate))
                 AS DOUBLE) / count(*), 4) AS avg_lead_days
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY 1, 2 ORDER BY l_suppkey
"""

ORACLES["docs_token_coverage"] = r"""
    WITH counts AS (
      SELECT token, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
            FROM documents WHERE length(trim(text)) > 0)
      GROUP BY token
    ), ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, token) AS rk FROM counts
    ), tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS total FROM counts
    ), ks(k) AS (VALUES (10), (100), (1000))
    SELECT CAST(k AS INT) AS vocab_k,
           CAST(sum(c) AS BIGINT) AS covered_occurrences,
           total AS total_occurrences,
           round(CAST(sum(c) AS DOUBLE) / total, 6) AS coverage
    FROM ranked CROSS JOIN tot JOIN ks ON rk <= k
    GROUP BY k, total ORDER BY vocab_k
"""

ORACLES["docs_winnowing"] = r"""
    WITH toks AS (
      SELECT doc_id, i - 1 AS pos,
             ascii(substr(tk[i], 1, 1)) * 131 + length(tk[i]) AS code
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
            FROM documents WHERE length(trim(text)) > 0),
           unnest(range(1, len(tk) + 1)) AS t(i)
    ), grams AS (
      SELECT doc_id, pos AS gpos,
             ((code % 1048573 * 131 % 1048573 * 131 % 1048573
               + lead(code, 1) OVER w % 1048573 * 131 % 1048573
               + lead(code, 2) OVER w % 1048573) % 1048573)
               * 2097152 + (1048576 - pos) AS key,
             lead(code, 2) OVER w AS c2
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), g2 AS (
      SELECT doc_id, gpos, key,
             CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n,
             min(key) OVER (PARTITION BY doc_id ORDER BY gpos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
      FROM grams WHERE c2 IS NOT NULL
    ), sel AS (
      SELECT doc_id, n,
             1048576 - wmin % 2097152 AS sel_pos,
             wmin // 2097152 AS sel_hash
      FROM g2 WHERE gpos <= n - 4
    )
    SELECT doc_id, max(n) AS n_kgrams,
           CAST(count(DISTINCT sel_pos) AS BIGINT) AS n_selected,
           CAST(count(DISTINCT sel_hash) AS BIGINT) AS n_distinct_fp,
           round(CAST(count(DISTINCT sel_pos) AS DOUBLE) / max(n), 6)
             AS density
    FROM sel GROUP BY doc_id ORDER BY doc_id
"""

ORACLES["orders_chi2_cells"] = """
    WITH cells AS (
      SELECT o_orderpriority, o_orderstatus,
             CAST(count(*) AS BIGINT) AS observed
      FROM orders GROUP BY 1, 2
    ), m AS (
      SELECT *,
             CAST(sum(observed) OVER (PARTITION BY o_orderpriority) AS BIGINT)
               AS row_total,
             CAST(sum(observed) OVER (PARTITION BY o_orderstatus) AS BIGINT)
               AS col_total,
             CAST(sum(observed) OVER () AS BIGINT) AS n
      FROM cells
    )
    SELECT o_orderpriority, o_orderstatus, observed, row_total, col_total,
           round(CAST(row_total AS DOUBLE) * col_total / n, 4) AS expected,
           round((observed - CAST(row_total AS DOUBLE) * col_total / n)
                 * (observed - CAST(row_total AS DOUBLE) * col_total / n)
                 / (CAST(row_total AS DOUBLE) * col_total / n), 6)
             AS chi2_term
    FROM m ORDER BY o_orderpriority, o_orderstatus
"""

ORACLES["segment_share_yoy"] = """
    WITH g AS (
      SELECT c_mktsegment AS segment, CAST(year(o_orderdate) AS INT) AS yr,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2
    ), s AS (
      SELECT *, CAST(sum(rev_cents) OVER (PARTITION BY yr) AS BIGINT)
               AS year_total
      FROM g
    )
    SELECT segment, yr, rev_cents, year_total,
           CAST(rev_cents * 10000 // year_total AS BIGINT) AS share_bp,
           CAST(rev_cents * 10000 // year_total
                - lag(rev_cents * 10000 // year_total)
                  OVER (PARTITION BY segment ORDER BY yr) AS BIGINT)
             AS yoy_delta_bp
    FROM s ORDER BY segment, yr
"""

ORACLES["lineitem_weighted_median"] = """
    WITH pp AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2
    ), c AS (
      SELECT *,
             CAST(sum(w) OVER (PARTITION BY l_returnflag
                               ORDER BY price_cents) AS BIGINT) AS cum,
             CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot
      FROM pp
    )
    SELECT l_returnflag,
           CAST(min(CASE WHEN 2 * cum >= tot THEN price_cents END) AS BIGINT)
             AS median_price_cents,
           CAST(max(tot) AS BIGINT) AS total_qty
    FROM c GROUP BY 1 ORDER BY l_returnflag
"""

ORACLES["events_user_quantiles"] = """
    WITH per AS (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY n, user_id) AS rk,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS cnt
      FROM per
    )
    SELECT event_type, CAST(max(cnt) AS BIGINT) AS n_users,
           CAST(max(CASE WHEN rk = (cnt * 50 + 99) // 100 THEN n END)
                AS BIGINT) AS p50,
           CAST(max(CASE WHEN rk = (cnt * 90 + 99) // 100 THEN n END)
                AS BIGINT) AS p90,
           CAST(max(CASE WHEN rk = (cnt * 99 + 99) // 100 THEN n END)
                AS BIGINT) AS p99
    FROM r GROUP BY event_type ORDER BY event_type
"""

ORACLES["orders_gap_stats"] = """
    WITH g AS (
      SELECT o_custkey,
             date_diff('day',
                       lag(o_orderdate) OVER (PARTITION BY o_custkey
                                              ORDER BY o_orderdate, o_orderkey),
                       o_orderdate) AS gap
      FROM orders
    )
    SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(gap) AS BIGINT) AS n_gaps,
           CAST(sum(gap) AS BIGINT) AS sum_gap_days,
           round(CAST(sum(gap) AS DOUBLE) / count(gap), 4) AS avg_gap_days
    FROM g GROUP BY 1 HAVING count(*) >= 2 ORDER BY o_custkey
"""

ORACLES["docs_ngram_novelty"] = r"""
    WITH tri AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(ns) - 2, 0) + 1),
               i -> concat(ns[i], ' ', ns[i+1], ' ', ns[i+2])))) AS s
      FROM (SELECT doc_id,
                   string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ns
            FROM documents)
    ), f AS (
      SELECT s, min(doc_id) AS first_doc FROM tri GROUP BY 1
    )
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(count(*) FILTER (WHERE f.first_doc = t.doc_id) AS BIGINT)
             AS n_novel,
           round(CAST(count(*) FILTER (WHERE f.first_doc = t.doc_id)
                 AS DOUBLE) / count(*), 6) AS novelty
    FROM tri t JOIN f ON t.s = f.s GROUP BY 1 ORDER BY t.doc_id
"""

ORACLES["fuzzy_name_blocking"] = """
    WITH names AS (
      SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts,
             split_part(p_name, ' ', 1) AS b1,
             substr(split_part(p_name, ' ', 2), 1, 1) AS b2
      FROM part GROUP BY 1
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist,
           a.n_parts AS n_a, b.n_parts AS n_b,
           CAST(a.n_parts * b.n_parts AS BIGINT) AS n_linked_pairs
    FROM names a JOIN names b
      ON a.b1 = b.b1 AND a.b2 = b.b2 AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
    ORDER BY name_a, name_b
"""

ORACLES["events_twap"] = """
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(floor(epoch(ts)) AS BIGINT) AS u
      FROM events
    ), d AS (
      SELECT event_type, day, cents,
             coalesce(
               lead(u) OVER (PARTITION BY event_type, day ORDER BY ts, event_id),
               CAST(floor(epoch(CAST(day + 1 AS TIMESTAMP))) AS BIGINT)
             ) - u AS dur_s
      FROM base
    )
    SELECT event_type, day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(dur_s) AS BIGINT) AS total_dur_s,
           round(CAST(sum(cents * dur_s) AS DOUBLE)
                 / CAST(sum(dur_s) AS BIGINT) / 100.0, 6) AS twap_value
    FROM d GROUP BY event_type, day ORDER BY event_type, day
"""

ORACLES["orders_dow_profile"] = """
    WITH base AS (
      SELECT c_mktsegment AS segment,
             CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
    ), g AS (
      SELECT segment, dow, CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(cents) AS BIGINT) AS revenue_cents
      FROM base GROUP BY 1, 2
    )
    SELECT segment, dow, n_orders, revenue_cents,
           CAST(sum(revenue_cents) OVER (PARTITION BY segment) AS BIGINT)
             AS seg_total,
           CAST(revenue_cents * 10000
                // sum(revenue_cents) OVER (PARTITION BY segment) AS BIGINT)
             AS share_bp,
           round(CAST(revenue_cents AS DOUBLE) / n_orders, 6) AS avg_order_cents
    FROM g ORDER BY segment, dow
"""

ORACLES["docs_quality_joint_hist"] = r"""
    WITH base AS (
      SELECT n_chars, CAST(len(tk) AS BIGINT) AS n_tok,
             CAST(len(list_distinct(tk)) AS BIGINT) AS n_types
      FROM (SELECT n_chars,
                   CASE WHEN length(trim(text)) = 0 THEN []
                        ELSE string_split_regex(trim(text), '\s+') END AS tk
            FROM documents)
      WHERE len(tk) > 0
    ), banded AS (
      SELECT least(9, n_chars // 150) AS len_band,
             least(4, (n_types * 5) // n_tok) AS ttr_band,
             n_chars, n_tok
      FROM base
    )
    SELECT CAST(len_band AS BIGINT) AS len_band,
           CAST(ttr_band AS BIGINT) AS ttr_band,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS avg_chars,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM banded GROUP BY 1, 2 ORDER BY len_band, ttr_band
"""

ORACLES["docs_lang_topk_tokens"] = r"""
    WITH counts AS (
      SELECT lang, token, CAST(count(*) AS BIGINT) AS n_occurrences
      FROM (SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS token
            FROM documents WHERE length(trim(text)) > 0)
      GROUP BY 1, 2
    ), ranked AS (
      SELECT lang, token, n_occurrences,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n_occurrences DESC, token) AS rank
      FROM counts
    )
    SELECT lang, CAST(rank AS BIGINT) AS rank, token, n_occurrences
    FROM ranked WHERE rank <= 5 ORDER BY lang, rank
"""

ORACLES["orders_running_backlog"] = """
    WITH iv AS (
      SELECT CAST(o_orderdate AS DATE) AS start_day, close_day
      FROM orders
      JOIN (SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS close_day
            FROM lineitem GROUP BY 1) li ON o_orderkey = l_orderkey
    ), deltas AS (
      SELECT start_day AS day, 1 AS delta FROM iv
      UNION ALL
      SELECT close_day + 1 AS day, -1 AS delta FROM iv
    ), daily AS (
      SELECT day, CAST(sum(delta) AS BIGINT) AS net_change,
             CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_opened
      FROM deltas GROUP BY 1
    )
    SELECT day, n_opened, net_change,
           CAST(sum(net_change) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_open
    FROM daily ORDER BY day
"""

ORACLES["docs_tokenizer_fertility"] = r"""
    WITH per_doc AS (
      SELECT lang, n_chars,
             CAST(len(regexp_extract_all(
               text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe,
             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END
                  AS BIGINT) AS n_ws
      FROM documents
    ), g AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
             CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM per_doc WHERE n_ws > 0 GROUP BY 1
    )
    SELECT lang, n_docs, ws_tokens, bpe_tokens, total_chars,
           round(CAST(bpe_tokens AS DOUBLE) / ws_tokens, 6) AS fertility,
           round(CAST(total_chars AS DOUBLE) / bpe_tokens, 6) AS chars_per_bpe
    FROM g ORDER BY lang
"""

ORACLES["events_seasonal_zscore"] = """
    WITH base AS (
      SELECT event_type,
             CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
             CAST(hour(ts) AS BIGINT) AS hour,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ), prof AS (
      SELECT event_type, dow, hour,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS s,
             CAST(sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT))
                  AS HUGEINT) AS q
      FROM base GROUP BY 1, 2, 3
    ), flagged AS (
      SELECT b.event_type, b.dow, b.hour, b.cents,
             (p.n * CAST(b.cents AS HUGEINT) - p.s) AS dev,
             p.n, p.s, p.q
      FROM base b JOIN prof p
        ON b.event_type = p.event_type AND b.dow = p.dow AND b.hour = p.hour
    )
    SELECT event_type, dow, hour,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(cents) AS DOUBLE) / count(*) / 100.0, 6) AS mean_value,
           CAST(sum(CASE WHEN dev * dev > 9 * (n * q - s * s)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM flagged GROUP BY 1, 2, 3 ORDER BY event_type, dow, hour
"""

ORACLES["docs_vocab_growth"] = r"""
    WITH tok AS (
      SELECT doc_id // 50 AS bucket,
             unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents WHERE length(trim(text)) > 0
    ), totals AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens
      FROM tok GROUP BY 1
    ), news AS (
      SELECT first_bucket, CAST(count(*) AS BIGINT) AS n_new_types
      FROM (SELECT token, min(bucket) AS first_bucket FROM tok GROUP BY 1)
      GROUP BY 1
    ), nd AS (
      SELECT doc_id // 50 AS bucket, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1
    ), joined AS (
      SELECT t.bucket, nd.n_docs, t.n_tokens,
             CAST(coalesce(n.n_new_types, 0) AS BIGINT) AS n_new_types
      FROM totals t
      LEFT JOIN news n ON t.bucket = n.first_bucket
      JOIN nd ON t.bucket = nd.bucket
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, n_docs, n_tokens, n_new_types,
           CAST(sum(n_tokens) OVER (ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_tokens,
           CAST(sum(n_new_types) OVER (ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_vocab,
           round(CAST(sum(n_new_types) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / CAST(sum(n_tokens) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT),
                 6) AS ttr
    FROM joined ORDER BY bucket
"""

ORACLES["events_debounce"] = """
    WITH RECURSIVE e AS MATERIALIZED (
      SELECT event_id, user_id, event_type, ts,
             CAST(floor(epoch(ts)) AS BIGINT) AS u,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), walk AS (
      SELECT user_id, event_type, rn, u AS last_kept, TRUE AS kept,
             event_id, ts
      FROM e WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.event_type, e.rn,
             CASE WHEN e.u - w.last_kept >= 86400 THEN e.u
                  ELSE w.last_kept END,
             e.u - w.last_kept >= 86400,
             e.event_id, e.ts
      FROM walk w
      JOIN e ON e.user_id = w.user_id AND e.event_type = w.event_type
            AND e.rn = w.rn + 1
    )
    SELECT event_id, user_id, event_type, ts
    FROM walk WHERE kept ORDER BY event_id
"""

ORACLES["orders_survival_km"] = """
    WITH mx AS (SELECT max(o_orderdate) AS gmax FROM orders),
    per_c AS (
      SELECT CAST(date_diff('day', min(o_orderdate), max(o_orderdate))
                  AS BIGINT) AS t,
             CASE WHEN date_diff('day', max(o_orderdate),
                                 (SELECT gmax FROM mx)) > 90
                  THEN 1 ELSE 0 END AS churned
      FROM orders GROUP BY o_custkey
    ), per_t AS (
      SELECT t, CAST(count(*) AS BIGINT) AS ends,
             CAST(sum(churned) AS BIGINT) AS d
      FROM per_c GROUP BY t
    ), risk AS (
      SELECT t, d,
             CAST((SELECT sum(ends) FROM per_t)
                  - coalesce(sum(ends) OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_at_risk
      FROM per_t
    ), steps AS (
      SELECT t, n_at_risk, d,
             1.0 - CAST(d AS DOUBLE) / n_at_risk AS f
      FROM risk WHERE d > 0
    )
    SELECT t AS duration_days, n_at_risk, d AS n_events,
           round(list_reduce(list(f) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 (a, b) -> a * b), 6) AS survival
    FROM steps ORDER BY duration_days
"""

ORACLES["revenue_acf"] = """
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
      FROM daily
    ), dev AS (
      SELECT d, CAST(n AS HUGEINT) * x - s AS dev FROM daily, tot
    ), den AS (
      SELECT sum(dev * dev) AS den FROM dev
    ), pairs AS (
      SELECT CAST(date_diff('day', b.d, a.d) AS BIGINT) AS lag,
             a.dev * b.dev AS prod
      FROM dev a JOIN dev b
        ON date_diff('day', b.d, a.d) BETWEEN 1 AND 7
    )
    SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(sum(prod) AS DOUBLE)
                 / CAST((SELECT den FROM den) AS DOUBLE), 6) AS acf
    FROM pairs GROUP BY lag ORDER BY lag
"""

ORACLES["docs_pmi_collocations"] = r"""
    WITH tok AS (
      SELECT string_split_regex(trim(text), '\s+') AS tk
      FROM documents WHERE length(trim(text)) > 0
    ), uni AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(tk) AS w FROM tok) GROUP BY 1
    ), nn AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uni),
    big AS (
      SELECT tk[i] AS w1, tk[i + 1] AS w2
      FROM tok, unnest(range(1, len(tk))) AS t(i)
      WHERE len(tk) >= 2
    ), mm AS (SELECT CAST(count(*) AS BIGINT) AS m_big FROM big),
    bgc AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
      FROM big GROUP BY 1, 2 HAVING count(*) >= 5
    ), scored AS (
      SELECT g.w1, g.w2, g.n_pair, u1.c AS n_w1, u2.c AS n_w2,
             CAST(CAST(g.n_pair AS HUGEINT) * nn.n_uni * nn.n_uni AS DOUBLE)
             / CAST(CAST(mm.m_big AS HUGEINT) * u1.c * u2.c AS DOUBLE)
               AS score
      FROM bgc g
      JOIN uni u1 ON g.w1 = u1.w
      JOIN uni u2 ON g.w2 = u2.w, nn, mm
    ), top AS (
      SELECT * FROM scored ORDER BY score DESC, w1, w2 LIMIT 50
    )
    SELECT CAST(row_number() OVER (ORDER BY score DESC, w1, w2) AS BIGINT)
             AS rank,
           w1, w2, n_pair, n_w1, n_w2, round(score, 6) AS pmi_ratio
    FROM top ORDER BY rank
"""

ORACLES["docs_zipf_fit"] = r"""
    WITH uni AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
            FROM documents WHERE length(trim(text)) > 0) GROUP BY 1
    ), top AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r
      FROM uni ORDER BY c DESC, w LIMIT 1000
    ), xy AS (
      SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS x,
             CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS y
      FROM top
    ), m AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(x * x) AS HUGEINT) AS sxx,
             CAST(sum(x * y) AS HUGEINT) AS sxy,
             CAST(sum(y * y) AS HUGEINT) AS syy
      FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n_types,
           round(CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) <> 0.0
                 THEN CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE) END, 6) AS slope,
           round(CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) <> 0.0 AND n > 0
                 THEN (CAST(sy AS DOUBLE)
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE))
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) / 1000000.0 END, 6) AS intercept,
           round(CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) <> 0.0
                       AND CAST(n * syy - sy * sy AS DOUBLE) <> 0.0
                 THEN (CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE))
                 * (CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * syy - sy * sy AS DOUBLE)) END, 6) AS r2
    FROM m
"""

ORACLES["events_user_coverage"] = """
    WITH base AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CAST(floor(epoch(ts)) AS BIGINT) + 1800 AS e
      FROM events
    ), scored AS (
      SELECT user_id, s, e,
             max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      FROM base
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
                AS BIGINT) AS n_intervals,
           CAST(sum(greatest(0, e - greatest(s, coalesce(pmax, s))))
                AS BIGINT) AS covered_s
    FROM scored GROUP BY 1 ORDER BY user_id
"""

ORACLES["orders_seasonal_decompose"] = """
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), res AS (
      SELECT d, x,
             CASE WHEN count(*) OVER w7 = 7
                  THEN 7 * x - sum(x) OVER w7 END AS res_x7
      FROM daily
      WINDOW w7 AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    )
    SELECT CAST(dayofweek(d) + 1 AS BIGINT) AS dow,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN res_x7 IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_days_full,
           CAST(sum(x) AS BIGINT) AS revenue_cents,
           CAST(sum(res_x7) AS BIGINT) AS res_x7_sum,
           round(CASE WHEN sum(CASE WHEN res_x7 IS NOT NULL THEN 1 ELSE 0 END) > 0
                 THEN CAST(sum(res_x7) AS DOUBLE)
                 / (7.0 * sum(CASE WHEN res_x7 IS NOT NULL THEN 1 ELSE 0 END))
                 END, 4) AS seasonal_cents,
           round(CAST(sum(x) AS DOUBLE) / count(*), 4) AS mean_daily_cents
    FROM res GROUP BY 1 ORDER BY dow
"""

ORACLES["docs_source_jsd"] = r"""
    WITH cnt AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT source,
                   unnest(string_split_regex(trim(text), '\s+')) AS w
            FROM documents WHERE length(trim(text)) > 0)
      GROUP BY 1, 2
    ), totals AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n_tok FROM cnt GROUP BY 1
    ), pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             a.n_tok AS n_a, b.n_tok AS n_b
      FROM totals a JOIN totals b ON a.source < b.source
    ), toks AS (
      SELECT DISTINCT w FROM cnt
    ), j AS (
      SELECT p.source_a, p.source_b, p.n_a, p.n_b,
             CAST(coalesce(ca.c, 0) AS BIGINT) AS ca,
             CAST(coalesce(cb.c, 0) AS BIGINT) AS cb
      FROM toks t
      CROSS JOIN pairs p
      LEFT JOIN cnt ca ON ca.source = p.source_a AND ca.w = t.w
      LEFT JOIN cnt cb ON cb.source = p.source_b AND cb.w = t.w
      WHERE coalesce(ca.c, 0) > 0 OR coalesce(cb.c, 0) > 0
    ), terms AS (
      SELECT source_a, source_b,
             CAST(round((
               CASE WHEN ca > 0
                    THEN (CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE))
                         * ln((CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE))
                              / ((CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE)
                                  + CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE))
                                 / 2.0))
                    ELSE 0.0 END * 0.5
               + CASE WHEN cb > 0
                      THEN (CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE))
                           * ln((CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE))
                                / ((CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE)
                                    + CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE))
                                   / 2.0))
                      ELSE 0.0 END * 0.5
             ) * 1000000000.0) AS BIGINT) AS t_nano
      FROM j
    )
    SELECT source_a, source_b,
           CAST(count(*) AS BIGINT) AS n_types_union,
           round(CAST(sum(t_nano) AS DOUBLE) / 1000000000.0
                 / 0.6931471805599453, 6) AS jsd_bits
    FROM terms GROUP BY 1, 2 ORDER BY source_a, source_b
"""

# --- r9-batch oracles -------------------------------------------------------
# revenue_pacf: the machine-generated unrolled Durbin-Levinson recursion
# over the registered ACF oracle — both engines consume bit-identical
# ACF values and replay every float op in the identical order
# (cross-engine equality pinned in tests/test_cdc_stats.py).
from .operators.stats import pacf_unrolled_sql as _pacf_unrolled_sql  # noqa: E402

ORACLES["revenue_pacf"] = _pacf_unrolled_sql(ORACLES["revenue_acf"], 7)

ORACLES["revenue_holt"] = """
    WITH RECURSIVE daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), e AS (
      SELECT CAST(x AS DOUBLE) AS x,
             row_number() OVER (ORDER BY d) AS rn
      FROM daily
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n_periods FROM e),
    walk AS (
      SELECT rn, x AS l, CAST(0 AS DOUBLE) AS b FROM e WHERE rn = 1
      UNION ALL
      SELECT e.rn,
             0.5 * e.x + 0.5 * (w.l + w.b),
             0.25 * ((0.5 * e.x + 0.5 * (w.l + w.b)) - w.l) + 0.75 * w.b
      FROM walk w JOIN e ON e.rn = w.rn + 1
    ), fin AS (SELECT l, b FROM walk ORDER BY rn DESC LIMIT 1)
    SELECT nn.n_periods,
           round(l, 4) AS level, round(b, 4) AS trend,
           round(l + 1.0 * b, 4) AS forecast_h1,
           round(l + 7.0 * b, 4) AS forecast_h7,
           round(l + 30.0 * b, 4) AS forecast_h30
    FROM fin, nn
"""

ORACLES["revenue_runs_test"] = """
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM daily),
    ranked AS (
      SELECT x, row_number() OVER (ORDER BY x, d) AS r FROM daily
    ), med AS (
      SELECT max(CASE WHEN r = CAST(ceil(n_all / 2) AS BIGINT) THEN x END)
             AS med
      FROM ranked, nn
    ), lab AS (
      SELECT d, CASE WHEN x > med THEN 1 ELSE 0 END AS lab
      FROM daily, med WHERE x <> med
    ), runs AS (
      SELECT lab,
             CASE WHEN lag(lab) OVER (ORDER BY d) IS NULL
                    OR lab <> lag(lab) OVER (ORDER BY d)
                  THEN 1 ELSE 0 END AS new_run
      FROM lab
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(coalesce(sum(lab), 0) AS BIGINT) AS n_above,
             CAST(coalesce(sum(new_run), 0) AS BIGINT) AS n_runs
      FROM runs
    ), mom AS (
      SELECT n, n_above, n_runs,
             2.0 * CAST(n_above AS DOUBLE) * CAST(n - n_above AS DOUBLE)
               / CAST(n AS DOUBLE) + 1.0 AS mu
      FROM agg
    ), mom2 AS (
      SELECT *,
             (mu - 1.0) * (mu - 2.0) / (CAST(n AS DOUBLE) - 1.0) AS vr
      FROM mom
    )
    SELECT n, (SELECT med FROM med) AS median, n_above,
           CAST(n - n_above AS BIGINT) AS n_below, n_runs,
           CASE WHEN n > 0 THEN round(mu, 6) END AS expected_runs,
           CASE WHEN n > 1 THEN
                CASE WHEN vr > 0.0 THEN
                     round((CAST(n_runs AS DOUBLE) - mu) / sqrt(vr), 6)
                END
           END AS z
    FROM mom2
"""

ORACLES["orders_breakpoint_trend"] = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), d2 AS (
      SELECT d, CAST(x AS HUGEINT) AS y,
             CAST(row_number() OVER (ORDER BY d) AS HUGEINT) AS t
      FROM daily
    ), pre AS (
      SELECT d, t,
             sum(t) OVER wc AS st, sum(y) OVER wc AS sy,
             sum(t * t) OVER wc AS stt, sum(t * y) OVER wc AS sty,
             sum(y * y) OVER wc AS syy
      FROM d2
      WINDOW wc AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW)
    ), tot AS (
      SELECT t AS n, st AS tst, sy AS tsy, stt AS tstt, sty AS tsty,
             syy AS tsyy
      FROM pre WHERE t = (SELECT max(t) FROM pre)
    ), scored AS (
      SELECT d, t, n,
             (CAST(t * syy - sy * sy AS DOUBLE)
              - CAST(t * sty - st * sy AS DOUBLE)
                * CAST(t * sty - st * sy AS DOUBLE)
                / CAST(t * stt - st * st AS DOUBLE)) / CAST(t AS DOUBLE)
           + (CAST((n - t) * (tsyy - syy) - (tsy - sy) * (tsy - sy) AS DOUBLE)
              - CAST((n - t) * (tsty - sty) - (tst - st) * (tsy - sy)
                     AS DOUBLE)
                * CAST((n - t) * (tsty - sty) - (tst - st) * (tsy - sy)
                       AS DOUBLE)
                / CAST((n - t) * (tstt - stt) - (tst - st) * (tst - st)
                       AS DOUBLE))
             / CAST(n - t AS DOUBLE) AS sse2,
             CAST(t * sty - st * sy AS DOUBLE)
               / CAST(t * stt - st * st AS DOUBLE) AS sl,
             CAST((n - t) * (tsty - sty) - (tst - st) * (tsy - sy) AS DOUBLE)
               / CAST((n - t) * (tstt - stt) - (tst - st) * (tst - st)
                      AS DOUBLE) AS sr,
             tst, tsy, tstt, tsty, tsyy
      FROM pre, tot
      WHERE t >= 3 AND t <= n - 3
    ), best AS (
      SELECT * FROM scored ORDER BY sse2 ASC, t ASC LIMIT 1
    ), fin AS (
      SELECT *,
             (CAST(n * tsyy - tsy * tsy AS DOUBLE)
              - CAST(n * tsty - tst * tsy AS DOUBLE)
                * CAST(n * tsty - tst * tsy AS DOUBLE)
                / CAST(n * tstt - tst * tst AS DOUBLE)) / CAST(n AS DOUBLE)
               AS sse1
      FROM best
    )
    SELECT d AS breakpoint, CAST(n AS BIGINT) AS n_points,
           round(sl, 6) AS slope_left, round(sr, 6) AS slope_right,
           round(sse2, 4) AS sse_two, round(sse1, 4) AS sse_single,
           round(CASE WHEN sse1 > 0.0 THEN (sse1 - sse2) / sse1
                      ELSE 0.0 END, 6) AS rel_reduction
    FROM fin
"""

ORACLES["segment_churn_km"] = """
    WITH mx AS (SELECT max(o_orderdate) AS gmax FROM orders),
    per_c AS (
      SELECT o_custkey,
             CAST(date_diff('day', min(o_orderdate), max(o_orderdate))
                  AS BIGINT) AS t,
             CASE WHEN date_diff('day', max(o_orderdate),
                                 (SELECT gmax FROM mx)) > 90
                  THEN 1 ELSE 0 END AS churned
      FROM orders GROUP BY o_custkey
    ), seg AS (
      SELECT c.c_mktsegment AS s, p.t, p.churned
      FROM per_c p JOIN customer c ON p.o_custkey = c.c_custkey
    ), per_t AS (
      SELECT s, t, CAST(count(*) AS BIGINT) AS ends,
             CAST(sum(churned) AS BIGINT) AS d
      FROM seg GROUP BY s, t
    ), tot AS (
      SELECT s, CAST(sum(ends) AS BIGINT) AS total FROM per_t GROUP BY s
    ), risk AS (
      SELECT p.s, p.t, p.d,
             CAST(tot.total
                  - coalesce(sum(p.ends) OVER (PARTITION BY p.s ORDER BY p.t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_at_risk
      FROM per_t p JOIN tot ON p.s = tot.s
    ), steps AS (
      SELECT s, t, n_at_risk, d,
             1.0 - CAST(d AS DOUBLE) / n_at_risk AS f
      FROM risk WHERE d > 0
    )
    SELECT s AS c_mktsegment, t AS duration_days, n_at_risk, d AS n_events,
           round(list_reduce(list(f) OVER (PARTITION BY s ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 (a, b) -> a * b), 6) AS survival
    FROM steps ORDER BY c_mktsegment, duration_days
"""

ORACLES["docs_rake_keywords"] = rf"""
    WITH toks AS (
      SELECT doc_id, i AS pos, lower(tk[i]) AS tok
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
            FROM documents WHERE length(trim(text)) > 0) dd,
           unnest(range(1, len(tk) + 1)) AS t(i)
      WHERE length(tk[i]) > 0
    ), flagged AS (
      SELECT doc_id, pos, tok,
             CASE WHEN list_contains([{_SW}], tok) THEN 1 ELSE 0 END AS sw
      FROM toks
    ), runs AS (
      SELECT doc_id, pos, tok, sw,
             sum(sw) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      FROM flagged
    ), occ AS (
      SELECT doc_id, run, list(tok ORDER BY pos) AS words
      FROM runs WHERE sw = 0 GROUP BY doc_id, run
      HAVING count(*) <= 4
    ), occ2 AS (
      SELECT array_to_string(words, ' ') AS phrase, words,
             CAST(len(words) AS BIGINT) AS n_words
      FROM occ
    ), member AS (
      SELECT phrase, n_words, unnest(words) AS w FROM occ2
    ), stats AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(n_words) AS BIGINT) AS degree
      FROM member GROUP BY w
    ), grouped AS (
      SELECT phrase, words, CAST(count(*) AS BIGINT) AS n_occurrences,
             CAST(len(words) AS BIGINT) AS n_words
      FROM occ2 GROUP BY phrase, words
    ), perword AS (
      SELECT g.phrase, g.n_occurrences, g.n_words, t.i AS wpos,
             CAST(s.degree AS DOUBLE) / CAST(s.freq AS DOUBLE) AS wscore
      FROM grouped g, unnest(range(1, len(g.words) + 1)) AS t(i)
      JOIN stats s ON s.w = g.words[t.i]
    ), pscore AS (
      SELECT phrase, n_occurrences, n_words,
             list_reduce(list(wscore ORDER BY wpos), (a, b) -> a + b)
               AS score
      FROM perword GROUP BY phrase, n_occurrences, n_words
    ), top AS (
      SELECT * FROM pscore ORDER BY score DESC, phrase LIMIT 25
    )
    SELECT CAST(row_number() OVER (ORDER BY score DESC, phrase) AS BIGINT)
             AS rank,
           phrase, n_occurrences, n_words, round(score, 6) AS score
    FROM top ORDER BY rank
"""

ORACLES["docs_branching_entropy"] = r"""
    WITH tok AS (
      SELECT string_split_regex(trim(text), '\s+') AS tk
      FROM documents WHERE length(trim(text)) > 0
    ), uni AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c_uni
      FROM (SELECT unnest(tk) AS w FROM tok) GROUP BY 1
    ), top AS (
      SELECT w, c_uni FROM uni ORDER BY c_uni DESC, w LIMIT 25
    ), big AS (
      SELECT tk[i] AS w1, tk[i + 1] AS w2, CAST(count(*) AS BIGINT) AS n_pair
      FROM tok, unnest(range(1, len(tk))) AS t(i)
      WHERE len(tk) >= 2
      GROUP BY 1, 2
    ), rsel AS (
      SELECT b.w1 AS w, b.n_pair FROM big b JOIN top ON b.w1 = top.w
    ), rtot AS (
      SELECT w, CAST(sum(n_pair) AS BIGINT) AS tt FROM rsel GROUP BY 1
    ), rterm AS (
      SELECT r.w,
             CAST(round((CAST(r.n_pair AS DOUBLE) / CAST(t.tt AS DOUBLE))
                   * ln(CAST(r.n_pair AS DOUBLE) / CAST(t.tt AS DOUBLE))
                   * 1000000000.0) AS BIGINT) AS tn
      FROM rsel r JOIN rtot t ON r.w = t.w
    ), ragg AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n_right,
             CAST(sum(tn) AS BIGINT) AS s
      FROM rterm GROUP BY 1
    ), lsel AS (
      SELECT b.w2 AS w, b.n_pair FROM big b JOIN top ON b.w2 = top.w
    ), ltot AS (
      SELECT w, CAST(sum(n_pair) AS BIGINT) AS tt FROM lsel GROUP BY 1
    ), lterm AS (
      SELECT r.w,
             CAST(round((CAST(r.n_pair AS DOUBLE) / CAST(t.tt AS DOUBLE))
                   * ln(CAST(r.n_pair AS DOUBLE) / CAST(t.tt AS DOUBLE))
                   * 1000000000.0) AS BIGINT) AS tn
      FROM lsel r JOIN ltot t ON r.w = t.w
    ), lagg AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n_left,
             CAST(sum(tn) AS BIGINT) AS s
      FROM lterm GROUP BY 1
    )
    SELECT CAST(row_number() OVER (ORDER BY top.c_uni DESC, top.w) AS BIGINT)
             AS rank,
           top.w AS token, top.c_uni,
           CAST(coalesce(r.n_right, 0) AS BIGINT) AS n_right,
           round(-CAST(r.s AS DOUBLE) / 1000000000.0
                 / 0.6931471805599453, 6) AS right_entropy_bits,
           CAST(coalesce(l.n_left, 0) AS BIGINT) AS n_left,
           round(-CAST(l.s AS DOUBLE) / 1000000000.0
                 / 0.6931471805599453, 6) AS left_entropy_bits
    FROM top
    LEFT JOIN ragg r ON top.w = r.w
    LEFT JOIN lagg l ON top.w = l.w
    ORDER BY rank
"""


# -- r10-batch oracles ------------------------------------------------------

from .operators.textrank import (  # noqa: E402
    weighted_pagerank_unrolled_sql as _wpr_unrolled_sql,
)

# The word_graph SQL restatement (cross-engine edge equality pinned in
# tests/test_textrank.py): per-doc positions via unnest(range), the
# tokenizer convention shared with every other oracle, lead() windows
# per candidate distance, least/greatest canonical pairs.
_TEXTRANK_EDGES_SQL = rf"""
        SELECT least(wa, wb) AS w1, greatest(wa, wb) AS w2,
               CAST(count(*) AS BIGINT) AS weight
        FROM (
          SELECT tok AS wa,
                 lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS wb
          FROM (
            SELECT doc_id, i AS pos, lower(tk[i]) AS tok
            FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
                  FROM documents WHERE length(trim(text)) > 0) dd,
                 unnest(range(1, len(tk) + 1)) AS t(i)
            WHERE length(tk[i]) > 0
              AND NOT list_contains([{_SW}], lower(tk[i]))
          ) cand
          UNION ALL
          SELECT tok,
                 lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos)
          FROM (
            SELECT doc_id, i AS pos, lower(tk[i]) AS tok
            FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
                  FROM documents WHERE length(trim(text)) > 0) dd,
                 unnest(range(1, len(tk) + 1)) AS t(i)
            WHERE length(tk[i]) > 0
              AND NOT list_contains([{_SW}], lower(tk[i]))
          ) cand
        ) pairs
        WHERE wb IS NOT NULL AND wa <> wb GROUP BY 1, 2
"""

ORACLES["docs_textrank_keywords"] = f"""
    WITH scored AS (
      SELECT node AS token, round(rank, 9) AS score
      FROM ({_wpr_unrolled_sql(_TEXTRANK_EDGES_SQL, iterations=4)}) pr
    )
    SELECT CAST(row_number() OVER (ORDER BY score DESC, token) AS BIGINT)
             AS rank,
           token, score
    FROM scored ORDER BY rank LIMIT 25
"""

ORACLES["docs_textrank_phrases"] = rf"""
    WITH tw AS (
      SELECT node AS tok, round(rank, 9) AS wscore
      FROM ({_wpr_unrolled_sql(_TEXTRANK_EDGES_SQL, iterations=4)}) pr
      ORDER BY wscore DESC, tok LIMIT 50
    ), toks AS (
      SELECT doc_id, i AS pos, lower(tk[i]) AS tok
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
            FROM documents WHERE length(trim(text)) > 0) dd,
           unnest(range(1, len(tk) + 1)) AS t(i)
      WHERE length(tk[i]) > 0
    ), sel AS (
      SELECT t.doc_id, t.pos, t.tok, tw.wscore
      FROM toks t JOIN tw ON t.tok = tw.tok
    ), runs AS (
      SELECT doc_id, pos, tok, wscore,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS run
      FROM sel
    ), occ AS (
      SELECT string_agg(tok, ' ' ORDER BY pos) AS phrase,
             CAST(count(*) AS BIGINT) AS n_words,
             list_reduce(list(wscore ORDER BY pos),
                         (a, b) -> a + b) AS score0
      FROM runs GROUP BY doc_id, run
    ), ph AS (
      SELECT phrase, n_words, score0,
             CAST(count(*) AS BIGINT) AS n_occurrences
      FROM occ GROUP BY phrase, n_words, score0
    )
    SELECT CAST(row_number() OVER (ORDER BY score0 DESC, phrase) AS BIGINT)
             AS rank,
           phrase, n_words, n_occurrences, round(score0, 6) AS score
    FROM ph ORDER BY rank LIMIT 25
"""

# The psi() chain pinned cross-engine in tests/test_drift.py, with the
# era split (orderdate before/after 1998-01-01) as the ref/cur inputs.
ORACLES["orders_price_psi"] = """
    WITH ref AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x
      FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    ), cur AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x
      FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
    ), vc AS (
      SELECT x AS v, CAST(count(*) AS BIGINT) AS c FROM ref GROUP BY 1
    ), cum AS (
      SELECT v, CAST(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
             PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      FROM vc
    ), nn AS (SELECT CAST(max(cum) AS BIGINT) AS n FROM cum),
    targets AS (
      SELECT b AS bucket,
             CAST(ceil(CAST(b AS DOUBLE) * CAST(n AS DOUBLE) / 10.0)
                  AS BIGINT) AS r
      FROM (SELECT unnest(range(1, 10)) AS b), nn
    ), edges AS (
      SELECT CAST(bucket AS INT) AS bucket, min(v) AS edge
      FROM cum, targets WHERE cum >= r GROUP BY bucket
    ), rvc AS (
      SELECT x AS v, CAST(count(*) AS BIGINT) AS cnt FROM ref GROUP BY 1
    ), rbk AS (
      SELECT r.v, r.cnt, CAST(1 + count(e.edge) AS INT) AS bucket
      FROM rvc r LEFT JOIN edges e ON r.v > e.edge
      GROUP BY r.v, r.cnt
    ), rcnt AS (
      SELECT bucket, CAST(sum(cnt) AS BIGINT) AS c FROM rbk GROUP BY 1
    ), cvc AS (
      SELECT x AS v, CAST(count(*) AS BIGINT) AS cnt FROM cur GROUP BY 1
    ), cbk AS (
      SELECT r.v, r.cnt, CAST(1 + count(e.edge) AS INT) AS bucket
      FROM cvc r LEFT JOIN edges e ON r.v > e.edge
      GROUP BY r.v, r.cnt
    ), ccnt AS (
      SELECT bucket, CAST(sum(cnt) AS BIGINT) AS c FROM cbk GROUP BY 1
    ), nrt AS (SELECT CAST(count(*) AS BIGINT) AS n_ref_total FROM ref),
    nct AS (SELECT CAST(count(*) AS BIGINT) AS n_cur_total FROM cur),
    grid AS (SELECT CAST(unnest(range(1, 11)) AS INT) AS bucket),
    base AS (
      SELECT g.bucket,
             CAST(coalesce(r.c, 0) AS BIGINT) AS n_ref,
             CAST(coalesce(c.c, 0) AS BIGINT) AS n_cur,
             nrt.n_ref_total, nct.n_cur_total
      FROM grid g
      LEFT JOIN rcnt r ON g.bucket = r.bucket
      LEFT JOIN ccnt c ON g.bucket = c.bucket, nrt, nct
    ), terms AS (
      SELECT bucket, n_ref, n_cur,
             round(CAST(n_ref + 1 AS DOUBLE)
                   / CAST(n_ref_total + 10 AS DOUBLE), 6) AS ref_share,
             round(CAST(n_cur + 1 AS DOUBLE)
                   / CAST(n_cur_total + 10 AS DOUBLE), 6) AS cur_share,
             round((CAST(n_cur + 1 AS DOUBLE)
                    / CAST(n_cur_total + 10 AS DOUBLE)
                    - CAST(n_ref + 1 AS DOUBLE)
                      / CAST(n_ref_total + 10 AS DOUBLE))
                   * ln((CAST(n_cur + 1 AS DOUBLE)
                         / CAST(n_cur_total + 10 AS DOUBLE))
                        / (CAST(n_ref + 1 AS DOUBLE)
                           / CAST(n_ref_total + 10 AS DOUBLE))), 6)
               AS psi_term,
             CAST(round((CAST(n_cur + 1 AS DOUBLE)
                    / CAST(n_cur_total + 10 AS DOUBLE)
                    - CAST(n_ref + 1 AS DOUBLE)
                      / CAST(n_ref_total + 10 AS DOUBLE))
                   * ln((CAST(n_cur + 1 AS DOUBLE)
                         / CAST(n_cur_total + 10 AS DOUBLE))
                        / (CAST(n_ref + 1 AS DOUBLE)
                           / CAST(n_ref_total + 10 AS DOUBLE)))
                   * 1000000000.0) AS BIGINT) AS tn
      FROM base
    ), tot AS (
      SELECT round(CAST(sum(tn) AS DOUBLE) / 1000000000.0, 6) AS psi
      FROM terms
    )
    SELECT t.bucket, e.edge, t.n_ref, t.n_cur, t.ref_share,
           t.cur_share, t.psi_term, tot.psi
    FROM terms t LEFT JOIN edges e ON t.bucket = e.bucket, tot
    ORDER BY t.bucket
"""

# Pinned cross-engine in tests/test_robust.py (count(x) gate matches
# the operator's NULL-safe fullness rule; x is a sum, never NULL here).
ORACLES["revenue_hampel_outliers"] = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), win AS (
      SELECT d, x,
             CASE WHEN count(x) OVER w7 = 7
                  THEN list_sort(list(x) OVER w7) END AS warr
      FROM daily
      WINDOW w7 AS (ORDER BY d ROWS BETWEEN 3 PRECEDING
                    AND 3 FOLLOWING)
    )
    SELECT d, x,
           CAST(warr[4] AS BIGINT) AS med,
           CAST(list_sort(
                  list_transform(warr, v -> abs(v - warr[4])))[4]
                AS BIGINT) AS mad,
           CAST(abs(x - warr[4]) AS BIGINT) AS deviation,
           CASE WHEN warr IS NOT NULL
                THEN abs(x - warr[4]) > 3 * list_sort(
                  list_transform(warr, v -> abs(v - warr[4])))[4]
           END AS is_outlier
    FROM win ORDER BY d
"""

# revenue_holt's recursive walk with (segment, rn) carried per step —
# all segments advance in lockstep; the per-group last row closes.
ORACLES["segment_holt"] = """
    WITH RECURSIVE daily AS (
      SELECT c.c_mktsegment AS g, o.o_orderdate AS d,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ), e AS (
      SELECT g, CAST(x AS DOUBLE) AS x,
             row_number() OVER (PARTITION BY g ORDER BY d) AS rn
      FROM daily
    ), nn AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_periods FROM e GROUP BY g
    ), walk AS (
      SELECT g, rn, x AS l, CAST(0 AS DOUBLE) AS b FROM e WHERE rn = 1
      UNION ALL
      SELECT e.g, e.rn,
             0.5 * e.x + 0.5 * (w.l + w.b),
             0.25 * ((0.5 * e.x + 0.5 * (w.l + w.b)) - w.l) + 0.75 * w.b
      FROM walk w JOIN e ON e.g = w.g AND e.rn = w.rn + 1
    ), fin AS (
      SELECT g, l, b FROM (
        SELECT g, l, b,
               row_number() OVER (PARTITION BY g ORDER BY rn DESC) AS rk
        FROM walk) z
      WHERE rk = 1
    )
    SELECT nn.g AS c_mktsegment, nn.n_periods,
           round(l, 4) AS level, round(b, 4) AS trend,
           round(l + 1.0 * b, 4) AS forecast_h1,
           round(l + 7.0 * b, 4) AS forecast_h7,
           round(l + 30.0 * b, 4) AS forecast_h30
    FROM fin JOIN nn ON fin.g = nn.g
    ORDER BY c_mktsegment
"""

# The pinned breakpoint SQL with PARTITION BY event_type throughout
# and the per-group argmin under the identical (sse, t) total order.
ORACLES["events_type_breakpoint"] = """
    WITH daily AS (
      SELECT event_type AS s, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), d2 AS (
      SELECT s, d, CAST(x AS HUGEINT) AS y,
             CAST(row_number() OVER (PARTITION BY s ORDER BY d)
                  AS HUGEINT) AS t
      FROM daily
    ), pre AS (
      SELECT s, d, t,
             sum(t) OVER wc AS st, sum(y) OVER wc AS sy,
             sum(t * t) OVER wc AS stt, sum(t * y) OVER wc AS sty,
             sum(y * y) OVER wc AS syy
      FROM d2
      WINDOW wc AS (PARTITION BY s ORDER BY t ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW)
    ), tot AS (
      SELECT s, t AS n, st AS tst, sy AS tsy, stt AS tstt, sty AS tsty,
             syy AS tsyy
      FROM (SELECT *, row_number() OVER (PARTITION BY s ORDER BY t DESC)
                      AS rk
            FROM pre) z
      WHERE rk = 1
    ), scored AS (
      SELECT p.s, p.d, p.t, tot.n,
             (CAST(p.t * p.syy - p.sy * p.sy AS DOUBLE)
              - CAST(p.t * p.sty - p.st * p.sy AS DOUBLE)
                * CAST(p.t * p.sty - p.st * p.sy AS DOUBLE)
                / CAST(p.t * p.stt - p.st * p.st AS DOUBLE))
               / CAST(p.t AS DOUBLE)
           + (CAST((tot.n - p.t) * (tot.tsyy - p.syy)
                   - (tot.tsy - p.sy) * (tot.tsy - p.sy) AS DOUBLE)
              - CAST((tot.n - p.t) * (tot.tsty - p.sty)
                     - (tot.tst - p.st) * (tot.tsy - p.sy) AS DOUBLE)
                * CAST((tot.n - p.t) * (tot.tsty - p.sty)
                       - (tot.tst - p.st) * (tot.tsy - p.sy) AS DOUBLE)
                / CAST((tot.n - p.t) * (tot.tstt - p.stt)
                       - (tot.tst - p.st) * (tot.tst - p.st) AS DOUBLE))
             / CAST(tot.n - p.t AS DOUBLE) AS sse2,
             CAST(p.t * p.sty - p.st * p.sy AS DOUBLE)
               / CAST(p.t * p.stt - p.st * p.st AS DOUBLE) AS sl,
             CAST((tot.n - p.t) * (tot.tsty - p.sty)
                  - (tot.tst - p.st) * (tot.tsy - p.sy) AS DOUBLE)
               / CAST((tot.n - p.t) * (tot.tstt - p.stt)
                      - (tot.tst - p.st) * (tot.tst - p.st) AS DOUBLE)
               AS sr,
             tot.tst, tot.tsy, tot.tstt, tot.tsty, tot.tsyy
      FROM pre p JOIN tot ON p.s = tot.s
      WHERE p.t >= 3 AND p.t <= tot.n - 3
    ), best AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY s
                     ORDER BY sse2 ASC, t ASC) AS brk
        FROM scored) z
      WHERE brk = 1
    ), fin AS (
      SELECT *,
             (CAST(n * tsyy - tsy * tsy AS DOUBLE)
              - CAST(n * tsty - tst * tsy AS DOUBLE)
                * CAST(n * tsty - tst * tsy AS DOUBLE)
                / CAST(n * tstt - tst * tst AS DOUBLE)) / CAST(n AS DOUBLE)
               AS sse1
      FROM best
    )
    SELECT s AS event_type, d AS breakpoint, CAST(n AS BIGINT) AS n_points,
           round(sl, 6) AS slope_left, round(sr, 6) AS slope_right,
           round(sse2, 4) AS sse_two, round(sse1, 4) AS sse_single,
           round(CASE WHEN sse1 > 0.0 THEN (sse1 - sse2) / sse1
                      ELSE 0.0 END, 6) AS rel_reduction
    FROM fin ORDER BY event_type
"""

# The orders_survival_km KM shape over the funnel construction:
# duration = first signup -> first subsequent purchase, censored at
# the corpus max timestamp.
ORACLES["events_conversion_km"] = """
    WITH su AS (
      SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'signup' GROUP BY 1
    ), pu AS (
      SELECT e.user_id, min(e.ts) AS tp
      FROM events e JOIN su ON e.user_id = su.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= su.t0
      GROUP BY 1
    ), mx AS (SELECT max(ts) AS gmax FROM events),
    per_u AS (
      SELECT CAST(date_diff('day', CAST(su.t0 AS DATE),
                  CAST(coalesce(pu.tp, (SELECT gmax FROM mx)) AS DATE))
                  AS BIGINT) AS t,
             CASE WHEN pu.tp IS NOT NULL THEN 1 ELSE 0 END AS conv
      FROM su LEFT JOIN pu ON su.user_id = pu.user_id
    ), per_t AS (
      SELECT t, CAST(count(*) AS BIGINT) AS ends,
             CAST(sum(conv) AS BIGINT) AS d
      FROM per_u GROUP BY t
    ), risk AS (
      SELECT t, d,
             CAST((SELECT sum(ends) FROM per_t)
                  - coalesce(sum(ends) OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n_at_risk
      FROM per_t
    ), steps AS (
      SELECT t, n_at_risk, d,
             1.0 - CAST(d AS DOUBLE) / n_at_risk AS f
      FROM risk WHERE d > 0
    )
    SELECT t AS duration_days, n_at_risk, d AS n_events,
           round(list_reduce(list(f) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 (a, b) -> a * b), 6) AS survival
    FROM steps ORDER BY duration_days
"""

# --- r11-batch oracles: copied verbatim from the cross-engine pins in
# tests/test_trend.py / test_drift.py / test_robust.py (the house
# de-risk pattern — oracle SQL is pinned bit-equal to the operator
# BEFORE registration). parts_freq_cms is rows-only self-validating
# (Spark-seeded xxhash64 has no DuckDB twin).

ORACLES["revenue_mann_kendall"] = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), pairs AS (
      SELECT CASE WHEN b.x > a.x THEN 1
                  WHEN b.x < a.x THEN -1 ELSE 0 END AS sg
      FROM daily a JOIN daily b ON a.d < b.d
    ), s AS (
      SELECT CAST(coalesce(sum(sg), 0) AS BIGINT) AS s_stat FROM pairs
    ), ties AS (
      SELECT CAST(sum(t) AS BIGINT) AS n_points,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      FROM (SELECT CAST(count(*) AS BIGINT) AS t
            FROM daily GROUP BY x) z
    )
    SELECT n_points, s_stat, tie_term,
           round(CAST(n_points * (n_points - 1) * (2 * n_points + 5)
                      - tie_term AS DOUBLE) / 18.0, 4) AS var_s,
           round(CASE WHEN n_points * (n_points - 1) * (2 * n_points + 5)
                           - tie_term > 0 THEN
             CASE WHEN s_stat > 0
                  THEN (CAST(s_stat AS DOUBLE) - 1.0)
                       / sqrt(CAST(n_points * (n_points - 1)
                                   * (2 * n_points + 5) - tie_term
                              AS DOUBLE) / 18.0)
                  WHEN s_stat < 0
                  THEN (CAST(s_stat AS DOUBLE) + 1.0)
                       / sqrt(CAST(n_points * (n_points - 1)
                                   * (2 * n_points + 5) - tie_term
                              AS DOUBLE) / 18.0)
                  ELSE 0.0 END
           END, 6) AS z
    FROM ties, s
"""

# Season key: days-since-epoch-Monday mod 7 — Spark dayofweek() is
# 1=Sunday..7 while DuckDB's is 0=Sunday..6, so the builtin is NOT
# cross-engine safe (the pinned dow trap, tests/test_trend.py).
ORACLES["orders_seasonal_mk"] = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), dowd AS (
      SELECT d, x,
             CAST(date_diff('day', DATE '1970-01-05', d) % 7
                  AS BIGINT) AS g
      FROM daily
    ), pairs AS (
      SELECT CASE WHEN b.x > a.x THEN 1
                  WHEN b.x < a.x THEN -1 ELSE 0 END AS sg
      FROM dowd a JOIN dowd b ON a.g = b.g AND a.d < b.d
    ), s AS (
      SELECT CAST(coalesce(sum(sg), 0) AS BIGINT) AS s_stat FROM pairs
    ), per_g AS (
      SELECT g, CAST(sum(t) AS BIGINT) AS n,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie
      FROM (SELECT g, CAST(count(*) AS BIGINT) AS t
            FROM dowd GROUP BY g, x) z
      GROUP BY g
    ), comb AS (
      SELECT CAST(count(*) AS BIGINT) AS n_seasons,
             CAST(sum(n) AS BIGINT) AS n_points,
             CAST(sum(n * (n - 1) * (2 * n + 5) - tie) AS BIGINT)
               AS var_num
      FROM per_g
    )
    SELECT n_seasons, n_points, s_stat,
           round(CAST(var_num AS DOUBLE) / 18.0, 4) AS var_s,
           round(CASE WHEN var_num > 0 THEN
             CASE WHEN s_stat > 0
                  THEN (CAST(s_stat AS DOUBLE) - 1.0)
                       / sqrt(CAST(var_num AS DOUBLE) / 18.0)
                  WHEN s_stat < 0
                  THEN (CAST(s_stat AS DOUBLE) + 1.0)
                       / sqrt(CAST(var_num AS DOUBLE) / 18.0)
                  ELSE 0.0 END
           END, 6) AS z
    FROM comb, s
"""

ORACLES["revenue_sen_trend"] = """
    WITH monthly AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), dt AS (
      SELECT x, CAST(row_number() OVER (ORDER BY m) AS BIGINT) AS t
      FROM monthly
    ), pairs AS (
      SELECT CAST(b.x - a.x AS DOUBLE) / CAST(b.t - a.t AS DOUBLE) AS s,
             a.t AS ta, b.t AS tb
      FROM dt a JOIN dt b ON a.t < b.t
    ), ranked AS (
      SELECT s, row_number() OVER (ORDER BY s, ta, tb) AS rk,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM pairs
    ), med AS (
      SELECT s AS slope, m AS n_pairs FROM ranked
      WHERE rk = (m + 1) // 2
    ), resid AS (
      SELECT CAST(dt.x AS DOUBLE) - med.slope * CAST(dt.t AS DOUBLE)
               AS res,
             dt.t, med.n_pairs, med.slope
      FROM dt, med
    ), rranked AS (
      SELECT res, n_pairs, slope,
             row_number() OVER (ORDER BY res, t) AS rr,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM resid
    )
    SELECT n AS n_points, n_pairs,
           round(slope, 9) AS sen_slope, round(res, 4) AS intercept
    FROM rranked WHERE rr = (n + 1) // 2
"""

ORACLES["revenue_ship_ccf"] = """
    WITH ox AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), sy AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM lineitem GROUP BY 1
    ), xy AS (
      SELECT ox.d, ox.x, sy.y FROM ox JOIN sy ON ox.d = sy.d
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy2
      FROM xy
    ), dev AS (
      SELECT d, CAST(n AS HUGEINT) * x - sx AS dx,
             CAST(n AS HUGEINT) * y - sy2 AS dy
      FROM xy, tot
    ), den AS (
      SELECT sum(dx * dx) AS denx, sum(dy * dy) AS deny FROM dev
    ), pairs AS (
      SELECT CAST(date_diff('day', a.d, b.d) AS BIGINT) AS lag,
             a.dx * b.dy AS prod
      FROM dev a JOIN dev b
        ON date_diff('day', a.d, b.d) BETWEEN -7 AND 7
    )
    SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
           CASE WHEN denx > 0 AND deny > 0 THEN
             round(CAST(sum(prod) AS DOUBLE)
                   / sqrt(CAST(denx AS DOUBLE) * CAST(deny AS DOUBLE)),
                   6)
           END AS ccf
    FROM pairs, den GROUP BY lag, denx, deny ORDER BY lag
"""

ORACLES["events_type_psi"] = """
    WITH ref AS (
      SELECT event_type AS s,
             CAST(round(value * 100) AS BIGINT) AS x
      FROM events WHERE day(CAST(ts AS DATE)) % 2 = 0
    ), cur AS (
      SELECT event_type AS s,
             CAST(round(value * 100) AS BIGINT) AS x
      FROM events WHERE day(CAST(ts AS DATE)) % 2 = 1
    ), vc AS (
      SELECT s, x AS v, CAST(count(*) AS BIGINT) AS c
      FROM ref GROUP BY 1, 2
    ), cum AS (
      SELECT s, v, CAST(sum(c) OVER (PARTITION BY s ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum
      FROM vc
    ), nn AS (
      SELECT s, CAST(max(cum) AS BIGINT) AS n FROM cum GROUP BY s
    ), targets AS (
      SELECT nn.s, b AS bucket,
             CAST(ceil(CAST(b AS DOUBLE) * CAST(n AS DOUBLE) / 6.0)
                  AS BIGINT) AS r
      FROM (SELECT unnest(range(1, 6)) AS b), nn
    ), edges AS (
      SELECT c.s, CAST(t.bucket AS INT) AS bucket, min(c.v) AS edge
      FROM cum c JOIN targets t ON c.s = t.s
      WHERE c.cum >= t.r GROUP BY c.s, t.bucket
    ), rvc AS (
      SELECT s, x AS v, CAST(count(*) AS BIGINT) AS cnt
      FROM ref GROUP BY 1, 2
    ), rbk AS (
      SELECT r.s, r.v, r.cnt, CAST(1 + count(e.edge) AS INT) AS bucket
      FROM rvc r LEFT JOIN edges e ON r.s = e.s AND r.v > e.edge
      GROUP BY r.s, r.v, r.cnt
    ), rcnt AS (
      SELECT s, bucket, CAST(sum(cnt) AS BIGINT) AS c
      FROM rbk GROUP BY 1, 2
    ), cvc AS (
      SELECT s, x AS v, CAST(count(*) AS BIGINT) AS cnt
      FROM cur GROUP BY 1, 2
    ), cbk AS (
      SELECT r.s, r.v, r.cnt, CAST(1 + count(e.edge) AS INT) AS bucket
      FROM cvc r LEFT JOIN edges e ON r.s = e.s AND r.v > e.edge
      GROUP BY r.s, r.v, r.cnt
    ), ccnt AS (
      SELECT s, bucket, CAST(sum(cnt) AS BIGINT) AS c
      FROM cbk GROUP BY 1, 2
    ), nrt AS (
      SELECT s, CAST(count(*) AS BIGINT) AS n_ref_total
      FROM ref GROUP BY s
    ), nct AS (
      SELECT s, CAST(count(*) AS BIGINT) AS n_cur_total
      FROM cur GROUP BY s
    ), grid AS (
      SELECT nrt.s, CAST(b AS INT) AS bucket
      FROM (SELECT unnest(range(1, 7)) AS b), nrt
    ), base AS (
      SELECT g.s, g.bucket,
             CAST(coalesce(r.c, 0) AS BIGINT) AS n_ref,
             CAST(coalesce(c.c, 0) AS BIGINT) AS n_cur,
             nrt.n_ref_total,
             CAST(coalesce(nct.n_cur_total, 0) AS BIGINT)
               AS n_cur_total
      FROM grid g
      LEFT JOIN rcnt r ON g.s = r.s AND g.bucket = r.bucket
      LEFT JOIN ccnt c ON g.s = c.s AND g.bucket = c.bucket
      JOIN nrt ON g.s = nrt.s
      LEFT JOIN nct ON g.s = nct.s
    ), terms AS (
      SELECT s, bucket, n_ref, n_cur,
             round(CAST(n_ref + 1 AS DOUBLE)
                   / CAST(n_ref_total + 6 AS DOUBLE), 6) AS ref_share,
             round(CAST(n_cur + 1 AS DOUBLE)
                   / CAST(n_cur_total + 6 AS DOUBLE), 6) AS cur_share,
             round((CAST(n_cur + 1 AS DOUBLE)
                    / CAST(n_cur_total + 6 AS DOUBLE)
                    - CAST(n_ref + 1 AS DOUBLE)
                      / CAST(n_ref_total + 6 AS DOUBLE))
                   * ln((CAST(n_cur + 1 AS DOUBLE)
                         / CAST(n_cur_total + 6 AS DOUBLE))
                        / (CAST(n_ref + 1 AS DOUBLE)
                           / CAST(n_ref_total + 6 AS DOUBLE))), 6)
               AS psi_term,
             CAST(round((CAST(n_cur + 1 AS DOUBLE)
                    / CAST(n_cur_total + 6 AS DOUBLE)
                    - CAST(n_ref + 1 AS DOUBLE)
                      / CAST(n_ref_total + 6 AS DOUBLE))
                   * ln((CAST(n_cur + 1 AS DOUBLE)
                         / CAST(n_cur_total + 6 AS DOUBLE))
                        / (CAST(n_ref + 1 AS DOUBLE)
                           / CAST(n_ref_total + 6 AS DOUBLE)))
                   * 1000000000.0) AS BIGINT) AS tn
      FROM base
    ), tot AS (
      SELECT s, round(CAST(sum(tn) AS DOUBLE) / 1000000000.0, 6)
               AS psi
      FROM terms GROUP BY s
    )
    SELECT t.s AS event_type, t.bucket, e.edge, t.n_ref, t.n_cur,
           t.ref_share, t.cur_share, t.psi_term, tot.psi
    FROM terms t
    LEFT JOIN edges e ON t.s = e.s AND t.bucket = e.bucket
    JOIN tot ON t.s = tot.s
    ORDER BY t.s, t.bucket
"""

ORACLES["events_type_hampel"] = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), win AS (
      SELECT event_type, d, x,
             CASE WHEN count(x) OVER w7 = 7
                  THEN list_sort(list(x) OVER w7) END AS warr
      FROM daily
      WINDOW w7 AS (PARTITION BY event_type ORDER BY d
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    )
    SELECT event_type, d, x,
           CAST(warr[4] AS BIGINT) AS med,
           CAST(list_sort(
                  list_transform(warr, v -> abs(v - warr[4])))[4]
                AS BIGINT) AS mad,
           CAST(abs(x - warr[4]) AS BIGINT) AS deviation,
           CASE WHEN warr IS NOT NULL
                THEN abs(x - warr[4]) > 3 * list_sort(
                  list_transform(warr, v -> abs(v - warr[4])))[4]
           END AS is_outlier
    FROM win ORDER BY event_type, d
"""

ORACLES["lineitem_ols2"] = """
    WITH d AS (
      SELECT CAST(l_quantity AS HUGEINT) AS x1,
             CAST(round(l_discount * 10000) AS HUGEINT) AS x2,
             CAST(round(l_extendedprice * 100) AS HUGEINT) AS y
      FROM lineitem
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
             sum(x1 * x1) AS s11, sum(x2 * x2) AS s22,
             sum(x1 * x2) AS s12, sum(x1 * y) AS s1y,
             sum(x2 * y) AS s2y, sum(y * y) AS syy
      FROM d
    ), c AS (
      SELECT n,
             n * s11 - s1 * s1 AS a11,
             n * s22 - s2 * s2 AS a22,
             n * s12 - s1 * s2 AS a12,
             n * s1y - s1 * sy AS c1,
             n * s2y - s2 * sy AS c2,
             n * syy - sy * sy AS syyc,
             s1, s2, sy
      FROM m
    ), f AS (
      SELECT n, s1, s2, sy, c1, c2, syyc,
             CAST(a11 AS DOUBLE) * CAST(a22 AS DOUBLE)
               - CAST(a12 AS DOUBLE) * CAST(a12 AS DOUBLE) AS det,
             1e-12 * CAST(a11 AS DOUBLE) * CAST(a22 AS DOUBLE)
               AS det_eps,
             (CAST(c1 AS DOUBLE) * CAST(a22 AS DOUBLE)
               - CAST(c2 AS DOUBLE) * CAST(a12 AS DOUBLE)) AS b1n,
             (CAST(a11 AS DOUBLE) * CAST(c2 AS DOUBLE)
               - CAST(a12 AS DOUBLE) * CAST(c1 AS DOUBLE)) AS b2n
      FROM c
    )
    SELECT n,
           CASE WHEN abs(det) > det_eps
                THEN round(b1n / det, 9) END AS b1,
           CASE WHEN abs(det) > det_eps
                THEN round(b2n / det, 9) END AS b2,
           CASE WHEN abs(det) > det_eps THEN round(
             (CAST(sy AS DOUBLE) - (b1n / det) * CAST(s1 AS DOUBLE)
              - (b2n / det) * CAST(s2 AS DOUBLE))
             / CAST(n AS DOUBLE), 4) END AS intercept,
           CASE WHEN abs(det) > det_eps AND syyc > 0 THEN round(
             ((b1n / det) * CAST(c1 AS DOUBLE)
              + (b2n / det) * CAST(c2 AS DOUBLE))
             / CAST(syyc AS DOUBLE), 6) END AS r2
    FROM f
"""

# The pinned global MK chain with the group key threaded through every
# CTE (the psi_grouped/hampel-grouped house pattern); LEFT JOIN +
# coalesce so a pairless group reports S = 0 instead of vanishing —
# matching the operator's left-join fix.
ORACLES["events_type_mk"] = """
    WITH daily AS (
      SELECT event_type AS g, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT a.g,
             CAST(sum(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat
      FROM daily a JOIN daily b ON a.g = b.g AND a.d < b.d
      GROUP BY a.g
    ), ties AS (
      SELECT g, CAST(sum(t) AS BIGINT) AS n_points,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      FROM (SELECT g, x, CAST(count(*) AS BIGINT) AS t
            FROM daily GROUP BY g, x) z
      GROUP BY g
    ), base AS (
      SELECT ties.g, n_points,
             CAST(coalesce(s.s_stat, 0) AS BIGINT) AS s_stat, tie_term
      FROM ties LEFT JOIN s ON ties.g = s.g
    )
    SELECT g AS event_type, n_points, s_stat, tie_term,
           round(CAST(n_points * (n_points - 1) * (2 * n_points + 5)
                      - tie_term AS DOUBLE) / 18.0, 4) AS var_s,
           round(CASE WHEN n_points * (n_points - 1) * (2 * n_points + 5)
                           - tie_term > 0 THEN
             CASE WHEN s_stat > 0
                  THEN (CAST(s_stat AS DOUBLE) - 1.0)
                       / sqrt(CAST(n_points * (n_points - 1)
                                   * (2 * n_points + 5) - tie_term
                              AS DOUBLE) / 18.0)
                  WHEN s_stat < 0
                  THEN (CAST(s_stat AS DOUBLE) + 1.0)
                       / sqrt(CAST(n_points * (n_points - 1)
                                   * (2 * n_points + 5) - tie_term
                              AS DOUBLE) / 18.0)
                  ELSE 0.0 END
           END, 6) AS z
    FROM base ORDER BY event_type
"""

# Per-term and per-contribution 1e-9 rounding + integer sums make the
# float Σs order-free (the psi tn trick) — identical under any
# partitioning and across engines.
ORACLES["events_markov_entropy"] = """
    WITH pairs AS (
      SELECT event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ), counts AS (
      SELECT cur, next_type, CAST(count(*) AS BIGINT) AS n_pairs
      FROM pairs WHERE next_type IS NOT NULL GROUP BY cur, next_type
    ), totals AS (
      SELECT cur, CAST(sum(n_pairs) AS BIGINT) AS n_out
      FROM counts GROUP BY cur
    ), terms AS (
      SELECT c.cur, t.n_out,
             CAST(round((CAST(c.n_pairs AS DOUBLE)
                         / CAST(t.n_out AS DOUBLE))
                   * log2(CAST(c.n_pairs AS DOUBLE)
                          / CAST(t.n_out AS DOUBLE))
                   * 1000000000.0) AS BIGINT) AS tn
      FROM counts c JOIN totals t ON c.cur = t.cur
    ), hper AS (
      SELECT cur, n_out,
             -(CAST(sum(tn) AS DOUBLE) / 1000000000.0) AS h_raw
      FROM terms GROUP BY cur, n_out
    ), gt AS (
      SELECT CAST(sum(n_out) AS BIGINT) AS n_total FROM hper
    ), contrib AS (
      SELECT cur, n_out, h_raw,
             CAST(n_out AS DOUBLE) / CAST(n_total AS DOUBLE) AS pi_raw,
             CAST(round((CAST(n_out AS DOUBLE) / CAST(n_total AS DOUBLE))
                        * h_raw * 1000000000.0) AS BIGINT) AS cn
      FROM hper, gt
    ), rate AS (
      SELECT round(CAST(sum(cn) AS DOUBLE) / 1000000000.0, 6)
               AS entropy_rate
      FROM contrib
    )
    SELECT cur, n_out, round(pi_raw, 6) AS pi, round(h_raw, 6) AS h_bits,
           entropy_rate
    FROM contrib, rate ORDER BY cur
"""

# -- r12 batch oracles: composed with the shared A&S p polynomial in
# -- exact op-order lockstep (NORMAL_P_TWO_SIDED_SQL; p rounded at 9dp,
# -- the documented oracle contract), pinned cross-engine in
# -- tests/test_twosample.py / test_rankcorr.py / test_robust.py
from .operators.stats import NORMAL_P_TWO_SIDED_SQL as _NP_SQL  # noqa: E402

_P_Z = _NP_SQL.format(z="z")

ORACLES["orders_price_mwu"] = f"""
    WITH sides AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                  THEN 1 ELSE 2 END AS s
      FROM orders
    ), vc AS (
      SELECT v,
             CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM sides GROUP BY v
    ), rk AS (
      SELECT c1, c2,
             CAST(2 * coalesce(sum(c1 + c2) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) + (c1 + c2) + 1 AS BIGINT) AS r2x
      FROM vc
    ), agg AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c2) AS BIGINT) AS n2,
             CAST(sum(CAST(c1 AS HUGEINT) * r2x) AS HUGEINT) AS tr1,
             CAST(sum(CAST(c1 + c2 AS HUGEINT) * (c1 + c2) * (c1 + c2)
                      - (c1 + c2)) AS HUGEINT) AS tie
      FROM rk
    ), f AS (
      SELECT n1, n2, tie,
             CAST(tr1 - CAST(n1 AS HUGEINT) * (n1 + 1) AS HUGEINT)
               AS two_u1,
             (CAST(n1 + n2 AS HUGEINT) + 1) * (n1 + n2)
               * (CAST(n1 + n2 AS HUGEINT) - 1) - tie AS var_num3
      FROM agg
    ), zc AS (
      SELECT n1, n2, tie, two_u1, var_num3,
             CAST(two_u1 AS DOUBLE) / 2.0
               - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0
               AS diff,
             sqrt((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
                  * (((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0)
                     - CAST(tie AS DOUBLE)
                       / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                          * ((CAST(n1 AS DOUBLE)
                              + CAST(n2 AS DOUBLE)) - 1.0)))) AS sd
      FROM f
    ), zz AS (
      SELECT n1, n2, tie, two_u1,
             CASE WHEN n1 > 0 AND n2 > 0 AND var_num3 > 0 THEN
               CASE WHEN diff > 0 THEN (diff - 0.5) / sd
                    WHEN diff < 0 THEN (diff + 0.5) / sd
                    ELSE 0.0 END
             END AS z
      FROM zc
    )
    SELECT n1 AS n_ref, n2 AS n_cur,
           CASE WHEN n1 > 0 AND n2 > 0 THEN
             round(CAST(two_u1 AS DOUBLE) / 2.0, 1) END AS u_stat,
           CASE WHEN n1 > 0 AND n2 > 0 THEN
             round(CAST(two_u1 AS DOUBLE)
                   / (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)),
                   6) END AS auc,
           CAST(tie AS BIGINT) AS tie_term,
           round(z, 6) AS z,
           round({_P_Z}, 9) AS p_value
    FROM zz
"""

ORACLES["orders_price_ks"] = """
    WITH sides AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                  THEN 1 ELSE 2 END AS s
      FROM orders
    ), vc AS (
      SELECT v,
             CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM sides GROUP BY v
    ), cum AS (
      SELECT v,
             CAST(sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS m1,
             CAST(sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS m2
      FROM vc
    ), tot AS (
      SELECT CAST(max(m1) AS BIGINT) AS n1,
             CAST(max(m2) AS BIGINT) AS n2
      FROM cum
    ), scored AS (
      SELECT v, n1, n2,
             abs(CAST(m1 AS HUGEINT) * n2 - CAST(m2 AS HUGEINT) * n1)
               AS num
      FROM cum, tot
    ), agg AS (
      SELECT max(n1) AS n1, max(n2) AS n2,
             max(num) AS maxnum,
             min(CASE WHEN num = (SELECT max(num) FROM scored)
                      THEN v END) AS loc
      FROM scored
    ), d AS (
      SELECT n1, n2, loc,
             CAST(maxnum AS DOUBLE)
               / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS dd,
             CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
               / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) AS ne
      FROM agg
    ), lamt AS (
      SELECT n1, n2, loc, dd,
             (sqrt(ne) + 0.12 + 0.11 / sqrt(ne)) * dd AS lam
      FROM d
    )
    SELECT n1 AS n_ref, n2 AS n_cur,
           CASE WHEN n1 > 0 AND n2 > 0 THEN round(dd, 6) END AS d_stat,
           CASE WHEN n1 > 0 AND n2 > 0 THEN loc END AS location,
           CASE WHEN n1 > 0 AND n2 > 0 THEN
             round(CASE WHEN lam < 0.2 THEN 1.0
                   ELSE least(1.0, greatest(0.0, 2.0 * (
                 exp(-2.0 * lam * lam) - exp(-8.0 * lam * lam)
               + exp(-18.0 * lam * lam) - exp(-32.0 * lam * lam)
               + exp(-50.0 * lam * lam) - exp(-72.0 * lam * lam)
               + exp(-98.0 * lam * lam) - exp(-128.0 * lam * lam)
               + exp(-162.0 * lam * lam) - exp(-200.0 * lam * lam)
               + exp(-242.0 * lam * lam) - exp(-288.0 * lam * lam)
               + exp(-338.0 * lam * lam) - exp(-392.0 * lam * lam)
               + exp(-450.0 * lam * lam) - exp(-512.0 * lam * lam)
             ))) END, 9) END AS p_approx
    FROM lamt
"""

ORACLES["events_type_mwu"] = f"""
    WITH sides AS (
      SELECT event_type AS g,
             CAST(round(value * 100) AS BIGINT) AS v,
             CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN 1 ELSE 2 END AS s
      FROM events
    ), vc AS (
      SELECT g, v,
             CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM sides GROUP BY g, v
    ), rk AS (
      SELECT g, c1, c2,
             CAST(2 * coalesce(sum(c1 + c2) OVER (PARTITION BY g
                    ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) + (c1 + c2) + 1 AS BIGINT) AS r2x
      FROM vc
    ), agg AS (
      SELECT g, CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c2) AS BIGINT) AS n2,
             CAST(sum(CAST(c1 AS HUGEINT) * r2x) AS HUGEINT) AS tr1,
             CAST(sum(CAST(c1 + c2 AS HUGEINT) * (c1 + c2) * (c1 + c2)
                      - (c1 + c2)) AS HUGEINT) AS tie
      FROM rk GROUP BY g
    ), f AS (
      SELECT g, n1, n2, tie,
             CAST(tr1 - CAST(n1 AS HUGEINT) * (n1 + 1) AS HUGEINT)
               AS two_u1,
             (CAST(n1 + n2 AS HUGEINT) + 1) * (n1 + n2)
               * (CAST(n1 + n2 AS HUGEINT) - 1) - tie AS var_num3
      FROM agg
    ), zc AS (
      SELECT g, n1, n2, tie, two_u1, var_num3,
             CAST(two_u1 AS DOUBLE) / 2.0
               - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0
               AS diff,
             sqrt((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
                  * (((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0)
                     - CAST(tie AS DOUBLE)
                       / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                          * ((CAST(n1 AS DOUBLE)
                              + CAST(n2 AS DOUBLE)) - 1.0)))) AS sd
      FROM f
    ), zz AS (
      SELECT g, n1, n2, tie, two_u1,
             CASE WHEN n1 > 0 AND n2 > 0 AND var_num3 > 0 THEN
               CASE WHEN diff > 0 THEN (diff - 0.5) / sd
                    WHEN diff < 0 THEN (diff + 0.5) / sd
                    ELSE 0.0 END
             END AS z
      FROM zc
    )
    SELECT g AS event_type, n1 AS n_ref, n2 AS n_cur,
           CASE WHEN n1 > 0 AND n2 > 0 THEN
             round(CAST(two_u1 AS DOUBLE) / 2.0, 1) END AS u_stat,
           CASE WHEN n1 > 0 AND n2 > 0 THEN
             round(CAST(two_u1 AS DOUBLE)
                   / (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)),
                   6) END AS auc,
           CAST(tie AS BIGINT) AS tie_term,
           round(z, 6) AS z,
           round({_P_Z}, 9) AS p_value
    FROM zz ORDER BY event_type
"""

ORACLES["events_type_ks"] = """
    WITH sides AS (
      SELECT event_type AS g,
             CAST(round(value * 100) AS BIGINT) AS v,
             CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN 1 ELSE 2 END AS s
      FROM events
    ), vc AS (
      SELECT g, v,
             CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM sides GROUP BY g, v
    ), cum AS (
      SELECT g, v,
             CAST(sum(c1) OVER (PARTITION BY g ORDER BY v ROWS BETWEEN
                  UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS m1,
             CAST(sum(c2) OVER (PARTITION BY g ORDER BY v ROWS BETWEEN
                  UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS m2
      FROM vc
    ), tot AS (
      SELECT g, CAST(max(m1) AS BIGINT) AS n1,
             CAST(max(m2) AS BIGINT) AS n2
      FROM cum GROUP BY g
    ), scored AS (
      SELECT c.g, t.n1, t.n2, c.v,
             abs(CAST(c.m1 AS HUGEINT) * t.n2
                 - CAST(c.m2 AS HUGEINT) * t.n1) AS num
      FROM cum c JOIN tot t ON c.g = t.g
    ), mx AS (
      SELECT g, max(num) AS maxnum FROM scored GROUP BY g
    ), agg AS (
      SELECT s.g, max(s.n1) AS n1, max(s.n2) AS n2,
             max(s.num) AS maxnum,
             min(CASE WHEN s.num = m.maxnum THEN s.v END) AS loc
      FROM scored s JOIN mx m ON s.g = m.g GROUP BY s.g
    ), d AS (
      SELECT g, n1, n2, loc,
             CAST(maxnum AS DOUBLE)
               / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS dd,
             CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
               / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) AS ne
      FROM agg
    ), lamt AS (
      SELECT g, n1, n2, loc, dd,
             (sqrt(ne) + 0.12 + 0.11 / sqrt(ne)) * dd AS lam
      FROM d
    )
    SELECT g AS event_type, n1 AS n_ref, n2 AS n_cur,
           CASE WHEN n1 > 0 AND n2 > 0 THEN round(dd, 6) END AS d_stat,
           CASE WHEN n1 > 0 AND n2 > 0 THEN loc END AS location,
           CASE WHEN n1 > 0 AND n2 > 0 THEN
             round(CASE WHEN lam < 0.2 THEN 1.0
                   ELSE least(1.0, greatest(0.0, 2.0 * (
                 exp(-2.0 * lam * lam) - exp(-8.0 * lam * lam)
               + exp(-18.0 * lam * lam) - exp(-32.0 * lam * lam)
               + exp(-50.0 * lam * lam) - exp(-72.0 * lam * lam)
               + exp(-98.0 * lam * lam) - exp(-128.0 * lam * lam)
               + exp(-162.0 * lam * lam) - exp(-200.0 * lam * lam)
               + exp(-242.0 * lam * lam) - exp(-288.0 * lam * lam)
               + exp(-338.0 * lam * lam) - exp(-392.0 * lam * lam)
               + exp(-450.0 * lam * lam) - exp(-512.0 * lam * lam)
             ))) END, 9) END AS p_approx
    FROM lamt ORDER BY event_type
"""

ORACLES["revenue_kendall_tau"] = """
    WITH ox AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), sy AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM lineitem GROUP BY 1
    ), xy AS (
      SELECT ox.d, ox.x, sy.y FROM ox JOIN sy ON ox.d = sy.d
    ), s AS (
      SELECT CAST(coalesce(sum(
               (CASE WHEN b.x > a.x THEN 1
                     WHEN b.x < a.x THEN -1 ELSE 0 END)
               * (CASE WHEN b.y > a.y THEN 1
                       WHEN b.y < a.y THEN -1 ELSE 0 END)), 0)
             AS BIGINT) AS cd
      FROM xy a JOIN xy b ON a.d < b.d
    ), tx AS (
      SELECT CAST(sum(t * (t - 1)) AS BIGINT) AS tx2
      FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM xy GROUP BY x) z
    ), ty AS (
      SELECT CAST(sum(t * (t - 1)) AS BIGINT) AS ty2
      FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM xy GROUP BY y) z
    ), np AS (SELECT CAST(count(*) AS BIGINT) AS n FROM xy)
    SELECT n AS n_points, cd AS concordant_minus_discordant,
           tx2 // 2 AS tie_term_x, ty2 // 2 AS tie_term_y,
           CASE WHEN n * (n - 1) - tx2 > 0
                 AND n * (n - 1) - ty2 > 0 THEN
             round((2.0 * CAST(cd AS DOUBLE))
                   / sqrt(CAST(n * (n - 1) - tx2 AS DOUBLE)
                          * CAST(n * (n - 1) - ty2 AS DOUBLE)), 6)
           END AS tau_b
    FROM np, s, tx, ty
"""

ORACLES["revenue_spearman"] = """
    WITH ox AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), sy AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM lineitem GROUP BY 1
    ), xy AS (
      SELECT ox.d, ox.x, sy.y FROM ox JOIN sy ON ox.d = sy.d
    ), rk AS (
      SELECT CAST(coalesce(count(*) OVER (ORDER BY x RANGE BETWEEN
               UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + count(*) OVER (ORDER BY x RANGE BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) + 1
             AS HUGEINT) AS rx,
             CAST(coalesce(count(*) OVER (ORDER BY y RANGE BETWEEN
               UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + count(*) OVER (ORDER BY y RANGE BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) + 1
             AS HUGEINT) AS ry
      FROM xy
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(rx) AS sx, sum(ry) AS sy2,
             sum(rx * rx) AS sxx, sum(ry * ry) AS syy,
             sum(rx * ry) AS sxy
      FROM rk
    )
    SELECT n AS n_points,
           CASE WHEN n * sxx - sx * sx > 0
                 AND n * syy - sy2 * sy2 > 0 THEN
             round(CAST(n * sxy - sx * sy2 AS DOUBLE)
                   / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                          * CAST(n * syy - sy2 * sy2 AS DOUBLE)), 6)
           END AS rho
    FROM m
"""

ORACLES["revenue_pettitt"] = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT d,
             CAST(count(*) OVER () AS BIGINT)
               - CAST(count(*) OVER (ORDER BY x RANGE BETWEEN
                   UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               - CAST(coalesce(count(*) OVER (ORDER BY x
                   RANGE BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS v,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM daily
    ), u AS (
      SELECT d, n,
             CAST(sum(v) OVER (ORDER BY d ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS uu
      FROM ranked
    ), agg AS (
      SELECT max(n) AS n_points,
             CAST(max(abs(uu)) AS BIGINT) AS k_stat,
             min(CASE WHEN abs(uu) = (SELECT max(abs(uu)) FROM u)
                      THEN d END) AS change_point
      FROM u
    )
    SELECT n_points, k_stat, change_point,
           round(least(2.0 * exp(-6.0 * CAST(k_stat AS DOUBLE)
                   * CAST(k_stat AS DOUBLE)
                   / (CAST(n_points AS DOUBLE) * n_points * n_points
                      + CAST(n_points AS DOUBLE) * n_points)),
                 1.0), 6) AS p_approx
    FROM agg
"""

ORACLES["segment_mk_bh"] = f"""
    WITH monthly AS (
      SELECT c_mktsegment AS g,
             date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ), s AS (
      SELECT a.g,
             CAST(sum(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat
      FROM monthly a JOIN monthly b ON a.g = b.g AND a.m < b.m
      GROUP BY a.g
    ), ties AS (
      SELECT g, CAST(sum(t) AS BIGINT) AS n_points,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      FROM (SELECT g, x, CAST(count(*) AS BIGINT) AS t
            FROM monthly GROUP BY g, x) z
      GROUP BY g
    ), base AS (
      SELECT ties.g, n_points,
             CAST(coalesce(s.s_stat, 0) AS BIGINT) AS s_stat, tie_term
      FROM ties LEFT JOIN s ON ties.g = s.g
    ), mk AS (
      SELECT g, n_points, s_stat,
             round(CASE WHEN n_points * (n_points - 1)
                             * (2 * n_points + 5) - tie_term > 0 THEN
               CASE WHEN s_stat > 0
                    THEN (CAST(s_stat AS DOUBLE) - 1.0)
                         / sqrt(CAST(n_points * (n_points - 1)
                                     * (2 * n_points + 5) - tie_term
                                AS DOUBLE) / 18.0)
                    WHEN s_stat < 0
                    THEN (CAST(s_stat AS DOUBLE) + 1.0)
                         / sqrt(CAST(n_points * (n_points - 1)
                                     * (2 * n_points + 5) - tie_term
                                AS DOUBLE) / 18.0)
                    ELSE 0.0 END
             END, 6) AS z
      FROM base
    ), scored AS (
      SELECT g, n_points, s_stat, z,
             round({_P_Z}, 9) AS p
      FROM mk
    ), nn AS (
      SELECT g, n_points, s_stat, z, p,
             CAST(row_number() OVER (ORDER BY p, g) AS BIGINT) AS p_rank,
             CAST(count(*) OVER () AS BIGINT) AS m_tests
      FROM scored WHERE p IS NOT NULL
    ), th AS (
      SELECT *, round(CAST(p_rank AS DOUBLE) * 0.05
                      / CAST(m_tests AS DOUBLE), 9) AS bh_threshold
      FROM nn
    ), im AS (
      SELECT CAST(coalesce(max(CASE WHEN p <= bh_threshold
                                    THEN p_rank END), 0) AS BIGINT)
               AS imax
      FROM th
    )
    SELECT g AS c_mktsegment, n_points, s_stat, z, p,
           p_rank, m_tests, bh_threshold,
           p_rank <= imax AS selected
    FROM th, im
    UNION ALL
    SELECT g, n_points, s_stat, z, p,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), FALSE
    FROM scored WHERE p IS NULL
    ORDER BY c_mktsegment
"""

ORACLES["lineitem_returns_ztest"] = f"""
    WITH a AS (
      SELECT CAST(count(*) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS s1
      FROM lineitem
      WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
    ), b AS (
      SELECT CAST(count(*) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS s2
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    ), f AS (
      SELECT n1, s1, n2, s2,
             CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
               - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS diff,
             sqrt((CAST(s1 + s2 AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
                  * (1.0 - CAST(s1 + s2 AS DOUBLE)
                     / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
                  * (1.0 / CAST(n1 AS DOUBLE)
                     + 1.0 / CAST(n2 AS DOUBLE))) AS sd,
             0.5 * (1.0 / CAST(n1 AS DOUBLE)
                    + 1.0 / CAST(n2 AS DOUBLE)) AS cc
      FROM a, b
    ), zz AS (
      SELECT n1, s1, n2, s2,
             CASE WHEN n1 > 0 AND n2 > 0 AND s1 + s2 > 0
                       AND s1 + s2 < n1 + n2 THEN
               CASE WHEN diff > cc THEN (diff - cc) / sd
                    WHEN diff < -cc THEN (diff + cc) / sd
                    ELSE 0.0 END
             END AS z
      FROM f
    )
    SELECT n1 AS n_ref, s1 AS s_ref, n2 AS n_cur, s2 AS s_cur,
           round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6)
             AS rate_ref,
           round(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6)
             AS rate_cur,
           round(z, 6) AS z,
           round({_P_Z}, 9) AS p_value
    FROM zz
"""

ORACLES["revenue_trimmed_mean"] = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders GROUP BY 1
    ), vc AS (
      SELECT x AS v, CAST(count(*) AS BIGINT) AS c
      FROM daily GROUP BY 1
    ), cum AS (
      SELECT v, c,
             CAST(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS cm,
             CAST(sum(c) OVER () AS BIGINT) AS n
      FROM vc
    ), spans AS (
      SELECT v, c, cm, n,
             CAST((100000 * n) // 1000000 AS BIGINT) AS k
      FROM cum
    ), kept AS (
      SELECT n, k,
             CAST(greatest(0, least(cm, n - k)
                  - greatest(cm - c + 1, k + 1) + 1) AS BIGINT)
               AS m,
             v
      FROM spans
    )
    SELECT max(n) AS n_points, max(k) AS n_trimmed_each,
           round(CAST(sum(CAST(v AS HUGEINT) * m) AS DOUBLE)
                 / CAST(sum(m) AS DOUBLE), 6) AS mean
    FROM kept
"""

# -- r13 batch oracles: W1/CvM/Mood/KW copied verbatim from the
# -- cross-engine pins in tests/test_driftmetrics.py (the house
# -- de-risk pattern); the grouped W1 / segment z-test / segment
# -- trimmed mean extend the pinned ungrouped shapes with the same
# -- PARTITION BY-per-group windows the grouped MWU/KS oracles use.
# -- p-values ride the shared A&S polynomial in exact op-order
# -- lockstep (NORMAL_P_TWO_SIDED_SQL, rounded at 9dp).

ORACLES["orders_price_w1"] = """
    WITH sides AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                  THEN 1 ELSE 2 END AS s
      FROM orders
    ), vc AS (
      SELECT v,
             CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM sides GROUP BY v
    ), cum AS (
      SELECT v, c1, c2,
             CAST(sum(c1) OVER w AS BIGINT) AS m1,
             CAST(sum(c2) OVER w AS BIGINT) AS m2,
             lead(v) OVER (ORDER BY v) AS vnext
      FROM vc
      WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ), tot AS (
      SELECT CAST(max(m1) AS BIGINT) AS n1,
             CAST(max(m2) AS BIGINT) AS n2
      FROM cum
    )
    SELECT n1 AS n_ref, n2 AS n_cur,
           round(CAST(sum(abs(CAST(m1 AS HUGEINT) * n2
                              - CAST(m2 AS HUGEINT) * n1)
                          * coalesce(CAST(vnext AS HUGEINT)
                                     - CAST(v AS HUGEINT), 0))
                      AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6)
             AS w1
    FROM cum, tot GROUP BY n1, n2
"""

ORACLES["orders_price_cvm"] = """
    WITH sides AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                  THEN 1 ELSE 2 END AS s
      FROM orders
    ), vc AS (
      SELECT v,
             CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM sides GROUP BY v
    ), cum AS (
      SELECT v, c1, c2,
             CAST(sum(c1) OVER w AS BIGINT) AS m1,
             CAST(sum(c2) OVER w AS BIGINT) AS m2
      FROM vc
      WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ), tot AS (
      SELECT CAST(max(m1) AS BIGINT) AS n1,
             CAST(max(m2) AS BIGINT) AS n2
      FROM cum
    ), agg AS (
      SELECT max(n1) AS n1, max(n2) AS n2,
             sum(CASE WHEN n1 > 0 AND n2 > 0 THEN
               CAST(round(
               CAST(c1 + c2 AS DOUBLE)
               * CAST(CAST(m1 AS HUGEINT) * n2
                      - CAST(m2 AS HUGEINT) * n1 AS DOUBLE)
               * CAST(CAST(m1 AS HUGEINT) * n2
                      - CAST(m2 AS HUGEINT) * n1 AS DOUBLE)
               / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                  * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                  * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
               * 1000000000000.0) AS HUGEINT)
               ELSE 0 END) AS tq
      FROM cum, tot
    ), f AS (
      SELECT n1, n2,
             CAST(tq AS DOUBLE) / 1000000000000.0 AS t,
             1.0 / 6.0 + 1.0 / (6.0 * (CAST(n1 AS DOUBLE) + n2)) AS et,
             ((CAST(n1 AS DOUBLE) + n2 + 1.0)
              / (45.0 * (CAST(n1 AS DOUBLE) + n2)
                 * (CAST(n1 AS DOUBLE) + n2)))
             * (4.0 * n1 * n2 * (CAST(n1 AS DOUBLE) + n2)
                - 3.0 * (CAST(n1 AS DOUBLE) * n1 + CAST(n2 AS DOUBLE) * n2)
                - 2.0 * CAST(n1 AS DOUBLE) * n2)
             / (4.0 * CAST(n1 AS DOUBLE) * n2) AS vart
      FROM agg
    )
    SELECT n1 AS n_ref, n2 AS n_cur, round(t, 9) AS t_stat,
           round(et, 9) AS t_expected,
           round((t - et) / sqrt(vart), 6) AS t_std
    FROM f
"""

_P_SQRT_CHI2 = _NP_SQL.format(z="sqrt(chi2)")

ORACLES["orders_price_mood"] = f"""
    WITH sides AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                  THEN 1 ELSE 2 END AS s
      FROM orders
    ), vc AS (
      SELECT v,
             CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM sides GROUP BY v
    ), cum AS (
      SELECT v, c1, c2,
             CAST(sum(c1) OVER w AS BIGINT) AS m1,
             CAST(sum(c2) OVER w AS BIGINT) AS m2
      FROM vc
      WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ), tot AS (
      SELECT CAST(max(m1) AS BIGINT) AS n1,
             CAST(max(m2) AS BIGINT) AS n2
      FROM cum
    ), med AS (
      SELECT min(v) AS median
      FROM cum, tot WHERE 2 * (m1 + m2) >= n1 + n2
    ), atmed AS (
      SELECT c.m1, c.m2
      FROM cum c, med WHERE c.v = med.median
    ), tab AS (
      SELECT n1, n2, median,
             CAST(n1 - m1 AS BIGINT) AS a1,
             CAST(n2 - m2 AS BIGINT) AS a2
      FROM tot, med, atmed
    ), f AS (
      SELECT n1, n2, median, a1, a2,
             greatest(2 * abs(CAST(a1 AS HUGEINT) * (n2 - a2)
                              - CAST(a2 AS HUGEINT) * (n1 - a1))
                      - (n1 + n2), 0) AS yates2
      FROM tab
    ), zc AS (
      SELECT n1, n2, median, a1, a2,
             CASE WHEN a1 + a2 > 0 AND a1 + a2 < n1 + n2 THEN
               (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
               * CAST(yates2 AS DOUBLE) * CAST(yates2 AS DOUBLE)
               / (4.0 * (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                         * CAST(a1 + a2 AS DOUBLE)
                         * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                            - CAST(a1 + a2 AS DOUBLE))))
             END AS chi2
      FROM f
    )
    SELECT n1 AS n_ref, n2 AS n_cur, median,
           a1 AS n_ref_above, a2 AS n_cur_above,
           round(chi2, 6) AS chi2,
           round({_P_SQRT_CHI2}, 9) AS p_value
    FROM zc
"""

ORACLES["events_type_kw"] = f"""
    WITH vals AS (
      SELECT event_type AS g,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events
    ), vc AS (
      SELECT g, v, CAST(count(*) AS BIGINT) AS c
      FROM vals GROUP BY g, v
    ), rk AS (
      SELECT g, c,
             CAST(coalesce(sum(c) OVER (ORDER BY v RANGE BETWEEN
                  UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS lt,
             CAST(sum(c) OVER (ORDER BY v RANGE BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS le
      FROM vc
    ), rr AS (
      SELECT g, c, (le - lt) AS t,
             CAST(2 * lt + (le - lt) + 1 AS BIGINT) AS r2
      FROM rk
    ), pg AS (
      SELECT g, CAST(sum(c) AS BIGINT) AS n_g,
             CAST(sum(CAST(c AS HUGEINT) * r2) AS HUGEINT) AS r2g,
             CAST(sum(CAST(c AS HUGEINT)
                      * (CAST(t AS HUGEINT) * t - 1)) AS HUGEINT)
               AS tie_g
      FROM rr GROUP BY g
    ), tot AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(tie_g) AS BIGINT) AS tie
      FROM pg
    ), hq AS (
      SELECT CAST(sum(CAST(round(
               CAST(r2g AS DOUBLE) * CAST(r2g AS DOUBLE)
               / CAST(n_g AS DOUBLE)
               / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
               * 1000000000.0) AS HUGEINT)) AS HUGEINT) AS hqv
      FROM pg, tot
    ), f AS (
      SELECT n, k, tie,
             3.0 * (CAST(hqv AS DOUBLE) / 1000000000.0)
               - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h,
             1.0 - CAST(tie AS DOUBLE)
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                  * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) AS c_corr
      FROM tot, hq
    ), zc AS (
      SELECT n, k, tie, h, h / c_corr AS hc,
             (cbrt(h / c_corr / CAST(k - 1 AS DOUBLE))
              - (1.0 - 2.0 / (9.0 * CAST(k - 1 AS DOUBLE))))
             / sqrt(2.0 / (9.0 * CAST(k - 1 AS DOUBLE))) AS z
      FROM f
    )
    SELECT n AS n_total, k AS k_groups, round(h, 6) AS h_stat,
           tie AS tie_term, round(hc, 6) AS h_corrected,
           CAST(k - 1 AS BIGINT) AS deg_f, round(z, 6) AS z_wh,
           round(CASE WHEN z >= 0 THEN ({_P_Z}) / 2.0
                 ELSE 1.0 - ({_P_Z}) / 2.0 END, 9) AS p_value
    FROM zc
"""

ORACLES["events_type_w1"] = """
    WITH sides AS (
      SELECT event_type AS g,
             CAST(round(value * 100) AS BIGINT) AS v,
             CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN 1 ELSE 2 END AS s
      FROM events
    ), vc AS (
      SELECT g, v,
             CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM sides GROUP BY g, v
    ), cum AS (
      SELECT g, v, c1, c2,
             CAST(sum(c1) OVER w AS BIGINT) AS m1,
             CAST(sum(c2) OVER w AS BIGINT) AS m2,
             lead(v) OVER (PARTITION BY g ORDER BY v) AS vnext
      FROM vc
      WINDOW w AS (PARTITION BY g ORDER BY v ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW)
    ), tot AS (
      SELECT g, CAST(max(m1) AS BIGINT) AS n1,
             CAST(max(m2) AS BIGINT) AS n2
      FROM cum GROUP BY g
    )
    SELECT c.g AS event_type, t.n1 AS n_ref, t.n2 AS n_cur,
           CASE WHEN t.n1 > 0 AND t.n2 > 0 THEN
             round(CAST(sum(abs(CAST(c.m1 AS HUGEINT) * t.n2
                                - CAST(c.m2 AS HUGEINT) * t.n1)
                            * coalesce(CAST(c.vnext AS HUGEINT)
                                       - CAST(c.v AS HUGEINT), 0))
                        AS DOUBLE)
                   / (CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE)), 6)
           END AS w1
    FROM cum c JOIN tot t ON c.g = t.g
    GROUP BY c.g, t.n1, t.n2 ORDER BY c.g
"""

ORACLES["segment_returns_ztest"] = f"""
    WITH j AS (
      SELECT c.c_mktsegment AS g,
             CASE WHEN l.l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
                  THEN 1 ELSE 2 END AS s,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
      FROM lineitem l
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
    ), agg AS (
      SELECT g,
             CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN s = 1 THEN ret ELSE 0 END) AS BIGINT) AS s1,
             CAST(sum(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN s = 2 THEN ret ELSE 0 END) AS BIGINT) AS s2
      FROM j GROUP BY g
    ), f AS (
      SELECT g, n1, s1, n2, s2,
             CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
               - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS diff,
             sqrt((CAST(s1 + s2 AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
                  * (1.0 - CAST(s1 + s2 AS DOUBLE)
                     / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
                  * (1.0 / CAST(n1 AS DOUBLE)
                     + 1.0 / CAST(n2 AS DOUBLE))) AS sd,
             0.5 * (1.0 / CAST(n1 AS DOUBLE)
                    + 1.0 / CAST(n2 AS DOUBLE)) AS cc
      FROM agg
    ), zz AS (
      SELECT g, n1, s1, n2, s2,
             CASE WHEN n1 > 0 AND n2 > 0 AND s1 + s2 > 0
                       AND s1 + s2 < n1 + n2 THEN
               CASE WHEN diff > cc THEN (diff - cc) / sd
                    WHEN diff < -cc THEN (diff + cc) / sd
                    ELSE 0.0 END
             END AS z
      FROM f
    )
    SELECT g AS c_mktsegment, n1 AS n_ref, s1 AS s_ref,
           n2 AS n_cur, s2 AS s_cur,
           CASE WHEN n1 > 0 THEN
             round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE), 6)
           END AS rate_ref,
           CASE WHEN n2 > 0 THEN
             round(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE), 6)
           END AS rate_cur,
           round(z, 6) AS z,
           round({_P_Z}, 9) AS p_value
    FROM zz ORDER BY c_mktsegment
"""

ORACLES["segment_trimmed_mean"] = """
    WITH daily AS (
      SELECT c.c_mktsegment AS g, CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ), vc AS (
      SELECT g, x AS v, CAST(count(*) AS BIGINT) AS c
      FROM daily GROUP BY 1, 2
    ), cum AS (
      SELECT g, v, c,
             CAST(sum(c) OVER (PARTITION BY g ORDER BY v ROWS BETWEEN
                  UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cm,
             CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
      FROM vc
    ), spans AS (
      SELECT g, v, c, cm, n,
             CAST((100000 * n) // 1000000 AS BIGINT) AS k
      FROM cum
    ), kept AS (
      SELECT g, n, k,
             CAST(greatest(0, least(cm, n - k)
                  - greatest(cm - c + 1, k + 1) + 1) AS BIGINT)
               AS m,
             v
      FROM spans
    )
    SELECT g AS c_mktsegment, max(n) AS n_points,
           max(k) AS n_trimmed_each,
           round(CAST(sum(CAST(v AS HUGEINT) * m) AS DOUBLE)
                 / CAST(sum(m) AS DOUBLE), 6) AS mean
    FROM kept GROUP BY g ORDER BY g
"""

# -- r14 batch oracles: Dunn/AB/JT/chi2 copied verbatim from the
# -- cross-engine pins in tests/test_driftmetrics.py (the house
# -- de-risk pattern); the grouped Pettitt/tau/rho extend the pinned
# -- ungrouped shapes in tests/test_rankcorr.py with the same
# -- PARTITION BY-per-group windows the grouped MWU/KS oracles use.
# -- p-values ride the shared A&S polynomial in exact op-order
# -- lockstep (NORMAL_P_TWO_SIDED_SQL, rounded at 9dp).

ORACLES["events_type_dunn"] = f"""
    WITH vals AS (
      SELECT event_type AS g,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events
    ), vc AS (
      SELECT g, v, CAST(count(*) AS BIGINT) AS c
      FROM vals GROUP BY g, v
    ), rk AS (
      SELECT g, c,
             CAST(coalesce(sum(c) OVER (ORDER BY v RANGE BETWEEN
                  UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS lt,
             CAST(sum(c) OVER (ORDER BY v RANGE BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS le
      FROM vc
    ), rr AS (
      SELECT g, c, (le - lt) AS t,
             CAST(2 * lt + (le - lt) + 1 AS BIGINT) AS r2
      FROM rk
    ), pg AS (
      SELECT g, CAST(sum(c) AS BIGINT) AS n_g,
             CAST(sum(CAST(c AS HUGEINT) * r2) AS HUGEINT) AS r2g,
             CAST(sum(CAST(c AS HUGEINT)
                      * (CAST(t AS HUGEINT) * t - 1)) AS HUGEINT)
               AS tie_g
      FROM rr GROUP BY g
    ), tot AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n,
             CAST(sum(tie_g) AS HUGEINT) AS tie
      FROM pg
    ), pairs AS (
      SELECT a.g AS ga, b.g AS gb, a.n_g AS na, b.n_g AS nb,
             a.r2g AS ra, b.r2g AS rb
      FROM pg a JOIN pg b ON a.g < b.g
    ), f AS (
      SELECT ga, gb, na, nb, n, tie,
             CAST(ra AS DOUBLE) / (2.0 * CAST(na AS DOUBLE)) AS ma,
             CAST(rb AS DOUBLE) / (2.0 * CAST(nb AS DOUBLE)) AS mb,
             (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 12.0
              - CAST(tie AS DOUBLE)
                / (12.0 * (CAST(n AS DOUBLE) - 1.0)))
             * (1.0 / CAST(na AS DOUBLE)
                + 1.0 / CAST(nb AS DOUBLE)) AS var
      FROM pairs, tot
    ), zz AS (
      SELECT ga, gb, na, nb, ma, mb,
             CASE WHEN n >= 2 AND (CAST(n AS HUGEINT) * n * n - n)
                       > tie
                  THEN (ma - mb) / sqrt(var) END AS z
      FROM f
    ), scored AS (
      SELECT ga, gb, na, nb,
             round(ma, 6) AS mean_rank_a,
             round(mb, 6) AS mean_rank_b,
             round(z, 6) AS zr,
             round({_P_Z}, 9) AS p
      FROM zz
    ), nn AS (
      SELECT *,
             CAST(row_number() OVER (ORDER BY p, ga, gb) AS BIGINT)
               AS p_rank,
             CAST(count(*) OVER () AS BIGINT) AS m_tests
      FROM scored WHERE p IS NOT NULL
    ), th AS (
      SELECT *, round(CAST(p_rank AS DOUBLE) * 0.05
                      / CAST(m_tests AS DOUBLE), 9) AS bh_threshold
      FROM nn
    ), im AS (
      SELECT CAST(coalesce(max(CASE WHEN p <= bh_threshold
                                    THEN p_rank END), 0) AS BIGINT)
               AS imax
      FROM th
    )
    SELECT ga AS group_a, gb AS group_b, na AS n_a, nb AS n_b,
           mean_rank_a, mean_rank_b, zr AS z, p AS p_value,
           p_rank, m_tests, bh_threshold,
           p_rank <= imax AS selected
    FROM th, im
    ORDER BY group_a, group_b
"""

ORACLES["orders_price_ab"] = f"""
    WITH sides AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                  THEN 1 ELSE 2 END AS s
      FROM orders
    ), vc AS (
      SELECT v,
             CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS c1,
             CAST(sum(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS c2
      FROM sides GROUP BY v
    ), cum AS (
      SELECT v, c1, c2, c1 + c2 AS t,
             CAST(sum(c1 + c2) OVER (ORDER BY v ROWS BETWEEN
                  UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS m,
             CAST(sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS m1
      FROM vc
    ), tot AS (
      SELECT CAST(max(m1) AS BIGINT) AS n1,
             CAST(max(m) - max(m1) AS BIGINT) AS n2,
             CAST(max(m) AS BIGINT) AS n
      FROM cum
    ), scored AS (
      SELECT c1, t,
             (CASE WHEN m - t + 1 <= least(m, (n + 1) // 2)
                   THEN CAST(least(m, (n + 1) // 2) + (m - t + 1)
                             AS HUGEINT)
                        * (least(m, (n + 1) // 2) - (m - t + 1) + 1)
                   ELSE 0 END
              + CASE WHEN m >= greatest(m - t + 1, (n + 1) // 2 + 1)
                     THEN CAST(2 * n + 2
                               - greatest(m - t + 1, (n + 1) // 2 + 1)
                               - m AS HUGEINT)
                          * (m - greatest(m - t + 1,
                                          (n + 1) // 2 + 1) + 1)
                     ELSE 0 END) AS s2
      FROM cum, tot
    ), agg AS (
      SELECT max(n1) AS n1, max(n2) AS n2,
             sum(CAST(round(CAST(c1 AS DOUBLE) * CAST(s2 AS DOUBLE)
                            / (2.0 * CAST(t AS DOUBLE))
                            * 1000000000.0) AS HUGEINT)) AS qt,
             sum(CAST(round(CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                            / (4.0 * CAST(t AS DOUBLE))
                            * 1000000000.0) AS HUGEINT)) AS qss,
             sum(s2) AS s2tot
      FROM scored, tot
    ), f AS (
      SELECT n1, n2,
             CAST(qt AS DOUBLE) / 1000000000.0 AS t_stat,
             CAST(s2tot AS DOUBLE)
               / (2.0 * (CAST(n1 AS DOUBLE) + n2)) AS abar,
             CAST(qss AS DOUBLE) / 1000000000.0 AS ss
      FROM agg
    ), zc AS (
      SELECT n1, n2, t_stat,
             CAST(n1 AS DOUBLE) * abar AS e_t,
             CAST(n1 AS DOUBLE) * n2
               / ((CAST(n1 AS DOUBLE) + n2)
                  * ((CAST(n1 AS DOUBLE) + n2) - 1.0))
               * (ss - (CAST(n1 AS DOUBLE) + n2) * abar * abar)
               AS var
      FROM f
    ), zz AS (
      SELECT n1, n2, t_stat, e_t,
             CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 >= 2
                       AND var > 0
                  THEN (t_stat - e_t) / sqrt(var) END AS z
      FROM zc
    )
    SELECT n1 AS n_ref, n2 AS n_cur,
           round(t_stat, 6) AS ab_stat,
           round(e_t, 6) AS ab_expected,
           round(z, 6) AS z,
           round({_P_Z}, 9) AS p_value
    FROM zz
"""

ORACLES["events_type_jt"] = f"""
    WITH vals AS (
      SELECT event_type AS g,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events
    ), vc AS (
      SELECT g, v, CAST(count(*) AS BIGINT) AS c
      FROM vals GROUP BY g, v
    ), grid AS (
      SELECT dg.g, dv.v
      FROM (SELECT DISTINCT g FROM vc) dg
           CROSS JOIN (SELECT DISTINCT v FROM vc) dv
    ), dense AS (
      SELECT grid.g, grid.v,
             CAST(coalesce(vc.c, 0) AS BIGINT) AS c
      FROM grid LEFT JOIN vc
           ON grid.g = vc.g AND grid.v = vc.v
    ), mb AS (
      SELECT g, v, c,
             CAST(coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS m_below
      FROM dense
    ), pre AS (
      SELECT g, v, c,
             coalesce(sum(CAST(m_below AS HUGEINT)) OVER (
               PARTITION BY v ORDER BY g ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS pm,
             coalesce(sum(CAST(c AS HUGEINT)) OVER (
               PARTITION BY v ORDER BY g ROWS BETWEEN UNBOUNDED
               PRECEDING AND 1 PRECEDING), 0) AS pc
      FROM mb
    ), pg AS (
      SELECT g, CAST(sum(c) AS BIGINT) AS n_g,
             CAST(sum(CAST(c AS HUGEINT) * (2 * pm + pc))
                  AS HUGEINT) AS j2g
      FROM pre GROUP BY g
    ), gagg AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(j2g) AS HUGEINT) AS j2,
             CAST(sum(CAST(n_g AS HUGEINT) * n_g) AS HUGEINT)
               AS sn2,
             CAST(sum(CAST(n_g AS HUGEINT) * (n_g - 1)
                      * (2 * n_g + 5)) AS HUGEINT) AS g1,
             CAST(sum(CAST(n_g AS HUGEINT) * (n_g - 1)
                      * (n_g - 2)) AS HUGEINT) AS g2,
             CAST(sum(CAST(n_g AS HUGEINT) * (n_g - 1))
                  AS HUGEINT) AS g3
      FROM pg
    ), tv AS (
      SELECT v, CAST(sum(c) AS BIGINT) AS t
      FROM vc GROUP BY v
    ), tagg AS (
      SELECT CAST(count(*) AS BIGINT) AS nv,
             CAST(sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5))
                  AS HUGEINT) AS t1,
             CAST(sum(CAST(t AS HUGEINT) * (t - 1) * (t - 2))
                  AS HUGEINT) AS t2,
             CAST(sum(CAST(t AS HUGEINT) * (t - 1)) AS HUGEINT)
               AS t3
      FROM tv
    ), f AS (
      SELECT n, k, nv,
             CAST(j2 AS DOUBLE) / 2.0 AS j,
             CAST(CAST(n AS HUGEINT) * n - sn2 AS DOUBLE) / 4.0
               AS e,
             CAST(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5)
                  - g1 - t1 AS DOUBLE) / 72.0
             + CAST(g2 AS DOUBLE) * CAST(t2 AS DOUBLE)
               / (36.0 * CAST(n AS DOUBLE)
                  * (CAST(n AS DOUBLE) - 1.0)
                  * (CAST(n AS DOUBLE) - 2.0))
             + CAST(g3 AS DOUBLE) * CAST(t3 AS DOUBLE)
               / (8.0 * CAST(n AS DOUBLE)
                  * (CAST(n AS DOUBLE) - 1.0)) AS var
      FROM gagg, tagg
    ), zz AS (
      SELECT n, k, j, e,
             CASE WHEN k >= 2 AND n >= 3 AND nv >= 2 AND var > 0
                  THEN (j - e) / sqrt(var) END AS z
      FROM f
    )
    SELECT n AS n_total, k AS k_groups,
           round(j, 1) AS jt_stat, round(e, 2) AS jt_expected,
           round(z, 6) AS z, round({_P_Z}, 9) AS p_value
    FROM zz
"""

ORACLES["events_mix_chi2"] = f"""
    WITH sides AS (
      SELECT event_type AS cat,
             CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN 1 ELSE 2 END AS s
      FROM events
    ), vc AS (
      SELECT cat,
             CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS c1,
             CAST(sum(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS c2
      FROM sides GROUP BY cat
    ), tot AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c2) AS BIGINT) AS n2,
             CAST(count(*) AS BIGINT) AS k
      FROM vc
    ), q AS (
      SELECT max(n1) AS n1, max(n2) AS n2, max(k) AS k,
             sum(CASE WHEN n1 > 0 AND n2 > 0 THEN
               CAST(round(
                 CAST(CAST(c1 AS HUGEINT) * n2
                      - CAST(c2 AS HUGEINT) * n1 AS DOUBLE)
                 * CAST(CAST(c1 AS HUGEINT) * n2
                        - CAST(c2 AS HUGEINT) * n1 AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                    * CAST(c1 + c2 AS DOUBLE))
                 * 1000000000.0) AS HUGEINT)
               ELSE 0 END) AS qsum
      FROM vc, tot
    ), f AS (
      SELECT n1, n2, k,
             CAST(qsum AS DOUBLE) / 1000000000.0 AS chi2
      FROM q
    ), zc AS (
      SELECT n1, n2, k, chi2,
             CASE WHEN k = 2 THEN sqrt(chi2)
                  ELSE (cbrt(chi2 / CAST(k - 1 AS DOUBLE))
                        - (1.0 - 2.0 / (9.0 * CAST(k - 1 AS DOUBLE))))
                       / sqrt(2.0 / (9.0 * CAST(k - 1 AS DOUBLE)))
             END AS z
      FROM f
    )
    SELECT n1 AS n_ref, n2 AS n_cur, k AS k_categories,
           round(chi2, 6) AS chi2,
           CAST(k - 1 AS BIGINT) AS deg_f,
           round(z, 6) AS z_wh,
           round(CASE WHEN k = 2 THEN ({_P_Z})
                 WHEN z >= 0 THEN ({_P_Z}) / 2.0
                 ELSE 1.0 - ({_P_Z}) / 2.0 END, 9) AS p_value
    FROM zc
"""

ORACLES["events_type_pettitt"] = """
    WITH daily AS (
      SELECT event_type AS g, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT))
                  AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT g, d,
             CAST(count(*) OVER (PARTITION BY g) AS BIGINT)
               - CAST(count(*) OVER (PARTITION BY g ORDER BY x
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT)
               - CAST(coalesce(count(*) OVER (PARTITION BY g ORDER BY x
                   RANGE BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS v,
             CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
      FROM daily
    ), u AS (
      SELECT g, d, n,
             CAST(sum(v) OVER (PARTITION BY g ORDER BY d ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS uu
      FROM ranked
    ), mx AS (
      SELECT g, CAST(max(abs(uu)) AS BIGINT) AS k_stat FROM u GROUP BY g
    ), agg AS (
      SELECT u.g, max(u.n) AS n_points, max(m.k_stat) AS k_stat,
             min(CASE WHEN abs(u.uu) = m.k_stat THEN u.d END)
               AS change_point
      FROM u JOIN mx m ON u.g = m.g GROUP BY u.g
    )
    SELECT g AS event_type, n_points, k_stat, change_point,
           round(least(2.0 * exp(-6.0 * CAST(k_stat AS DOUBLE)
                   * CAST(k_stat AS DOUBLE)
                   / (CAST(n_points AS DOUBLE) * n_points * n_points
                      + CAST(n_points AS DOUBLE) * n_points)),
                 1.0), 6) AS p_approx
    FROM agg ORDER BY event_type
"""

ORACLES["segment_kendall"] = """
    WITH xy AS (
      SELECT c.c_mktsegment AS g, CAST(o.o_orderdate AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ), s AS (
      SELECT a.g,
             CAST(coalesce(sum(
               (CASE WHEN b.x > a.x THEN 1
                     WHEN b.x < a.x THEN -1 ELSE 0 END)
               * (CASE WHEN b.y > a.y THEN 1
                       WHEN b.y < a.y THEN -1 ELSE 0 END)), 0)
             AS BIGINT) AS cd
      FROM xy a JOIN xy b ON a.g = b.g AND a.d < b.d
      GROUP BY a.g
    ), tx AS (
      SELECT g, CAST(sum(t * (t - 1)) AS BIGINT) AS tx2
      FROM (SELECT g, CAST(count(*) AS BIGINT) AS t
            FROM xy GROUP BY g, x) z
      GROUP BY g
    ), ty AS (
      SELECT g, CAST(sum(t * (t - 1)) AS BIGINT) AS ty2
      FROM (SELECT g, CAST(count(*) AS BIGINT) AS t
            FROM xy GROUP BY g, y) z
      GROUP BY g
    ), np AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n FROM xy GROUP BY g
    )
    SELECT np.g AS c_mktsegment, np.n AS n_points,
           CAST(coalesce(s.cd, 0) AS BIGINT)
             AS concordant_minus_discordant,
           tx.tx2 // 2 AS tie_term_x, ty.ty2 // 2 AS tie_term_y,
           CASE WHEN np.n * (np.n - 1) - tx.tx2 > 0
                 AND np.n * (np.n - 1) - ty.ty2 > 0 THEN
             round((2.0 * CAST(coalesce(s.cd, 0) AS DOUBLE))
                   / sqrt(CAST(np.n * (np.n - 1) - tx.tx2 AS DOUBLE)
                          * CAST(np.n * (np.n - 1) - ty.ty2
                                 AS DOUBLE)), 6)
           END AS tau_b
    FROM np
    JOIN tx ON np.g = tx.g
    JOIN ty ON np.g = ty.g
    LEFT JOIN s ON np.g = s.g
    ORDER BY c_mktsegment
"""

ORACLES["segment_spearman"] = """
    WITH xy AS (
      SELECT c.c_mktsegment AS g, CAST(o.o_orderdate AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ), rk AS (
      SELECT g,
             CAST(coalesce(count(*) OVER (PARTITION BY g ORDER BY x
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + count(*) OVER (PARTITION BY g ORDER BY x RANGE BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) + 1
             AS HUGEINT) AS rx,
             CAST(coalesce(count(*) OVER (PARTITION BY g ORDER BY y
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + count(*) OVER (PARTITION BY g ORDER BY y RANGE BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) + 1
             AS HUGEINT) AS ry
      FROM xy
    ), m AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             sum(rx) AS sx, sum(ry) AS sy2,
             sum(rx * rx) AS sxx, sum(ry * ry) AS syy,
             sum(rx * ry) AS sxy
      FROM rk GROUP BY g
    )
    SELECT g AS c_mktsegment, n AS n_points,
           CASE WHEN n * sxx - sx * sx > 0
                 AND n * syy - sy2 * sy2 > 0 THEN
             round(CAST(n * sxy - sx * sy2 AS DOUBLE)
                   / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                          * CAST(n * syy - sy2 * sy2 AS DOUBLE)), 6)
           END AS rho
    FROM m ORDER BY c_mktsegment
"""

ORACLES["events_mix_shares"] = """
    WITH sides AS (
      SELECT event_type AS category,
             CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN 1 ELSE 2 END AS s
      FROM events
    ), vc AS (
      SELECT category,
             CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ref,
             CAST(sum(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cur
      FROM sides GROUP BY category
    ), tot AS (
      SELECT CAST(sum(n_ref) AS BIGINT) AS n1,
             CAST(sum(n_cur) AS BIGINT) AS n2
      FROM vc
    ), f AS (
      SELECT category, n_ref, n_cur,
             CASE WHEN n1 > 0 THEN
               round(CAST(n_ref AS DOUBLE) / CAST(n1 AS DOUBLE), 6)
             END AS share_ref,
             CASE WHEN n2 > 0 THEN
               round(CAST(n_cur AS DOUBLE) / CAST(n2 AS DOUBLE), 6)
             END AS share_cur
      FROM vc, tot
    )
    SELECT category, n_ref, n_cur, share_ref, share_cur,
           round(coalesce(share_cur, 0.0) - coalesce(share_ref, 0.0), 6)
             AS share_delta
    FROM f ORDER BY category
"""
