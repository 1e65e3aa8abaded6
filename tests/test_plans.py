"""Physical-plan audits: the scale properties SURVEY §4 promises.

These tests read ``explain("formatted")`` output and assert the plan
shape that makes the engine viable at 100 TB — column pruning into the
parquet scan, predicate pushdown, broadcast joins for dims, and zero
row-at-a-time Python in any dataflow. A green correctness suite with a
bad plan is not done; this file is the regression gate for the plans.
"""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from bangumi_notion_data_integration_project_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _read_schemas(plan: str) -> list[str]:
    return re.findall(r"ReadSchema: struct<([^>]*)>", plan)


def _window_partition_keys(plan: str) -> set[str]:
    """Leading identifier of every ``windowspecdefinition(...)`` in the
    formatted plan — the first PARTITION column when the window is
    partitioned. An unpartitioned window leads with its ORDER column
    instead, so an equality assert on the expected key set catches
    both a dropped partition clause and a wrong-key partition (the
    order columns have different names in every plan below)."""
    return set(re.findall(r"windowspecdefinition\((\w+)#", plan))


def test_category_summary_prunes_columns(spark):
    """Flagship agg reads 5 of lineitem's 16 columns — nothing more."""
    schemas = _read_schemas(_plan(spark, "category_summary"))
    assert schemas, "no parquet scan found"
    cols = {c.split(":")[0] for c in schemas[0].split(",")}
    assert cols == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_returnflag",
        "l_linestatus",
    }


def test_merge_pushes_date_predicates_to_scan(spark):
    """Snapshot-diff date cutoffs must reach the parquet reader, not
    filter post-scan (at 100 TB the difference is the whole job)."""
    plan = _plan(spark, "merge_upsert")
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "LessThan(o_orderdate" in plan


def test_multijoin_broadcasts_dimensions(spark):
    """Star-schema join: every dim side must broadcast; a sort-merge
    join against `nation` (25 rows) would shuffle the fact table."""
    plan = _plan(spark, "revenue_by_nation")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filtered_revenue_pushes_filters(spark):
    plan = _plan(spark, "filtered_revenue")
    assert "PushedFilters: [" in plan
    # the shipdate range predicate reaches the scan
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_rowwise_python_in_any_plan(spark, name):
    """Row-at-a-time Python UDFs (BatchEvalPython) are banned from every
    dataflow. Arrow-batched plans (ArrowEvalPython / MapInPandas) are
    allowed only for the multimodal decode stage, which is Python by
    nature (binary payload featurization)."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan, f"{name} uses row-at-a-time Python"
    media_queries = (
        "multimodal_features",
        "video_frame_sample",
        "image_resize",
        "audio_segments",
        # not media, but legitimately Python: the bounded per-partition
        # Misra-Gries summary state is imperative by nature (Arrow
        # mapInPandas, ≤ capacity rows out per partition)
        "docs_frequent_tokens",
        # per-partition BLAS Gram partials (one d²-sized row out per
        # partition) — the production distributed-PCA pattern
        "embedding_covariance",
        "embedding_pca_variance",
    )
    if name not in media_queries:
        assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, (
            f"{name} drops to Python; expected pure JVM expression code"
        )


@pytest.mark.parametrize(
    "name",
    [
        "category_summary",
        "global_summary",
        "pivot_status",
        "latest_event_per_type",
        "dedup_exact",
    ],
)
def test_aggregates_have_partial_final_split(spark, name):
    """Aggregations must run map-side partial then final (two HashAggregate
    levels around the exchange) so the shuffle carries combined state,
    not raw rows."""
    plan = _plan(spark, name)
    assert len(re.findall(r"HashAggregate", plan)) >= 2 or "ObjectHashAggregate" in plan


def test_range_join_is_equi_join_not_nested_loop(spark):
    """The bucketed range join must plan as a hash/sort-merge equi-join
    on (key, bin) — a BroadcastNestedLoopJoin here means the inequality
    condition leaked into the join and the operator is O(n*m)."""
    plan = _plan(spark, "purchases_after_click")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_salted_join_no_skewed_single_partition(spark):
    """Salted join: the shuffle key must include the salt (hash of both
    key and salt columns in the exchange)."""
    plan = _plan(spark, "salted_skew_join")
    assert re.search(r"hashpartitioning\([^)]*__salt", plan) or "__salt" in plan


def test_whole_stage_codegen_covers_flagship(spark):
    """Codegen spans appear only in the AQE final plan, so execute
    first, then read the executed plan."""
    df = QUERIES["category_summary"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen spans render as `*(n)` prefixes in the executed plan
    assert re.search(r"\*\(\d+\) HashAggregate", plan)
    assert re.search(r"\*\(1\) ColumnarToRow", plan), "scan not vectorized"


def test_skyline_windows_are_partitioned(spark):
    """The skyline prefix-max must run per range-partition (window keyed
    on __pid), never as one global unpartitioned window over the
    distinct-minimize rows — that single task is the 100 TB bottleneck
    the two-level formulation exists to avoid. The only unpartitioned
    window allowed is the per-partition offset table (one row per
    partition)."""
    plan = _plan(spark, "parts_skyline")
    assert "__pid" in plan
    assert "BroadcastExchange" in plan  # tiny offset table broadcast back


def test_similarity_corpus_never_shuffles(spark):
    """Brute-force ANN: the query side (3 vectors) broadcasts; the
    corpus must stream through map-side without a shuffle until the
    final top-k window on query_id. A SortMergeJoin/CartesianProduct
    here means the corpus was exchanged pairwise — quadratic I/O at
    scale."""
    plan = _plan(spark, "similarity_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # corpus scan reads only the id + vector columns
    schemas = _read_schemas(plan)
    assert schemas and all(
        {c.split(":")[0] for c in s.split(",")} <= {"vec_id", "embedding"} for s in schemas
    )


def test_near_dedup_pipeline_has_no_pairwise_join(spark):
    """The inverted-index near-dedup must pair documents ONLY through
    shingle equi-joins — a CartesianProduct or BroadcastNestedLoopJoin
    anywhere means the all-pairs formulation snuck back in and the plan
    is O(n²) at corpus scale."""
    plan = _plan(spark, "dedup_near_pipeline")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dup_spans_is_equi_join_only(spark):
    """Duplicated-span detection joins on the span text (equi); the
    span count aggregate must be partial+final so the corpus-wide
    count never funnels to one task."""
    plan = _plan(spark, "docs_dup_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan


def test_chunking_is_map_only(spark):
    """Overlap chunking must be a generate/project pipeline with no
    exchange before the presentation sort — a shuffle in a chunker
    would move the whole corpus for no reason."""
    plan = _plan(spark, "docs_chunks")
    assert "Generate" in plan  # posexplode
    # the only exchange allowed is the final orderBy's range partition
    import re as _re

    exchanges = _re.findall(r"Exchange (\w+)", plan)
    assert all("range" in e.lower() for e in exchanges), exchanges


def test_waiting_suppliers_single_lineitem_pass(spark):
    """q21 reformulation: lineitem must be scanned once (the textbook
    EXISTS/NOT-EXISTS shape scans it three times)."""
    plan = _plan(spark, "waiting_suppliers")
    assert plan.count("Location: InMemoryFileIndex") <= 3  # lineitem+orders+supplier
    schemas = _read_schemas(plan)
    li_scans = [s for s in schemas if "l_orderkey" in s]
    assert len(li_scans) == 1, f"lineitem scanned {len(li_scans)}x"


def test_waiting_suppliers_no_expand(spark):
    """The q21 shape must keep its two-level plain aggregation — a
    COUNT(DISTINCT) rewrite would Expand every joined row before the
    shuffle (2× exchange volume on the biggest join in the query)."""
    plan = _plan(spark, "waiting_suppliers")
    assert "Expand" not in plan


def test_events_ts_normalized_to_plain_timestamp(spark):
    """catalog.load_table must hand every consumer a plain TIMESTAMP
    ``ts`` regardless of how the fixture generation encoded it —
    tz-naive parquet timestamp[us] loads as TIMESTAMP_NTZ (which
    ``unix_micros``/``to_utc_timestamp`` hard-reject, the round-2 bench
    crash), older fixtures as TIMESTAMP(NANOS)→bigint. The UTC-pinned
    session makes the normalizing cast numerically a no-op on both
    paths."""
    import glob
    import os

    from bangumi_notion_data_integration_project_spark.catalog import load_table

    for sf_dir in sorted(glob.glob("/root/testdata/sf*")):
        if not os.path.exists(os.path.join(sf_dir, "events.parquet")):
            continue
        df = load_table(spark, sf_dir, "events")
        assert dict(df.dtypes)["ts"] == "timestamp", (
            f"{sf_dir}: ts is {dict(df.dtypes)['ts']}, expected plain timestamp"
        )


def test_all_queries_analyze_without_exception(spark):
    """NTZ-landmine sweep (round-2 regression): every registered query
    must survive Catalyst ANALYSIS on the shipped fixtures. Plan build
    is cheap (no execution), so one test covers the whole registry and
    lists every analysis-time failure at once — the two round-2 crashes
    (`events_sessionize`, `events_zorder_stats`) were exactly this
    class: a type-rejecting function call only visible at analysis."""
    failures = []
    for name, fn in QUERIES.items():
        try:
            fn(spark, SF_DIR).schema  # noqa: B018 — forces analysis
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
    assert not failures, "analysis-time failures:\n" + "\n".join(failures)


def test_min_cost_supplier_single_catalog_pass(spark):
    """q2 shape: the derived supplier-part catalog must be computed
    once (window min), not once per side of a min-equality self-join,
    and the part predicate must reach the lineitem side BELOW the
    (part, supplier) aggregation as a broadcast semi-join — the
    catalog shuffle carries only the filtered subset."""
    plan = _plan(spark, "min_cost_supplier")
    schemas = _read_schemas(plan)
    li_scans = [s for s in schemas if "l_partkey" in s and "l_quantity" in s]
    assert len(li_scans) == 1, f"lineitem scanned {len(li_scans)}x"
    assert "LeftSemi" in plan, "part filter not applied as a semi-join"


def test_funnel_windows_share_one_exchange(spark):
    """operators/funnel.py's claim: N chained conditional-min windows
    over the same partition spec plan ONE exchange on the entity key —
    depth adds window expressions, not sorts/shuffles."""
    plan = _plan(spark, "events_funnel_steps")
    user_exchanges = len(re.findall(r"hashpartitioning\(user_id", plan))
    assert user_exchanges == 1, plan


def test_pagerank_has_no_cartesian_and_bounded_joins(spark):
    """The co-purchase PageRank must stay equi-join + aggregate shaped:
    no cartesian products, no nested-loop joins over the edge list
    (broadcast-nested-loop is fine only for the 1-row N factor)."""
    plan = _plan(spark, "parts_pagerank")
    assert "CartesianProduct" not in plan
    # any BroadcastNestedLoopJoin must come from the 1-row count factor,
    # never carry the edge table: edges always join hash-partitioned
    assert "SortMergeJoin LeftOuter" in plan or "BroadcastHashJoin" in plan


def test_bigram_counts_is_join_free(spark):
    """Pair generation is a narrow per-document transform; the only
    wide operator is the counting aggregate."""
    plan = _plan(spark, "docs_bigram_counts")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_snapshot_diff_aggregates_before_join(spark):
    """Reconciliation must reduce each side to n_buckets rows BEFORE
    the only join — the row-level tables never meet."""
    plan = _plan(spark, "snapshot_diff_orders")
    # formatted-tree node ids: children (earlier stages) get smaller
    # numbers, so every aggregate must be numbered below the join
    aggs = [int(n) for n in re.findall(r"HashAggregate \((\d+)\)", plan)]
    joins = [int(n) for n in re.findall(r"Join \w+ \((\d+)\)", plan)]
    assert aggs and joins
    assert max(aggs) < min(joins), plan[:600]


def test_two_phase_sweep_has_no_whole_key_sort(spark):
    """split_by_day's point: the big sort key is (event_type, day),
    never event_type alone."""
    plan = _plan(spark, "events_max_concurrency_2p")
    # every sort over the point table must include the day column
    sorts = re.findall(r"Arguments: \[event_type[^\]]*\]", plan)
    windows_on_bare_key = [
        s for s in sorts if "day" not in s and " t#" in s
    ]
    assert not windows_on_bare_key, sorts


def test_bloom_decontaminate_probes_are_broadcast(spark):
    """The Bloom stage's value at 100 TB: the train-gram inventory
    meets the bit table via k broadcast semi-joins — never a shuffle
    of the probe side against the bits."""
    plan = _plan(spark, "decontaminate_bloom")
    assert plan.count("BroadcastHashJoin") >= 4  # k membership probes
    assert "CartesianProduct" not in plan


def test_line_scrub_broadcasts_frequent_segments(spark):
    """The corpus is never shuffled by segment text on the flag-back
    path: the frequent-segment set joins as a broadcast, and the only
    segment-keyed exchange feeds the frequency aggregate."""
    plan = _plan(spark, "docs_line_scrub")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_attribution_pairs_without_nested_loop(spark):
    """Touch-purchase pairing must be the bucketed equi-join, and the
    per-purchase touch count a keyed (never global) window."""
    plan = _plan(spark, "events_attribution")
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^,)]*)", plan)
    assert specs and all("purchase_id" in s for s in specs), specs


def test_bm25_corpus_stats_broadcast(spark):
    """Per-term DF and the (N, avgdl) scalar come back as broadcasts;
    the only shuffles are the two hash aggregates and the doc-level
    length join."""
    plan = _plan(spark, "docs_bm25_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_triangles_all_joins_are_equi(spark):
    """Wedge generation and closure are equi-joins on node keys; the
    degree orientation must never degrade to a nested loop."""
    plan = _plan(spark, "parts_triangles")
    assert "CartesianProduct" not in plan
    # the only nested-loop joins allowed are the condition-free Cross
    # joins stitching the 1-row stat aggregates onto the result
    for m in re.finditer(r"BroadcastNestedLoopJoin\nJoin type: (\w+)\nJoin condition: (\w+)", plan):
        assert m.group(1) == "Cross" and m.group(2) == "None", m.group(0)


def test_cdc_apply_is_one_aggregate_no_window(spark):
    """apply_cdc's contract: the per-key winner comes from ONE
    map-side-combinable aggregate — never the row_number window (which
    would shuffle + sort the whole log instead of the key set)."""
    plan = _plan(spark, "cdc_apply_orders")
    assert "Window" not in plan
    # partial + final pair of the single max_by/count aggregate
    # (unique node ids — formatted explain prints each node twice)
    aggs = set(re.findall(r"\((\d+)\) (?:Hash|ObjectHash|Sort)Aggregate", plan))
    assert len(aggs) <= 2, f"expected one partial+final aggregate pair, got {sorted(aggs)}"


def test_regression_single_pass_exact_decimals(spark):
    """All six OLS moments ride one aggregate over one pruned scan;
    the decimal moment sums keep the result partition-invariant."""
    plan = _plan(spark, "lineitem_regression")
    assert "Window" not in plan
    schemas = _read_schemas(plan)
    cols = {c.split(":")[0] for c in schemas[0].split(",")}
    assert cols == {"l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"}


def test_correlations_one_scan_for_all_pairs(spark):
    """Six correlation pairs = 19 moment sums in ONE aggregate over ONE
    lineitem scan — adding pairs must not add scans or shuffles."""
    plan = _plan(spark, "lineitem_correlations")
    schemas = _read_schemas(plan)
    assert len(schemas) == 1, f"expected one lineitem scan, got {len(schemas)}"
    # partial→final exchange pair + at most the small-file spread
    # repartition the catalog inserts at toy SFs (unique node ids)
    exchanges = set(re.findall(r"\((\d+)\) Exchange", plan))
    assert len(exchanges) <= 3, sorted(exchanges)


def test_top_paths_no_event_table_window(spark):
    """Path extraction sorts inside each collected session array (size
    ≤ events/user/day), never a window sort over the event table."""
    plan = _plan(spark, "events_top_paths")
    assert "Window" not in plan


def test_frequent_tokens_tail_never_shuffles(spark):
    """The Misra-Gries recount pass must meet the candidate set as a
    broadcast BEFORE the count aggregate — the long tail is filtered
    map-side and never rides an exchange."""
    plan = _plan(spark, "docs_frequent_tokens")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # candidate summarize stage is the only Python presence
    assert plan.count("ArrowEvalPython") == 0  # mapInPandas, not a UDF eval


def test_ewma_no_range_join(spark):
    """Gap-aware EWMA stays a keyed window + in-array fold; the range
    self-join lives only in the oracle."""
    plan = _plan(spark, "events_ewma")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_setsim_prefix_no_cartesian_all_equi(spark):
    """PPJoin must stay equi-join shaped end-to-end: prefix-token join,
    candidate-distinct, and the two verify joins — never a cartesian
    or a non-equi nested loop, and the prefix cut (row_number rank
    filter) must survive into the physical plan."""
    plan = _plan(spark, "docs_setsim_prefix")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "row_number" in plan


def test_containment_no_cartesian_all_equi(spark):
    plan = _plan(spark, "docs_containment")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cusum_windows_are_key_partitioned(spark):
    """Both ordered windows (prefix sum, running min) partition by the
    series key — pinned by NAME via the windowspecdefinition leading
    column, plus the structural no-global-exchange check (an
    unpartitioned window forces Exchange SinglePartition)."""
    plan = _plan(spark, "events_cusum")
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan, "global exchange in cusum plan"
    assert _window_partition_keys(plan) == {"event_type"}


def test_time_rollup_is_join_free(spark):
    """Hierarchical rollup: day partials + re-aggregations + union —
    no join of any kind, every grain an algebraic aggregate."""
    plan = _plan(spark, "events_time_rollup")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_sequence_rules_aggregates_before_join(spark):
    """The pair join runs on the (user, type) aggregate, never on the
    raw log: no cartesian, and the join keys are equi."""
    plan = _plan(spark, "events_sequence_rules")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_brand_trend_broadcasts_part_and_prunes_lineitem(spark):
    plan = _plan(spark, "brand_monthly_trend")
    assert "BroadcastHashJoin" in plan
    li_schemas = [s for s in _read_schemas(plan) if "l_partkey" in s]
    assert li_schemas and all(len(s.split(",")) == 4 for s in li_schemas), li_schemas


def test_bigram_logprob_scoring_is_join_free(spark):
    """Count maps ride as plan literals; the scored pass is a narrow
    per-row fold over the token array — no join in the final plan."""
    plan = _plan(spark, "docs_bigram_logprob")
    assert "Join" not in plan


def test_aqe_replans_smj_to_broadcast_at_runtime(spark):
    """The 'let Catalyst optimize' contract, runtime half: with static
    broadcast disabled (as it would be when a planner cannot estimate a
    filtered side), AQE must observe the true post-shuffle size of the
    selective side and rewrite the SortMergeJoin into a broadcast join
    at runtime — the mechanism our 100 TB plans lean on whenever a
    filter collapses one side of a join."""
    old_static = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", str(10 * 1024 * 1024)
        )
        from bangumi_notion_data_integration_project_spark.catalog import load_table

        li = load_table(spark, SF_DIR, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        tiny = (
            load_table(spark, SF_DIR, "orders")
            .filter(F.col("o_totalprice") < 5000)  # selective: few rows
            .select("o_orderkey", "o_orderpriority")
        )
        j = li.join(tiny, li.l_orderkey == tiny.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        static = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "SortMergeJoin" in static, "fixture must start as SMJ"
        j.collect()
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "BroadcastHashJoin" in final or "BroadcastQueryStage" in final, (
            "AQE did not convert the join at runtime:\n" + final[:2000]
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_static)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


# --- round 6 additions -----------------------------------------------------


def test_rollup_refresh_no_cartesian_broadcast_touched(spark):
    """The O(touched) refresh joins stored partials against the touched
    bucket set — every join equi/broadcast, never a cartesian, and the
    raw events table is scanned only for the delta partial."""
    plan = _plan(spark, "events_time_rollup_refresh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_near_dup_topk_window_is_key_partitioned(spark):
    """Top-k per vector: the rank window partitions by vec_id (pinned
    by name) — no global sort (no Exchange SinglePartition anywhere) —
    and candidates only meet on the SRP bucket key."""
    plan = _plan(spark, "embedding_near_dup_topk")
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan, "global exchange in topk plan"
    assert _window_partition_keys(plan) == {"vec_id"}


def test_supplier_lead_times_broadcasts_dim_after_agg(spark):
    """The supplier dim joins the |suppliers|-sized aggregate via
    broadcast; only the orderkey fact-fact join may shuffle."""
    plan = _plan(spark, "supplier_lead_times")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_winnowing_windows_partition_by_doc(spark):
    """Every window in the winnowing plan partitions by doc_id (pinned
    by name) — fingerprint selection never sorts the corpus globally,
    so no Exchange SinglePartition may appear either."""
    plan = _plan(spark, "docs_winnowing")
    assert "SinglePartition" not in plan, "global exchange in winnowing"
    assert _window_partition_keys(plan) == {"doc_id"}


def test_token_coverage_single_fact_scan(spark):
    """The coverage curve scans the token stream once; rank/total/cover
    all derive from the vocab-sized count table (the plan may re-read
    the lazy checkpoint, but only one exploded aggregate exists)."""
    plan = _plan(spark, "docs_token_coverage")
    assert "CartesianProduct" not in plan  # the k-explode rides the vocab side
    # the 3-literal k array explode, plus the token explode when the
    # lazy checkpoint has not yet hidden it behind an RDD scan
    assert 1 <= plan.count(") Generate") <= 2, plan.count(") Generate")
    # the top-1000 must come from TakeOrdered (distributed heaps), not
    # a global rank-window sort
    assert "TakeOrderedAndProject" in plan


def test_cohort_ltv_no_extra_exchange_on_custkey(spark):
    """First-order dim and fact join share the o_custkey partitioning;
    no cartesian anywhere."""
    plan = _plan(spark, "orders_cohort_ltv")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_round6_windows_are_key_partitioned(spark):
    """The order-statistic/window queries added in round 6 keep every
    window partitioned by its group key (the chi2 cell table and the
    coverage vocab rank are deliberately exempt: both windows run over
    a cardinality-bounded aggregate, |cells| and |vocab|)."""
    for name, keys in (
        ("lineitem_weighted_median", {"l_returnflag"}),
        ("events_user_quantiles", {"event_type"}),
        ("orders_gap_stats", {"o_custkey"}),
        # share-of-year window keys on yr; the YoY lag keys on segment
        ("segment_share_yoy", {"yr", "segment"}),
    ):
        plan = _plan(spark, name)
        assert _window_partition_keys(plan) == keys, name
        assert "SinglePartition" not in plan, f"global exchange in {name}"


def test_ngram_novelty_no_pair_materialization(spark):
    """Novelty is first-occurrence join-back, never a doc-pair join:
    no cartesian, and the only joins are on the shingle key."""
    plan = _plan(spark, "docs_ngram_novelty")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quantile_sketch_is_partial_topk_with_pruned_scan(spark):
    """The sketch build must be TakeOrderedAndProject (per-partition
    partial bottom-k, never a full sort/shuffle of the input) and its
    scan must read only the id + value columns."""
    from bangumi_notion_data_integration_project_spark.operators.quantile_sketch import (
        quantile_sketch,
    )

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    sk = quantile_sketch(li, "l_extendedprice", ["l_orderkey", "l_linenumber"], k=256)
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas == ["l_orderkey:bigint,l_linenumber:int,l_extendedprice:double"]


def test_zipf_and_pmi_topk_are_take_ordered(spark):
    """Global top-N cuts (top-1000 vocab, top-50 collocations) must be
    TakeOrderedAndProject, not a single-partition full sort of the
    vocabulary/bigram tables."""
    for name in ("docs_zipf_fit", "docs_pmi_collocations"):
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, name


def test_pmi_unigram_lookups_are_broadcast(spark):
    """Both unigram-count joins and the scalar N/M joins broadcast —
    the bigram table never shuffles for a lookup."""
    plan = _plan(spark, "docs_pmi_collocations")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_acf_lag_pairing_is_broadcast_on_daily_agg(spark):
    """The lag-1..7 inequality self-join runs on the calendar-bounded
    daily aggregate via BroadcastNestedLoopJoin — acceptable exactly
    because both sides are O(days); the raw orders table must be
    aggregated before any join."""
    plan = _plan(spark, "revenue_acf")
    assert "BroadcastNestedLoopJoin" in plan
    # the joins only ever see the checkpointed daily aggregate (the
    # raw-orders groupBy ran inside the checkpoint job); nothing may
    # sort-merge or go cartesian
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Scan parquet" not in plan  # raw table never reaches this plan


def test_coverage_window_is_per_user(spark):
    """interval_coverage's running-max window partitions by user_id —
    a missing partition clause would serialize 100 TB through one
    task."""
    plan = _plan(spark, "events_user_coverage")
    assert "user_id" in _window_partition_keys(plan)


def test_segment_churn_km_windows_partition_by_segment(spark):
    """Every KM window (prev-ends sum, cumulative factor list) keys on
    the segment — no task ever holds more than one segment's
    duration-bounded aggregate."""
    plan = _plan(spark, "segment_churn_km")
    assert _window_partition_keys(plan) == {"c_mktsegment"}
    # (a global Exchange exists for the scalar max-orderdate aggregate
    # — one row — so no blanket SinglePartition assert here)
    assert "CartesianProduct" not in plan


def test_rake_run_split_window_is_per_row(spark):
    """RAKE's stopword-run window partitions by the per-row id — a
    missing partition clause would serialize the whole token stream
    through one task. Asserted on the operator's own frame: the
    registry query's localCheckpoint renders the subtree as Scan
    ExistingRDD in the outer plan. The outer plan still shows the
    broadcast word-score lookup and the TakeOrdered top-25 cut."""
    from bangumi_notion_data_integration_project_spark.operators.keywords import (
        phrase_occurrences,
    )

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    occ = phrase_occurrences(d, "doc_id", "text")
    inner = occ._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert any(
        k.startswith("__rid") for k in _window_partition_keys(inner)
    ), _window_partition_keys(inner)
    plan = _plan(spark, "docs_rake_keywords")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # global top-25 cut


def test_branching_entropy_joins_broadcast_and_topk_take_ordered(spark):
    """The top-25 token cut is TakeOrderedAndProject (never a full
    vocab sort) and every lookup join broadcasts — the vocab-scale
    bigram table is never shuffled for a join."""
    plan = _plan(spark, "docs_branching_entropy")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # top x2 sides + totals


def test_grouped_value_sketch_windows_key_on_event_type(spark):
    """The grouped sketch build and the per-group quantile extraction
    both window per event_type; the probe joins broadcast (estimates
    and bounds are tiny)."""
    plan = _plan(spark, "events_value_quantiles_sketch")
    assert _window_partition_keys(plan) == {"event_type"}
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_breakpoint_trend_is_one_window_pass(spark):
    """segmented_trend evaluates all candidate breakpoints from ONE
    prefix-moment window over the calendar-bounded daily aggregate —
    no join of the raw table, no quadratic rescans (the totals arrive
    via one broadcast)."""
    plan = _plan(spark, "orders_breakpoint_trend")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # raw orders were aggregated inside the localCheckpoint job; this
    # plan only ever sees the O(days) aggregate
    assert "Scan parquet" not in plan


def test_type_overlap_never_rescans_raw_for_estimates(spark):
    """The sketch-side estimates are computed from the stored per-type
    HLL sketches alone (one raw scan builds them; the exact-probe side
    is the validation harness); nothing goes cartesian unbounded —
    the only nested-loop join is the |types|² pair frame."""
    plan = _plan(spark, "events_type_overlap_sketch")
    # the ONLY shuffle join allowed is the user-level exact-
    # intersection probe (data-scale on both sides — sort-merge is the
    # right plan there); every sketch/pair/bound lookup broadcasts
    smj_nodes = re.findall(r"\(\d+\) SortMergeJoin", plan)
    assert len(smj_nodes) <= 1, plan
    assert "CartesianProduct" not in plan


def test_psi_edge_window_runs_on_distinct_value_aggregate(spark):
    """drift.psi_buckets promises its ordered cumulative-count window
    never ranks raw rows: the window's child chain must contain the
    distinct-value HashAggregate (keys=[__v]), so the implied single
    partition only ever holds O(distinct values). Asserted on the
    operator's pre-checkpoint frame (_ranked_distinct) — the registry
    query's plan hides it behind the lazy localCheckpoint."""
    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.drift import (
        _ranked_distinct,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    d = _ranked_distinct(orders, F.col("o_totalprice"))
    plan = d._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    i_win = next(i for i, l in enumerate(lines) if "Window" in l)
    i_agg = next(
        i
        for i, l in enumerate(lines)
        if "HashAggregate" in l and "__v" in l
    )
    i_scan = next(i for i, l in enumerate(lines) if "Scan parquet" in l)
    # tree is root-at-top: aggregate sits BELOW the window and ABOVE
    # the scan => it is in the window's child chain
    assert i_win < i_agg < i_scan, plan
    # and the scan reads only the value column
    assert _read_schemas(plan) == ["o_totalprice:double"], plan


def test_km_fold_windows_run_on_duration_aggregate(spark):
    """The bench tail's `WindowExec: No Partition Defined` warnings
    cluster on the KM family — km_survival's ordered at-risk/fold
    windows ARE unpartitioned by design, but only because their child
    is the per-duration aggregate (O(distinct durations), calendar-
    bounded), never raw subject rows. Pin that claim with the PSI-pin
    technique so the warning stays provably benign and a regression
    that ranks raw rows fails here, not in a 100 TB job."""
    from bangumi_notion_data_integration_project_spark.operators.stats import (
        km_survival,
    )

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    per_subject = o.select(
        (F.dayofmonth("o_orderdate") % 20).cast("long").alias("dur"),
        (F.col("o_orderkey") % 2).cast("long").alias("ev"),
    )
    plan = (
        km_survival(per_subject, "dur", "ev")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    lines = plan.splitlines()
    i_win = next(i for i, l in enumerate(lines) if "Window" in l)
    # the per-duration groupBy keyed on __t sits in the window's child
    # chain (root-at-top tree: window ABOVE aggregate ABOVE scan)
    i_agg = next(
        i
        for i, l in enumerate(lines)
        if "HashAggregate" in l and "__t" in l
    )
    i_scan = next(i for i, l in enumerate(lines) if "Scan parquet" in l)
    assert i_win < i_agg < i_scan, plan


def test_conversion_km_windows_sit_above_duration_aggregate(spark):
    """Same pin on the registered funnel variant: every Window node in
    events_conversion_km's executed plan must sit above the
    per-duration HashAggregate — the unpartitioned fold only ever sees
    the day-bounded step table."""
    df = QUERIES["events_conversion_km"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    wins = [i for i, l in enumerate(lines) if "Window" in l]
    assert wins, plan
    i_agg = next(
        i
        for i, l in enumerate(lines)
        if "HashAggregate" in l and "__t" in l
    )
    assert all(i < i_agg for i in wins), plan


R11_BATCH = [
    "revenue_mann_kendall",
    "orders_seasonal_mk",
    "revenue_sen_trend",
    "revenue_ship_ccf",
    "events_type_psi",
    "events_type_hampel",
    "lineitem_ols2",
    "events_type_mk",
    "events_markov_entropy",
    "parts_freq_cms",
    "orders_price_psi_sketch",
]


@pytest.mark.parametrize("name", R11_BATCH)
def test_r11_batch_no_cartesian(spark, name):
    """None of the r10-registered queries may go cartesian on a
    data-scaled frame — every nested-loop join in these plans is a
    broadcast of a 1-row aggregate / bounded calendar frame (the
    aggregate-not-filter house pattern)."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, name


def test_type_hampel_windows_partition_by_type(spark):
    """Grouped Hampel's rolling windows must partition by event_type —
    a dropped partition clause would serialize every type's series
    into one task."""
    plan = _plan(spark, "events_type_hampel")
    assert _window_partition_keys(plan) == {"event_type"}, plan


def test_ols2_is_one_aggregate_no_joins(spark):
    """ols_fit2 is one map-side-combinable nine-moment aggregate plus
    a scalar Cramer solve: no join of any kind in the plan, and the
    scan reads exactly the three feature columns."""
    plan = _plan(spark, "lineitem_ols2")
    assert "Join" not in plan, plan
    cols = {c.split(":")[0] for c in _read_schemas(plan)[0].split(",")}
    assert cols == {"l_quantity", "l_discount", "l_extendedprice"}, plan


def test_ccf_lag_pairing_all_broadcast(spark):
    """cross_correlation's lag pairing and scalar joins all broadcast
    (the deviation frame is the calendar-bounded day aggregate) — a
    SortMergeJoin here would mean a data-scaled shuffle crept in."""
    plan = _plan(spark, "revenue_ship_ccf")
    assert not re.findall(r"\(\d+\) SortMergeJoin", plan), plan


def test_parts_freq_cms_sketch_lookup_broadcasts(spark):
    """The CMS probe path broadcasts the <= depth*width-row sketch and
    the 1-row gates; no shuffle join anywhere (the only shuffles are
    the build's (d,w) groupBy and the exact top-k aggregate)."""
    plan = _plan(spark, "parts_freq_cms")
    assert not re.findall(r"\(\d+\) SortMergeJoin", plan), plan
    assert "CartesianProduct" not in plan


def test_type_breakpoint_argmin_window_partitions_by_type(spark):
    """segmented_trend_grouped's visible window (the per-group argmin
    rank — the prefix-moment pass hides behind the lazy checkpoint)
    must partition by event_type so no task holds more than one
    type's candidate set."""
    plan = _plan(spark, "events_type_breakpoint")
    assert "event_type" in _window_partition_keys(plan), plan
    assert "CartesianProduct" not in plan


def test_segment_holt_fold_is_grouped_no_cartesian(spark):
    """holt_linear_grouped assembles each segment's ordered series
    under its own groupBy key — one grouped aggregate, no window and
    no cartesian anywhere (the scalar-frame crossJoins of other
    queries don't exist here)."""
    plan = _plan(spark, "segment_holt")
    assert "CartesianProduct" not in plan
    assert "sort_array" in plan  # the ordered-fold carrier
    # the series fold happens inside a per-segment aggregate, not a
    # single-partition window
    assert "Window" not in plan


def test_word_graph_windows_are_per_row(spark):
    """word_graph's lead() pairing must partition by the per-row id —
    a dropped partition clause would serialize the whole token stream
    through one task (asserted on the operator's own pre-checkpoint
    frame; the registry query hides it behind weighted_pagerank's
    localCheckpoint)."""
    from bangumi_notion_data_integration_project_spark.operators.textrank import (
        word_graph,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    g = word_graph(docs, "doc_id", "text", window=2)
    plan = g._jdf.queryExecution().executedPlan().toString()
    keys = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    # the pairing windows key on the per-row id; the duplicate-doc_id
    # contract gate is a broadcast scalar AGGREGATE (doc_id-only
    # map-side groupBy), never a window over the text payload
    assert keys == {"__rid"}, keys
    assert "BroadcastNestedLoopJoin" in plan  # the one-row gate join


def test_set_sketch_window_partitions_by_key(spark):
    """set_sketch's bottom-k cut partitions by the sketch key (the
    registry query hides it behind a lazy checkpoint, so assert on
    the operator's own frame); the scan prunes to the id + key
    columns."""
    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.setsketch import (
        set_sketch,
    )

    e = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_type", "user_id", F.to_date("ts").alias("day")
    )
    sk = set_sketch(e, ["event_type"], ["user_id", "day"], k=512)
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "event_type" in set(
        re.findall(r"windowspecdefinition\((\w+)#", plan)
    ), plan
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas == ["ts:timestamp_ntz,user_id:bigint,event_type:string"], schemas


R12_BATCH = [
    "orders_price_mwu",
    "orders_price_ks",
    "events_type_mwu",
    "events_type_ks",
    "revenue_kendall_tau",
    "revenue_spearman",
    "revenue_pettitt",
    "segment_mk_bh",
    "lineitem_returns_ztest",
    "revenue_trimmed_mean",
]


@pytest.mark.parametrize("name", R12_BATCH)
def test_r12_batch_no_cartesian(spark, name):
    """None of the r11-registered drift-significance queries may go
    cartesian on a data-scaled frame — every nested-loop join in these
    plans is a broadcast of a 1-row aggregate / calendar-bounded frame
    (the aggregate-not-filter house pattern; kendall's pair join
    broadcasts the day aggregate)."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, name


def test_mwu_ks_fold_windows_run_on_distinct_value_aggregate(spark):
    """The global MWU/KS rank and ECDF windows ARE unpartitioned by
    design — but only because their child is the distinct-value
    sided-counts aggregate (keys=[__v]), never raw order rows: the
    psi/KM pin pattern, per-query for each new unpartitioned-fold
    registration (the standing house rule). The trimmed mean's span
    window rides the same contract. (executedPlan().toString() like
    the KM pin — formatted explain hides aggregate keys in the
    details section.)"""
    for name in ("orders_price_mwu", "orders_price_ks",
                 "revenue_trimmed_mean"):
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        wins = [i for i, l in enumerate(lines) if "Window" in l]
        aggs = [
            i
            for i, l in enumerate(lines)
            if "HashAggregate(keys=[__v" in l
        ]
        assert wins and aggs, name
        # root-at-top tree: every window must have the distinct-value
        # aggregate somewhere below it in its child chain
        for w in wins:
            assert any(a > w for a in aggs), (name, plan)


def test_grouped_mwu_ks_windows_partition_by_type(spark):
    """The grouped twins' cumulative windows must partition by the
    group key — a dropped partition clause would serialize every
    type's distinct values through one task."""
    for name in ("events_type_mwu", "events_type_ks"):
        plan = _plan(spark, name)
        assert _window_partition_keys(plan) == {"event_type"}, name


def test_rankcorr_windows_sit_above_day_aggregate(spark):
    """Spearman's two rank windows and Pettitt's three fold windows
    are unpartitioned by design — their children are the calendar-
    bounded daily aggregate, so the single partition holds O(days)
    rows at any fact volume (the KM pin): every Window node sits
    ABOVE a grouped HashAggregate which sits above the scan."""
    for name in ("revenue_spearman", "revenue_pettitt"):
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        wins = [i for i, l in enumerate(lines) if "Window" in l]
        # the daily groupBy (to_date alias) shows as a grouped
        # aggregate — any keyed HashAggregate below the deepest window
        # and above a scan proves the windows rank aggregated rows
        aggs = [
            i
            for i, l in enumerate(lines)
            if "HashAggregate(keys=[" in l
            and "HashAggregate(keys=[]" not in l
        ]
        scans = [i for i, l in enumerate(lines) if "Scan parquet" in l]
        assert wins and aggs and scans, name
        assert any(max(wins) < a < max(scans) for a in aggs), (name, plan)


def test_kendall_pair_join_broadcasts_day_aggregate(spark):
    """kendall_tau's pairwise concordance join must broadcast the
    calendar-bounded day frame — a SortMergeJoin here would mean the
    range condition shuffled a data-scaled frame; no window at all
    (the concordance sum is a plain aggregate)."""
    plan = _plan(spark, "revenue_kendall_tau")
    assert not re.findall(r"\(\d+\) SortMergeJoin", plan), plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "Window" not in plan, plan


def test_returns_ztest_is_counts_only_no_window_no_shuffle_join(spark):
    """The two-proportion z-test is four integer counts + one scalar
    expression: no window and no shuffle join anywhere; the scan reads
    exactly the flag and era columns."""
    plan = _plan(spark, "lineitem_returns_ztest")
    assert "Window" not in plan, plan
    assert not re.findall(r"\(\d+\) SortMergeJoin", plan), plan
    cols = {c.split(":")[0] for c in _read_schemas(plan)[0].split(",")}
    assert cols == {"l_returnflag", "l_shipdate"}, plan


def test_segment_mk_bh_rank_window_sits_on_segment_aggregate(spark):
    """The BH rank window is unpartitioned by design — its child is
    the per-segment MK collapse (O(segments) rows; the monthly MK
    chain hides behind the lazy localCheckpoint, pinned by
    events_type_mk's own plan tests). The customer dim join must
    broadcast."""
    plan = _plan(spark, "segment_mk_bh")
    assert "CartesianProduct" not in plan
    assert not re.findall(r"\(\d+\) SortMergeJoin", plan), plan


R13_BATCH = [
    "orders_price_w1",
    "orders_price_cvm",
    "orders_price_mood",
    "events_type_kw",
    "events_type_w1",
    "segment_returns_ztest",
    "segment_trimmed_mean",
]


@pytest.mark.parametrize("name", R13_BATCH)
def test_r13_batch_no_cartesian(spark, name):
    """None of the r12-registered playbook queries may go cartesian on
    a data-scaled frame — the only joins are the segment queries'
    key joins (customer dim broadcast, the segment_mk_bh precedent)
    and the grouped W1 totals join on the group key."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, name


def test_w1_cvm_mood_fold_windows_run_on_distinct_value_aggregate(spark):
    """The ungrouped W1/CvM/Mood ECDF windows ARE unpartitioned by
    design — but only because their child is the distinct-value
    sided-counts aggregate (keys=[__v]), never raw order rows: the
    psi/KM pin pattern, per-query for each new unpartitioned-fold
    registration (the standing house rule)."""
    for name in ("orders_price_w1", "orders_price_cvm",
                 "orders_price_mood"):
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        wins = [i for i, l in enumerate(lines) if "Window" in l]
        aggs = [
            i
            for i, l in enumerate(lines)
            if "HashAggregate(keys=[__v" in l
        ]
        assert wins and aggs, name
        for w in wins:
            assert any(a > w for a in aggs), (name, plan)


def test_kw_rank_windows_run_on_type_value_aggregate(spark):
    """The omnibus gate's two RANGE windows (pooled ≤-cumulative +
    the __v peer partition) are unpartitioned-or-value-partitioned by
    design — but only because their child is the per-(type, value)
    count aggregate, so the fold sees O(k·distinct values) rows at
    any fact volume (the VERDICT-r11 standing rule: pin the KW plan
    at registration time)."""
    df = QUERIES["events_type_kw"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    wins = [i for i, l in enumerate(lines) if "Window" in l]
    aggs = [
        i
        for i, l in enumerate(lines)
        if "HashAggregate(keys=[event_type" in l and ", __v" in l
    ]
    assert wins and aggs, plan
    for w in wins:
        assert any(a > w for a in aggs), plan
    # the scan reads exactly the type key and the value column
    schemas = set(_read_schemas(plan))
    assert schemas == {"event_type:string,value:double"}, plan


def test_grouped_w1_and_segment_trim_windows_partition_by_key(spark):
    """The grouped twins' cumulative windows must partition by their
    group key — a dropped partition clause would serialize every
    key's distinct values through one task."""
    assert _window_partition_keys(
        _plan(spark, "events_type_w1")
    ) == {"event_type"}
    assert _window_partition_keys(
        _plan(spark, "segment_trimmed_mean")
    ) == {"c_mktsegment"}


def test_segment_ztest_is_counts_only_no_window(spark):
    """The segment-grain z-test is one keyed count aggregate per side
    on top of the lineitem⋈orders key join (broadcast at test SF,
    shuffle-hash at scale — either is fine; a cartesian is not) with
    the customer dim broadcast; no window anywhere, and every scan
    reads only the join keys, the era column, and the flag."""
    plan = _plan(spark, "segment_returns_ztest")
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    schemas = set(_read_schemas(plan))
    assert schemas == {
        "l_orderkey:bigint,l_returnflag:string,l_shipdate:timestamp_ntz",
        "o_orderkey:bigint,o_custkey:bigint",
        "c_custkey:bigint,c_mktsegment:string",
    }, plan


def test_segment_trimmed_mean_broadcasts_customer_dim(spark):
    """The segment daily rollup joins orders to the customer dim via
    an explicit broadcast (the segment_mk_bh precedent) — an SMJ here
    would shuffle the fact table on c_custkey for a 5-value label."""
    plan = _plan(spark, "segment_trimmed_mean")
    assert not re.findall(r"\(\d+\) SortMergeJoin", plan), plan
    assert "BroadcastHashJoin" in plan, plan


def test_r14_ready_dunn_and_ab_plan_shapes(spark):
    """Plan pins for the r14-ready operators ahead of registration
    (the standing rule, applied early): Dunn's rank windows sit on the
    per-(group, value) count aggregate and its pair join is a
    broadcast of the O(k)-row group frame (BroadcastNestedLoopJoin on
    AGGREGATES — the aggregate-not-filter rule — never a cartesian of
    fact rows); Ansari-Bradley's fold window sits on the
    distinct-value sided-counts aggregate with a two-column read
    schema."""
    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        ansari_bradley,
        dunn_test,
    )

    e = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    plan = dunn_test(e, "event_type", "x")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    # the rank fold hides behind the lazy localCheckpoint pin (the
    # kendall precedent) — pin its shape directly on the shared
    # per-group aggregate both Dunn and the registered events_type_kw
    # ride (the KW registration pin covers the same fold end-to-end)
    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        _kw_per_group,
    )

    fold = _kw_per_group(e, "event_type", "x", [], "dunn_test")
    fplan = fold._jdf.queryExecution().executedPlan().toString()
    flines = fplan.splitlines()
    wins = [i for i, l in enumerate(flines) if "Window" in l]
    aggs = [
        i
        for i, l in enumerate(flines)
        if "HashAggregate(keys=[event_type" in l and ", __v" in l
    ]
    assert wins and aggs, fplan
    for w in wins:
        assert any(a > w for a in aggs), fplan

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    ref = o.filter(F.col("o_orderdate") < "1998-01-01").select("x")
    cur = o.filter(F.col("o_orderdate") >= "1998-01-01").select("x")
    plan2 = ansari_bradley(ref, cur, "x")._jdf.queryExecution(
    ).executedPlan().toString()
    lines2 = plan2.splitlines()
    wins2 = [i for i, l in enumerate(lines2) if "Window" in l]
    aggs2 = [
        i for i, l in enumerate(lines2)
        if "HashAggregate(keys=[__v" in l
    ]
    assert wins2 and aggs2, plan2
    for w in wins2:
        assert any(a > w for a in aggs2), plan2
    schemas = set(_read_schemas(plan2))
    assert schemas == {"o_totalprice:double,o_orderdate:timestamp_ntz"}, plan2


def test_r15_ready_jt_plan_shape(spark):
    """JT's dense (group × pooled distinct values) grid is a
    BROADCAST nested-loop of two aggregates (k-row group frame onto
    the distinct-value frame — the aggregate-not-filter rule), never
    a CartesianProduct or an SMJ of fact rows; both windows sit above
    keyed aggregates and the distinct-frame scans prune to single
    columns."""
    import re as _re

    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        jonckheere_terpstra,
    )

    e = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    plan = jonckheere_terpstra(e, "event_type", "x")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert not _re.findall(r"\(\d+\) SortMergeJoin", plan), plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    schemas = set(_read_schemas(plan))
    assert schemas <= {
        "event_type:string",
        "value:double",
        "event_type:string,value:double",
    }, plan


def test_r14_ready_chi2_homogeneity_plan_shape(spark):
    """The categorical-mix test is two keyed count aggregates merged
    on the category key: its only window (the totals stamp) sits on
    the O(categories) merged count frame, never raw fact rows, and
    there is no cartesian."""
    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        chi2_homogeneity,
    )

    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ref = e.filter(F.col("ts") < "2024-01-16").select("event_type")
    cur = e.filter(F.col("ts") >= "2024-01-16").select("event_type")
    plan = chi2_homogeneity(ref, cur, "event_type")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    lines = plan.splitlines()
    wins = [i for i, l in enumerate(lines) if "Window" in l]
    aggs = [
        i for i, l in enumerate(lines)
        if "HashAggregate(keys=[__cat" in l
        or "HashAggregate(keys=[event_type" in l
    ]
    assert wins and aggs, plan
    for w in wins:
        assert any(a > w for a in aggs), plan
    schemas = set(_read_schemas(plan))
    assert schemas == {"ts:timestamp_ntz,event_type:string"}, plan


R14_BATCH = [
    "events_type_dunn",
    "orders_price_ab",
    "events_type_jt",
    "events_mix_chi2",
    "events_mix_shares",
    "events_type_pettitt",
    "segment_kendall",
    "segment_spearman",
]


def test_r14_mix_shares_window_sits_on_category_aggregate(spark):
    """events_mix_shares' only window (the totals stamp) is the
    by-design unpartitioned fold over the O(categories) merged count
    frame, never raw event rows, and the scan reads exactly the
    category and era columns."""
    df = QUERIES["events_mix_shares"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    wins = [i for i, l in enumerate(lines) if "Window" in l]
    # the single-scan split projects event_type AS category below the
    # aggregate, so the count frame is keyed by category
    aggs = [
        i for i, l in enumerate(lines)
        if "HashAggregate(keys=[category" in l
    ]
    assert wins and aggs, plan
    for w in wins:
        assert any(a > w for a in aggs), plan
    schemas = set(_read_schemas(plan))
    assert schemas == {"ts:timestamp_ntz,event_type:string"}, plan


@pytest.mark.parametrize("name", R14_BATCH)
def test_r14_batch_no_cartesian(spark, name):
    """None of the r13-registered playbook queries may go cartesian
    on a data-scaled frame — Dunn's pair join and JT's dense grid are
    broadcast nested-loops of AGGREGATES (pinned separately below and
    in the r14-ready operator pins), the segment queries' only joins
    are the orders⋈broadcast-customer key join and the per-segment
    pairwise join over the calendar-bounded daily aggregate."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, name


def test_r14_grouped_rankcorr_windows_partition_by_key(spark):
    """The grouped Pettitt/Spearman registrations must partition every
    window by their group key over the per-key DAILY aggregate — a
    dropped partition clause would serialize all keys through one
    task (the grouped-W1 pin precedent)."""
    assert _window_partition_keys(
        _plan(spark, "events_type_pettitt")
    ) == {"event_type"}
    assert _window_partition_keys(
        _plan(spark, "segment_spearman")
    ) == {"c_mktsegment"}


def test_r14_segment_queries_broadcast_customer_dim(spark):
    """The segment daily rollup joins orders to the customer dim via
    an explicit broadcast (the segment_mk_bh precedent) and its scans
    read only the join key, the date, the price, and the segment
    label. segment_spearman exposes the join in its own plan;
    segment_kendall hides it behind the lazy localCheckpoint pin (the
    revenue_kendall_tau precedent), so the shared daily-frame shape
    is pinned directly."""
    from pyspark.sql import functions as F

    plan = _plan(spark, "segment_spearman")
    assert "BroadcastHashJoin" in plan, plan
    schemas = set(_read_schemas(plan))
    assert schemas == {
        "o_custkey:bigint,o_totalprice:double,o_orderdate:timestamp_ntz",
        "c_custkey:bigint,c_mktsegment:string",
    }, plan

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    daily = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", F.to_date("o_orderdate").alias("d"))
        .agg(F.count("*").alias("x"))
    )
    dplan = daily._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in dplan, dplan
    assert not re.findall(r"\(\d+\) SortMergeJoin", dplan), dplan


def test_r14_kendall_pair_join_keys_on_segment_over_daily_aggregate(spark):
    """segment_kendall's pairwise sign-product join must be a KEYED
    join on the segment (days² pairs PER SEGMENT over the bounded
    daily aggregate), never an unkeyed nested-loop of the whole daily
    frame against itself."""
    plan = _plan(spark, "segment_kendall")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_r14_registered_dunn_jt_ride_the_checkpointed_fold(spark):
    """Registry-level twins of the r14-ready operator pins (which
    assert the rank fold / dense grid sit on the per-(type, value)
    count aggregate): the REGISTERED queries hide that fold behind
    the lazy localCheckpoint pin, so here we assert exactly that —
    the plan reads the pinned frame (ExistingRDD), every raw events
    scan prunes to the two working columns, and nothing goes
    cartesian or SMJ on fact rows."""
    for name in ("events_type_dunn", "events_type_jt"):
        plan = _plan(spark, name)
        assert "ExistingRDD" in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)
        schemas = set(_read_schemas(plan))
        assert schemas <= {
            "event_type:string",
            "value:double",
            "event_type:string,value:double",
        }, (name, plan)


def test_r15_ready_bm_and_medk_plan_shapes(spark):
    """Plan pins for the r15-ready operators ahead of registration
    (the standing rule): Brunner-Munzel's fold window sits on the
    distinct-value sided-counts aggregate with a two-column read
    schema (the AB pin shape); the k-sample median test's pooled
    median window sits on the per-value totals of the per-(group,
    value) count aggregate, its group fold is keyed, and nothing
    goes cartesian (the broadcast of the one-row median frame is the
    Mood totals-join shape)."""
    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        brunner_munzel,
        median_test_k,
    )

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    ref = o.filter(F.col("o_orderdate") < "1998-01-01").select("x")
    cur = o.filter(F.col("o_orderdate") >= "1998-01-01").select("x")
    plan = brunner_munzel(ref, cur, "x")._jdf.queryExecution(
    ).executedPlan().toString()
    lines = plan.splitlines()
    wins = [i for i, l in enumerate(lines) if "Window" in l]
    aggs = [
        i for i, l in enumerate(lines)
        if "HashAggregate(keys=[__v" in l
    ]
    assert wins and aggs, plan
    for w in wins:
        assert any(a > w for a in aggs), plan
    schemas = set(_read_schemas(plan))
    assert schemas == {"o_totalprice:double,o_orderdate:timestamp_ntz"}, plan

    e = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    plan2 = median_test_k(e, "event_type", "x")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "CartesianProduct" not in plan2, plan2
    lines2 = plan2.splitlines()
    wins2 = [i for i, l in enumerate(lines2) if "Window" in l]
    aggs2 = [
        i
        for i, l in enumerate(lines2)
        if "HashAggregate(keys=[event_type" in l and ", __v" in l
    ]
    assert wins2 and aggs2, plan2
    for w in wins2:
        assert any(a > w for a in aggs2), plan2
    schemas2 = set(_read_schemas(plan2))
    assert schemas2 == {"event_type:string,value:double"}, plan2
