"""End-to-end pipeline: the reference's three ``main()`` chains restated
with explicit stage boundaries.

The reference chains its modules by *re-running* the upstream pipeline
inside each downstream main (data_loading_to_mysql_database.py:114,
notion_data_ingestion.py:306-309 — SURVEY §3.3's architectural smell).
Here the cycle is extracted once: ``extract`` probes every cell on the
driver, then runs one Spark job that fetches and flattens the non-empty
cells in a single ``mapInArrow`` pass (one task per core) and pins the
flattened items as a local checkpoint. Every later stage reads that
pinned snapshot, so the CSV export, the warehouse and the Notion sync
see the same rows and no stage re-fetches the API:

1. ``extract``      — probe → fetch + flatten → pinned items → raw /
                      analytics / summary DataFrames
                      (bangumi_data_ingestion.main, :553-590)
2. ``export_tables``— CSV (+ bounded Excel) presentation sinks (:467-548)
3. ``load_warehouse`` / ``incremental_load``
                    — column-pruned warehouse write, then keyed snapshot
                      merge: counts from one pass over ``key_diff``, one
                      staged write (data_loading_to_mysql_database.py:99-277)
4. ``notion_sync``  — the same ``key_diff`` against the readback → one
                      typed row-wise REST pass posting inserts, updates
                      and soft deletes (notion_data_ingestion.py:135-244, 294-402)

Everything distributed stays a DataFrame; driver-side work is limited
to planning metadata (probe totals) and run-report JSON.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .atomic import promote_dir, recover_dir, staging_path
from .operators.merge import DIFF_OP, key_diff
from .sinks.files import write_csv, write_excel
from .sinks.rest import write_rest
from .sources.bangumi import (
    analytics_table,
    category_summary,
    fetch_items,
    raw_table,
)
from .sources.rest import ReplayTransport

# Columns dropped before the warehouse load (reference drops 15
# presentation-only analytics columns, data_loading_to_mysql_database.py:130-141);
# intersected with existing columns like the reference's `existing_columns` guard.
WAREHOUSE_DROPPED_COLS = [
    f"tag_{i}_{f}" for i in range(1, 6) for f in ("name", "count")
] + ["collection_total", "eps", "country", "publisher", "author"]

# Notion property schema (reference notion_data_ingestion.py:106-119),
# plus the latent soft-delete checkbox (:223-225).
NOTION_PROPERTY_TYPES: dict[str, str] = {
    "name_cn": "title",
    "subject_id": "number",
    "score": "number",
    "rank": "number",
    "director": "rich_text",
    "studio": "rich_text",
    "air_date": "rich_text",
    "all_tags": "rich_text",
    "created_at": "date",
}


def extract(
    spark: SparkSession,
    *,
    cells: list[str],
    fixture_dir: str,
    user_id: str,
    page_limit: int = 100,
) -> dict[str, DataFrame]:
    """Stage 1: probe → fetch and flatten → the three reference tables.

    Every cell is probed once, on the driver (reference
    get_all_category_totals :328-359); the summary reports empty cells
    with 0 fetched (:487-499), and only the non-empty ones are fetched.
    Those sit in a local frame of min(cells, defaultParallelism)
    partitions, and one ``mapInArrow`` (``fetch_items``) pages through
    and flattens each partition's cells in a single Python pass, one
    task per partition.

    Runs exactly one Spark job: the flattened items are materialized
    with an eager ``localCheckpoint`` (the reference's one-shot
    in-memory frame), which also cuts the lineage back to the source.
    The returned tables are lazy views over that snapshot, so no later
    action re-reads the pages, and a live API that changes mid-cycle
    cannot give two stages different rows. The checkpoint's blocks are
    freed by Spark's ContextCleaner once the tables are dropped."""
    transport = ReplayTransport(fixture_dir)
    totals = [(c, transport.probe_total(c)) for c in cells]
    live = [(c, n) for c, n in totals if n > 0]
    # A list frame leaves the items' size unknown to the planner (a local
    # Arrow relation would size them at a few bytes per cell and make
    # later joins broadcast them), but Spark slices it into
    # defaultParallelism partitions, empty ones too when cells are few:
    # coalescing merges those away.
    tasks = max(1, min(len(live), spark.sparkContext.defaultParallelism))
    probed = spark.createDataFrame(live, "cell_id string, total bigint").coalesce(tasks)
    items = fetch_items(probed, transport, page_limit).localCheckpoint(eager=True)
    totals_df = spark.createDataFrame(totals, "cell_id string, total_items bigint")
    return {
        "raw": raw_table(items, user_id),
        "analytics": analytics_table(items),
        "summary": category_summary(items, totals_df),
    }


def export_tables(tables: dict[str, DataFrame], out_dir: str) -> dict[str, str]:
    """Stage 2: presentation sinks — one BOM CSV per table (reference
    :522-524) and a 3-sheet Excel workbook when openpyxl is present
    (:479-516)."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, df in tables.items():
        paths[name] = write_csv(
            df, os.path.join(out_dir, name), single_file=True, bom=True
        )
    try:
        paths["excel"] = write_excel(
            tables, os.path.join(out_dir, "bangumi_collections.xlsx")
        )
    except NotImplementedError:
        paths["excel"] = None  # engine not installed; CSVs are authoritative
    return paths


def load_warehouse(tables: dict[str, DataFrame], warehouse_dir: str) -> dict[str, int]:
    """Stage 3a: column-pruned analytics + raw tables to the warehouse
    (parquet stands in for the JDBC target; the sink choice is a
    one-line swap to ``sinks.jdbc.write_jdbc``)."""
    analytics = tables["analytics"]
    keep_dropping = [c for c in WAREHOUSE_DROPPED_COLS if c in analytics.columns]
    slim = analytics.drop(*keep_dropping)
    # single-pass metrics (SURVEY §2.5 A5): df.observe piggybacks the
    # counts on the write action itself — the reference's len(df)
    # bookkeeping without a second scan of the table
    obs = Observation("warehouse_metrics")
    metric_cols = [F.count(F.lit(1)).alias("n_rows")]
    if "subject_id" in slim.columns:
        metric_cols.append(
            F.count_if(F.col("subject_id").isNull()).alias("null_keys")
        )
    slim = slim.observe(obs, *metric_cols)
    slim.write.mode("overwrite").parquet(os.path.join(warehouse_dir, "fact_view_logs"))
    tables["raw"].write.mode("overwrite").parquet(
        os.path.join(warehouse_dir, "fact_view_logs_raw")
    )
    return {"analytics_cols_dropped": len(keep_dropping), **obs.get}


def incremental_load(
    spark: SparkSession,
    source: DataFrame,
    warehouse_dir: str,
    *,
    key: str = "subject_id",
) -> dict[str, int]:
    """Stage 3b: keyed snapshot merge into ``fact_view_logs_incremental``
    (reference implement_incremental_load :185-277). Full sync makes the
    source, NA keys included, the new target: staged and promoted
    (crash-recoverable, see atomic.py; an incomplete leftover is
    replaced) and counted by ``observe`` on that write. With no complete
    target the load is initial (M7), else one aggregate over ``key_diff``
    counts the inserts, deletes and updates (NA keys in none)."""
    target_path = os.path.join(warehouse_dir, "fact_view_logs_incremental")
    merge = recover_dir(target_path)
    if merge:
        op = F.col(DIFF_OP)
        counts = key_diff(source, spark.read.parquet(target_path), key).agg(
            *[F.count_if(op == o).alias(f"{o}s") for o in ("insert", "delete", "update")]
        ).first().asDict()
    obs = Observation("incremental_load")
    staging = staging_path(target_path)
    source.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(staging)
    promote_dir(staging, target_path)
    n = obs.get["rows"]
    if not merge:
        return {"initial_load": n, "inserts": n, "deletes": 0, "updates": 0}
    return {**counts, "final_rows": n}


def notion_sync(
    source: DataFrame,
    existing: DataFrame | None,
    transport,
    *,
    key: str = "subject_id",
) -> dict[str, int]:
    """Stage 4: full sync against the readback snapshot — insert rows
    absent from the sink, re-post rows present in both (the reference
    rewrites all common rows, :250-262), and soft-delete sink rows
    absent from the source by posting ``is_active=false``
    (notion_data_ingestion.py:206-244). The shipped reference flow is
    insert-only; the doc's designed behavior is this full upsert.

    One ``write_rest`` pass posts all three (every row is an insert when
    there is no readback). NULL properties are omitted, so only a soft
    delete carries ``is_active``, and nothing but it and the key."""
    props = {c: t for c, t in NOTION_PROPERTY_TYPES.items() if c in source.columns}
    if existing is None or not existing.columns:
        rows = source.withColumn(DIFF_OP, F.lit("insert"))
    else:
        rows = key_diff(source, existing, key)
    rows = rows.withColumn("is_active", F.when(F.col(DIFF_OP) == "delete", False))
    posted = write_rest(rows, transport, {**props, "is_active": "checkbox"}, key, op_col=DIFF_OP)
    return {"inserted": posted.get("insert", 0), "updated": posted.get("update", 0),
            "soft_deleted": posted.get("delete", 0), "errors": posted["errors"]}


def run_report(path: str, **sections) -> str:
    """Run-report JSON (reference notion_output.json :447-458)."""
    with open(path, "w", encoding="utf-8") as f:
        json.dump(sections, f, ensure_ascii=False, indent=2, default=str)
    return path
