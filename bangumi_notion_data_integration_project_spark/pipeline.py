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
                      merge (data_loading_to_mysql_database.py:99-277)
4. ``notion_sync``  — readback diff → typed row-wise REST sink with
                      insert / update / soft-delete
                      (notion_data_ingestion.py:135-244, 294-402)

Everything distributed stays a DataFrame; driver-side work is limited
to planning metadata (probe totals) and run-report JSON.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .atomic import promote_dir, recover_dir, staging_path
from .operators.merge import merge_parts, merge_snapshot
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
    from pyspark.sql import Observation

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
    (reference implement_incremental_load :185-277): initial-load branch
    when the target is absent (M7), else anti/semi/union diff with
    NA-key passthrough, delete-when-absent semantics."""
    target_path = os.path.join(warehouse_dir, "fact_view_logs_incremental")
    if not recover_dir(target_path):
        if os.path.exists(target_path):  # incomplete, unrecoverable write
            shutil.rmtree(target_path)
        source.write.parquet(target_path)
        n = spark.read.parquet(target_path).count()
        return {"initial_load": n, "inserts": n, "deletes": 0, "updates": 0}

    target = spark.read.parquet(target_path)
    parts = merge_parts(source, target, key)
    counts = {
        "inserts": parts["inserts"].count(),
        "deletes": parts["deletes"].count(),
        "updates": parts["updates"].count(),
    }
    merged = merge_snapshot(source, target, key)
    # the merge reads the target it replaces → stage then promote
    # (rename-rename-delete, crash-recoverable: see atomic.py), never
    # overwrite a path that is an input of the running plan
    staging = staging_path(target_path)
    merged.write.mode("overwrite").parquet(staging)
    promote_dir(staging, target_path)
    counts["final_rows"] = spark.read.parquet(target_path).count()
    return counts


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
    insert-only; the doc's designed behavior is this full upsert."""
    props = {c: t for c, t in NOTION_PROPERTY_TYPES.items() if c in source.columns}
    if existing is None or not existing.columns:
        metrics = write_rest(source, transport, props, key_col=key)
        return {"inserted": metrics["success"], "updated": 0, "soft_deleted": 0,
                "errors": metrics["errors"]}

    parts = merge_parts(source, existing.select(key), key)
    ins = write_rest(parts["inserts"], transport, props, key_col=key)
    upd = write_rest(parts["updates"], transport, props, key_col=key)
    gone = parts["deletes"].withColumn("is_active", F.lit(False))
    dels = write_rest(
        gone, transport, {key: "number", "is_active": "checkbox"}, key_col=key
    )
    return {
        "inserted": ins["success"],
        "updated": upd["success"],
        "soft_deleted": dels["success"],
        "errors": ins["errors"] + upd["errors"] + dels["errors"],
    }


def run_report(path: str, **sections) -> str:
    """Run-report JSON (reference notion_output.json :447-458)."""
    with open(path, "w", encoding="utf-8") as f:
        json.dump(sections, f, ensure_ascii=False, indent=2, default=str)
    return path
