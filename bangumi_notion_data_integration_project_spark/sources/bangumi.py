"""Bangumi collection flatten: probed cells → item rows → raw /
analytics / summary tables.

The one place Python touches row data: ``fetch_items`` runs one
``mapInArrow`` over the probed cells that pages through each cell
(``sources/rest.offset_pages``), flattens every item and yields one
Arrow batch per cell. The infobox payload is ragged — values are
string | {"v": ...} | list[dict|string] (reference parse_infobox,
bangumi_data_ingestion.py:263-295) — which defeats any static
from_json schema (SURVEY §7.3 risk 1), so it is normalized in Python
on the way into the batch. Everything downstream of that boundary is
native Catalyst expressions.

Reference parity map:
- item flatten + projection  → bangumi_data_ingestion.py:391-431 (P1)
- infobox normalize          → :263-295 (J1)
- summary truncation to 500  → :322 (P2)
- timestamp coerce+tz-strip  → :397-403 (P9)
- display-name coalesce      → :438 (P3; "" is falsy)
- infobox multi-key coalesce → :446-450 (P4)
- 5-slot tag pivot           → :297-307, :454-455 (J2/T1)
- all_tags join              → :457-459 (J4)
- tags_raw/infobox_raw JSON  → :429-430 (J5)
- category summary           → :487-499 (A1-A4)
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Iterator
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

from ..functions.scalar import coalesce_nonempty, map_multikey_coalesce, truncate_str
from ..functions.semistructured import array_join_nonnull, positional_pivot, tags_to_names
from .rest import PAGE_LIMIT, offset_pages

ITEMS_SCHEMA = (
    "cell_id string, subject_id bigint, created_at string, updated_at string, "
    "ep_status bigint, vol_status bigint, name string, name_cn string, "
    "score double, rank bigint, collection_total bigint, eps bigint, "
    "volumes bigint, date string, type bigint, short_summary string, "
    "tags array<struct<name: string, count: bigint>>, "
    "infobox map<string, string>, tags_raw string, infobox_raw string"
)


def normalize_infobox_value(value: Any) -> str | None:
    """Reference parse_infobox value rules (:277-291): scalar → str,
    {"v": x} → str(x), list → ", ".join of each element's "v" (dicts)
    or str (scalars); empty after strip → dropped (None here)."""
    if value is None:
        return None
    if isinstance(value, dict):
        value = value.get("v", "")
    if isinstance(value, list):
        parts = []
        for el in value:
            if isinstance(el, dict):
                v = el.get("v", "")
            else:
                v = el
            v = str(v).strip()
            if v:
                parts.append(v)
        value = ", ".join(parts)
    s = str(value).strip()
    return s or None


def _flatten_item(cell_id: str, item: dict) -> dict:
    subject = item.get("subject") or {}
    tags = subject.get("tags") or []
    tag_structs = [
        {"name": t.get("name"), "count": t.get("count")} for t in tags if isinstance(t, dict)
    ]
    infobox: dict[str, str] = {}
    for entry in subject.get("infobox") or []:
        if not isinstance(entry, dict):
            continue
        key = str(entry.get("key") or "").strip()
        if not key:
            continue  # empty keys dropped (:271-273)
        val = normalize_infobox_value(entry.get("value"))
        if val is not None:
            infobox[key] = val
    return {
        "cell_id": cell_id,
        "subject_id": subject.get("id"),
        "created_at": item.get("created_at"),
        "updated_at": item.get("updated_at"),
        "ep_status": item.get("ep_status"),
        "vol_status": item.get("vol_status"),
        "name": subject.get("name"),
        "name_cn": subject.get("name_cn"),
        "score": subject.get("score"),
        "rank": subject.get("rank"),
        "collection_total": subject.get("collection_total"),
        "eps": subject.get("eps"),
        "volumes": subject.get("volumes"),
        "date": subject.get("date"),
        "type": subject.get("type"),
        "short_summary": subject.get("short_summary"),
        "tags": tag_structs,
        "infobox": infobox,
        "tags_raw": json.dumps(tags, ensure_ascii=False),
        "infobox_raw": json.dumps(subject.get("infobox"), ensure_ascii=False),
    }


def items_arrow_schema() -> pa.Schema:
    """``ITEMS_SCHEMA`` as an Arrow schema. Call it on the driver: the
    DDL parser lives in the JVM."""
    return to_arrow_schema(_parse_datatype_string(ITEMS_SCHEMA))


def items_batch(cell_id: str, pages: Iterable[dict], schema: pa.Schema) -> pa.RecordBatch:
    """One cell's pages as one Arrow batch in ``schema``
    (``items_arrow_schema()``): a ``_flatten_item`` row per item, with
    the infobox dict as the ``(key, value)`` list an Arrow map takes."""
    rows = []
    for payload in pages:
        for item in payload.get("data") or []:
            row = _flatten_item(cell_id, item)
            row["infobox"] = list(row["infobox"].items())
            rows.append(row)
    return pa.RecordBatch.from_pylist(rows, schema=schema)


def fetch_items(cells: DataFrame, transport, page_limit: int = PAGE_LIMIT) -> DataFrame:
    """Fetch and flatten in one Python pass: one ``mapInArrow`` over a
    ``cell_id`` frame runs the page loop for each cell in its partition
    and yields that cell's items as one batch, one row per collection
    item in ``ITEMS_SCHEMA``. Pages never cross into the JVM as JSON."""
    schema = items_arrow_schema()

    def fetch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for cell_id in batch.column("cell_id").to_pylist():
                pages = (p for _, p in offset_pages(transport, cell_id, page_limit))
                yield items_batch(cell_id, pages, schema)

    return cells.mapInArrow(fetch, ITEMS_SCHEMA)


def raw_table(items: DataFrame, user_id: str) -> DataFrame:
    """F2 raw_collections (reference raw row :409-431)."""
    cell = F.split("cell_id", "_")
    return items.select(
        F.lit(user_id).alias("user_id"),
        "subject_id",
        F.try_element_at(cell, F.lit(1)).cast("int").alias("subject_type"),
        F.try_element_at(cell, F.lit(2)).cast("int").alias("collection_type"),
        F.try_to_timestamp("created_at").alias("created_at"),
        F.try_to_timestamp("updated_at").alias("updated_at"),
        "ep_status",
        "vol_status",
        "name",
        "name_cn",
        "score",
        "rank",
        "collection_total",
        "eps",
        "volumes",
        "date",
        "type",
        truncate_str("short_summary", 500).alias("short_summary"),
        tags_to_names("tags").alias("tags"),
        "tags_raw",
        "infobox_raw",
    )


def analytics_table(items: DataFrame) -> DataFrame:
    """F3 analytics_collections (reference analytics row :434-461)."""
    cell = F.split("cell_id", "_")
    return items.select(
        "subject_id",
        F.try_element_at(cell, F.lit(1)).cast("int").alias("subject_type"),
        F.try_element_at(cell, F.lit(2)).cast("int").alias("collection_type"),
        coalesce_nonempty("name_cn", "name").alias("name_cn"),
        "score",
        "rank",
        "collection_total",
        F.try_to_timestamp("created_at").alias("created_at"),
        F.try_to_timestamp("updated_at").alias("updated_at"),
        "eps",
        F.col("date").alias("air_date"),
        map_multikey_coalesce("infobox", "导演", "監督").alias("director"),
        map_multikey_coalesce("infobox", "动画制作", "アニメーション制作").alias("studio"),
        map_multikey_coalesce("infobox", "国家/地区", "国").alias("country"),
        map_multikey_coalesce("infobox", "出版社", "発売元").alias("publisher"),
        map_multikey_coalesce("infobox", "作者", "著者").alias("author"),
        *positional_pivot("tags", 5, ["name", "count"], "tag"),
        array_join_nonnull(tags_to_names("tags")).alias("all_tags"),
    )


def category_summary(items: DataFrame, totals: DataFrame) -> DataFrame:
    """F4 category summary (reference :487-499): fetched counts per cell
    joined against probe totals, completion % with zero guard (:495)."""
    fetched = items.groupBy("cell_id").agg(
        F.count("*").cast("long").alias("fetched_items"),
        F.ceil(F.count("*") / PAGE_LIMIT).cast("long").alias("pages_fetched"),
    )
    joined = totals.join(fetched, "cell_id", "left").fillna(
        {"fetched_items": 0, "pages_fetched": 0}
    )
    return joined.select(
        "cell_id",
        "total_items",
        "fetched_items",
        "pages_fetched",
        F.when(
            F.col("total_items") > 0,
            F.round(F.col("fetched_items") / F.col("total_items") * 100.0, 2),
        )
        .otherwise(F.lit(0.0))
        .alias("completion_pct"),
    )
