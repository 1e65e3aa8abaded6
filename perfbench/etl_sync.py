"""``etl_sync``: one sync cycle of the reference job, then a refresh of
the event stream.

Set-up writes the replay pages of snapshot 1, the warehouse target as
the previous cycle left it (snapshot 0's keys, see
``write_previous_target``), and the streaming upsert target as batch 0
left it. It runs no Spark job.

Round ``r`` (from 1) then runs, each step timed and checked:

1. ``pipeline.extract`` of snapshot ``r`` (lazy: no Spark job);
2. ``pipeline.export_tables`` - three BOM CSVs (the Excel sink finds no
   engine and is skipped, as the program decides);
3. ``pipeline.load_warehouse``;
4. ``pipeline.incremental_load`` - the merge branch, with ``CHURN``
   inserts and deletes and ``SIZE - CHURN`` updates;
5. ``pipeline.notion_sync`` into a fresh ``FileTransport`` directory,
   against the ids synced by the previous cycle;
6. ``streaming.refresh`` - event batch ``r`` lands in the stream's input
   directory, then ``start_streaming_upsert`` (keyed on ``event_id``,
   last ``ts`` wins) and ``start_streaming_time_rollup`` each run with
   ``availableNow``.
"""

from __future__ import annotations

import csv
import glob
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from gen_bangumi import CELLS, CHURN, SIZE, Collection
from gen_events import SCHEMA, EventStream, latest_by_key, value_cents
from harness import Run, layer_figure, timed
from stats import arrow_rows, content_hash

CORES = 2
USER = "perfbench"
STREAM_TIMEOUT_S = 60

PIPELINE_CALLS = ("extract", "export_tables", "load_warehouse", "incremental_load", "notion_sync")


class EtlSync:
    name = "etl_sync"
    cores = CORES

    def __init__(self, run: Run):
        self.run = run
        self.collection = Collection(run.seed)
        self.events = EventStream(run.seed)
        self.wh = os.path.join(run.work, "warehouse")
        self.stream_in = os.path.join(run.work, "stream_in")
        self.target = os.path.join(run.work, "stream_target")
        self.rollup = os.path.join(run.work, "stream_rollup")

    def pages(self, rnd: int) -> str:
        d = os.path.join(self.run.work, f"pages{rnd}")
        if not os.path.isdir(d):
            self.collection.write_pages(rnd, d)
        return d

    # -- set-up -------------------------------------------------------
    def setup(self) -> None:
        from bangumi_notion_data_integration_project_spark.sources.bangumi import (
            ITEMS_SCHEMA,
            analytics_table,
        )

        run, spark = self.run, self.run.spark

        def inputs():
            self.pages(1)
            os.makedirs(self.stream_in)
            self.events.write_target(self.target)
            # the analytics schema, from an empty frame: analysis only, no job
            schema = analytics_table(spark.createDataFrame([], ITEMS_SCHEMA)).schema
            write_previous_target(os.path.join(self.wh, "fact_view_logs_incremental"),
                                  schema, self.collection.ids(0))

        timed(run, "inputs_s", inputs)

    # -- one round ----------------------------------------------------
    def run_round(self, rnd: int) -> None:
        from bangumi_notion_data_integration_project_spark import pipeline
        from bangumi_notion_data_integration_project_spark.sinks.rest import FileTransport

        run, spark = self.run, self.run.spark
        col = self.collection
        ids, prev = col.ids(rnd), col.ids(rnd - 1)
        retired = sorted(set(prev) - set(ids))
        delta = col.delta()
        export_dir = os.path.join(run.work, f"export{rnd}")
        notion_dir = os.path.join(run.work, f"notion{rnd}")
        os.makedirs(notion_dir)
        pages = self.pages(rnd)
        # the sink's readback: what the previous cycle synced
        existing = spark.createDataFrame([(i,) for i in prev], "subject_id long")
        self.events.write_batch(rnd, os.path.join(self.stream_in, f"batch-{rnd:05d}.parquet"))

        tables = run.op(
            "pipeline.extract",
            lambda: pipeline.extract(spark, cells=CELLS, fixture_dir=pages, user_id=USER),
            lambda out, _: None if set(out) == {"raw", "analytics", "summary"} else f"tables {sorted(out)}",
        )
        if tables is None:
            for name in [f"pipeline.{c}" for c in PIPELINE_CALLS[1:]] + ["streaming.refresh"]:
                run.attempted += 1
                run.fail(name, "not run: extract failed")
            return

        def check_export(paths, _):
            counts = {name: _csv_records(paths[name]) for name in ("raw", "analytics", "summary")}
            want = {"raw": SIZE, "analytics": SIZE, "summary": len(CELLS)}
            if counts != want:
                return f"CSV records {counts}, expected {want}"
            for name in want:
                with open(paths[name], "rb") as f:
                    if f.read(3) != b"\xef\xbb\xbf":
                        return f"{name}.csv has no BOM"
            return None

        run.op("pipeline.export_tables", lambda: pipeline.export_tables(tables, export_dir), check_export)

        run.op(
            "pipeline.load_warehouse",
            lambda: pipeline.load_warehouse(tables, self.wh),
            _expect({"analytics_cols_dropped": 15, "n_rows": SIZE, "null_keys": 0}),
        )

        def check_incremental(got, _):
            want = {"inserts": delta.inserts, "deletes": delta.deletes,
                    "updates": delta.updates, "final_rows": SIZE}
            if got != want:
                return f"{got}, expected {want}"
            path = os.path.join(self.wh, "fact_view_logs_incremental")
            keys = pq.read_table(path, columns=["subject_id"]).column(0).to_pylist()
            return None if sorted(keys) == ids else "target keys differ from snapshot"

        run.op(
            "pipeline.incremental_load",
            lambda: pipeline.incremental_load(spark, tables["analytics"], self.wh),
            check_incremental,
        )

        def check_notion(got, span):
            want = {"inserted": delta.inserts, "updated": delta.updates,
                    "soft_deleted": delta.deletes, "errors": 0}
            span.attrs["rows_posted"] = got["inserted"] + got["updated"] + got["soft_deleted"]
            span.attrs["rows_failed"] = got["errors"]
            if got != want:
                return f"{got}, expected {want}"
            posted = []
            for p in glob.glob(os.path.join(notion_dir, "part-*.jsonl")):
                with open(p, encoding="utf-8") as f:
                    posted += [json.loads(line) for line in f]
            gone = sorted(p["__key"] for p in posted if "is_active" in p["properties"])
            kept = sorted(p["__key"] for p in posted if "is_active" not in p["properties"])
            if gone != retired or kept != ids:
                return "posted keys differ from the expected diff"
            return None

        run.op(
            "pipeline.notion_sync",
            lambda: pipeline.notion_sync(tables["analytics"], existing, FileTransport(notion_dir)),
            check_notion,
        )

        run.op("streaming.refresh", self._refresh, lambda qs, span: self._check_stream(rnd, qs, span),
               count_jobs=False)

    def _refresh(self):
        from pyspark.sql import functions as F

        from bangumi_notion_data_integration_project_spark.streaming.incremental import (
            read_event_stream,
            start_streaming_time_rollup,
            start_streaming_upsert,
        )

        spark, work = self.run.spark, self.run.work
        upsert = start_streaming_upsert(
            read_event_stream(spark, self.stream_in, SCHEMA),
            self.target,
            "event_id",
            os.path.join(work, "ckpt_upsert"),
            dedup_order="ts",
        )
        _await(upsert)
        rollup = start_streaming_time_rollup(
            read_event_stream(spark, self.stream_in, SCHEMA),
            self.rollup,
            ts_col="ts",
            value_cents=F.round(F.col("value") * 100, 0),
            checkpoint_dir=os.path.join(work, "ckpt_rollup"),
        )
        _await(rollup)
        return upsert, rollup

    def _check_stream(self, rnd, queries, span):
        from bangumi_notion_data_integration_project_spark.operators.rollup import GRAINS

        upsert, rollup = queries
        for label, q in (("upsert", upsert), ("rollup", rollup)):
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
            span.attrs[f"{label}.batch_s"] = sum(p["durationMs"]["triggerExecution"] for p in progress) / 1000
            span.attrs[f"{label}.add_batch_s"] = sum(p["durationMs"]["addBatch"] for p in progress) / 1000
            span.attrs[f"{label}.input_rows"] = sum(p["numInputRows"] for p in progress)
        batches = [self.events.batch(n) for n in range(0, rnd + 1)]
        target = pq.read_table(self.target)
        span.attrs["target_rows"] = target.num_rows
        want = latest_by_key(batches)
        if content_hash(arrow_rows(target)) != content_hash(arrow_rows(want)):
            return f"upsert target ({target.num_rows} rows) differs from expected ({want.num_rows} rows)"
        values = [v for b in batches[1:] for v in b.column("value").to_pylist()]
        stored = pq.read_table(self.rollup).to_pylist()
        if {r["grain"] for r in stored} != set(GRAINS):
            return f"rollup grains {sorted({r['grain'] for r in stored})}, expected {list(GRAINS)}"
        for grain in GRAINS:
            rows = [r for r in stored if r["grain"] == grain]
            got = (sum(r["n_events"] for r in rows), sum(r["value_cents"] for r in rows))
            if got != (len(values), value_cents(values)):
                return f"rollup {grain} totals {got}, expected {(len(values), value_cents(values))}"
        return None

    # -- per-layer metrics -------------------------------------------
    @staticmethod
    def per_layer(spans) -> dict[str, float]:
        out = {}
        for call in PIPELINE_CALLS:
            for key in ("wall_s", "jobs", "tasks"):
                out[f"pipeline.{call}.{key}"] = layer_figure(spans, f"pipeline.{call}", key)
        for key in ("rows_posted", "rows_failed"):
            out[f"sinks.rest.{key}"] = layer_figure(spans, "pipeline.notion_sync", key)
        out["streaming.refresh.wall_s"] = layer_figure(spans, "streaming.refresh", "wall_s")
        for key in ("upsert.batch_s", "upsert.add_batch_s", "upsert.input_rows",
                    "rollup.batch_s", "rollup.add_batch_s", "target_rows"):
            out[f"streaming.{key}"] = layer_figure(spans, "streaming.refresh", key)
        return out


def write_previous_target(path: str, schema, keys: list[int]) -> None:
    """Write the ``incremental_load`` target of the previous cycle with
    pyarrow: the analytics columns, ``keys`` as ``subject_id`` and every
    other column null, and a ``_SUCCESS`` marker. The merge branch reads
    only the key column of its target (full-sync semantics: the new
    state is the source), so the other values do not change its work."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    arrow = pa.schema([f.with_nullable(True) for f in arrow])
    columns = [pa.array(keys, f.type) if f.name == "subject_id" else pa.nulls(len(keys), f.type)
               for f in arrow]
    os.makedirs(path)
    pq.write_table(pa.Table.from_arrays(columns, schema=arrow), os.path.join(path, "part-00000.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()


def _expect(want: dict):
    return lambda got, _: None if got == want else f"{got}, expected {want}"


def _csv_records(path: str) -> int:
    with open(path, encoding="utf-8-sig", newline="") as f:
        return sum(1 for _ in csv.reader(f)) - 1  # minus the header


def _await(query) -> None:
    if not query.awaitTermination(STREAM_TIMEOUT_S):
        query.stop()
        raise TimeoutError(f"stream {query.name or query.id} still running after {STREAM_TIMEOUT_S} s")
    if query.exception() is not None:
        raise RuntimeError(f"stream failed: {query.exception()}")
