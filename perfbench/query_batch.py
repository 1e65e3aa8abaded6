"""``query_batch``: one batch of analyst queries from the registry.

Set-up generates the star-schema tables at ``SF`` from the seed. Each
round runs every query in ``ITERATIVE`` and then in ``SCAN``, in three
timed parts:

- build: ``QUERIES[name](spark, sf_dir)``, which includes any Spark
  jobs the query runs eagerly while it is constructed;
- plan: ``df._jdf.queryExecution().executedPlan()`` (analysis,
  optimisation and physical planning);
- exec: ``df.toArrow()``, the result brought to the driver.

Each result is hashed (order-insensitive, column order kept) and, after
the rounds, compared with the query's DuckDB oracle in ``ORACLES`` run
over the same files. For the default seed the oracle hashes must also
equal the ones pinned in ``expected.json``. When every result agrees
with its oracle, the oracle hashes go into the run record
(``oracle_hashes``), which is where the pins are copied from.
"""

from __future__ import annotations

import json
import os

from gen_tables import write_tables
from harness import Run, layer_figure, timed
from stats import arrow_rows, content_hash

CORES = 2
SF = 0.01

# construction-time driver syncs dominate these (ROADMAP direction 2)
ITERATIVE = (
    "parts_kcore",
    "parts_pagerank",
    "embedding_kmeans",
    "dedup_components",
    "ann_pq_topk",
    "docs_bpe_merges",
)
# read-only: catalog, Catalyst and execution, no eager jobs
SCAN = (
    "category_summary",
    "revenue_by_nation",
    "orders_cube",
    "top_parts_per_brand",
    "merge_upsert",
    "customer_rfm",
    "events_sessionize",
    "dedup_exact",
    "market_share",
    "promo_revenue",
    "orders_price_mwu",
    "orders_price_ks",
    "events_type_ks",
    "orders_price_w1",
    "orders_price_cvm",
    "events_mix_chi2",
    "lineitem_returns_ztest",
    "orders_price_mood",
)
FAMILIES = {"iterative": ITERATIVE, "scan": SCAN}
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


class QueryBatch:
    name = "query_batch"
    cores = CORES

    def __init__(self, run: Run):
        self.run = run
        self.sf_dir = os.path.join(run.work, "sf")
        self.results: list[tuple[int, str, str, list[str]]] = []  # round, query, hash, columns

    def setup(self) -> None:
        timed(self.run, "inputs_s", lambda: write_tables(self.run.seed, SF, self.sf_dir))

    def run_round(self, rnd: int) -> None:
        from bangumi_notion_data_integration_project_spark.queries import QUERIES

        run, spark = self.run, self.run.spark
        for name in ITERATIVE + SCAN:
            run.attempted += 1
            try:
                with run.tracer.span(f"queries.{name}", count_jobs=False):
                    df, _ = run.timed_part(f"queries.{name}.build", lambda: QUERIES[name](spark, self.sf_dir))
                    run.timed_part(f"queries.{name}.plan", lambda: df._jdf.queryExecution().executedPlan())
                    table, _ = run.timed_part(f"queries.{name}.exec", df.toArrow)
            except Exception as e:  # noqa: BLE001 - counted, the batch goes on
                run.fail(f"queries.{name}", repr(e))
                continue
            columns = [c.lower() for c in table.column_names]
            self.results.append((rnd, name, content_hash(arrow_rows(table)), columns))

    def finish(self) -> None:
        """Compare every result with its oracle (untimed)."""
        run = self.run
        oracle = oracle_hashes(self.sf_dir, {name: cols for _, name, _, cols in self.results})
        pinned = load_pins(run.seed)
        for name, h in oracle.items():
            if pinned is not None and pinned.get(name) != h:
                run.fail(f"queries.{name}", f"oracle hash {h} differs from the pinned {pinned.get(name)}")
        agree = True
        for rnd, name, h, _ in self.results:
            if h != oracle[name]:
                agree = False
                run.fail(f"queries.{name}", f"round {rnd} result hash {h} != oracle {oracle[name]}")
        if agree:
            run.record["oracle_hashes"] = oracle

    @staticmethod
    def per_layer(spans) -> dict[str, float]:
        out: dict[str, float] = {}
        totals: dict[str, float] = {}
        for family, names in FAMILIES.items():
            fam: dict[str, float] = {}
            for q in names:
                for key, part, figure in (
                    ("build_s", "build", "wall_s"),
                    ("build_jobs", "build", "jobs"),
                    ("plan_s", "plan", "wall_s"),
                    ("exec_s", "exec", "wall_s"),
                    ("exec_jobs", "exec", "jobs"),
                    ("exec_tasks", "exec", "tasks"),
                ):
                    v = layer_figure(spans, f"queries.{q}.{part}", figure)
                    out[f"queries.{q}.{key}"] = v
                    fam[key] = fam.get(key, 0) + v
            for key, v in fam.items():
                out[f"queries.{family}.{key}"] = v
                totals[key] = totals.get(key, 0) + v
        for key, v in totals.items():
            out[f"queries.{key}"] = v
        return out


def load_pins(seed: int) -> dict[str, str] | None:
    with open(EXPECTED, encoding="utf-8") as f:
        pins = json.load(f)
    if pins["seed"] != seed or pins["sf"] != SF:
        return None
    return pins["hashes"]


def oracle_hashes(sf_dir: str, columns: dict[str, list[str]]) -> dict[str, str]:
    """Hash of each query's DuckDB oracle over the files in ``sf_dir``,
    its columns put in the order Spark returned them."""
    import duckdb

    from bangumi_notion_data_integration_project_spark.catalog import TABLES
    from bangumi_notion_data_integration_project_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for name, cols in columns.items():
            rel = con.sql(ORACLES[name])
            ocols = [c.lower() for c in rel.columns]
            if sorted(ocols) != sorted(cols):
                out[name] = f"columns {ocols}"
                continue
            order = [ocols.index(c) for c in cols]
            out[name] = content_hash(tuple(r[i] for i in order) for r in rel.fetchall())
        return out
    finally:
        con.close()
