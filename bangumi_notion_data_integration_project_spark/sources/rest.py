"""Paginated REST scan: transports, the offset page loop, and a Spark 4
Python Data Source over them.

Reference semantics (SURVEY §2.1): offset pagination with page size 100
(S1, bangumi_data_ingestion.py:155-258), a limit=1 count probe sizing
each scan (S2, :105-153), one scan cell per (subject_type,
collection_type) pair pruned when empty (S3, :328-359), retry with
exponential backoff and a 429 penalty sleep (S6, :66-90,117-147).

``offset_pages`` is the one copy of the offset page loop. Two callers
page through it:

- ``pipeline.extract`` (the sync path) probes every cell once on the
  driver and runs the loop inside one ``mapInArrow`` that also flattens
  the items (``sources/bangumi.fetch_items``), at most one task per core.
- ``spark.read.format("paginated_rest")`` (``PaginatedRestDataSource``),
  the public connector: one ``InputPartition`` per non-empty cell,
  emitting raw page JSON (one row per page). It also serves the
  cursor-paginated readback (S5), which has no count probe.

Transports:
- ``HttpTransport`` — requests.Session with urllib3 Retry (429/5xx),
  exponential backoff, politeness delay. Never used in tests.
- ``ReplayTransport`` — reads recorded page JSON from a fixture
  directory: ``{cell_id}_page{N}.json`` (deterministic, no network).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Iterator

# patchable alias: tests mock THIS, not time.sleep — patching the global
# time module's sleep intercepts every other thread in the process (Spark
# pollers spin on time.sleep(1)) and floods the recording
_sleep = time.sleep
from dataclasses import dataclass

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

PAGE_LIMIT = 100  # reference LIMIT, bangumi_data_ingestion.py:46
MAX_RETRIES = 3  # :49
RETRY_BACKOFF = 1.0  # :52  (sleep = RETRY_BACKOFF * 2**attempt)
RATE_LIMIT_SLEEP = 10.0  # 429 penalty, :186-189


class ReplayTransport:
    """Deterministic page transport reading fixture files.

    Layout: ``{fixture_dir}/{cell_id}_page{N}.json`` where N is the
    0-based page index; each file is one API page payload
    (FIXTURES.md F1). Picklable → usable inside executor-side readers.
    """

    def __init__(self, fixture_dir: str):
        self.fixture_dir = fixture_dir

    def fetch_page(self, cell_id: str, page_index: int, limit: int) -> dict:
        path = os.path.join(self.fixture_dir, f"{cell_id}_page{page_index}.json")
        if not os.path.exists(path):
            return {"total": 0, "limit": limit, "offset": page_index * limit, "data": []}
        with open(path, encoding="utf-8") as f:
            return json.load(f)

    def fetch_cursor_page(self, cell_id: str, cursor: str, limit: int) -> dict:
        """Cursor-follow page (reference Notion readback pagination,
        notion_data_ingestion.py:150-200): fixture files are keyed by
        the cursor value, the first page uses cursor='start'."""
        path = os.path.join(self.fixture_dir, f"{cell_id}_cursor_{cursor}.json")
        if not os.path.exists(path):
            return {"results": [], "has_more": False, "next_cursor": None}
        with open(path, encoding="utf-8") as f:
            return json.load(f)

    def probe_total(self, cell_id: str) -> int:
        return int(self.fetch_page(cell_id, 0, 1).get("total", 0))


class HttpTransport:
    """Live HTTP transport with the reference's retry/backoff policy.

    Kept import-light (requests imported lazily); the policy constants
    mirror the reference exactly. The retry envelope runs against a real
    loopback ``http.server`` in tests/test_http_live.py — no network.

    One ``requests.Session`` per transport instance (reference
    bangumi_data_ingestion.py:66-90 keeps a single session for its whole
    run): all pages of all cells read through one urllib3 connection
    pool instead of a TCP+TLS handshake per page. The session is created
    lazily on first use and excluded from pickling, so a transport built
    on the driver and shipped to an executor re-opens its own pool.
    """

    def __init__(self, base_url: str, params_for_cell, headers: dict | None = None):
        self.base_url = base_url
        self.params_for_cell = params_for_cell  # (cell_id, offset, limit) -> params dict
        self.headers = headers or {}
        self._session = None

    def __getstate__(self):
        state = self.__dict__.copy()
        state["_session"] = None  # sockets don't pickle; executor reopens
        return state

    def _get_session(self):
        import requests  # local import: executors without the lib fail loudly here only

        if self._session is None:
            self._session = requests.Session()
        return self._session

    def _get(self, params: dict) -> dict:
        last_err: object = None
        session = self._get_session()
        for attempt in range(MAX_RETRIES):
            try:
                resp = session.get(
                    self.base_url, params=params, headers=self.headers, timeout=30
                )
                if resp.status_code == 429:
                    # keep the cause (an all-429 run must not raise
                    # "...: None") and escalate the penalty sleep per
                    # attempt instead of a flat 10 s
                    last_err = "rate-limited (HTTP 429)"
                    _sleep(RATE_LIMIT_SLEEP * (attempt + 1))
                    continue
                resp.raise_for_status()
                return resp.json()
            except Exception as e:  # noqa: BLE001
                last_err = e
                _sleep(RETRY_BACKOFF * 2**attempt)
        raise RuntimeError(f"REST fetch failed after {MAX_RETRIES} retries: {last_err}")

    def fetch_page(self, cell_id: str, page_index: int, limit: int) -> dict:
        return self._get(self.params_for_cell(cell_id, page_index * limit, limit))

    def fetch_cursor_page(self, cell_id: str, cursor: str, limit: int) -> dict:
        params = self.params_for_cell(cell_id, 0, limit)
        if cursor != "start":
            params = {**params, "start_cursor": cursor}
        return self._get(params)

    def probe_total(self, cell_id: str) -> int:
        return int(self.fetch_page(cell_id, 0, 1).get("total", 0))


def offset_pages(transport, cell_id: str, page_limit: int) -> Iterator[tuple[int, dict]]:
    """The offset page loop (reference fetch_single_category :155-258):
    fetch pages of ``page_limit`` items, advancing ``offset += limit``
    until a page comes back empty or the reported total is reached.
    Yields ``(offset, payload)`` for every non-empty page. The one copy
    of the loop: the ``paginated_rest`` reader and ``pipeline.extract``
    both page through it."""
    offset = 0
    page_index = 0
    while True:
        payload = transport.fetch_page(cell_id, page_index, page_limit)
        if not payload.get("data"):
            return
        yield offset, payload
        offset += page_limit
        page_index += 1
        if offset >= payload.get("total", 0):
            return


@dataclass
class CellPartition(InputPartition):
    cell_id: str
    total: int


LIVE_HTTP_ENV = "REST_SOURCE_ALLOW_LIVE"


class PaginatedRestReader(DataSourceReader):
    """Reader for both pagination styles:

    - ``pagination=offset`` (default) — the Bangumi collection scan
      (S1/S2/S3): probe totals at planning time, prune empty cells,
      advance ``offset += limit`` until the page is empty or the total
      is reached (bangumi_data_ingestion.py:155-258).
    - ``pagination=cursor`` — the Notion readback scan (S5): follow
      ``next_cursor`` while ``has_more`` (notion_data_ingestion.py:
      150-200). No total probe exists in this protocol, so every cell
      gets a partition and pruning happens at read time.

    ``mode=replay`` (default) reads fixture files and is the only mode
    tests use. ``mode=live`` wires :class:`HttpTransport` from reader
    options but is refused unless the ``REST_SOURCE_ALLOW_LIVE=1``
    environment variable opts in — a production switch that cannot be
    flipped accidentally from test code.
    """

    def __init__(self, options: dict):
        self.options = options
        self.cell_ids = json.loads(options.get("cells", "[]"))
        self.page_limit = int(options.get("page_limit", PAGE_LIMIT))
        self.fixture_dir = options.get("fixture_dir", "")
        self.pagination = options.get("pagination", "offset")
        if self.pagination not in ("offset", "cursor"):
            raise ValueError(f"unknown pagination style: {self.pagination}")
        self.mode = options.get("mode", "replay")
        if self.mode == "live":
            if os.environ.get(LIVE_HTTP_ENV) != "1":
                raise PermissionError(
                    f"mode=live requires the {LIVE_HTTP_ENV}=1 environment "
                    "variable (tests must never hit the network)"
                )
            if not options.get("base_url"):
                raise ValueError("mode=live requires a base_url option")
        elif self.mode != "replay":
            raise ValueError(f"unknown mode: {self.mode}")

    def _transport(self):
        if self.mode == "live":
            static = json.loads(self.options.get("static_params", "{}"))
            cell_param = self.options.get("cell_param", "cell")
            offset_param = self.options.get("offset_param", "offset")
            limit_param = self.options.get("limit_param", "limit")

            def params_for_cell(cell_id: str, offset: int, limit: int) -> dict:
                return {
                    **static,
                    cell_param: cell_id,
                    offset_param: offset,
                    limit_param: limit,
                }

            return HttpTransport(
                self.options["base_url"],
                params_for_cell,
                headers=json.loads(self.options.get("headers", "{}")),
            )
        return ReplayTransport(self.fixture_dir)

    def partitions(self):
        # Planning-time probe-and-prune (reference get_all_category_totals
        # :328-359 + skip-empty :352-355): one partition per non-empty cell.
        # The cursor protocol has no count probe → no planning-time prune.
        if self.pagination == "cursor":
            return [CellPartition(cell_id=c, total=-1) for c in self.cell_ids]
        t = self._transport()
        parts = []
        for cell_id in self.cell_ids:
            total = t.probe_total(cell_id)
            if total > 0:
                parts.append(CellPartition(cell_id=cell_id, total=total))
        return parts

    def read(self, partition: CellPartition | None):
        # Spark reads one ``None`` partition when ``partitions()`` is
        # empty (every probed cell was empty): that scan has no rows.
        if partition is None:
            return
        t = self._transport()
        if self.pagination == "cursor":
            yield from self._read_cursor(t, partition)
            return
        for offset, payload in offset_pages(t, partition.cell_id, self.page_limit):
            yield (partition.cell_id, offset, json.dumps(payload, ensure_ascii=False))

    def _read_cursor(self, t, partition: CellPartition):
        # Cursor-follow loop (reference get_existing_records pagination,
        # notion_data_ingestion.py:150-200): start cursor, then follow
        # next_cursor while has_more — with a visited-cursor guard so a
        # cyclic fixture/API response terminates instead of spinning.
        cursor = "start"
        seen: set[str] = set()
        offset = 0
        while cursor and cursor not in seen:
            seen.add(cursor)
            payload = t.fetch_cursor_page(partition.cell_id, cursor, self.page_limit)
            results = payload.get("results") or []
            if results:
                yield (
                    partition.cell_id,
                    offset,
                    json.dumps(payload, ensure_ascii=False),
                )
                offset += len(results)
            if not payload.get("has_more"):
                break
            cursor = payload.get("next_cursor")


class PaginatedRestDataSource(DataSource):
    """``spark.read.format("paginated_rest")`` source.

    Options: cells (JSON list of cell ids), fixture_dir, page_limit,
    pagination=offset|cursor, mode=replay|live (live additionally needs
    base_url / static_params / cell_param / offset_param / limit_param /
    headers and the ``REST_SOURCE_ALLOW_LIVE=1`` env opt-in). Register
    with ``spark.dataSource.register(PaginatedRestDataSource)``.
    """

    @classmethod
    def name(cls) -> str:
        return "paginated_rest"

    def schema(self) -> str:
        return "cell_id string, offset bigint, page string"

    def reader(self, schema) -> PaginatedRestReader:
        return PaginatedRestReader(self.options)
