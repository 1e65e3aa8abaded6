"""Streaming tests: availableNow micro-batch runs, windowed/session
aggs validated against batch equivalents, foreachBatch upsert state."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bangumi_notion_data_integration_project_spark.streaming.incremental import (
    read_event_stream,
    sessionized_counts,
    start_streaming_upsert,
    windowed_counts,
)

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _write_batch(spark, path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.mode("append").parquet(path)


ROWS1 = [
    (1, "2024-01-01 00:05:00", 1, "click", 1.0),
    (2, "2024-01-01 00:20:00", 1, "click", 2.0),
    (3, "2024-01-01 01:10:00", 2, "view", 3.0),
]
ROWS2 = [
    (2, "2024-01-01 02:00:00", 1, "click", 9.0),  # same key → upsert wins
    (4, "2024-01-01 02:30:00", 2, "view", 4.0),
]


def _rows(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_windowed_counts_matches_batch(spark, tmp_path):
    inp = str(tmp_path / "in")
    _write_batch(spark, inp, ROWS1)
    stream = read_event_stream(spark, inp, SCHEMA)
    q = (
        windowed_counts(stream, window="1 hour", watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM win_agg").collect()
    }
    assert got[("2024-01-01 00:00:00", "click")] == 2
    assert got[("2024-01-01 01:00:00", "view")] == 1


def test_sessionized_counts_runs(spark, tmp_path):
    inp = str(tmp_path / "in")
    _write_batch(spark, inp, ROWS1)
    stream = read_event_stream(spark, inp, SCHEMA)
    q = (
        sessionized_counts(stream, gap="30 minutes", watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("sess_agg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM sess_agg").collect()
    by_user = {}
    for r in rows:
        by_user[r["user_id"]] = by_user.get(r["user_id"], 0) + 1
    # user 1: events at 00:05 and 00:20 chain into ONE session (gap < 30m)
    assert by_user == {1: 1, 2: 1}


def test_stateful_running_totals_survives_restart(spark, tmp_path):
    """applyInPandasWithState: per-key lifetime totals accumulate across
    micro-batches AND across a query restart (state restored from the
    checkpoint's state store)."""
    from bangumi_notion_data_integration_project_spark.streaming.stateful import (
        running_totals,
    )

    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")

    def run_once(name):
        emitted = []

        def sink(batch, _bid):
            emitted.extend(batch.collect())

        q = (
            running_totals(read_event_stream(spark, inp, SCHEMA))
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # update mode re-emits per batch; last emission per key wins
        return {r["user_id"]: r for r in emitted}

    _write_batch(spark, inp, ROWS1)
    first = run_once("state_run1")
    assert first[1]["n_events"] == 2 and first[1]["total_value"] == 3.0
    assert first[2]["n_events"] == 1 and first[2]["max_value"] == 3.0

    # second run, same checkpoint → state carries over, totals are lifetime
    _write_batch(spark, inp, ROWS2)
    second = run_once("state_run2")
    assert second[1]["n_events"] == 3 and second[1]["total_value"] == 12.0
    assert second[1]["max_value"] == 9.0
    assert second[2]["n_events"] == 2 and second[2]["total_value"] == 7.0


def test_streaming_upsert_two_batches(spark, tmp_path):
    inp = str(tmp_path / "in")
    target = str(tmp_path / "target")
    ckpt1 = str(tmp_path / "ckpt1")
    ckpt2 = str(tmp_path / "ckpt2")

    _write_batch(spark, inp, ROWS1)
    q = start_streaming_upsert(
        read_event_stream(spark, inp, SCHEMA), target, "event_id", ckpt1, dedup_order="ts"
    )
    q.awaitTermination(120)
    assert spark.read.parquet(target).count() == 3

    _write_batch(spark, inp, ROWS2)
    q = start_streaming_upsert(
        read_event_stream(spark, inp, SCHEMA), target, "event_id", ckpt2, dedup_order="ts"
    )
    q.awaitTermination(120)
    final = {r["event_id"]: r for r in spark.read.parquet(target).collect()}
    assert set(final) == {1, 2, 3, 4}
    assert final[2]["value"] == 9.0  # batch-2 version won the upsert
    assert os.path.exists(target)


def test_streaming_partitioned_upsert_touches_only_batch_partitions(spark, tmp_path):
    """Partition-scoped foreachBatch merge: batch 2 names only the
    'click' partition, so the 'view' partition's files must survive
    byte-untouched (same names + mtimes) while click rows upsert."""
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_partitioned_upsert,
    )

    inp = str(tmp_path / "in")
    target = str(tmp_path / "target")
    # ONE checkpoint across both runs: the second start resumes the
    # file-source offset log, so only the new file forms batch 2 —
    # a fresh checkpoint would re-read batch 1's view rows and touch
    # the view partition, defeating the point of the test
    ckpt = str(tmp_path / "ckpt")

    _write_batch(spark, inp, ROWS1)
    q = start_streaming_partitioned_upsert(
        read_event_stream(spark, inp, SCHEMA),
        target,
        "event_id",
        "event_type",
        ckpt,
        dedup_order="ts",
    )
    q.awaitTermination(120)
    assert spark.read.parquet(target).count() == 3

    view_dir = os.path.join(target, "event_type=view")
    before = {
        f: os.path.getmtime(os.path.join(view_dir, f))
        for f in os.listdir(view_dir)
        if f.endswith(".parquet")
    }
    # batch 2 restricted to clicks: event 2 updated, event 5 inserted
    _write_batch(spark, inp, [(2, "2024-01-01 02:00:00", 1, "click", 9.0),
                              (5, "2024-01-01 02:30:00", 3, "click", 5.0)])
    q = start_streaming_partitioned_upsert(
        read_event_stream(spark, inp, SCHEMA),
        target,
        "event_id",
        "event_type",
        ckpt,
        dedup_order="ts",
    )
    q.awaitTermination(120)

    final = {r["event_id"]: r for r in spark.read.parquet(target).collect()}
    assert set(final) == {1, 2, 3, 5}
    assert final[2]["value"] == 9.0  # upserted inside the click partition
    assert final[3]["value"] == 3.0  # view row untouched
    after = {
        f: os.path.getmtime(os.path.join(view_dir, f))
        for f in os.listdir(view_dir)
        if f.endswith(".parquet")
    }
    assert after == before  # untouched partition never rewritten


def test_watermark_drops_late_data_in_append_mode(spark, tmp_path):
    """Append-mode windowed agg with a 30-min watermark: batch 1 takes
    event time to 02:00 (watermark → 01:30), so batch 2's stale 00:10
    event arrives after its 00:00-01:00 window finalized — it must not
    create or amend output; the on-time 02:10 event must still count."""
    inp = str(tmp_path / "late_in")
    chk = str(tmp_path / "late_chk")
    outp = str(tmp_path / "late_out")
    _write_batch(spark, inp, [
        (1, "2024-01-01 00:05:00", 1, "click", 1.0),
        (2, "2024-01-01 02:00:00", 1, "click", 1.0),
    ])

    def run_pass():
        # file sink: the append-mode + checkpoint combination memory
        # sinks don't support
        q = (
            windowed_counts(
                read_event_stream(spark, inp, SCHEMA),
                window="1 hour",
                watermark="30 minutes",
            )
            .writeStream.format("parquet")
            .option("path", outp)
            .outputMode("append")
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_pass()
    _write_batch(spark, inp, [
        (3, "2024-01-01 00:10:00", 1, "click", 1.0),   # LATE: < watermark
        (4, "2024-01-01 02:10:00", 1, "click", 1.0),   # on time
        (5, "2024-01-01 04:00:00", 1, "click", 1.0),   # advances watermark, closes 02:00 window
    ])
    run_pass()

    counts = {
        str(r["window_start"]): r["n_events"]
        for r in spark.read.parquet(outp).collect()
    }
    # 00:00 window finalized with only the on-time event; late row dropped
    assert counts.get("2024-01-01 00:00:00") == 1
    # 02:00 window closed by the 04:00 event: both on-time rows counted
    assert counts.get("2024-01-01 02:00:00") == 2


def test_stream_dedup_drops_repeats_within_watermark(spark, tmp_path):
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        stream_dedup,
    )

    inp = str(tmp_path / "dd_in")
    chk = str(tmp_path / "dd_chk")
    outp = str(tmp_path / "dd_out")
    _write_batch(spark, inp, [
        (1, "2024-01-01 00:00:00", 1, "click", 1.0),
        (1, "2024-01-01 00:01:00", 1, "click", 1.0),   # dup in same batch
        (2, "2024-01-01 00:02:00", 1, "view", 1.0),
    ])

    def run_pass():
        q = (
            stream_dedup(read_event_stream(spark, inp, SCHEMA), watermark="2 hours")
            .writeStream.format("parquet")
            .option("path", outp)
            .outputMode("append")
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_pass()
    _write_batch(spark, inp, [
        (1, "2024-01-01 00:30:00", 1, "click", 1.0),   # dup across batches, in horizon
        (3, "2024-01-01 00:40:00", 2, "view", 1.0),    # new key
    ])
    run_pass()

    ids = sorted(r.event_id for r in spark.read.parquet(outp).collect())
    assert ids == [1, 2, 3]  # each key exactly once


def test_attribution_join_stream_stream(spark, tmp_path):
    """Stream-stream interval join matches hand-computed attribution:
    purchase joins every click by the same user within the hour before."""
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        attribution_join,
    )

    clicks_dir, purch_dir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    _write_batch(spark, clicks_dir, [
        (10, "2024-01-01 00:00:00", 1, "click", 0.0),
        (11, "2024-01-01 00:30:00", 1, "click", 0.0),
        (12, "2024-01-01 00:00:00", 2, "click", 0.0),
    ])
    _write_batch(spark, purch_dir, [
        (20, "2024-01-01 00:45:00", 1, "purchase", 5.0),  # hits clicks 10+11
        (21, "2024-01-01 02:00:00", 1, "purchase", 5.0),  # too late for both
        (22, "2024-01-01 00:10:00", 2, "purchase", 5.0),  # hits click 12
    ])
    out = attribution_join(
        read_event_stream(spark, clicks_dir, SCHEMA),
        read_event_stream(spark, purch_dir, SCHEMA),
    )
    q = (
        out.writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["click_id"], r["purchase_id"])
        for r in spark.sql("SELECT * FROM attrib").collect()
    )
    assert got == [(10, 20), (11, 20), (12, 22)]


def test_attribution_join_has_state_bounds(spark, tmp_path):
    """Both sides watermarked and the interval bounded in both
    directions — the analyzed plan must carry event-time watermarks so
    join state can expire."""
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        attribution_join,
    )

    d = str(tmp_path / "ev")
    _write_batch(spark, d, ROWS1)
    s = read_event_stream(spark, d, SCHEMA)
    out = attribution_join(s, s)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert plan.count("EventTimeWatermark") == 2


def test_enrich_with_dim_broadcasts(spark, tmp_path):
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        enrich_with_dim,
    )

    d = str(tmp_path / "ev2")
    _write_batch(spark, d, ROWS1)
    dim = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "user_id long, segment string"
    )
    out = enrich_with_dim(read_event_stream(spark, d, SCHEMA), dim, "user_id")
    q = (
        out.writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["event_id"]: r["segment"] for r in spark.sql("SELECT * FROM enriched").collect()}
    assert rows == {1: "alpha", 2: "alpha", 3: "beta"}


# ---------------------------------------------------------------------------
# Batch <-> streaming differential property: a 3-micro-batch streamed
# upsert must land the SAME final table as one batch merge of the whole
# delta — the strongest check available for code the SQL oracle can't
# see. Randomized over seeds; ts is globally increasing so batch order
# and last-write-wins order agree, making the batch twin well-defined.
# ---------------------------------------------------------------------------

import random

import pytest

from bangumi_notion_data_integration_project_spark.operators.merge import (
    merge_scoped,
    merge_snapshot,
)
from bangumi_notion_data_integration_project_spark.streaming.incremental import (
    _dedup_last_wins,
    start_streaming_partitioned_upsert,
)

_TYPES = ["click", "view", "buy"]


def _random_rows(rng, n, key_space, start_minute=0):
    # event_type is a pure function of event_id so keys never migrate
    # between partitions (merge_into_partitioned contract)
    rows = []
    for i in range(n):
        k = rng.randrange(key_space)
        m = start_minute + i
        rows.append(
            (
                k,
                f"2024-01-01 {m // 60:02d}:{m % 60:02d}:00",
                rng.randrange(5),
                _TYPES[k % 3],
                float(rng.randrange(100)),
            )
        )
    return rows


def _stream_3_batches(spark, inp):
    """File stream over ``inp`` forced to one file per micro-batch."""
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )


def _final_vs_expected(spark, target, expected):
    cols = sorted(expected.columns)
    got = {tuple(r[c] for c in cols) for r in spark.read.parquet(target).collect()}
    want = {tuple(r[c] for c in cols) for r in expected.collect()}
    assert got == want


@pytest.mark.parametrize("seed", [7, 23])
def test_streaming_upsert_equals_batch_merge_snapshot(spark, tmp_path, seed):
    rng = random.Random(seed)
    inp = str(tmp_path / "in")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")

    # initial target state: unique keys (pre-deduped snapshot)
    base = _rows(spark, _random_rows(rng, 15, 10)).dropDuplicates(["event_id"])
    base.write.parquet(target)  # writes _SUCCESS -> recover_dir sees it

    # one delta split into 3 micro-batch files; each sequential Spark
    # write lands a later mtime, and the file source processes files
    # oldest-first, so batch order follows ts order deterministically
    delta_rows = _random_rows(rng, 30, 14, start_minute=120)
    for chunk in (delta_rows[:10], delta_rows[10:20], delta_rows[20:]):
        _write_batch(spark, inp, chunk)

    q = start_streaming_upsert(
        _stream_3_batches(spark, inp), target, "event_id", ckpt, dedup_order="ts"
    )
    q.awaitTermination(180)
    assert q.lastProgress is not None

    delta = _rows(spark, delta_rows)
    expected = merge_snapshot(
        _dedup_last_wins(delta, "event_id", "ts"),
        base,
        "event_id",
        delete_absent=False,
    )
    _final_vs_expected(spark, target, expected)


@pytest.mark.parametrize("seed", [11])
def test_streaming_partitioned_upsert_equals_batch_merge_scoped(
    spark, tmp_path, seed
):
    rng = random.Random(seed)
    inp = str(tmp_path / "in")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")

    base = _rows(spark, _random_rows(rng, 15, 10)).dropDuplicates(["event_id"])
    base.write.partitionBy("event_type").parquet(target)

    delta_rows = _random_rows(rng, 30, 14, start_minute=120)
    for chunk in (delta_rows[:10], delta_rows[10:20], delta_rows[20:]):
        _write_batch(spark, inp, chunk)

    q = start_streaming_partitioned_upsert(
        _stream_3_batches(spark, inp),
        target,
        "event_id",
        "event_type",
        ckpt,
        dedup_order="ts",
    )
    q.awaitTermination(180)

    delta = _rows(spark, delta_rows)
    expected = merge_scoped(
        _dedup_last_wins(delta, "event_id", "ts"),
        base,
        "event_id",
        "event_type",
        delete_absent=False,
    )
    _final_vs_expected(spark, target, expected)


def test_streaming_peak_concurrency_equals_batch_sweep(spark, tmp_path):
    """Differential oracle: an in-order micro-batch replay through the
    stateful streaming operator must land on the same per-key peak as
    the batch boundary sweep (operators/intervals.peak_concurrency) —
    the strongest check available for state logic SQL cannot see."""
    import random

    from bangumi_notion_data_integration_project_spark.operators.intervals import (
        peak_concurrency,
    )
    from bangumi_notion_data_integration_project_spark.streaming.stateful import (
        peak_concurrency_stream,
    )

    rng = random.Random(23)
    minute = lambda m: f"2024-01-01 {m // 60:02d}:{m % 60:02d}:00"  # noqa: E731
    rows = [
        (i, minute(rng.randint(0, 600)), 1, rng.choice(["a", "b"]), 0.0)
        for i in range(80)
    ]
    rows.sort(key=lambda r: r[1])  # event-time order, split across batches

    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    emitted: dict[str, tuple[int, int]] = {}

    def run_once():
        def sink(batch, _bid):
            for r in batch.collect():
                emitted[r["event_type"]] = (r["open_now"], r["max_concurrent"])

        q = (
            peak_concurrency_stream(read_event_stream(spark, inp, SCHEMA))
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # three in-order micro-batches, state carried across restarts
    third = len(rows) // 3
    for chunk in (rows[:third], rows[third : 2 * third], rows[2 * third :]):
        _write_batch(spark, inp, chunk)
        run_once()

    batch_df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    want = {
        r["event_type"]: r["max_concurrent"]
        for r in peak_concurrency(
            batch_df, "event_type", F.col("ts"), F.expr("ts + INTERVAL 15 MINUTES")
        ).collect()
    }
    got = {k: peak for k, (_open, peak) in emitted.items()}
    assert got == want


@pytest.mark.parametrize("seed", [7, 41])
def test_streaming_peak_concurrency_out_of_order_closed_portion(spark, tmp_path, seed):
    """Bounded-lateness property (SURVEY §7.1 M6 extension): replay the
    events in a SHUFFLED arrival order whose event-time displacement is
    bounded by the lateness, and the watermarked twin's closed portion
    must equal the batch sweep over exactly the events at or before the
    final per-key frontier — with nothing dropped and the open tail
    accounted for in ``n_pending``."""
    import random

    from bangumi_notion_data_integration_project_spark.operators.intervals import (
        peak_concurrency,
    )
    from bangumi_notion_data_integration_project_spark.streaming.stateful import (
        peak_concurrency_stream_watermarked,
    )

    rng = random.Random(seed)
    minute = lambda m: f"2024-01-01 {m // 60:02d}:{m % 60:02d}:00"  # noqa: E731
    ts_minutes = [rng.randint(0, 600) for _ in range(80)]
    rows = [
        (i, minute(m), 1, rng.choice(["a", "b"]), 0.0)
        for i, m in enumerate(ts_minutes)
    ]
    # arrival order = event time + bounded jitter (±10 min). With
    # lateness 30 min the frontier trails max_seen by 30, and max_seen
    # when any event arrives is < its ts + 20 — so no event can find
    # its own timestamp already closed: n_dropped must stay 0.
    arrival = sorted(range(len(rows)), key=lambda i: ts_minutes[i] + rng.uniform(-10, 10))
    shuffled = [rows[i] for i in arrival]

    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    emitted: dict[str, tuple[int, int, int]] = {}

    def run_once():
        def sink(batch, _bid):
            for r in batch.collect():
                emitted[r["event_type"]] = (
                    r["max_concurrent"], r["n_pending"], r["n_dropped"],
                )

        q = (
            peak_concurrency_stream_watermarked(
                read_event_stream(spark, inp, SCHEMA),
                duration_minutes=15,
                lateness_minutes=30,
            )
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    quarter = len(shuffled) // 4
    for i in range(4):
        hi = None if i == 3 else (i + 1) * quarter
        _write_batch(spark, inp, shuffled[i * quarter : hi])
        run_once()

    # per-key final frontier = max event time − lateness; the closed
    # portion is everything at or before it
    by_key: dict[str, list[int]] = {}
    for _, ts, _, k, _ in rows:
        m = int(ts[11:13]) * 60 + int(ts[14:16])
        by_key.setdefault(k, []).append(m)
    frontier = {k: max(v) - 30 for k, v in by_key.items()}
    closed = [
        r for r in rows
        if int(r[1][11:13]) * 60 + int(r[1][14:16]) <= frontier[r[3]]
    ]
    want = {
        r["event_type"]: r["max_concurrent"]
        for r in peak_concurrency(
            _rows(spark, closed), "event_type",
            F.col("ts"), F.expr("ts + INTERVAL 15 MINUTES"),
        ).collect()
    }
    for k in by_key:
        peak, pending, dropped = emitted[k]
        assert dropped == 0, f"{k}: bounded-lateness arrival must drop nothing"
        assert peak == want.get(k, 0), f"{k}: closed-portion peak diverges"
        n_open_tail = sum(
            1 for r in rows
            if r[3] == k and int(r[1][11:13]) * 60 + int(r[1][14:16]) > frontier[k]
        )
        assert pending == n_open_tail, f"{k}: pending tail miscounted"


# ---------------------------------------------------------------------------
# CDC stream: the associative-fold property. The streamed replay must
# equal the batch replay of the concatenated log for ANY split of
# events into micro-batches — including out-of-order ACROSS batches
# (an early-seq event landing in a late batch), which the tombstoned
# (last_seq, delete-wins) fold absorbs by construction.
# ---------------------------------------------------------------------------

CDC_SCHEMA = "k long, seq long, op string, val string"


def _random_cdc_log(rng, n_events, key_space):
    rows = []
    seqs: dict[int, int] = {}
    for _ in range(n_events):
        k = rng.randrange(key_space)
        seqs[k] = seqs.get(k, 0) + 1
        o = rng.choice(["I", "U", "U", "D"])
        rows.append((k, seqs[k], o, None if o == "D" else f"v{k}.{seqs[k]}"))
    return rows


@pytest.mark.parametrize("seed", [5, 19])
def test_streaming_cdc_apply_equals_batch_apply_cdc(spark, tmp_path, seed):
    from bangumi_notion_data_integration_project_spark.operators.cdc import apply_cdc
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_cdc_apply,
    )

    rng = random.Random(seed)
    inp = str(tmp_path / "cdc_in")
    target = str(tmp_path / "cdc_state")
    ckpt = str(tmp_path / "cdc_ckpt")

    log_rows = _random_cdc_log(rng, 120, 25)
    # adversarial split: SHUFFLE events across 3 batches so later
    # batches routinely carry earlier seqs for the same key
    shuffled = log_rows[:]
    rng.shuffle(shuffled)
    for chunk in (shuffled[:40], shuffled[40:80], shuffled[80:]):
        spark.createDataFrame(chunk, CDC_SCHEMA).coalesce(1).write.mode("append").parquet(inp)

    stream = (
        spark.readStream.schema(CDC_SCHEMA).option("maxFilesPerTrigger", 1).parquet(inp)
    )
    q = start_streaming_cdc_apply(
        stream,
        target,
        key="k",
        seq="seq",
        op="op",
        payload_cols=["val"],
        checkpoint_dir=ckpt,
    )
    q.awaitTermination(180)
    assert q.lastProgress is not None

    visible = (
        spark.read.parquet(target).filter("last_op <> 'D'").select("k", "val", "n_versions", "last_seq")
    )
    batch = apply_cdc(
        spark.createDataFrame(log_rows, CDC_SCHEMA),
        key="k",
        seq="seq",
        op="op",
        payload_cols=["val"],
    )
    got = {tuple(r) for r in visible.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want


def test_streaming_cdc_tombstone_blocks_stale_update(spark, tmp_path):
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_cdc_apply,
    )

    inp = str(tmp_path / "in")
    target = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    # batch 1 deletes key 1 at seq 3; batch 2 delivers the STALE seq-2
    # update late — the tombstone must keep the key dead
    spark.createDataFrame([(1, 1, "I", "a"), (1, 3, "D", None)], CDC_SCHEMA).coalesce(
        1
    ).write.mode("append").parquet(inp)
    spark.createDataFrame([(1, 2, "U", "stale")], CDC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    stream = (
        spark.readStream.schema(CDC_SCHEMA).option("maxFilesPerTrigger", 1).parquet(inp)
    )
    q = start_streaming_cdc_apply(
        stream, target, key="k", seq="seq", op="op", payload_cols=["val"], checkpoint_dir=ckpt
    )
    q.awaitTermination(180)
    state = spark.read.parquet(target).collect()
    assert len(state) == 1
    row = state[0]
    assert row["last_op"] == "D" and row["last_seq"] == 3 and row["n_versions"] == 3


@pytest.mark.parametrize("seed", [3, 29])
def test_streaming_cdc_view_equals_batch_groupby(spark, tmp_path, seed):
    """The streaming materialized view after a shuffled 3-batch replay
    must equal a full groupBy of the batch apply_cdc result — including
    under cross-batch staleness (late low-seq events)."""
    from bangumi_notion_data_integration_project_spark.operators.cdc import apply_cdc
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_cdc_view,
    )

    rng = random.Random(seed)
    schema = "k long, seq long, op string, g string, v long"
    rows, seqs = [], {}
    for _ in range(150):
        k = rng.randrange(30)
        seqs[k] = seqs.get(k, 0) + 1
        op = rng.choice(["I", "U", "U", "D"])
        if op == "D":
            rows.append((k, seqs[k], op, None, None))
        else:
            rows.append((k, seqs[k], op, rng.choice(["x", "y", "z"]), rng.randrange(100)))
    shuffled = rows[:]
    rng.shuffle(shuffled)
    inp = str(tmp_path / "in")
    for chunk in (shuffled[:50], shuffled[50:100], shuffled[100:]):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode("append").parquet(inp)

    state_dir = str(tmp_path / "state")
    view_dir = str(tmp_path / "view")
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(inp)
    q = start_streaming_cdc_view(
        stream,
        state_dir,
        view_dir,
        key="k",
        seq="seq",
        op="op",
        group_col="g",
        val_col="v",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    assert q.lastProgress is not None

    final = apply_cdc(
        spark.createDataFrame(rows, schema), key="k", seq="seq", op="op", payload_cols=["g", "v"]
    )
    want = {
        (r["g"]): (r["n_rows"], r["total"])
        for r in final.groupBy("g")
        .agg(F.count("*").cast("long").alias("n_rows"), F.sum("v").cast("long").alias("total"))
        .collect()
    }
    got = {
        r["g"]: (r["n_rows"], r["total"])
        for r in spark.read.parquet(view_dir).collect()
    }
    assert got == want


def test_streaming_cdc_view_repairs_after_crash_between_promotes(spark, tmp_path):
    """Simulate the crash window: state promoted for a batch, view not
    (view dir rewound to the previous batch). The next fold must detect
    the watermark gap and rebuild the view from state before applying
    its own transition — no silent divergence."""
    import shutil

    from bangumi_notion_data_integration_project_spark.operators.cdc import apply_cdc
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_cdc_view,
    )

    schema = "k long, seq long, op string, g string, v long"
    b0 = [(1, 1, "I", "x", 10), (2, 1, "I", "y", 20)]
    b1 = [(1, 2, "U", "y", 15), (3, 1, "I", "x", 7)]
    b2 = [(2, 2, "D", None, None), (4, 1, "I", "y", 9)]
    inp = str(tmp_path / "in")
    state_dir, view_dir = str(tmp_path / "state"), str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(inp)
        )
        q = start_streaming_cdc_view(
            stream, state_dir, view_dir,
            key="k", seq="seq", op="op", group_col="g", val_col="v",
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(120)

    spark.createDataFrame(b0, schema).coalesce(1).write.mode("append").parquet(inp)
    run_once()
    view_at_b0 = str(tmp_path / "view_b0")
    shutil.copytree(view_dir, view_at_b0)

    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(inp)
    run_once()  # state + view now at batch 1

    # CRASH SIMULATION: view promote for batch 1 never happened
    shutil.rmtree(view_dir)
    shutil.copytree(view_at_b0, view_dir)

    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(inp)
    run_once()  # fold of batch 2 must repair, then apply

    final = apply_cdc(
        spark.createDataFrame(b0 + b1 + b2, schema),
        key="k", seq="seq", op="op", payload_cols=["g", "v"],
    )
    want = {
        r["g"]: (r["n_rows"], r["total"])
        for r in final.groupBy("g")
        .agg(F.count("*").cast("long").alias("n_rows"), F.sum("v").cast("long").alias("total"))
        .collect()
    }
    got = {
        r["g"]: (r["n_rows"], r["total"])
        for r in spark.read.parquet(view_dir).drop("__batch_id").collect()
    }
    assert got == want  # x: keys 3 (7); y: keys 1 (15) + 4 (9)
    assert want == {"x": (1, 7), "y": (2, 24)}


def test_streaming_time_rollup_equals_batch(spark, tmp_path):
    """Continuous-aggregate twin: after a 3-batch replay, the stored
    (grain, bucket) table must equal the batch hierarchical rollup of
    the concatenated input — day folded incrementally, week/month
    re-derived from partials only."""
    import random

    from bangumi_notion_data_integration_project_spark.operators.rollup import (
        hierarchical_time_rollup,
    )
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_time_rollup,
    )

    rng = random.Random(5)
    rows = [
        (
            i,
            f"2024-0{rng.randint(1, 2)}-{rng.randint(1, 28):02d} "
            f"{rng.randint(0, 23):02d}:00:00",
            1,
            "e",
            rng.randint(1, 9999) / 100.0,
        )
        for i in range(120)
    ]
    inp = str(tmp_path / "in")
    rollup_dir = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    for chunk in (rows[:40], rows[40:80], rows[80:]):
        _write_batch(spark, inp, chunk)

    q = start_streaming_time_rollup(
        read_event_stream(spark, inp, SCHEMA),
        rollup_dir,
        ts_col="ts",
        value_cents=F.round(F.col("value") * 100, 0),
        checkpoint_dir=ckpt,
    )
    q.awaitTermination(180)

    want = {
        (r["grain"], r["bucket_start"]): (r["n_events"], r["value_cents"])
        for r in hierarchical_time_rollup(
            _rows(spark, rows), "ts", F.round(F.col("value") * 100, 0)
        ).collect()
    }
    stored = spark.read.parquet(rollup_dir)
    got = {
        (r["grain"], r["bucket_start"]): (r["n_events"], r["value_cents"])
        for r in stored.drop("__batch_id").collect()
    }
    assert got == want

    # replay guard: wipe the CHECKPOINT (not the state) and re-run the
    # whole input — every batch re-delivers with batch_id <= the stored
    # watermark and must be skipped, or the sum-fold would double-count
    import shutil

    shutil.rmtree(ckpt)
    q2 = start_streaming_time_rollup(
        read_event_stream(spark, inp, SCHEMA),
        rollup_dir,
        ts_col="ts",
        value_cents=F.round(F.col("value") * 100, 0),
        checkpoint_dir=ckpt,
    )
    q2.awaitTermination(180)
    again = {
        (r["grain"], r["bucket_start"]): (r["n_events"], r["value_cents"])
        for r in spark.read.parquet(rollup_dir).drop("__batch_id").collect()
    }
    assert again == want, "replayed batches double-counted into the rollup"


def test_streaming_time_rollup_partitioned_twin(spark, tmp_path):
    """Warehouse-scale rollup twin: grain-partitioned storage folded
    through merge_into_partitioned must equal the batch hierarchical
    rollup after a multi-batch replay; a LATE batch (new data, intact
    checkpoint) folds in O(touched buckets); and a wiped checkpoint
    over surviving state fails LOUDLY instead of silently discarding
    renumbered batches (the flat twin's documented blind spot)."""
    import random
    import shutil

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from bangumi_notion_data_integration_project_spark.operators.rollup import (
        hierarchical_time_rollup,
    )
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_time_rollup_partitioned,
    )

    rng = random.Random(7)
    rows = [
        (
            i,
            f"2024-0{rng.randint(1, 2)}-{rng.randint(1, 28):02d} "
            f"{rng.randint(0, 23):02d}:00:00",
            1,
            "e",
            rng.randint(1, 9999) / 100.0,
        )
        for i in range(160)
    ]
    inp = str(tmp_path / "in")
    rollup_dir = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    cents = F.round(F.col("value") * 100, 0)

    def run():
        q = start_streaming_time_rollup_partitioned(
            read_event_stream(spark, inp, SCHEMA),
            rollup_dir,
            ts_col="ts",
            value_cents=cents,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(180)

    def stored_state():
        return {
            (r["grain"], r["bucket_start"]): (r["n_events"], r["value_cents"])
            for r in spark.read.parquet(rollup_dir)
            .select("grain", "bucket_start", "n_events", "value_cents")
            .collect()
        }

    def want_state(upto):
        return {
            (r["grain"], r["bucket_start"]): (r["n_events"], r["value_cents"])
            for r in hierarchical_time_rollup(
                _rows(spark, rows[:upto]), "ts", cents
            ).collect()
        }

    for chunk in (rows[:40], rows[40:80], rows[80:120]):
        _write_batch(spark, inp, chunk)
    run()
    assert stored_state() == want_state(120)

    # late-data batch with intact checkpoint: only-touched-bucket fold
    _write_batch(spark, inp, rows[120:])
    run()
    assert stored_state() == want_state(160)

    # checkpoint wiped, state kept: identity token diverges -> loud
    # failure, never a silent skip/double-count guess
    shutil.rmtree(ckpt)
    try:
        run()
        raise AssertionError("foreign-identity replay did not fail")
    except StreamingQueryException as e:
        assert "checkpoint identity changed" in str(e)
    assert stored_state() == want_state(160)  # state untouched


def test_streaming_time_rollup_partitioned_scopes_io_to_touched_years(
    spark, tmp_path
):
    """The (grain, __year) partition claim, pinned at the file level: a
    late batch touching only 2024 must leave every 2023 partition's
    files byte-untouched (same names AND mtimes — a rewrite changes
    both) while the 2024 partitions rewrite. Partitioning by grain
    alone could never pass this: every nonempty delta touches all
    three grains, so all partitions would rewrite each batch. The
    fixture's week buckets stay inside their calendar year (no event
    within the first straddling week of January), so the bounded
    adjacent-year week rewrite documented on the operator does not
    trigger here."""
    import os

    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_time_rollup_partitioned,
    )

    inp = str(tmp_path / "in")
    rollup_dir = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    cents = F.round(F.col("value") * 100, 0)

    def run():
        q = start_streaming_time_rollup_partitioned(
            read_event_stream(spark, inp, SCHEMA),
            rollup_dir,
            ts_col="ts",
            value_cents=cents,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(180)

    _write_batch(
        spark,
        inp,
        [(1, "2023-03-05 10:00:00", 1, "e", 5.0),
         (2, "2023-11-20 09:00:00", 1, "e", 7.0),
         (3, "2024-01-02 08:00:00", 1, "e", 9.0)],
    )
    run()

    def part_files(year):
        out = {}
        for grain in ("day", "week", "month"):
            d = os.path.join(rollup_dir, f"grain={grain}", f"__year={year}")
            assert os.path.isdir(d), d
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    out[f"{grain}/{f}"] = os.path.getmtime(os.path.join(d, f))
        assert out, f"no parquet files for year {year}"
        return out

    before_2023, before_2024 = part_files(2023), part_files(2024)
    _write_batch(spark, inp, [(4, "2024-01-03 04:00:00", 1, "e", 11.0)])
    run()
    assert part_files(2023) == before_2023, "2023 partitions rewrote"
    assert part_files(2024) != before_2024, "2024 partitions untouched"
    got = {
        (r["grain"], str(r["bucket_start"])): r["value_cents"]
        for r in spark.read.parquet(rollup_dir).collect()
    }
    assert got[("day", "2023-03-05")] == 500
    assert got[("day", "2024-01-03")] == 1100
    assert got[("month", "2024-01-01")] == 900 + 1100


def test_streaming_time_rollup_partitioned_partial_commit_fails(
    spark, tmp_path
):
    """Crash-mid-overwrite detection: a replayed batch whose prior
    attempt committed only SOME of its bucket keys (here the day
    partition carries the replay's watermark but the week/month
    partitions still hold an older __batch_id) must FAIL LOUDLY —
    skipping would strand the unwritten grains stale forever, folding
    would double-count the written one."""
    import json
    import os

    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_time_rollup_partitioned,
    )

    inp = str(tmp_path / "in")
    rollup_dir = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(ckpt)
    qid = "11111111-2222-3333-4444-555555555555"
    with open(os.path.join(ckpt, "metadata"), "w") as fh:
        json.dump({"id": qid}, fh)

    # day key committed at the replay's batch id (0); week/month keys
    # still carry the pre-crash vintage (-1 = "older than the replay")
    spark.createDataFrame(
        [("day", "2024-01-01", 7, 700, 0, qid, "day|2024-01-01"),
         ("week", "2024-01-01", 7, 700, -1, qid, "week|2024-01-01"),
         ("month", "2024-01-01", 7, 700, -1, qid, "month|2024-01-01")],
        "grain string, bucket_start string, n_events long, value_cents long,"
        " __batch_id long, __ckpt_id string, __k string",
    ).withColumn("bucket_start", F.to_date("bucket_start")).withColumn(
        "__year", F.year("bucket_start")
    ).write.mode("overwrite").partitionBy("grain", "__year").parquet(rollup_dir)

    _write_batch(spark, inp, [(1, "2024-01-01 05:00:00", 1, "e", 3.0)])
    q = start_streaming_time_rollup_partitioned(
        read_event_stream(spark, inp, SCHEMA),
        rollup_dir,
        ts_col="ts",
        value_cents=F.round(F.col("value") * 100, 0),
        checkpoint_dir=ckpt,
    )
    with pytest.raises(Exception) as exc:
        q.awaitTermination(180)
    assert "committed only 1 of its 3 bucket keys" in str(exc.value)
    # state untouched by the failed replay
    got = {
        (r["grain"], str(r["bucket_start"])): (r["n_events"], r["value_cents"])
        for r in spark.read.parquet(rollup_dir).collect()
    }
    assert got[("day", "2024-01-01")] == (7, 700)
    assert got[("week", "2024-01-01")] == (7, 700)


def test_touched_years_covers_week_straddle_both_directions(spark):
    """The stored-read year scope must include the adjacent year
    whenever an event's WEEK bucket straddles New Year — in either
    direction: an early-January event whose week starts in December
    (needs the prior year's day partials inside that week), and a
    late-December event whose week ends in January (needs the next
    year's). Mid-year events scope to exactly their own year."""
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        _touched_years,
    )

    def years(*ts):
        df = spark.createDataFrame([(t,) for t in ts], "ts: string").select(
            F.to_timestamp("ts").alias("ts")
        )
        return sorted(_touched_years(df, "ts"))

    # 2025-01-01 is a Wednesday: week starts Mon 2024-12-30
    assert years("2025-01-01 08:00:00") == [2024, 2025]
    # 2024-12-30 is a Monday: week runs through Sun 2025-01-05
    assert years("2024-12-30 08:00:00") == [2024, 2025]
    # mid-year: one year only
    assert years("2024-06-05 12:00:00") == [2024]
    # week fully inside the year at both ends
    assert years("2023-11-20 09:00:00") == [2023]
    assert years("2025-01-01 08:00:00", "2024-06-05 12:00:00") == [2024, 2025]


def test_streaming_time_rollup_partitioned_replay_skip(spark, tmp_path):
    """Same-identity replay branch: a batch whose batch_id is at or
    below the stored watermark, under a MATCHING checkpoint identity,
    must be skipped silently (crash-recovery re-delivery of an
    already-folded batch — folding again would double-count the sums).
    The checkpoint's metadata file is pre-seeded so Structured
    Streaming adopts a known query id, making the stored identity
    match the replay's."""
    import json
    import os

    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_time_rollup_partitioned,
    )

    inp = str(tmp_path / "in")
    rollup_dir = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    # Spark keeps a pre-existing checkpoint metadata id — seed it so the
    # stored state can carry the SAME identity before the query starts
    os.makedirs(ckpt)
    qid = "11111111-2222-3333-4444-555555555555"
    with open(os.path.join(ckpt, "metadata"), "w") as fh:
        json.dump({"id": qid}, fh)

    # stored state: one folded day, watermark far above the replay id
    spark.createDataFrame(
        [("day", "2024-01-01", 7, 700, 99, qid, "day|2024-01-01"),
         ("week", "2024-01-01", 7, 700, 99, qid, "week|2024-01-01"),
         ("month", "2024-01-01", 7, 700, 99, qid, "month|2024-01-01")],
        "grain string, bucket_start string, n_events long, value_cents long,"
        " __batch_id long, __ckpt_id string, __k string",
    ).withColumn("bucket_start", F.to_date("bucket_start")).withColumn(
        "__year", F.year("bucket_start")
    ).write.mode("overwrite").partitionBy("grain", "__year").parquet(rollup_dir)

    _write_batch(spark, inp, [(1, "2024-01-01 05:00:00", 1, "e", 3.0)])
    q = start_streaming_time_rollup_partitioned(
        read_event_stream(spark, inp, SCHEMA),
        rollup_dir,
        ts_col="ts",
        value_cents=F.round(F.col("value") * 100, 0),
        checkpoint_dir=ckpt,
    )
    q.awaitTermination(180)

    got = {
        (r["grain"], str(r["bucket_start"])): (r["n_events"], r["value_cents"])
        for r in spark.read.parquet(rollup_dir).collect()
    }
    # batch 0 <= watermark 99 with matching identity: skipped, state
    # byte-identical — the new event's 300 cents must NOT appear
    assert got == {
        ("day", "2024-01-01"): (7, 700),
        ("week", "2024-01-01"): (7, 700),
        ("month", "2024-01-01"): (7, 700),
    }, got


def test_streaming_time_rollup_manifest_twin(spark, tmp_path):
    """Transactional twin: differential vs the batch rollup across
    incremental runs + late data, and the identity guard on a wiped
    checkpoint — same contract as the hive twin, new commit path."""
    import random
    import shutil

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from bangumi_notion_data_integration_project_spark.manifest_table import (
        ManifestTable,
    )
    from bangumi_notion_data_integration_project_spark.operators.rollup import (
        hierarchical_time_rollup,
    )
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_time_rollup_manifest,
    )

    rng = random.Random(11)
    rows = [
        (
            i,
            f"202{rng.randint(3, 4)}-0{rng.randint(1, 2)}"
            f"-{rng.randint(1, 28):02d} {rng.randint(0, 23):02d}:00:00",
            1,
            "e",
            rng.randint(1, 9999) / 100.0,
        )
        for i in range(120)
    ]
    inp = str(tmp_path / "in")
    table_dir = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    cents = F.round(F.col("value") * 100, 0)
    table = ManifestTable(table_dir, ["grain", "__year"])

    def run():
        q = start_streaming_time_rollup_manifest(
            read_event_stream(spark, inp, SCHEMA),
            table_dir,
            ts_col="ts",
            value_cents=cents,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(180)

    def stored_state():
        return {
            (r["grain"], str(r["bucket_start"])): (r["n_events"], r["value_cents"])
            for r in table.read(spark)
            .select("grain", "bucket_start", "n_events", "value_cents")
            .collect()
        }

    def want_state(upto):
        return {
            (r["grain"], str(r["bucket_start"])): (r["n_events"], r["value_cents"])
            for r in hierarchical_time_rollup(
                _rows(spark, rows[:upto]), "ts", cents
            ).collect()
        }

    for chunk in (rows[:40], rows[40:80]):
        _write_batch(spark, inp, chunk)
    run()
    assert stored_state() == want_state(80)
    # late data folds O(touched); watermark advanced atomically
    _write_batch(spark, inp, rows[80:])
    run()
    assert stored_state() == want_state(120)
    # the late batch's id committed with its data (file→batch packing
    # is a source detail; what matters is the watermark advanced)
    assert table.meta()["batch_id"] >= 1

    # wiped checkpoint + surviving state: loud identity failure
    shutil.rmtree(ckpt)
    try:
        run()
        raise AssertionError("foreign-identity replay did not fail")
    except StreamingQueryException as e:
        assert "checkpoint identity changed" in str(e)
    assert stored_state() == want_state(120)


def test_streaming_time_rollup_manifest_crash_at_commit_recovers(
    spark, tmp_path, monkeypatch
):
    """The atomicity payoff: kill the job AT the commit point (manifest
    rename) mid-batch. The table stays byte-identical to the previous
    version, so the checkpoint replay simply refolds the batch — no
    partial-commit state, no rebuild-from-history error, exact final
    sums. The hive twin's analogous crash leaves a mixed-vintage table
    its guard can only reject."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from bangumi_notion_data_integration_project_spark import manifest_table as mt
    from bangumi_notion_data_integration_project_spark.operators.rollup import (
        hierarchical_time_rollup,
    )
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_time_rollup_manifest,
    )

    rows_a = [(i, "2024-01-05 06:00:00", 1, "e", 1.0) for i in range(10)]
    rows_b = [(i + 10, "2024-01-06 07:00:00", 1, "e", 2.5) for i in range(10)]
    inp = str(tmp_path / "in")
    table_dir = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    cents = F.round(F.col("value") * 100, 0)
    table = mt.ManifestTable(table_dir, ["grain", "__year"])

    def run():
        q = start_streaming_time_rollup_manifest(
            read_event_stream(spark, inp, SCHEMA),
            table_dir,
            ts_col="ts",
            value_cents=cents,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(180)

    def state():
        return {
            (r["grain"], str(r["bucket_start"])): (r["n_events"], r["value_cents"])
            for r in table.read(spark).collect()
        }

    def want(rs):
        return {
            (r["grain"], str(r["bucket_start"])): (r["n_events"], r["value_cents"])
            for r in hierarchical_time_rollup(_rows(spark, rs), "ts", cents).collect()
        }

    _write_batch(spark, inp, rows_a)
    run()
    assert state() == want(rows_a)
    v1 = table.manifest()["version"]

    _write_batch(spark, inp, rows_b)
    real_swap = mt.ManifestTable._swap

    def boom(self, manifest):
        raise OSError("simulated crash at the manifest rename")

    monkeypatch.setattr(mt.ManifestTable, "_swap", boom)
    try:
        with pytest.raises(StreamingQueryException):
            run()
    finally:
        monkeypatch.setattr(mt.ManifestTable, "_swap", real_swap)
    # crash before the rename: table byte-identical to the prior version
    assert table.manifest()["version"] == v1
    assert state() == want(rows_a)

    # restart: the replay refolds batch 1 from the intact old state —
    # exact once-applied sums, orphaned staging reclaimed on cold start
    run()
    assert state() == want(rows_a + rows_b)
    assert table.manifest()["version"] > v1


def test_streaming_time_rollup_manifest_replay_skip(spark, tmp_path):
    """Same-identity replay at or below the committed watermark is
    skipped with NO partial-commit proof needed: the watermark rode
    the same atomic swap as the data, so reaching it proves the whole
    batch landed."""
    import json
    import os

    from bangumi_notion_data_integration_project_spark.manifest_table import (
        ManifestTable,
    )
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_time_rollup_manifest,
    )

    inp = str(tmp_path / "in")
    table_dir = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(ckpt)
    qid = "11111111-2222-3333-4444-555555555555"
    with open(os.path.join(ckpt, "metadata"), "w") as fh:
        json.dump({"id": qid}, fh)

    table = ManifestTable(table_dir, ["grain", "__year"])
    table.commit(
        spark.createDataFrame(
            [("day", "2024-01-01", 7, 700, "day|2024-01-01", 2024)],
            "grain string, bucket_start string, n_events long,"
            " value_cents long, __k string, __year int",
        ).withColumn("bucket_start", F.to_date("bucket_start")),
        meta={"batch_id": 99, "ckpt_id": qid},
    )

    _write_batch(spark, inp, [(1, "2024-01-01 05:00:00", 1, "e", 3.0)])
    q = start_streaming_time_rollup_manifest(
        read_event_stream(spark, inp, SCHEMA),
        table_dir,
        ts_col="ts",
        value_cents=F.round(F.col("value") * 100, 0),
        checkpoint_dir=ckpt,
    )
    q.awaitTermination(180)
    got = {
        (r["grain"], str(r["bucket_start"])): (r["n_events"], r["value_cents"])
        for r in table.read(spark).collect()
    }
    # batch 0 <= watermark 99, matching identity: skipped, untouched
    assert got == {("day", "2024-01-01"): (7, 700)}, got
    assert table.meta() == {"batch_id": 99, "ckpt_id": qid}


def test_streaming_quantile_sketch_replay_exact(spark, tmp_path):
    """Semilattice sketch twin: after a 3-batch run the stored sketch
    is row-for-row the batch sketch of the concatenated input; a wiped
    checkpoint replaying EVERYTHING leaves it unchanged (idempotent
    merge — no batch-id guard exists to save it); new data arriving
    after the replay still folds in exactly."""
    import random
    import shutil

    from bangumi_notion_data_integration_project_spark.operators.quantile_sketch import (
        quantile_sketch,
    )
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_quantile_sketch,
    )

    rng = random.Random(11)
    rows = [
        (i, "2024-01-01 00:00:00", 1, "e", rng.randint(0, 99999) / 100.0)
        for i in range(900)
    ]
    inp = str(tmp_path / "in")
    sk_dir = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")
    for chunk in (rows[:300], rows[300:600], rows[600:]):
        _write_batch(spark, inp, chunk)

    def run():
        q = start_streaming_quantile_sketch(
            read_event_stream(spark, inp, SCHEMA),
            sk_dir,
            value_col="value",
            id_cols=["event_id"],
            k=128,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(180)

    def stored():
        return sorted(
            (r["value"], r["__qs_h"])
            for r in spark.read.parquet(sk_dir).collect()
        )

    def direct(rs):
        df = _rows(spark, rs)
        return sorted(
            (r["value"], r["__qs_h"])
            for r in quantile_sketch(df, "value", ["event_id"], k=128).collect()
        )

    run()
    want = direct(rows)
    assert stored() == want

    # full replay: wipe the checkpoint, keep the state, re-deliver all
    # 900 rows as fresh batches 0..2 — the sum-fold twins either
    # double-count (flat) or fail loudly (partitioned); here the merge
    # absorbs every replayed row as a no-op
    shutil.rmtree(ckpt)
    run()
    assert stored() == want, "replayed rows changed the sketch"

    # and new data AFTER the replay still folds in exactly
    extra = [
        (1000 + i, "2024-01-02 00:00:00", 1, "e", rng.randint(0, 99999) / 100.0)
        for i in range(300)
    ]
    _write_batch(spark, inp, extra)
    run()
    assert stored() == direct(rows + extra)


def test_streaming_distinct_sketch_replay_exact(spark, tmp_path):
    """HLL twin: stored per-key estimates equal the batch sketch of the
    whole input, survive a full checkpoint-wipe replay untouched, and
    absorb post-replay data exactly — idempotence by register algebra."""
    import shutil

    from bangumi_notion_data_integration_project_spark.operators.distinct_sketch import (
        distinct_sketch,
        sketch_estimates,
    )
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_distinct_sketch,
    )

    rows = [
        (i, "2024-01-01 00:00:00", i % 137, ("click", "view")[i % 2], 1.0)
        for i in range(600)
    ]
    inp = str(tmp_path / "in")
    sk_dir = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")
    for chunk in (rows[:200], rows[200:400], rows[400:]):
        _write_batch(spark, inp, chunk)

    def run():
        q = start_streaming_distinct_sketch(
            read_event_stream(spark, inp, SCHEMA),
            sk_dir,
            key_cols=["event_type"],
            id_col="user_id",
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(180)

    def stored():
        return {
            r["event_type"]: r["distinct_est"]
            for r in sketch_estimates(spark.read.parquet(sk_dir)).collect()
        }

    def direct(rs):
        return {
            r["event_type"]: r["distinct_est"]
            for r in sketch_estimates(
                distinct_sketch(_rows(spark, rs), ["event_type"], "user_id")
            ).collect()
        }

    run()
    want = direct(rows)
    assert stored() == want

    shutil.rmtree(ckpt)
    run()
    assert stored() == want, "replayed rows changed the estimates"

    extra = [
        (1000 + i, "2024-01-02 00:00:00", 500 + i, "click", 1.0) for i in range(80)
    ]
    _write_batch(spark, inp, extra)
    run()
    assert stored() == direct(rows + extra)


def test_streaming_grouped_quantile_sketch_replay_exact(spark, tmp_path):
    """Keyed sketch twin (group_cols set): per-key stored sketches equal
    the batch grouped sketch of the whole input and survive a full
    checkpoint-wipe replay — the per-key latency-quantile shape."""
    import random
    import shutil

    from bangumi_notion_data_integration_project_spark.operators.quantile_sketch import (
        grouped_quantile_sketch,
    )
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_quantile_sketch,
    )

    rng = random.Random(23)
    rows = [
        (i, "2024-01-01 00:00:00", 1, ("click", "view", "purchase")[i % 3],
         rng.randint(0, 9999) / 100.0)
        for i in range(600)
    ]
    inp = str(tmp_path / "in")
    sk_dir = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")
    for chunk in (rows[:200], rows[200:400], rows[400:]):
        _write_batch(spark, inp, chunk)

    def run():
        q = start_streaming_quantile_sketch(
            read_event_stream(spark, inp, SCHEMA),
            sk_dir,
            value_col="value",
            id_cols=["event_id"],
            k=64,
            group_cols=["event_type"],
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(180)

    def stored():
        return sorted(
            (r["event_type"], r["value"], r["__qs_h"])
            for r in spark.read.parquet(sk_dir).collect()
        )

    run()
    want = sorted(
        (r["event_type"], r["value"], r["__qs_h"])
        for r in grouped_quantile_sketch(
            _rows(spark, rows), "value", ["event_id"], ["event_type"], k=64
        ).collect()
    )
    assert stored() == want

    shutil.rmtree(ckpt)
    run()
    assert stored() == want, "replayed rows changed a per-key sketch"


def test_checkpoint_identity_dual_form(tmp_path):
    """The replay guard's identity must not flip between its strong
    (query-id) and weak (path) forms when the checkpoint metadata file
    transiently becomes unreadable — the r6 advisory: a legitimate
    crash-recovery replay spuriously failed when the stored form and
    the re-read form differed. The dual-form identity stores both and
    matches id-vs-id when both sides know it, path-vs-path otherwise;
    bare legacy values match either component."""
    import json
    import os

    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        _checkpoint_identity,
        _identity_matches,
    )

    ckpt = str(tmp_path / "ckpt")
    os.makedirs(ckpt)
    qid = "aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee"
    with open(os.path.join(ckpt, "metadata"), "w") as fh:
        json.dump({"id": qid}, fh)

    readable = _checkpoint_identity(ckpt)
    assert json.loads(readable) == {"id": qid, "path": os.path.abspath(ckpt)}

    # metadata becomes unreadable (object store / transient failure):
    # identity degrades to path-only but must STILL match the stored
    # readable-form identity (and vice versa)
    os.remove(os.path.join(ckpt, "metadata"))
    pathonly = _checkpoint_identity(ckpt)
    assert json.loads(pathonly)["id"] is None
    assert _identity_matches(readable, pathonly)
    assert _identity_matches(pathonly, readable)

    # wiped-and-recreated checkpoint at the SAME path: both ids known
    # -> the strong form still detects the divergence
    with open(os.path.join(ckpt, "metadata"), "w") as fh:
        json.dump({"id": "ffffffff-0000-1111-2222-333333333333"}, fh)
    fresh = _checkpoint_identity(ckpt)
    assert not _identity_matches(readable, fresh)

    # a different path never matches path-to-path
    other = str(tmp_path / "elsewhere")
    os.makedirs(other)
    assert not _identity_matches(pathonly, _checkpoint_identity(other))

    # legacy bare stored values (pre-dual-form tables): a bare query id
    # or a bare abspath each match the current dual form
    assert _identity_matches(qid, fresh) is False
    assert _identity_matches("ffffffff-0000-1111-2222-333333333333", fresh)
    assert _identity_matches(os.path.abspath(ckpt), pathonly)
    # bare legacy id + UNREADABLE current metadata: unverifiable either
    # way -> must match (failing would brick every legacy crash replay
    # behind a transiently unreadable metadata file), while a bare path
    # still only matches the path form
    assert _identity_matches(qid, pathonly)
    assert not _identity_matches("/some/other/path", pathonly)
    # r7 advisory: ONLY UUID-shaped bare values take the lenient
    # legacy-id branch — a relative or non-POSIX (Windows) legacy path
    # must fail loud, not slip through as an "id"
    assert not _identity_matches("ckpt/relative", pathonly)
    assert not _identity_matches("C:\\streams\\ckpt", pathonly)
    assert not _identity_matches(None, fresh)


@pytest.mark.parametrize("seed", [3, 23])
def test_streaming_coverage_out_of_order_closed_portion(spark, tmp_path, seed):
    """Bounded-lateness coverage twin: replay events in a shuffled
    arrival order with displacement under the lateness, and the closed
    portion (ts <= final per-key frontier) must equal the BATCH
    interval_coverage over exactly those events — same whole-second
    merge, same touching-windows rule, nothing dropped, the open tail
    in n_pending."""
    import random

    from bangumi_notion_data_integration_project_spark.operators.intervals import (
        interval_coverage,
    )
    from bangumi_notion_data_integration_project_spark.streaming.stateful import (
        coverage_stream_watermarked,
    )

    rng = random.Random(seed)
    minute = lambda m: f"2024-01-01 {m // 60:02d}:{m % 60:02d}:00"  # noqa: E731
    ts_minutes = [rng.randint(0, 600) for _ in range(90)]
    rows = [
        (i, minute(m), rng.choice([1, 2]), "e", 0.0)
        for i, m in enumerate(ts_minutes)
    ]
    # jitter ±10 min, lateness 30 min -> nothing can arrive pre-closed
    arrival = sorted(
        range(len(rows)), key=lambda i: ts_minutes[i] + rng.uniform(-10, 10)
    )
    shuffled = [rows[i] for i in arrival]

    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    emitted: dict[int, tuple[int, int, int, int]] = {}

    def run_once():
        def sink(batch, _bid):
            for r in batch.collect():
                emitted[r["user_id"]] = (
                    r["n_intervals"], r["covered_s"], r["n_pending"], r["n_dropped"],
                )

        q = (
            coverage_stream_watermarked(
                read_event_stream(spark, inp, SCHEMA),
                duration_s=900,
                lateness_s=1800,
            )
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    third = len(shuffled) // 3
    for i in range(3):
        hi = None if i == 2 else (i + 1) * third
        _write_batch(spark, inp, shuffled[i * third : hi])
        run_once()

    by_key: dict[int, list[int]] = {}
    for _, ts, uid, _, _ in rows:
        m = int(ts[11:13]) * 60 + int(ts[14:16])
        by_key.setdefault(uid, []).append(m)
    frontier = {k: max(v) * 60 - 1800 for k, v in by_key.items()}
    closed = [
        r for r in rows
        if (int(r[1][11:13]) * 60 + int(r[1][14:16])) * 60 <= frontier[r[2]]
    ]
    want = {
        r["user_id"]: (r["n_intervals"], r["covered_s"])
        for r in interval_coverage(
            _rows(spark, closed).select(
                "user_id", "event_id", F.unix_timestamp("ts").cast("long").alias("u")
            ),
            "user_id",
            F.col("u"),
            900,
            ["event_id"],
        ).collect()
    }
    for k, mins in by_key.items():
        n_iv, covered, pending, dropped = emitted[k]
        assert dropped == 0, f"user {k}: bounded-lateness arrival dropped events"
        w_iv, w_cov = want.get(k, (0, 0))
        assert (n_iv, covered) == (w_iv, w_cov), f"user {k}: closed portion diverges"
        tail = sum(1 for m in mins if m * 60 > frontier[k])
        assert pending == tail, f"user {k}: pending tail miscounted"


def test_streaming_set_sketch_replay_exact(spark, tmp_path):
    """KMV set-sketch twin: the stored per-key bottom-k hash sample
    equals the batch sketch of the whole input ROW FOR ROW, survives a
    full checkpoint-wipe replay untouched, and absorbs post-replay data
    exactly — the dedup/bottom-k semilattice argument, the third of
    the algebra-exact twins."""
    import shutil

    from bangumi_notion_data_integration_project_spark.operators.setsketch import (
        set_sketch,
        set_sketch_distinct,
    )
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_set_sketch,
    )

    rows = [
        (i, "2024-01-01 00:00:00", i % 211, ("click", "view")[i % 2], 1.0)
        for i in range(600)
    ]
    inp = str(tmp_path / "in")
    sk_dir = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")
    for chunk in (rows[:200], rows[200:400], rows[400:]):
        _write_batch(spark, inp, chunk)

    def run():
        q = start_streaming_set_sketch(
            read_event_stream(spark, inp, SCHEMA),
            sk_dir,
            id_cols=["user_id"],
            k=64,  # below the 211-key cardinality: the estimator path
            key_cols=["event_type"],
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(180)

    def stored_rows():
        return sorted(
            (r["event_type"], r["__ss_h"])
            for r in spark.read.parquet(sk_dir).collect()
        )

    def direct_rows(rs):
        return sorted(
            (r["event_type"], r["__ss_h"])
            for r in set_sketch(
                _rows(spark, rs), ["event_type"], ["user_id"], k=64
            ).collect()
        )

    run()
    want = direct_rows(rows)
    assert stored_rows() == want

    shutil.rmtree(ckpt)
    run()
    assert stored_rows() == want, "replayed rows changed the kept set"

    extra = [
        (1000 + i, "2024-01-02 00:00:00", 500 + i, "click", 1.0)
        for i in range(80)
    ]
    _write_batch(spark, inp, extra)
    run()
    assert stored_rows() == direct_rows(rows + extra)

    # the stored table serves estimates directly
    ests = {
        r["event_type"]: r["distinct_est"]
        for r in set_sketch_distinct(
            spark.read.parquet(sk_dir), ["event_type"], k=64
        ).collect()
    }
    assert set(ests) == {"click", "view"}
    true_click = len({u for i, _, u, t, _ in rows + extra if t == "click"})
    assert abs(ests["click"] - true_click) / true_click <= 5.0 / (62**0.5)


def test_streaming_dedup_index_matches_batch_lsh(spark, tmp_path):
    """Incremental dedup twin: after draining N batches, the
    accumulated matches table must equal minhash_lsh_candidates over
    the WHOLE corpus (every pair surfaces in the batch where its later
    member arrives), survive a checkpoint-wipe replay untouched, and
    absorb post-replay arrivals — both stores are set-unions."""
    import shutil

    from bangumi_notion_data_integration_project_spark.operators.dedup import (
        minhash_lsh_candidates,
    )
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_dedup_index,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the band plays "
        "and the crowd cheers loudly under bright summer skies tonight"
    )
    docs = []
    for i in range(30):
        words = base.split()
        words[i % len(words)] = f"tok{i}"  # near-dup family of `base`
        docs.append((i, " ".join(words)))
    for i in range(30, 45):  # unrelated docs
        docs.append((i, " ".join(f"u{i}w{j}" for j in range(20))))

    def doc_rows(ds):
        # ride the events schema: text in event_type (string column)
        return [(i, "2024-01-01 00:00:00", 0, t, 0.0) for i, t in ds]

    inp = str(tmp_path / "in")
    idx = str(tmp_path / "index")
    mat = str(tmp_path / "matches")
    ckpt = str(tmp_path / "ckpt")
    for chunk in (docs[:15], docs[15:30], docs[30:]):
        _write_batch(spark, inp, doc_rows(chunk))

    def run():
        q = start_streaming_dedup_index(
            read_event_stream(spark, inp, SCHEMA),
            idx,
            mat,
            text_col="event_type",
            id_col="event_id",
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(240)

    def stored_pairs():
        return sorted(
            (r["id_a"], r["id_b"])
            for r in spark.read.parquet(mat).collect()
        )

    def batch_pairs(ds):
        df = spark.createDataFrame(ds, "doc_id long, text string")
        return sorted(
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_candidates(df, "text", "doc_id").collect()
        )

    run()
    want = batch_pairs(docs)
    assert want, "the planted family must produce candidate pairs"
    assert stored_pairs() == want

    shutil.rmtree(ckpt)
    run()
    assert stored_pairs() == want, "replay changed the stores"

    late = [(100 + i, docs[i][1]) for i in range(3)]  # dups of the family
    _write_batch(spark, inp, doc_rows(late))
    run()
    assert stored_pairs() == batch_pairs(docs + late)


def test_streaming_cms_equals_batch_and_skips_replay(spark, tmp_path):
    """CMS twin (rung 2 of the state-algebra ladder): after draining
    3 batches the stored cells equal the batch cms_build over the
    concatenated input; a checkpoint wipe re-delivers every batch with
    batch_id <= the stored watermark and must be skipped (a cell-wise
    SUM would double-count, unlike the semilattice twins); post-guard
    NEW arrivals keep folding; lookups serve from the stored rows."""
    import shutil

    from bangumi_notion_data_integration_project_spark.operators.cms import (
        cms_build,
        cms_lookup,
    )
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_cms,
    )

    rows = [
        (i, "2024-01-01 00:00:00", i % 37, "e", 1.0) for i in range(600)
    ]
    inp = str(tmp_path / "in")
    cms_dir = str(tmp_path / "cms")
    ckpt = str(tmp_path / "ckpt")
    for chunk in (rows[:200], rows[200:400], rows[400:]):
        _write_batch(spark, inp, chunk)

    def run():
        q = start_streaming_cms(
            read_event_stream(spark, inp, SCHEMA),
            cms_dir,
            item_cols=["user_id"],
            depth=3,
            width=64,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(180)

    def stored_cells():
        return {
            (r["__d"], r["__w"]): r["cnt"]
            for r in spark.read.parquet(cms_dir)
            .drop("__batch_id")
            .collect()
        }

    def direct_cells(rs):
        return {
            (r["__d"], r["__w"]): r["cnt"]
            for r in cms_build(
                _rows(spark, rs), ["user_id"], depth=3, width=64
            ).collect()
        }

    run()
    want = direct_cells(rows)
    assert stored_cells() == want

    # checkpoint wipe -> full re-delivery, watermark guard must skip
    shutil.rmtree(ckpt)
    run()
    assert stored_cells() == want, "replayed batches double-counted"

    # NOTE the guard's contract: after the wipe the re-run renumbered
    # batches 0..2 (all <= watermark 2, skipped). The next arrival
    # lands as batch 3 > watermark and folds normally.
    extra = [
        (1000 + i, "2024-01-02 00:00:00", 500 + i % 7, "e", 1.0)
        for i in range(90)
    ]
    _write_batch(spark, inp, extra)
    run()
    assert stored_cells() == direct_cells(rows + extra)

    # serving path: estimates from the stored table alone
    probe = spark.createDataFrame(
        [(u,) for u in (0, 36, 500, 999999)], "user_id long"
    )
    est = {
        r["user_id"]: r["est"]
        for r in cms_lookup(
            spark.read.parquet(cms_dir).drop("__batch_id"),
            probe,
            ["user_id"],
            depth=3,
            width=64,
        ).collect()
    }
    true = {u: sum(1 for r in rows + extra if r[2] == u) for u in (0, 36, 500)}
    for u, t in true.items():
        assert est[u] >= t
    assert est[999999] >= 0


def test_streaming_cms_adopts_pre_param_column_state(spark, tmp_path):
    """Legacy (param-less) sketch state is migrated only through the
    explicit ``adopt_legacy_params=True`` opt-in — stamping the
    stream's current config silently would bypass the cms_merge
    mismatch gate exactly where it cannot be verified (the r9 ADVICE
    find). Without the flag the fold fails loud; with it, the SAME
    checkpoint continues exactly. Simulated as a faithful upgrade: the
    stream runs, its state is rewritten to the legacy layout, a new
    batch arrives."""
    from bangumi_notion_data_integration_project_spark.operators.cms import (
        cms_build,
    )
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_cms,
    )

    rows1 = [(i, "2024-01-01 00:00:00", i % 11, "e", 1.0) for i in range(200)]
    rows2 = [
        (500 + i, "2024-01-02 00:00:00", i % 13, "e", 1.0) for i in range(150)
    ]
    inp = str(tmp_path / "in")
    cms_dir = str(tmp_path / "cms")
    ckpt = str(tmp_path / "ckpt")

    def run(adopt=False):
        q = start_streaming_cms(
            read_event_stream(spark, inp, SCHEMA),
            cms_dir,
            item_cols=["user_id"],
            depth=3,
            width=64,
            checkpoint_dir=ckpt,
            adopt_legacy_params=adopt,
        )
        q.awaitTermination(180)
        return q

    _write_batch(spark, inp, rows1)
    run()

    # downgrade the stored layout in place (what pre-upgrade code had
    # written), keeping the checkpoint — the live-upgrade scenario
    legacy = (
        spark.read.parquet(cms_dir)
        .drop("__depth", "__width", "__seed")
        .localCheckpoint(eager=True)
    )
    import shutil

    shutil.rmtree(cms_dir)
    legacy.write.parquet(cms_dir)

    _write_batch(spark, inp, rows2)
    # without the opt-in the fold refuses to guess the legacy params
    with pytest.raises(Exception, match="adopt_legacy_params"):
        run(adopt=False)
    # stored state untouched by the refused fold: still param-less
    assert "__depth" not in spark.read.parquet(cms_dir).columns

    run(adopt=True)
    got = {
        (r["__d"], r["__w"]): r["cnt"]
        for r in spark.read.parquet(cms_dir).drop("__batch_id").collect()
    }
    want = {
        (r["__d"], r["__w"]): r["cnt"]
        for r in cms_build(
            _rows(spark, rows1 + rows2), ["user_id"], depth=3, width=64
        ).collect()
    }
    assert got == want


def test_streaming_psi_equals_batch_and_skips_replay(spark, tmp_path):
    """PSI twin (rung 3, sum-fold bucket counts): after draining 3
    batches the stored k-row serving table equals the batch psi() of
    the reference against the concatenated delivered input — the
    shared-formula guarantee (drift._psi_from_base) made observable; a
    checkpoint wipe re-delivers every batch and the __batch_id guard
    must skip them (double-counted buckets would shift every share);
    post-guard NEW arrivals keep folding; edges stay FROZEN from the
    reference (never recomputed from the stream)."""
    import shutil

    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.drift import psi
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_psi,
    )

    rng = __import__("random").Random(91)
    ref_rows = [
        (10_000 + i, "2024-01-01 00:00:00", 1, "ref", float(rng.randrange(0, 500)))
        for i in range(400)
    ]
    ref_df = _rows(spark, ref_rows).select(
        F.round(F.col("value")).cast("long").alias("x")
    )
    # the stream drifts upward batch by batch
    batches = [
        [
            (b * 1000 + i, "2024-01-02 00:00:00", 2, "cur",
             float(rng.randrange(0, 500) + b * 120))
            for i in range(150)
        ]
        for b in range(3)
    ]
    inp = str(tmp_path / "in")
    psi_dir = str(tmp_path / "psi")
    ckpt = str(tmp_path / "ckpt")
    for chunk in batches:
        _write_batch(spark, inp, chunk)

    def run():
        q = start_streaming_psi(
            read_event_stream(spark, inp, SCHEMA).select(
                F.round(F.col("value")).cast("long").alias("x"),
                F.col("ts"),
            ),
            psi_dir,
            value_col="x",
            ref=ref_df,
            n_buckets=8,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(180)

    def stored():
        return sorted(
            tuple(r)
            for r in spark.read.parquet(psi_dir)
            .drop("__batch_id", "__n_buckets", "__edges_fp")
            .collect()
        )

    def direct(delivered):
        cur = _rows(spark, delivered).select(
            F.round(F.col("value")).cast("long").alias("x")
        )
        return sorted(
            tuple(r) for r in psi(ref_df, cur, "x", n_buckets=8).collect()
        )

    run()
    want = direct([r for b in batches for r in b])
    assert stored() == want
    # the drifted stream actually registers
    assert stored()[0][-1] > 0.1

    # checkpoint wipe -> renumbered re-delivery, guard must skip all
    shutil.rmtree(ckpt)
    run()
    assert stored() == want, "replayed batches double-counted buckets"

    # a genuinely new batch (id 3 > watermark 2) folds normally, and
    # the serving table still matches batch psi on the full union
    extra = [
        (9000 + i, "2024-01-03 00:00:00", 3, "cur", float(rng.randrange(800, 1200)))
        for i in range(120)
    ]
    _write_batch(spark, inp, extra)
    run()
    assert stored() == direct([r for b in batches for r in b] + extra)


def test_streaming_psi_null_value_fails_loud(spark, tmp_path):
    """A NULL stream value must crash the fold (the psi fail-loud
    convention), never land silently in bucket 1."""
    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_psi,
    )

    ref_df = _rows(
        spark,
        [(i, "2024-01-01 00:00:00", 1, "r", float(i % 50)) for i in range(100)],
    ).select(F.round(F.col("value")).cast("long").alias("x"))
    inp = str(tmp_path / "in")
    _write_batch(
        spark,
        inp,
        [(1, "2024-01-02 00:00:00", 2, "c", 5.0),
         (2, "2024-01-02 00:00:00", 2, "c", None)],
    )
    q = start_streaming_psi(
        read_event_stream(spark, inp, SCHEMA).select(
            F.col("value").cast("long").alias("x"), F.col("ts")
        ),
        str(tmp_path / "psi"),
        value_col="x",
        ref=ref_df,
        n_buckets=4,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    with pytest.raises(Exception, match="psi: NULL value"):
        q.awaitTermination(180)


def test_streaming_mwu_equals_batch_and_skips_replay(spark, tmp_path):
    """MWU twin (rung 3, sided-count sum-fold): after draining 3
    drifting batches, the "mwu" reader equals the batch operator on
    ref vs the concatenated delivered input EXACTLY (the shared
    _mwu_from_counts guarantee); a checkpoint wipe re-delivers every
    batch and the __batch_id guard must skip them; a genuinely new
    batch keeps folding."""
    import shutil

    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        mann_whitney_u,
    )
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        read_streaming_two_sample,
        start_streaming_mwu,
    )

    rng = __import__("random").Random(97)
    ref_rows = [
        (10_000 + i, "2024-01-01 00:00:00", 1, "r", float(rng.randrange(0, 300)))
        for i in range(300)
    ]
    ref_df = _rows(spark, ref_rows).select(
        F.round(F.col("value")).cast("long").alias("x")
    )
    batches = [
        [
            (b * 1000 + i, "2024-01-02 00:00:00", 2, "c",
             float(rng.randrange(0, 300) + b * 40))
            for i in range(120)
        ]
        for b in range(3)
    ]
    inp = str(tmp_path / "in")
    mwu_dir = str(tmp_path / "mwu")
    ckpt = str(tmp_path / "ckpt")
    for chunk in batches:
        _write_batch(spark, inp, chunk)

    def run():
        q = start_streaming_mwu(
            read_event_stream(spark, inp, SCHEMA).select(
                F.round(F.col("value")).cast("long").alias("x"),
                F.col("ts"),
            ),
            mwu_dir,
            value_col="x",
            ref=ref_df,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(180)

    def stored():
        return tuple(
            read_streaming_two_sample(spark, mwu_dir, "mwu").collect()[0]
        )

    def direct(delivered):
        cur = _rows(spark, delivered).select(
            F.round(F.col("value")).cast("long").alias("x")
        )
        return tuple(mann_whitney_u(ref_df, cur, "x").collect()[0])

    run()
    want = direct([r for b in batches for r in b])
    assert stored() == want
    assert stored()[6] < 0.01  # the drifted stream registers (p_value)

    shutil.rmtree(ckpt)
    run()
    assert stored() == want, "replayed batches double-counted values"

    extra = [
        (9000 + i, "2024-01-03 00:00:00", 3, "c", float(rng.randrange(400, 900)))
        for i in range(100)
    ]
    _write_batch(spark, inp, extra)
    run()
    assert stored() == direct([r for b in batches for r in b] + extra)


def test_streaming_mwu_null_value_fails_loud(spark, tmp_path):
    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_mwu,
    )

    ref_df = _rows(
        spark,
        [(i, "2024-01-01 00:00:00", 1, "r", float(i % 40)) for i in range(80)],
    ).select(F.round(F.col("value")).cast("long").alias("x"))
    inp = str(tmp_path / "in")
    _write_batch(
        spark,
        inp,
        [(1, "2024-01-02 00:00:00", 2, "c", 5.0),
         (2, "2024-01-02 00:00:00", 2, "c", None)],
    )
    q = start_streaming_mwu(
        read_event_stream(spark, inp, SCHEMA).select(
            F.col("value").cast("long").alias("x"), F.col("ts")
        ),
        str(tmp_path / "mwu"),
        value_col="x",
        ref=ref_df,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    with pytest.raises(Exception, match="mann_whitney_u: NULL value"):
        q.awaitTermination(180)


def test_streaming_psi_param_gate(spark, tmp_path):
    """The PSI twin's restart-contract gate (the CMS param-column
    pattern): state built with one (n_buckets, ref) must refuse a
    restart with a different n_buckets OR a different ref — either
    would silently fold new bucket counts into incompatibly-bucketed
    state. Legacy (param-less) state raises without the explicit
    one-time adopt_legacy_params=True migration and folds normally
    with it."""
    import shutil

    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_psi,
    )

    rng = __import__("random").Random(7)
    ref_df = _rows(
        spark,
        [(i, "2024-01-01 00:00:00", 1, "r", float(rng.randrange(0, 200)))
         for i in range(200)],
    ).select(F.round(F.col("value")).cast("long").alias("x"))
    inp = str(tmp_path / "in")
    psi_dir = str(tmp_path / "psi")
    _write_batch(
        spark,
        inp,
        [(i, "2024-01-02 00:00:00", 2, "c", float(rng.randrange(0, 200)))
         for i in range(80)],
    )

    def run(ref, k, ckpt, adopt=False):
        q = start_streaming_psi(
            read_event_stream(spark, inp, SCHEMA).select(
                F.round(F.col("value")).cast("long").alias("x"),
                F.col("ts"),
            ),
            psi_dir,
            value_col="x",
            ref=ref,
            n_buckets=k,
            checkpoint_dir=str(tmp_path / ckpt),
            adopt_legacy_params=adopt,
        )
        q.awaitTermination(180)

    run(ref_df, 8, "ckpt")
    stored = spark.read.parquet(psi_dir)
    assert {"__n_buckets", "__edges_fp"} <= set(stored.columns)

    # changed n_buckets → fail loud (fresh checkpoint = renumbered
    # batches, so the fold actually runs and must hit the gate)
    _write_batch(
        spark, inp,
        [(900, "2024-01-03 00:00:00", 2, "c", 5.0)],
    )
    with pytest.raises(Exception, match="start_streaming_psi.*built with"):
        run(ref_df, 6, "ckpt2")

    # changed reference (different edges fingerprint) → fail loud
    ref2 = ref_df.withColumn("x", F.col("x") * 3 + 1)
    with pytest.raises(Exception, match="start_streaming_psi.*built with"):
        run(ref2, 8, "ckpt3")

    # legacy state (no param columns): refuse, then adopt explicitly.
    # The stored __batch_id stays UNTOUCHED and the adopt run uses a
    # fresh checkpoint, so the replay guard skips every delivered
    # batch — the migration must persist anyway (the eager
    # _persist_param_stamp; a fold-dependent stamp would silently
    # leave the state param-less forever, the review-confirmed gap).
    legacy = stored.drop("__n_buckets", "__edges_fp")
    legacy_pd = legacy.toPandas()
    shutil.rmtree(psi_dir)
    spark.createDataFrame(legacy_pd, schema=legacy.schema).write.parquet(
        psi_dir
    )
    with pytest.raises(
        Exception, match="start_streaming_psi.*predates the"
    ):
        run(ref_df, 8, "ckpt4")
    before = sorted(
        tuple(r)
        for r in spark.read.parquet(psi_dir)
        .select("bucket", "n_cur")
        .collect()
    )
    run(ref_df, 8, "ckpt5", adopt=True)  # explicit one-time migration
    # post-adoption state carries the params — even though every
    # replayed batch was skipped (counts unchanged)
    migrated = spark.read.parquet(psi_dir)
    assert {"__n_buckets", "__edges_fp"} <= set(migrated.columns)
    assert before == sorted(
        tuple(r) for r in migrated.select("bucket", "n_cur").collect()
    )
    # and the NEXT restart needs no flag: the params verify cleanly
    run(ref_df, 8, "ckpt6")


def test_streaming_mwu_ref_gate(spark, tmp_path):
    """The MWU twin ignores ``ref`` once state exists — so a restart
    with a DIFFERENT ref must fail loud via the stored __ref_fp
    fingerprint instead of silently reporting a verdict against a
    reference the caller no longer intends."""
    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_mwu,
    )

    rng = __import__("random").Random(11)
    ref_df = _rows(
        spark,
        [(i, "2024-01-01 00:00:00", 1, "r", float(rng.randrange(0, 150)))
         for i in range(150)],
    ).select(F.round(F.col("value")).cast("long").alias("x"))
    inp = str(tmp_path / "in")
    mwu_dir = str(tmp_path / "mwu")
    _write_batch(
        spark,
        inp,
        [(i, "2024-01-02 00:00:00", 2, "c", float(rng.randrange(0, 150)))
         for i in range(60)],
    )

    def run(ref, ckpt):
        q = start_streaming_mwu(
            read_event_stream(spark, inp, SCHEMA).select(
                F.round(F.col("value")).cast("long").alias("x"),
                F.col("ts"),
            ),
            mwu_dir,
            value_col="x",
            ref=ref,
            checkpoint_dir=str(tmp_path / ckpt),
        )
        q.awaitTermination(180)

    run(ref_df, "ckpt")
    assert "__ref_fp" in spark.read.parquet(mwu_dir).columns

    # same ref restarts fine (fresh checkpoint renumbers; the guard
    # skips the replay but the param check runs first and passes)
    run(ref_df, "ckpt2")

    ref2 = ref_df.withColumn("x", F.col("x") + 1000)
    _write_batch(
        spark, inp,
        [(900, "2024-01-03 00:00:00", 2, "c", 5.0)],
    )
    with pytest.raises(Exception, match="start_streaming_mwu.*built with"):
        run(ref2, "ckpt3")


def test_streaming_ks_equals_batch_and_skips_replay(spark, tmp_path):
    """KS twin (rung 3, shared sided-counts fold with the MWU twin):
    after draining drifting batches, the "ks" reader equals the
    batch operator on ref vs the concatenated delivered input EXACTLY
    (the shared _ks_from_counts guarantee); a checkpoint wipe
    re-delivers every batch and the __batch_id guard must skip them;
    a genuinely new batch keeps folding."""
    import shutil

    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        ks_two_sample,
    )
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        read_streaming_two_sample,
        start_streaming_ks,
    )

    rng = __import__("random").Random(101)
    ref_rows = [
        (10_000 + i, "2024-01-01 00:00:00", 1, "r", float(rng.randrange(0, 300)))
        for i in range(300)
    ]
    ref_df = _rows(spark, ref_rows).select(
        F.round(F.col("value")).cast("long").alias("x")
    )
    batches = [
        [
            (b * 1000 + i, "2024-01-02 00:00:00", 2, "c",
             float(rng.randrange(0, 300) + b * 60))
            for i in range(120)
        ]
        for b in range(3)
    ]
    inp = str(tmp_path / "in")
    ks_dir = str(tmp_path / "ks")
    ckpt = str(tmp_path / "ckpt")
    for chunk in batches:
        _write_batch(spark, inp, chunk)

    def run():
        q = start_streaming_ks(
            read_event_stream(spark, inp, SCHEMA).select(
                F.round(F.col("value")).cast("long").alias("x"),
                F.col("ts"),
            ),
            ks_dir,
            value_col="x",
            ref=ref_df,
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(180)

    def stored():
        return tuple(
            read_streaming_two_sample(spark, ks_dir, "ks").collect()[0]
        )

    def direct(delivered):
        cur = _rows(spark, delivered).select(
            F.round(F.col("value")).cast("long").alias("x")
        )
        return tuple(ks_two_sample(ref_df, cur, "x").collect()[0])

    run()
    want = direct([r for b in batches for r in b])
    assert stored() == want
    assert stored()[4] < 0.01  # the drifted stream registers (p_approx)

    shutil.rmtree(ckpt)
    run()
    assert stored() == want, "replayed batches double-counted values"

    extra = [
        (9000 + i, "2024-01-03 00:00:00", 3, "c", float(rng.randrange(500, 900)))
        for i in range(100)
    ]
    _write_batch(spark, inp, extra)
    run()
    assert stored() == direct([r for b in batches for r in b] + extra)


def test_streaming_ks_ref_gate_and_null_fail_loud(spark, tmp_path):
    """The KS twin carries the MWU twin's __ref_fp restart gate and
    fail-loud NULL convention with its own op names."""
    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_ks,
    )

    rng = __import__("random").Random(13)
    ref_df = _rows(
        spark,
        [(i, "2024-01-01 00:00:00", 1, "r", float(rng.randrange(0, 100)))
         for i in range(100)],
    ).select(F.round(F.col("value")).cast("long").alias("x"))
    inp = str(tmp_path / "in")
    ks_dir = str(tmp_path / "ks")
    _write_batch(
        spark,
        inp,
        [(i, "2024-01-02 00:00:00", 2, "c", float(rng.randrange(0, 100)))
         for i in range(50)],
    )

    def run(ref, ckpt):
        q = start_streaming_ks(
            read_event_stream(spark, inp, SCHEMA).select(
                F.round(F.col("value")).cast("long").alias("x"),
                F.col("ts"),
            ),
            ks_dir,
            value_col="x",
            ref=ref,
            checkpoint_dir=str(tmp_path / ckpt),
        )
        q.awaitTermination(180)

    run(ref_df, "ckpt")
    assert "__ref_fp" in spark.read.parquet(ks_dir).columns
    _write_batch(
        spark, inp,
        [(900, "2024-01-03 00:00:00", 2, "c", 5.0)],
    )
    with pytest.raises(Exception, match="start_streaming_ks.*built with"):
        run(ref_df.withColumn("x", F.col("x") + 777), "ckpt2")

    # NULL stream value crashes the fold with the KS op name
    inp2 = str(tmp_path / "in2")
    _write_batch(
        spark, inp2,
        [(1, "2024-01-02 00:00:00", 2, "c", 5.0),
         (2, "2024-01-02 00:00:00", 2, "c", None)],
    )
    q = start_streaming_ks(
        read_event_stream(spark, inp2, SCHEMA).select(
            F.col("value").cast("long").alias("x"), F.col("ts")
        ),
        str(tmp_path / "ks2"),
        value_col="x",
        ref=ref_df,
        checkpoint_dir=str(tmp_path / "ckpt3"),
    )
    with pytest.raises(Exception, match="ks_two_sample: NULL value"):
        q.awaitTermination(180)


def test_streaming_param_gate_rejects_half_stamped_contradiction(
    spark, tmp_path
):
    """A half-stamped state (one param column present but
    CONTRADICTING, the other missing) must raise even under
    adopt_legacy_params=True — silently adopting and durably
    re-stamping over a contradicting fingerprint is exactly the
    corruption the gate exists to block (review finding)."""
    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_psi,
    )

    rng = __import__("random").Random(17)
    ref_df = _rows(
        spark,
        [(i, "2024-01-01 00:00:00", 1, "r", float(rng.randrange(0, 100)))
         for i in range(120)],
    ).select(F.round(F.col("value")).cast("long").alias("x"))
    inp = str(tmp_path / "in")
    psi_dir = str(tmp_path / "psi")
    _write_batch(
        spark, inp,
        [(i, "2024-01-02 00:00:00", 2, "c", float(rng.randrange(0, 100)))
         for i in range(50)],
    )

    def run(ckpt, adopt):
        q = start_streaming_psi(
            read_event_stream(spark, inp, SCHEMA).select(
                F.round(F.col("value")).cast("long").alias("x"),
                F.col("ts"),
            ),
            psi_dir,
            value_col="x",
            ref=ref_df,
            n_buckets=6,
            checkpoint_dir=str(tmp_path / ckpt),
            adopt_legacy_params=adopt,
        )
        q.awaitTermination(180)

    run("ckpt", False)
    stored = spark.read.parquet(psi_dir)
    # half-stamp with a WRONG fingerprint: drop __n_buckets, corrupt
    # __edges_fp
    half = stored.drop("__n_buckets").withColumn(
        "__edges_fp", F.lit(12345).cast("long")
    )
    pdf = half.toPandas()
    import shutil

    shutil.rmtree(psi_dir)
    spark.createDataFrame(pdf, schema=half.schema).write.parquet(psi_dir)
    _write_batch(
        spark, inp, [(900, "2024-01-03 00:00:00", 2, "c", 5.0)]
    )
    with pytest.raises(
        Exception, match="start_streaming_psi.*built"
    ):
        run("ckpt2", True)  # adopt flag must NOT bypass the check


def test_streaming_kw_equals_batch_and_serves_dunn(spark, tmp_path):
    """The k-sample rung streamed (rung 3, per-(group, value) count
    state): after draining batches where one event type drifts,
    read_streaming_kw equals batch kruskal_wallis on the concatenated
    delivered input EXACTLY (the shared _kw_from_per_group
    guarantee), read_streaming_dunn / read_streaming_jt /
    read_streaming_median_k serve the batch dunn_test pair verdicts,
    jonckheere_terpstra trend verdict and median_test_k omnibus from
    the SAME stored state ("one fold, four verdicts"),
    a checkpoint wipe re-delivers every batch and the __batch_id
    guard must skip them, and a genuinely new batch keeps folding."""
    import shutil

    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        dunn_test,
        jonckheere_terpstra,
        kruskal_wallis,
        median_test_k,
    )
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        read_streaming_dunn,
        read_streaming_jt,
        read_streaming_kw,
        read_streaming_median_k,
        start_streaming_kw,
    )

    rng = __import__("random").Random(103)
    # three event types; type "c" drifts upward batch over batch
    batches = [
        [
            (b * 1000 + i, "2024-01-02 00:00:00", 2, g,
             float(rng.randrange(0, 200) + (b * 50 if g == "c" else 0)))
            for i in range(40)
            for g in ("a", "b", "c")
        ]
        for b in range(3)
    ]
    inp = str(tmp_path / "in")
    state = str(tmp_path / "kw")
    ckpt = str(tmp_path / "ckpt")
    for chunk in batches:
        _write_batch(spark, inp, chunk)

    def run():
        q = start_streaming_kw(
            read_event_stream(spark, inp, SCHEMA).select(
                F.col("event_type"),
                F.round(F.col("value")).cast("long").alias("x"),
                F.col("ts"),
            ),
            state,
            group_col="event_type",
            value_col="x",
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(180)

    def stored_kw():
        return tuple(read_streaming_kw(spark, state).collect()[0])

    def stored_dunn():
        return [
            tuple(r) for r in read_streaming_dunn(spark, state).collect()
        ]

    def stored_jt():
        return tuple(read_streaming_jt(spark, state).collect()[0])

    def stored_medk():
        return tuple(read_streaming_median_k(spark, state).collect()[0])

    def direct(delivered):
        df = _rows(spark, delivered).select(
            "event_type",
            F.round(F.col("value")).cast("long").alias("x"),
        )
        return (
            tuple(kruskal_wallis(df, "event_type", "x").collect()[0]),
            [tuple(r) for r in dunn_test(df, "event_type", "x").collect()],
            tuple(
                jonckheere_terpstra(df, "event_type", "x").collect()[0]
            ),
            tuple(median_test_k(df, "event_type", "x").collect()[0]),
        )

    run()
    want_kw, want_dunn, want_jt, want_medk = direct(
        [r for b in batches for r in b]
    )
    assert stored_kw() == want_kw
    assert stored_kw()[7] < 0.01  # the drifted type registers (p_value)
    assert stored_dunn() == want_dunn
    assert stored_jt() == want_jt
    assert stored_medk() == want_medk
    sel = {
        (r[0], r[1]) for r in stored_dunn() if r[-1]
    }
    assert sel and all("c" in p for p in sel)  # Dunn names the mover

    shutil.rmtree(ckpt)
    run()
    assert stored_kw() == want_kw, "replayed batches double-counted"

    extra = [
        (9000 + i, "2024-01-03 00:00:00", 3, "c",
         float(rng.randrange(400, 700)))
        for i in range(60)
    ]
    _write_batch(spark, inp, extra)
    run()
    want_kw2, want_dunn2, want_jt2, want_medk2 = direct(
        [r for b in batches for r in b] + extra
    )
    assert stored_kw() == want_kw2
    assert stored_dunn() == want_dunn2
    assert stored_jt() == want_jt2
    assert stored_medk() == want_medk2


def test_streaming_kw_cols_gate_and_null_fail_loud(spark, tmp_path):
    """The KW twin's restart contract: state carries __cols_fp and a
    restart that re-points the monitor at different columns FAILS
    LOUD (folding apples-counts into oranges-state would corrupt
    every rank); NULL group keys and values crash the fold with the
    batch op's name."""
    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_kw,
    )

    rng = __import__("random").Random(17)
    inp = str(tmp_path / "in")
    state = str(tmp_path / "kw")
    _write_batch(
        spark,
        inp,
        [(i, "2024-01-02 00:00:00", 2, ("a", "b")[i % 2],
          float(rng.randrange(0, 100)))
         for i in range(60)],
    )

    def run(value_expr, ckpt):
        q = start_streaming_kw(
            read_event_stream(spark, inp, SCHEMA).select(
                F.col("event_type"),
                value_expr.alias("x"),
                F.col("ts"),
            ),
            state,
            group_col="event_type",
            value_col="x",
            checkpoint_dir=str(tmp_path / ckpt),
        )
        q.awaitTermination(180)

    run(F.round(F.col("value")).cast("long"), "ckpt")
    assert "__cols_fp" in spark.read.parquet(state).columns

    # restart pointing the same state at a different value column name
    _write_batch(
        spark, inp, [(900, "2024-01-03 00:00:00", 2, "a", 5.0)]
    )
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        start_streaming_kw as _kw,
    )

    q = _kw(
        read_event_stream(spark, inp, SCHEMA).select(
            F.col("event_type"),
            F.round(F.col("value")).cast("long").alias("y"),
            F.col("ts"),
        ),
        state,
        group_col="event_type",
        value_col="y",
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    with pytest.raises(Exception, match="start_streaming_kw.*built with"):
        q.awaitTermination(180)

    # NULL stream value crashes the fold with the batch op name
    inp2 = str(tmp_path / "in2")
    _write_batch(
        spark, inp2,
        [(1, "2024-01-02 00:00:00", 2, "a", 5.0),
         (2, "2024-01-02 00:00:00", 2, "a", None)],
    )
    q2 = start_streaming_kw(
        read_event_stream(spark, inp2, SCHEMA).select(
            F.col("event_type"),
            F.col("value").cast("long").alias("x"),
            F.col("ts"),
        ),
        str(tmp_path / "kw2"),
        group_col="event_type",
        value_col="x",
        checkpoint_dir=str(tmp_path / "ckpt3"),
    )
    with pytest.raises(Exception, match="kruskal_wallis: NULL value"):
        q2.awaitTermination(180)


def test_streaming_kw_checkpoint_relocation_resumes_exactly(spark, tmp_path):
    """The recovery contract's third leg for the k-sample state (the
    rollup twins' precedent): a checkpoint directory MOVED to a new
    path (a legitimate ops action — volume migration, rename) must
    resume as a CONTINUATION, not a replay — Spark's offset tracking
    travels with the directory, so only genuinely new batches deliver,
    batch numbering continues, and every verdict stays equal to the
    batch operator on the concatenated input. This is the complement
    of the wipe case (renumbered re-delivery, __batch_id guard skips)
    and the cols-gate case (foreign columns fail loud)."""
    import shutil

    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        dunn_test,
        jonckheere_terpstra,
        kruskal_wallis,
    )
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        read_streaming_dunn,
        read_streaming_jt,
        read_streaming_kw,
        start_streaming_kw,
    )

    rng = __import__("random").Random(211)
    batches = [
        [
            (b * 1000 + i, "2024-01-02 00:00:00", 2, g,
             float(rng.randrange(0, 150) + (b * 40 if g == "c" else 0)))
            for i in range(30)
            for g in ("a", "b", "c")
        ]
        for b in range(2)
    ]
    inp = str(tmp_path / "in")
    state = str(tmp_path / "kw")
    ckpt_old = str(tmp_path / "ckpt_old")
    ckpt_new = str(tmp_path / "ckpt_new")
    for chunk in batches:
        _write_batch(spark, inp, chunk)

    def run(ckpt):
        q = start_streaming_kw(
            read_event_stream(spark, inp, SCHEMA).select(
                F.col("event_type"),
                F.round(F.col("value")).cast("long").alias("x"),
                F.col("ts"),
            ),
            state,
            group_col="event_type",
            value_col="x",
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(180)

    def direct(delivered):
        df = _rows(spark, delivered).select(
            "event_type",
            F.round(F.col("value")).cast("long").alias("x"),
        )
        return (
            tuple(kruskal_wallis(df, "event_type", "x").collect()[0]),
            [tuple(r) for r in dunn_test(df, "event_type", "x").collect()],
            tuple(jonckheere_terpstra(df, "event_type", "x").collect()[0]),
        )

    run(ckpt_old)
    want = direct([r for b in batches for r in b])
    assert tuple(read_streaming_kw(spark, state).collect()[0]) == want[0]
    bid_before = (
        spark.read.parquet(state).agg(F.max("__batch_id")).first()[0]
    )

    # relocate the checkpoint, deliver one new batch, resume at the
    # NEW path: continuation, not replay
    shutil.move(ckpt_old, ckpt_new)
    extra = [
        (9000 + i, "2024-01-03 00:00:00", 3, "c",
         float(rng.randrange(300, 500)))
        for i in range(45)
    ]
    _write_batch(spark, inp, extra)
    run(ckpt_new)

    want2 = direct([r for b in batches for r in b] + extra)
    assert tuple(read_streaming_kw(spark, state).collect()[0]) == want2[0]
    assert [
        tuple(r) for r in read_streaming_dunn(spark, state).collect()
    ] == want2[1]
    assert tuple(read_streaming_jt(spark, state).collect()[0]) == want2[2]
    # batch numbering CONTINUED across the move (exactly one new fold);
    # a renumbered re-delivery would have been skipped by the guard and
    # the verdicts above would have missed the new batch
    bid_after = (
        spark.read.parquet(state).agg(F.max("__batch_id")).first()[0]
    )
    assert bid_after == bid_before + 1


def test_streaming_mix_equals_batch_chi2_and_names_the_mover(spark, tmp_path):
    """The categorical rung streamed: after draining batches where the
    event-type MIX shifts, the "chi2" reader equals batch
    chi2_homogeneity(ref, delivered-union) EXACTLY (the shared
    _chi2_from_counts tail), read_streaming_mix_shares names the
    category that moved (biggest |share delta| first, shares
    consistent with the counts), a checkpoint wipe re-delivers every
    batch and the __batch_id guard skips them, and a restart with a
    DIFFERENT frozen reference fails the __ref_fp gate loud."""
    import shutil

    from pyspark.sql import functions as F

    from bangumi_notion_data_integration_project_spark.operators.twosample import (
        chi2_homogeneity,
    )
    from bangumi_notion_data_integration_project_spark.streaming.incremental import (
        read_streaming_mix_shares,
        read_streaming_two_sample,
        start_streaming_mix,
    )

    rng = __import__("random").Random(61)
    ref_mix = ["click"] * 50 + ["view"] * 35 + ["buy"] * 15
    cur_mix = ["click"] * 30 + ["view"] * 55 + ["buy"] * 15
    ref_rows = [
        (10_000 + i, "2024-01-01 00:00:00", 1, rng.choice(ref_mix), 1.0)
        for i in range(300)
    ]
    batches = [
        [(b * 1000 + i, "2024-01-02 00:00:00", 2, rng.choice(cur_mix), 1.0)
         for i in range(150)]
        for b in range(2)
    ]
    ref_df = _rows(spark, ref_rows).select("event_type")
    inp = str(tmp_path / "in")
    state = str(tmp_path / "mix")
    ckpt = str(tmp_path / "ckpt")
    for chunk in batches:
        _write_batch(spark, inp, chunk)

    def run(ref, ck):
        q = start_streaming_mix(
            read_event_stream(spark, inp, SCHEMA).select(
                "event_type", "ts"
            ),
            state,
            cat_col="event_type",
            ref=ref,
            checkpoint_dir=ck,
        )
        q.awaitTermination(180)

    run(ref_df, ckpt)
    cur_df = _rows(spark, [r for b in batches for r in b]).select(
        "event_type"
    )
    def chi2():
        return tuple(
            read_streaming_two_sample(spark, state, "chi2").collect()[0]
        )

    got = chi2()
    want = tuple(
        chi2_homogeneity(ref_df, cur_df, "event_type").collect()[0]
    )
    assert got == want
    assert got[-1] < 0.05  # the planted mix shift registers (p_value)

    shares = read_streaming_mix_shares(spark, state).collect()
    assert {r["category"] for r in shares} == {"click", "view", "buy"}
    # the two movers lead; shares sum to 1 per side; counts consistent
    assert {shares[0]["category"], shares[1]["category"]} == {
        "click", "view",
    }
    assert abs(sum(r["share_ref"] for r in shares) - 1.0) < 1e-5
    assert abs(sum(r["share_cur"] for r in shares) - 1.0) < 1e-5
    assert sum(r["n_ref"] for r in shares) == 300
    assert sum(r["n_cur"] for r in shares) == 300

    # wipe: renumbered re-delivery must be skipped by the guard
    shutil.rmtree(ckpt)
    run(ref_df, ckpt)
    assert chi2() == want

    # a genuinely new batch folds
    extra = [
        (9000 + i, "2024-01-03 00:00:00", 3, "buy", 1.0)
        for i in range(80)
    ]
    _write_batch(spark, inp, extra)
    run(ref_df, ckpt)
    cur2 = _rows(
        spark, [r for b in batches for r in b] + extra
    ).select("event_type")
    assert chi2() == tuple(
        chi2_homogeneity(ref_df, cur2, "event_type").collect()[0]
    )

    # foreign frozen reference: loud __ref_fp failure
    q = start_streaming_mix(
        read_event_stream(spark, inp, SCHEMA).select("event_type", "ts"),
        state,
        cat_col="event_type",
        ref=ref_df.limit(100),
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    with pytest.raises(Exception, match="start_streaming_mix"):
        q.awaitTermination(180)
