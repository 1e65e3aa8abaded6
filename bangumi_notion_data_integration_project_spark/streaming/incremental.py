"""Streaming incremental pipeline.

The reference's "incremental" load is a batch snapshot re-diff
(SURVEY §2.7; data_loading_to_mysql_database.py:185-277). Here the same
keyed-upsert semantics are exposed over a stream: each micro-batch is
treated as a snapshot delta and merged into the target via
``foreachBatch`` — delete-when-absent is meaningless for deltas, so the
stream path uses upsert (keep-absent) semantics.

Windowed aggregations (tumbling + session windows with watermark) have
no reference behavior to match (the reference has no streaming runtime)
— they follow Spark semantics and are validated against their batch
equivalents in tests.

Production note: the parquet-directory target below is a demonstration
state store; at scale the same ``merge_snapshot`` call routes to Delta
``MERGE INTO`` (transactional, no full rewrite) — the operator API is
sink-agnostic on purpose.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..atomic import promote_dir, recover_dir, staging_path
from ..operators.merge import merge_into_partitioned, merge_snapshot


def _dedup_last_wins(batch: DataFrame, key: str, dedup_order: str) -> DataFrame:
    """Within-batch last-write-wins on ``key`` (reference Notion
    readback :178-181 — later pages win)."""
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(F.col(dedup_order).desc())
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def read_event_stream(spark: SparkSession, input_dir: str, schema: str) -> DataFrame:
    """File-source stream (one file per micro-batch in tests)."""
    return spark.readStream.schema(schema).parquet(input_dir)


def windowed_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling (or sliding) event-time window aggregation with
    late-data watermark."""
    win = (
        F.window("ts", window) if slide is None else F.window("ts", window, slide)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionized_counts(
    events: DataFrame, *, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session-window aggregation (dynamic-length windows closed after
    `gap` of inactivity per user)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def start_streaming_upsert(
    stream: DataFrame,
    target_dir: str,
    key: str,
    checkpoint_dir: str,
    *,
    dedup_order: str | None = None,
):
    """writeStream.foreachBatch: merge each micro-batch into the target.

    Within a batch, duplicate keys keep the highest `dedup_order` row
    (last-write-wins, reference Notion readback :178-181). Swap-rewrite
    of a parquet dir stands in for Delta MERGE (see module docstring).
    """

    def upsert(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if dedup_order is not None:
            batch = _dedup_last_wins(batch, key, dedup_order)
        # recover_dir restores a complete .tmp/.old sibling if a prior
        # run crashed mid-promotion — without it, a missing _SUCCESS
        # would silently re-initialize and drop all accumulated state
        if recover_dir(target_dir):
            target = spark.read.parquet(target_dir)
            merged = merge_snapshot(batch, target, key, delete_absent=False)
        else:
            merged = batch
        tmp = staging_path(target_dir)
        merged.write.mode("overwrite").parquet(tmp)
        promote_dir(tmp, target_dir)

    return (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_streaming_partitioned_upsert(
    stream: DataFrame,
    target_dir: str,
    key: str,
    partition_col: str,
    checkpoint_dir: str,
    *,
    dedup_order: str | None = None,
):
    """writeStream.foreachBatch: partition-scoped merge of each
    micro-batch into a hive-partitioned parquet target
    (operators/merge.merge_into_partitioned).

    This is the SCALE path next to :func:`start_streaming_upsert`'s
    whole-target swap-rewrite: each batch reads and rewrites ONLY the
    partitions it touches, so per-batch I/O is O(touched partitions)
    — with a date/category partition key, a micro-batch against a
    100 TB accumulated target does a few directories of work, which is
    what makes a parquet-target streaming upsert viable at all.

    Exactly-once story: dynamic partition overwrite is not atomic
    across partitions, but the merge is IDEMPOTENT (re-applying a
    batch converges to the same state), so Structured Streaming's
    checkpoint replay after a mid-write crash restores consistency —
    the foreachBatch contract (at-least-once per batch) composes with
    idempotent merge to effective exactly-once. The INITIAL load has
    no prior state to merge into, so idempotent replay cannot repair a
    partial first write; it goes through the same staging+promote
    machinery as :func:`start_streaming_upsert` (and ``recover_dir``
    heals a crash between stage and promote on restart). ``key`` must
    not migrate between partitions (merge_into_partitioned contract).
    Like the sibling, the recovery helpers are local-filesystem
    primitives — a demonstration state store; object-store targets
    want a transactional table format underneath the same merge call.
    """

    def upsert(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if dedup_order is not None:
            batch = _dedup_last_wins(batch, key, dedup_order)
        if recover_dir(target_dir):
            merge_into_partitioned(
                spark, batch, target_dir, key, partition_col, delete_absent=False
            )
        else:
            tmp = staging_path(target_dir)
            batch.write.partitionBy(partition_col).parquet(tmp)
            promote_dir(tmp, target_dir)

    return (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_streaming_cdc_apply(
    stream: DataFrame,
    target_dir: str,
    *,
    key: str,
    seq: str,
    op: str,
    payload_cols: list[str],
    checkpoint_dir: str,
    op_delete: str = "D",
):
    """writeStream.foreachBatch: replay a CDC event stream into net
    table state (operators/cdc.py), the streaming twin of ``apply_cdc``.

    Each micro-batch is collapsed to its per-key net (``cdc_net``, ONE
    map-side-combinable aggregate — tombstones included) and folded
    into the accumulated state with ``merge_cdc_state`` — the same
    associative max_by fold, so the final state equals the batch replay
    of the whole log no matter how events are split across batches or
    arrive out of order between them (tests assert this equivalence on
    randomized splits). Tombstones persist in state: a stale update
    arriving after its key's delete cannot resurrect the key; readers
    take the visible view via ``last_op != 'D'``.

    Per-batch work is O(batch keys + state keys) with a single shuffle;
    at scale the state table lives in a transactional format and the
    fold routes to MERGE, same as the sibling upserts. Crash safety:
    staging+promote swap with ``recover_dir``, idempotent under
    checkpoint replay because the fold of an already-applied batch net
    is a no-op on (last_seq, n_versions)… n_versions double-counts on
    replay — acceptable as a diagnostic column; the payload/liveness
    state itself is replay-idempotent.
    """
    from ..operators.cdc import cdc_net, merge_cdc_state

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        delta = cdc_net(
            batch, key=key, seq=seq, op=op, payload_cols=payload_cols, op_delete=op_delete
        )
        if recover_dir(target_dir):
            state = spark.read.parquet(target_dir)
            merged = merge_cdc_state(
                state, delta, key=key, payload_cols=payload_cols, op_delete=op_delete
            )
        else:
            merged = delta
        tmp = staging_path(target_dir)
        merged.write.mode("overwrite").parquet(tmp)
        promote_dir(tmp, target_dir)

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_streaming_cdc_view(
    stream: DataFrame,
    state_dir: str,
    view_dir: str,
    *,
    key: str,
    seq: str,
    op: str,
    group_col: str,
    val_col: str,
    checkpoint_dir: str,
    op_delete: str = "D",
):
    """Streaming materialized view: maintain a grouped (n_rows, total)
    aggregate AND the CDC net state together, per micro-batch, each in
    O(batch).

    The view delta is derived from the STATE TRANSITION, not the raw
    batch: retract each touched key's pre-fold live row, assert its
    post-fold live row. That makes the view correct even when a batch
    carries STALE events (a lower-seq update arriving after the state
    already holds a higher seq — the fold ignores it, so the
    transition, and therefore the view delta, is empty). Folding raw
    batch payloads into the view directly would corrupt it in exactly
    that case. Group migration, deletes, and inserts all reduce to
    retract+assert by construction (operators/cdc.maintain_grouped_agg
    is the batch twin of this per-batch step).

    Crash safety across TWO directories: each table carries a
    ``__batch_id`` watermark. State promotes first; a crash before the
    view promote leaves the view one batch behind, which the next fold
    DETECTS (view watermark < state watermark) and repairs by
    rebuilding the view from the state's visible rows — exact, O(state),
    and paid only on the crash-recovery path. Without the watermark,
    checkpoint replay would compute an empty state transition (the
    batch is already folded) and the view would silently diverge
    forever. Replay of an already-promoted batch is a no-op transition
    on both tables.

    Differential-tested: after any shuffled 3-batch replay, the view
    equals a full groupBy of the batch ``apply_cdc`` result; a
    crash-window test kills between the promotes and asserts repair.
    """
    from ..operators.cdc import cdc_net, merge_cdc_state

    # Driver-side watermark cache: this process wrote both tables'
    # __batch_id last batch, so on the steady-state path there is
    # nothing to learn from re-reading it — the two per-batch
    # ``agg(max).first()`` driver round-trips are paid only when the
    # cache is cold (first batch of a [re]started query, i.e. exactly
    # the recovery path where the disk watermark is authoritative).
    wm: dict[str, int | None] = {"state": None, "view": None}

    def visible_rollup(state: DataFrame) -> DataFrame:
        return (
            state.filter(F.col("last_op") != op_delete)
            .groupBy(group_col)
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum(val_col).alias("total"),
            )
        )

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        delta = cdc_net(
            batch, key=key, seq=seq, op=op, payload_cols=[group_col, val_col], op_delete=op_delete
        )
        touched = delta.select(key)
        have_state = recover_dir(state_dir)
        if have_state:
            with_marker = spark.read.parquet(state_dir)
            state_bid = wm["state"]
            if state_bid is None:  # cold cache → recovery path, read disk
                state_bid = with_marker.agg(F.max("__batch_id")).first()[0]
            state = with_marker.drop("__batch_id")
            new_state = merge_cdc_state(
                state, delta, key=key, payload_cols=[group_col, val_col], op_delete=op_delete
            )
            old_rows = (
                state.filter(F.col("last_op") != op_delete)
                .join(touched, key, "left_semi")
                .select(key, group_col, val_col)
            )
        else:
            state_bid = None
            state = None
            new_state = delta
            old_rows = delta.limit(0).select(key, group_col, val_col)
        # materialize the fold ONCE; both the state write and the view
        # delta read it
        new_state = new_state.localCheckpoint(eager=True)
        new_rows = (
            new_state.filter(F.col("last_op") != op_delete)
            .join(touched, key, "left_semi")
            .select(key, group_col, val_col)
        )
        retract = old_rows.groupBy(group_col).agg(
            (-F.count("*")).cast("long").alias("dn"), (-F.sum(val_col)).alias("dv")
        )
        assertions = new_rows.groupBy(group_col).agg(
            F.count("*").cast("long").alias("dn"), F.sum(val_col).alias("dv")
        )
        deltas = (
            retract.unionByName(assertions)
            .groupBy(group_col)
            .agg(F.sum("dn").cast("long").alias("dn"), F.sum("dv").alias("dv"))
        )
        empty_view = deltas.limit(0).select(
            F.col(group_col), F.col("dn").alias("n_rows"), F.col("dv").alias("total")
        )
        if have_state and recover_dir(view_dir):
            vm = spark.read.parquet(view_dir)
            view_bid = wm["view"]
            if view_bid is None:  # cold cache → recovery path, read disk
                view_bid = vm.agg(F.max("__batch_id")).first()[0]
            if view_bid is not None and state_bid is not None and view_bid < state_bid:
                # crash landed between the two promotes: the state holds
                # a batch the view never saw — rebuild the view from the
                # PRE-fold state so this batch's transition applies to a
                # consistent base
                old_view = visible_rollup(state)
            else:
                old_view = vm.drop("__batch_id")
        else:
            old_view = visible_rollup(state) if have_state else empty_view
        ov, dl = old_view.alias("__ov"), deltas.alias("__dl")
        new_view = (
            ov.join(
                dl,
                F.col(f"__ov.{group_col}").eqNullSafe(F.col(f"__dl.{group_col}")),
                "full_outer",
            )
            .select(
                F.coalesce(
                    F.col(f"__ov.{group_col}"), F.col(f"__dl.{group_col}")
                ).alias(group_col),
                (F.coalesce("n_rows", F.lit(0)) + F.coalesce("dn", F.lit(0)))
                .cast("long")
                .alias("n_rows"),
                (
                    F.coalesce(F.col("total"), F.lit(0).cast("long"))
                    + F.coalesce(F.col("dv"), F.lit(0).cast("long"))
                ).alias("total"),
            )
            .filter(F.col("n_rows") > 0)
        )
        tmp_view = staging_path(view_dir)
        new_view.withColumn("__batch_id", F.lit(batch_id)).write.mode("overwrite").parquet(
            tmp_view
        )
        tmp_state = staging_path(state_dir)
        new_state.withColumn("__batch_id", F.lit(batch_id)).write.mode("overwrite").parquet(
            tmp_state
        )
        promote_dir(tmp_state, state_dir)
        promote_dir(tmp_view, view_dir)
        # both promotes landed → the on-disk watermarks are batch_id; a
        # crash between the promotes kills the query, so the next fold
        # runs in a fresh process with a cold cache and re-reads disk
        wm["state"] = batch_id
        wm["view"] = batch_id

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    *,
    key: str = "user_id",
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: purchases attributed to the click by
    the same user within ``max_delay`` before them — the streaming form
    of the batch attribution range join (queries.q_purchases_after_click).

    Both sides carry watermarks and the join condition bounds the time
    range in BOTH directions, so Spark can expire buffered state for
    rows past the watermark — the requirement that makes a stream-stream
    join runnable indefinitely (unbounded conditions buffer forever).
    Inputs must carry (``key``, ``ts``, and an id column); sides are
    renamed internally so the output schema is unambiguous:
    (click_id, purchase_id, key, click_ts, purchase_ts).
    """
    c = (
        clicks.select(
            F.col("event_id").alias("click_id"),
            F.col(key).alias("__ck"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    p = (
        purchases.select(
            F.col("event_id").alias("purchase_id"),
            F.col(key).alias("__pk"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("__ck") == F.col("__pk"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.expr(f"click_ts + INTERVAL {max_delay}"))
    )
    return (
        c.join(p, cond)
        .select(
            "click_id",
            "purchase_id",
            F.col("__ck").alias(key),
            "click_ts",
            "purchase_ts",
        )
    )


def enrich_with_dim(stream: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """Stream-static join: per-micro-batch broadcast hash join against a
    slowly-changing dimension — no streaming state at all (the static
    side is re-resolved each batch, so a dim refresh is picked up on the
    next trigger)."""
    return stream.join(F.broadcast(dim), key, "left")


def stream_dedup(
    events: DataFrame, *, keys: list[str] | None = None, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup: drop repeats of the same key arriving
    within the watermark horizon (``dropDuplicatesWithinWatermark``),
    so state is bounded — per-key entries expire once the watermark
    passes them, unlike plain ``dropDuplicates`` whose state grows
    forever. This is the streaming tier of the dedup stack (batch
    tiers: exact hash-groupBy, MinHash-LSH, SimHash)."""
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def start_streaming_time_rollup(
    stream: DataFrame,
    rollup_dir: str,
    *,
    ts_col: str,
    value_cents: "F.Column",
    checkpoint_dir: str,
):
    """Streaming twin of ``operators/rollup.hierarchical_time_rollup``:
    an incrementally-refreshed continuous aggregate. Each micro-batch
    folds its day partials into the stored day table (O(days + touched
    buckets), integer-exact because the measure is cents), and the
    coarser grains are re-derived FROM THE DAY PARTIALS — never from a
    raw-history re-scan, which a stream cannot replay anyway.

    Idempotence: a sum-fold is NOT naturally idempotent (unlike the CDC
    max_by fold), so the table carries a ``__batch_id`` watermark and a
    replayed batch (checkpoint recovery re-delivers the last batch) is
    detected as ``batch_id <= stored watermark`` and skipped — the
    parquet promote and the checkpoint commit are not atomic together,
    and without the guard a crash between them would double-count the
    batch's values on restart. Steady-state keeps the watermark in the
    driver (one read only on the recovery path, same pattern as the
    CDC view).

    CONTRACT: ``rollup_dir`` and ``checkpoint_dir`` live and die
    together. The batch-id guard cannot distinguish a replayed batch
    from genuinely NEW input renumbered 0..k after a checkpoint wipe —
    wipe the checkpoint but keep the rollup and fresh low-numbered
    batches are silently discarded. The partitioned twin
    (:func:`start_streaming_time_rollup_partitioned`) stores a
    checkpoint-identity token next to the watermark and fails loudly
    on exactly that divergence.

    Scale: the stored table is one row per (grain, bucket) — bounded by
    the calendar, not the stream — so the whole-table rewrite per batch
    is O(days); at warehouse scale use the partitioned twin, which
    routes the fold through ``merge_into_partitioned`` and rewrites
    only touched partitions.
    """
    from ..operators.rollup import GRAINS

    wm: dict[str, int | None] = {"v": None}

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        have = recover_dir(rollup_dir)
        old_day = None
        if have:
            stored = spark.read.parquet(rollup_dir)
            bid = wm["v"]
            if bid is None:  # cold cache → recovery path, read disk
                bid = stored.agg(F.max("__batch_id")).first()[0]
            if bid is not None and batch_id <= bid:
                wm["v"] = bid
                return  # checkpoint replay of an already-folded batch
            old_day = stored.filter(F.col("grain") == "day").select(
                "bucket_start", "n_events", "value_cents"
            )
        delta_day = batch.groupBy(F.to_date(ts_col).alias("bucket_start")).agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(value_cents.cast("long")).cast("long").alias("value_cents"),
        )
        day = (
            delta_day
            if old_day is None
            else old_day.unionByName(delta_day)
            .groupBy("bucket_start")
            .agg(
                F.sum("n_events").cast("long").alias("n_events"),
                F.sum("value_cents").cast("long").alias("value_cents"),
            )
        ).localCheckpoint(eager=True)  # read once per grain below
        out = day.select(
            F.lit("day").alias("grain"), "bucket_start", "n_events", "value_cents"
        )
        for grain in GRAINS[1:]:
            out = out.unionByName(
                day.groupBy(
                    F.to_date(F.date_trunc(grain, "bucket_start")).alias(
                        "bucket_start"
                    )
                )
                .agg(
                    F.sum("n_events").cast("long").alias("n_events"),
                    F.sum("value_cents").cast("long").alias("value_cents"),
                )
                .select(
                    F.lit(grain).alias("grain"),
                    "bucket_start",
                    "n_events",
                    "value_cents",
                )
            )
        tmp = staging_path(rollup_dir)
        out.withColumn("__batch_id", F.lit(batch_id)).write.mode("overwrite").parquet(
            tmp
        )
        promote_dir(tmp, rollup_dir)
        wm["v"] = batch_id

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _checkpoint_identity(checkpoint_dir: str) -> str:
    """Stable identity of a checkpoint LINEAGE: Structured Streaming
    writes a query id into ``<checkpoint>/metadata`` when the
    checkpoint is first created and keeps it across restarts — a wiped
    or relocated checkpoint gets a fresh id. That is exactly the
    distinction the replay guard needs: same id + small batch_id =
    crash replay (skip); different id + small batch_id = the
    checkpoint and the state diverged (fail loudly, silent discard
    would lose data).

    Returns a JSON string carrying BOTH the query id (None when the
    metadata file is not locally readable — object-store checkpoints,
    transient read failures) and the absolute path. Storing both forms
    and comparing with :func:`_identity_matches` means a metadata file
    that flips between readable and unreadable across restarts can
    never flip the identity itself and spuriously fail a legitimate
    crash-recovery replay."""
    import json as _json

    ident: dict[str, str | None] = {
        "id": None,
        "path": os.path.abspath(checkpoint_dir),
    }
    meta = os.path.join(checkpoint_dir, "metadata")
    try:
        with open(meta) as fh:
            ident["id"] = str(_json.load(fh)["id"])
    except (OSError, ValueError, KeyError):
        pass
    return _json.dumps(ident, sort_keys=True)


_UUID_RE = re.compile(
    r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
    r"-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"
)


def _identity_matches(stored: "str | None", current: str) -> bool:
    """True when ``stored`` and ``current`` name the same checkpoint
    lineage. When both sides know the query id, the ids decide — that
    is the strong form which detects a checkpoint wiped and recreated
    at the SAME path. When either side lacks an id (unreadable
    metadata), the paths decide, the best distinction available there.
    Legacy stored values from a pre-dual-form store: a bare path
    matches the current path; a bare query id matches the current id,
    and when the current id is UNREADABLE it is accepted — a bare id
    can never equal a path, and failing there would brick every
    legitimate crash replay of a legacy table behind a transiently
    unreadable metadata file (a wipe is undetectable in that state
    under any scheme — the path fallback matches too)."""
    import json as _json

    if stored is None:
        return False
    cur = _json.loads(current)
    try:
        st = _json.loads(stored)
        if not isinstance(st, dict):
            raise ValueError(stored)
    except ValueError:
        if stored in (cur["id"], cur["path"]):
            return True
        # bare legacy query id vs id-less current identity: unverifiable
        # either way; trust the replay guard — but ONLY for values that
        # are shaped like a Spark query id (a UUID). Any other bare
        # string (relative path, Windows abspath, junk) fails loud:
        # accepting it against a different checkpoint would bypass the
        # divergence guard entirely.
        return cur["id"] is None and _UUID_RE.fullmatch(stored) is not None
    if st.get("id") is not None and cur.get("id") is not None:
        return st["id"] == cur["id"]
    return st.get("path") == cur.get("path")


def _expected_rollup_keys(
    delta: DataFrame, ts_col: str, grains: tuple[str, ...]
) -> DataFrame:
    """The exact ``__k`` key set a fold of ``delta`` writes: one key
    per touched bucket at every grain. Derivable from the batch ALONE
    — no stored state involved — which is what makes post-crash replay
    validation possible: after a FULL commit of batch k, every one of
    these keys exists in the store with ``__batch_id >= k`` (k itself,
    or a later batch that refolded the same bucket), so any key below
    k is proof the commit was partial."""
    d = delta.select(F.to_date(ts_col).alias("__b")).distinct()
    out = d.select(F.concat_ws("|", F.lit(grains[0]), "__b").alias("__k"))
    for g in grains[1:]:
        out = out.unionByName(
            d.select(
                F.concat_ws(
                    "|", F.lit(g), F.to_date(F.date_trunc(g, "__b"))
                ).alias("__k")
            ).distinct()
        )
    return out.distinct()


def _touched_years(delta: DataFrame, ts_col: str) -> list[int]:
    """Calendar years whose stored day partials a rollup refresh of
    ``delta`` can possibly need: for every event day d, the refresh
    folds d itself plus the other days inside d's week and month
    buckets. Month buckets never cross a year, but week buckets
    straddle New Year in both directions, so the needed set is exactly
    the years of d's week START and week END (both include year(d)
    since start <= d <= end). One driver-side distinct on the
    micro-batch — bounded by the number of calendar years humanity has
    produced events in, not by data volume."""
    ws = F.to_date(F.date_trunc("week", F.col(ts_col)))
    rows = (
        delta.select(
            F.explode(
                F.array(F.year(ws), F.year(F.date_add(ws, 6)))
            ).alias("__y")
        )
        .distinct()
        .collect()
    )
    return [r["__y"] for r in rows if r["__y"] is not None]


def start_streaming_time_rollup_partitioned(
    stream: DataFrame,
    rollup_dir: str,
    *,
    ts_col: str,
    value_cents: "F.Column",
    checkpoint_dir: str,
):
    """Warehouse-scale twin of :func:`start_streaming_time_rollup`:
    the stored rollup is hive-partitioned by ``(grain, __year)`` — two
    separate partition columns, not a fused token — and each batch
    folds through ``operators/rollup.rollup_refresh_delta`` +
    ``merge_into_partitioned`` — O(touched buckets) of compute and
    only the touched (grain, year) partitions rewritten. Each column
    earns its keep on a different side of the I/O: ``grain`` prunes
    READS — the per-batch fold's ``grain == 'day'`` filter skips every
    week/month directory at listing time (fusing grain into a
    ``grain-year`` token would demote that to row-group stats behind a
    footer read of every file) — while ``__year`` scopes WRITES, since
    every nonempty delta touches all three grains but only its own
    years, so without the year level the whole table would rewrite
    each batch. The fold also scopes its stored READ to the delta's
    :func:`_touched_years`, so the per-batch day-partials read lists
    only the touched years' directories too (the watermark recovery
    read stays unscoped — the newest batch id can live anywhere). One precision: week buckets straddle New Year
    (``date_trunc('week')`` of an early-January event can land in
    December), so a late event may additionally rewrite the ADJACENT
    prior year's week partition — bounded at one extra partition, and
    the merge key/partition stay consistent because ``__year`` derives
    from ``bucket_start``, not the event time. The coarser grains
    still rebuild from day partials only; raw history is never
    re-scanned.

    Replay / identity guard: rows carry ``__batch_id`` (monotone
    watermark) and ``__ckpt_id`` (checkpoint-lineage identity). A
    batch with ``batch_id <= watermark`` and a MATCHING identity is a
    checkpoint-recovery replay of an already-folded batch — skipped,
    because a sum-fold is not idempotent — but only after proving the
    prior attempt committed COMPLETELY: a plain-parquet dynamic
    overwrite is not atomic across partitions, so the guard checks
    that every ``__k`` key the batch would write (computable from the
    batch alone, :func:`_expected_rollup_keys`) is stored with
    ``__batch_id >= batch_id``; a partial commit fails loudly instead
    of stranding the unwritten partitions (skip) or double-counting
    the written ones (fold). The same small batch_id with a DIFFERENT
    identity means the checkpoint was wiped or relocated while the
    rollup survived; folding would be wrong (the "new" batches 0..k
    may or may not be re-reads of already-folded data) and skipping
    would silently drop genuinely new data, so the query FAILS with
    instructions instead of guessing. Residual window (documented, not
    closable on plain parquet): a crash inside the overwrite's
    delete-then-rename of ONE partition can drop that partition's
    untouched sibling buckets — a transactional table format (Delta /
    Iceberg) closes it with an atomic metadata swap.
    """
    from ..operators.rollup import GRAINS, rollup_refresh_delta

    wm: dict[str, object] = {"bid": None, "ident": None}

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        ident = _checkpoint_identity(checkpoint_dir)
        have = os.path.exists(os.path.join(rollup_dir, "_SUCCESS"))
        stored = None
        if have:
            stored = spark.read.parquet(rollup_dir)
            bid, sid = wm["bid"], wm["ident"]
            if bid is None:  # cold cache → recovery path, read disk
                # identity must be the one PAIRED with the newest batch
                # (max_by, not first): merge keeps unmatched old rows
                # with their original __ckpt_id, so after a legitimate
                # identity change (e.g. metadata became unreadable and
                # the path fallback kicked in) the table holds mixed
                # identities and an arbitrary row's would misfire the
                # guard in either direction
                head = stored.agg(
                    F.max("__batch_id"),
                    F.max_by("__ckpt_id", "__batch_id"),
                ).first()
                bid, sid = head[0], head[1]
            if bid is not None and batch_id <= bid:
                if not _identity_matches(sid, ident):
                    raise RuntimeError(
                        f"time-rollup at {rollup_dir}: batch {batch_id} <= "
                        f"stored watermark {bid} but checkpoint identity "
                        f"changed ({sid!r} -> {ident!r}). The checkpoint was "
                        "wiped or relocated while the rollup state survived; "
                        "refusing to fold (could double-count) or skip "
                        "(could drop new data). Rebuild the rollup from "
                        "history or restore the matching checkpoint."
                    )
                # same identity: a crash-recovery replay — but a plain-
                # parquet dynamic overwrite is not atomic ACROSS
                # partitions, so before skipping, prove the replayed
                # batch committed COMPLETELY: every key it would write
                # (derivable from the batch alone) must be stored with
                # __batch_id >= batch_id. Anything less means the crash
                # landed mid-commit — skipping would strand the
                # unwritten partitions stale forever, re-folding would
                # double-count the written ones, so fail loudly.
                exp = _expected_rollup_keys(batch, ts_col, GRAINS)
                n_exp = exp.count()
                if n_exp:
                    n_new = (
                        stored.filter(
                            F.col("__year").isin(_touched_years(batch, ts_col))
                        )
                        .join(F.broadcast(exp), "__k", "left_semi")
                        .filter(F.col("__batch_id") >= batch_id)
                        .count()
                    )
                    if n_new != n_exp:
                        raise RuntimeError(
                            f"time-rollup at {rollup_dir}: replayed batch "
                            f"{batch_id} (stored watermark {bid}) committed "
                            f"only {n_new} of its {n_exp} bucket keys — the "
                            "prior attempt crashed mid-overwrite. Skipping "
                            "would strand the unwritten partitions, folding "
                            "would double-count the written ones. Rebuild "
                            "the rollup from history."
                        )
                wm["bid"], wm["ident"] = bid, sid
                return  # fully-committed replay of an already-folded batch
        # the refresh only ever needs stored day partials from the
        # years the delta touches (plus the week-straddle adjacency —
        # see _touched_years), and __year is a partition column, so
        # isin() prunes every other year's files at LISTING time. The
        # watermark recovery above stays on the UNSCOPED frame (the
        # newest batch id can live in any partition), and the scope is
        # derived only AFTER the replay guard — a skipped replay batch
        # never pays the distinct-years job.
        if stored is not None:
            stored = stored.filter(
                F.col("__year").isin(_touched_years(batch, ts_col))
            )
        refreshed = rollup_refresh_delta(
            stored, batch, ts_col, value_cents
        ).select(
            "grain",
            "bucket_start",
            "n_events",
            "value_cents",
            F.lit(batch_id).cast("long").alias("__batch_id"),
            F.lit(ident).alias("__ckpt_id"),
            F.concat_ws("|", "grain", "bucket_start").alias("__k"),
            F.year("bucket_start").alias("__year"),
        )
        if not have:
            refreshed.write.mode("overwrite").partitionBy(
                "grain", "__year"
            ).parquet(rollup_dir)
        else:
            merge_into_partitioned(
                spark,
                refreshed,
                rollup_dir,
                "__k",
                ["grain", "__year"],
                delete_absent=False,  # untouched buckets in a touched
                # partition must survive the dynamic overwrite
            )
        wm["bid"], wm["ident"] = batch_id, ident

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_streaming_time_rollup_manifest(
    stream: DataFrame,
    table_dir: str,
    *,
    ts_col: str,
    value_cents: "F.Column",
    checkpoint_dir: str,
):
    """Transactional twin of
    :func:`start_streaming_time_rollup_partitioned`: the stored rollup
    is a :class:`..manifest_table.ManifestTable` partitioned by
    ``(grain, __year)``, and each batch's fold lands through
    ``merge_into_manifest`` — every touched partition becomes visible
    at ONE atomic manifest rename, with the batch watermark riding the
    same swap as commit metadata.

    That atomicity is what retires the plain-parquet twin's two
    residual compromises at once:

    - The partial-commit ambiguity is gone BY CONSTRUCTION. The hive
      twin must prove a replayed batch fully committed (and fail
      loudly when it cannot), because dynamic overwrite commits
      partitions independently; here a crash before the rename leaves
      the old version byte-identical (the replay refolds from it), and
      a crash after the rename leaves the new version complete (the
      replay skips). There is no third state, so the skip needs no
      key-set proof.
    - The watermark cannot diverge from the data. ``__batch_id`` rows
      and data partitions in the hive twin are written by the same job
      but committed per-partition; here ``batch_id``/``ckpt_id`` live
      in the manifest that IS the commit.

    I/O scaling is unchanged from the hive twin: O(touched buckets) of
    compute, only touched (grain, year) partitions staged, the stored
    day-partials read pruned to :func:`_touched_years` — but the
    pruning happens on the driver from manifest metadata, so untouched
    years are never even listed. The identity guard is the same: a
    replay-range batch under a DIFFERENT checkpoint identity still
    fails loudly (atomicity cannot tell re-read data from new data —
    that remains a lineage question).
    """
    from ..manifest_table import ManifestTable, merge_into_manifest
    from ..operators.rollup import rollup_refresh_delta

    table = ManifestTable(table_dir, ["grain", "__year"])
    wm: dict[str, object] = {"bid": None, "ident": None, "cold": True}

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        ident = _checkpoint_identity(checkpoint_dir)
        if wm["cold"]:
            # one-time startup maintenance: reclaim whatever a crashed
            # predecessor staged or orphaned (never touches live state)
            table.gc()
            wm["cold"] = False
        bid, sid = wm["bid"], wm["ident"]
        if bid is None:
            meta = table.meta()
            bid, sid = meta.get("batch_id"), meta.get("ckpt_id")
        if bid is not None and batch_id <= bid:
            if not _identity_matches(sid, ident):
                raise RuntimeError(
                    f"time-rollup at {table_dir}: batch {batch_id} <= "
                    f"committed watermark {bid} but checkpoint identity "
                    f"changed ({sid!r} -> {ident!r}). The checkpoint was "
                    "wiped or relocated while the rollup state survived; "
                    "refusing to fold (could double-count) or skip (could "
                    "drop new data). Rebuild the rollup from history or "
                    "restore the matching checkpoint."
                )
            # same identity: the watermark committed in the same atomic
            # swap as the data, so reaching it proves the whole batch
            # landed — skip without any partial-commit proof.
            wm["bid"], wm["ident"] = bid, sid
            return
        years = set(_touched_years(batch, ts_col))
        stored = table.read(
            spark,
            partition_filter=lambda v: v["__year"] is not None
            and int(v["__year"]) in years,
        )
        refreshed = rollup_refresh_delta(
            stored, batch, ts_col, value_cents
        ).select(
            "grain",
            "bucket_start",
            "n_events",
            "value_cents",
            F.concat_ws("|", "grain", "bucket_start").alias("__k"),
            F.year("bucket_start").alias("__year"),
        )
        merge_into_manifest(
            spark,
            refreshed,
            table,
            "__k",
            meta={"batch_id": batch_id, "ckpt_id": ident},
        )
        wm["bid"], wm["ident"] = batch_id, ident

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_streaming_quantile_sketch(
    stream: DataFrame,
    sketch_dir: str,
    *,
    value_col: str,
    id_cols: list[str],
    k: int = 2048,
    seed: int = 2024,
    group_cols: list[str] | None = None,
    checkpoint_dir: str,
):
    """Streaming twin of ``operators/quantile_sketch``: maintain a
    bottom-k quantile sketch of everything the stream has delivered —
    one global sketch, or one per key when ``group_cols`` is set (the
    per-key latency-quantile monitoring shape; state is ≤ k rows per
    key and keys absent from a batch pass through the merge untouched).

    Each micro-batch builds its own <= k-row sketch and semilattice-
    merges it into the stored one (dedup on (hash, value), bottom-k).
    Because that merge is IDEMPOTENT, this twin needs none of the
    replay machinery the sum-fold rollups carry: no ``__batch_id``
    watermark, no checkpoint-identity token, no manifest commit. A
    crash between the parquet promote and the checkpoint commit
    re-delivers the batch, whose rows re-derive the identical (hash,
    value) pairs and vanish in the dedup; even the sum-folds'
    unfixable scenario — checkpoint wiped, state kept, then BOTH old
    and new data re-delivered as renumbered batches — folds to the
    correct sketch, because replayed rows are no-ops and new rows
    merge in. Exactness is algebraic, not transactional.

    The per-batch work is one scan-bound partial bottom-k over the
    batch plus a (<= 2k)-row merge and a k-row rewrite — O(batch + k)
    regardless of how much history the sketch summarizes. ``id_cols``
    must be unique per row ACROSS the whole stream (the build
    contract); reused identities collapse in the dedup.
    """
    from ..operators.quantile_sketch import (
        grouped_quantile_sketch,
        merge_grouped_quantile_sketches,
        merge_quantile_sketches,
        quantile_sketch,
    )

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if group_cols:
            delta = grouped_quantile_sketch(
                batch, value_col, id_cols, group_cols, k=k, seed=seed
            )
        else:
            delta = quantile_sketch(batch, value_col, id_cols, k=k, seed=seed)
        if recover_dir(sketch_dir):
            stored = spark.read.parquet(sketch_dir)
            if group_cols:
                delta = merge_grouped_quantile_sketches(
                    [stored, delta], group_cols, k=k
                )
            else:
                delta = merge_quantile_sketches([stored, delta], k=k)
        tmp = staging_path(sketch_dir)
        delta.write.mode("overwrite").parquet(tmp)
        promote_dir(tmp, sketch_dir)

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_streaming_distinct_sketch(
    stream: DataFrame,
    sketch_dir: str,
    *,
    key_cols: list[str],
    id_col: str,
    lg_k: int = 12,
    checkpoint_dir: str,
):
    """Streaming per-key distinct counts via stored HLL sketches — the
    cardinality sibling of ``start_streaming_quantile_sketch`` and the
    second semilattice twin: HLL union is idempotent (register max /
    coupon-set union), so checkpoint replay — including the full
    wipe-and-renumber scenario — re-absorbs rows as no-ops and the
    stored estimates cannot drift. No batch-id watermark, no identity
    token, no manifest commit.

    Per batch: one keyed sketch aggregate over the batch (long tail
    never leaves the executors), a per-key union against the stored
    table (keys missing from the batch pass through untouched), and a
    rewrite of O(keys) sketch rows — independent of stream history.
    """
    from ..operators.distinct_sketch import (
        distinct_sketch,
        merge_distinct_sketches,
    )

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        delta = distinct_sketch(batch, key_cols, id_col, lg_k=lg_k)
        if recover_dir(sketch_dir):
            stored = spark.read.parquet(sketch_dir)
            delta = merge_distinct_sketches([stored, delta])
        tmp = staging_path(sketch_dir)
        delta.write.mode("overwrite").parquet(tmp)
        promote_dir(tmp, sketch_dir)

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_streaming_set_sketch(
    stream: DataFrame,
    sketch_dir: str,
    *,
    id_cols: list[str],
    k: int = 4096,
    seed: int = 2024,
    key_cols: list[str] | None = None,
    checkpoint_dir: str,
):
    """Streaming KMV set sketch (``operators/setsketch``) — the third
    semilattice twin: maintain the bottom-k distinct-id hash sample of
    everything the stream has delivered, globally or per key. Serves
    distinct counts AND set algebra (union / intersection / Jaccard
    between keys or between independently-built sketch tables) from
    k-row state.

    The kept set is a pure function of the union of distinct hashes
    seen, so the per-batch merge (dedup on (key, hash), bottom-k) is
    idempotent: checkpoint replay — including the wipe-and-renumber
    scenario — re-absorbs rows as no-ops. No batch-id watermark, no
    identity token, no manifest commit; exactness is algebraic, the
    same argument as the quantile and HLL twins.

    Per batch: one map-side-combinable distinct over the batch, a
    (<= 2k per key)-row merge, a k-row-per-key rewrite — O(batch + k)
    regardless of history.
    """
    from ..operators.setsketch import merge_set_sketches, set_sketch

    keys = list(key_cols or [])

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        delta = set_sketch(batch, keys, id_cols, k=k, seed=seed)
        if recover_dir(sketch_dir):
            stored = spark.read.parquet(sketch_dir)
            delta = merge_set_sketches([stored, delta], keys, k=k)
        tmp = staging_path(sketch_dir)
        delta.write.mode("overwrite").parquet(tmp)
        promote_dir(tmp, sketch_dir)

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_streaming_dedup_index(
    stream: DataFrame,
    index_dir: str,
    matches_dir: str,
    *,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 3,
    checkpoint_dir: str,
):
    """Incremental near-duplicate detection — the production shape of
    dedup: every new micro-batch of documents is checked against ALL
    history without rescanning it, by maintaining the banded-MinHash
    bucket index (``operators/dedup.minhash_bands`` rows) as a stored
    table and probing the batch's bands against it.

    Two stored tables, BOTH pure set-unions of row sets — the fourth
    algebra-exact twin:

    - ``index_dir``: (band, bucket, id) rows for every document seen.
      The row set is a pure function of the document set, so the
      per-batch merge (union + distinct) is idempotent.
    - ``matches_dir``: candidate pairs (id_a < id_b) sharing any
      bucket, restricted to pairs touching the batch — every pair is
      emitted in the batch where its LATER member arrives (the earlier
      member is already in the merged index), so the accumulated table
      equals ``minhash_lsh_candidates`` over the whole corpus, exactly
      (differential-pinned). Replayed batches re-derive identical
      pairs and vanish in the distinct.

    Per-batch cost: one signature pass over the batch, a bucket-key
    join against the stored index (hash-partitioned on (band,
    bucket)), and rewrites of the two stores. The index grows
    O(docs × bands) — inherent to dedup state; at warehouse scale both
    stores live in a partitioned table (bucket-hash ranges) and the
    rewrite becomes a partition-scoped merge, same as the rollup twins.
    Verification (actual Jaccard over candidate pairs) stays a batch
    job over the matches table — candidates are the expensive part to
    keep incremental."""
    from ..operators.dedup import minhash_bands

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        delta = minhash_bands(
            batch,
            text_col,
            id_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
        )
        if recover_dir(index_dir):
            merged = (
                spark.read.parquet(index_dir).unionByName(delta).distinct()
            )
        else:
            merged = delta.distinct()
        merged = merged.localCheckpoint(eager=True)  # feeds probe + store
        # pairs touching this batch: probe the batch's bands against
        # the MERGED index (so within-batch pairs surface too)
        probe = delta.select(
            F.col("__band"),
            F.col("__bucket"),
            F.col("__id").alias("__new"),
        ).distinct()
        pairs = (
            probe.join(merged, ["__band", "__bucket"])
            .filter(F.col("__id") != F.col("__new"))
            .select(
                F.least("__id", "__new").alias("id_a"),
                F.greatest("__id", "__new").alias("id_b"),
            )
            .distinct()
        )
        if recover_dir(matches_dir):
            pairs = (
                spark.read.parquet(matches_dir).unionByName(pairs).distinct()
            )
        tmp_m = staging_path(matches_dir)
        pairs.write.mode("overwrite").parquet(tmp_m)
        promote_dir(tmp_m, matches_dir)
        tmp_i = staging_path(index_dir)
        merged.write.mode("overwrite").parquet(tmp_i)
        promote_dir(tmp_i, index_dir)

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_streaming_cms(
    stream: DataFrame,
    cms_dir: str,
    *,
    item_cols: "list[str]",
    depth: int = 4,
    width: int = 2048,
    seed: int = 2024,
    checkpoint_dir: str,
    adopt_legacy_params: bool = False,
):
    """Streaming count-min sketch (``operators/cms``): maintain the
    depth×width frequency cells over everything delivered; serve point
    estimates from ≤ depth·width stored rows via ``cms_lookup`` with
    raw history never rescanned.

    Exactly-once: the cell merge is a CELL-WISE SUM — a commutative
    monoid, exact over disjoint batches, but NOT idempotent (unlike
    the bottom-k/HLL/KMV semilattice twins a replayed batch would
    double-count). So this twin sits on rung 3 of DEPLOYMENT.md's
    state-algebra ladder (non-idempotent folds — rung 2 is the
    semilattices that need no guard): the table carries a
    ``__batch_id`` watermark
    and a checkpoint-recovery re-delivery (``batch_id <= watermark``)
    is skipped, the ``start_streaming_time_rollup`` guard verbatim.
    Same CONTRACT too: ``cms_dir`` and ``checkpoint_dir`` live and die
    together — a wiped checkpoint renumbers batches and the guard
    would silently discard fresh input (the rollup twin's documented
    trade; the partitioned rollup shows the identity-token upgrade
    path if that ever matters here).

    Per batch: one map-side-combinable (d, w) groupBy over the batch +
    a ≤ 2·depth·width-row merge + a ≤ depth·width-row rewrite —
    O(batch + depth·width) regardless of history.
    """
    from ..operators.cms import cms_build, cms_merge

    wm: dict[str, int | None] = {"v": None}

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        delta = cms_build(
            batch, item_cols, depth=depth, width=width, seed=seed
        )
        if recover_dir(cms_dir):
            stored = spark.read.parquet(cms_dir)
            # state written before the sketch carried its parameters
            # as columns has NO verifiable depth/width/seed — stamping
            # the stream's CURRENT config onto it would bypass the
            # cms_merge mismatch gate exactly where it cannot be
            # checked (a reconfigured job would silently corrupt every
            # estimate). So the migration is an explicit one-time
            # opt-in: the operator certifies the params are unchanged
            # since the state was built, and the adoption is logged
            # loudly so it leaves a trace (the r9 ADVICE find).
            if "__depth" not in stored.columns:
                if not adopt_legacy_params:
                    raise RuntimeError(
                        "start_streaming_cms: stored state at"
                        f" {cms_dir!r} predates the parameter columns"
                        " and cannot be verified against this stream's"
                        " depth/width/seed. If (and only if) the"
                        " parameters are unchanged since the state was"
                        " built, restart once with"
                        " adopt_legacy_params=True to migrate it;"
                        " otherwise wipe cms_dir AND checkpoint_dir"
                        " together and rebuild."
                    )
                import logging

                logging.getLogger(__name__).warning(
                    "start_streaming_cms: adopting legacy (param-less)"
                    " sketch state at %s with depth=%d width=%d seed=%d"
                    " — UNVERIFIED: correctness rests on the operator's"
                    " certification that these match the build-time"
                    " parameters. Future state carries them as columns.",
                    cms_dir,
                    int(depth),
                    int(width),
                    int(seed),
                )
                stored = (
                    stored.withColumn(
                        "__depth", F.lit(int(depth)).cast("int")
                    )
                    .withColumn("__width", F.lit(int(width)).cast("int"))
                    .withColumn("__seed", F.lit(int(seed)).cast("long"))
                )
            bid = wm["v"]
            if bid is None:  # cold cache → recovery path, read disk
                bid = stored.agg(F.max("__batch_id")).first()[0]
            if bid is not None and batch_id <= bid:
                wm["v"] = bid
                return  # checkpoint replay of an already-folded batch
            delta = cms_merge([stored.drop("__batch_id"), delta])
        tmp = staging_path(cms_dir)
        delta.withColumn("__batch_id", F.lit(batch_id)).write.mode(
            "overwrite"
        ).parquet(tmp)
        promote_dir(tmp, cms_dir)
        wm["v"] = batch_id

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _verify_state_params(
    stored: DataFrame,
    expected: "dict[str, int]",
    *,
    op: str,
    state_dir: str,
    checkpoint_dir: str,
    adopt_legacy: bool,
) -> bool:
    """The CMS twin's parameter gate, generalized: stored drift-monitor
    state must carry its build parameters as constant columns and they
    must MATCH this stream's configuration — a restart with different
    params would silently fold incompatible counts together (the
    unverifiable-state corruption class). Param-less legacy state is
    an explicit one-time ``adopt_legacy=True`` migration, loudly
    logged; a present-but-different fingerprint always raises (there
    is no safe adoption of a contradicting state). One ≤ k-row
    ``first()`` per process start — never per batch. Returns True when
    a legacy adoption happened — the CALLER must then persist the
    stamped parameters immediately (``_persist_param_stamp``): waiting
    for a fold to rewrite the state would leave it param-less forever
    whenever the replay guard skips every delivered batch (a fresh
    checkpoint renumbers from 0, a no-new-data restart delivers
    nothing), silently breaking the 'one-time' promise."""
    # verify whatever IS present first: a half-stamped state with a
    # CONTRADICTING fingerprint must raise, never be silently adopted
    # and durably re-stamped over (the present-but-different promise)
    present = [c for c in sorted(expected) if c in stored.columns]
    if present:
        row = stored.select(*present).first()
        if row is not None:
            got_p = {c: int(row[c]) for c in present}
            bad_p = {
                c: v for c, v in got_p.items() if v != int(expected[c])
            }
            if bad_p:
                raise RuntimeError(
                    f"{op}: stored state at {state_dir!r} was built"
                    f" with {got_p} but this stream is configured with"
                    f" { {c: expected[c] for c in present} } — folding"
                    " new counts into it would silently corrupt the"
                    f" monitor. Wipe {state_dir!r} AND"
                    f" {checkpoint_dir!r} together and rebuild, or"
                    " restart with the original configuration."
                )
    missing = [c for c in expected if c not in stored.columns]
    if missing:
        if not adopt_legacy:
            raise RuntimeError(
                f"{op}: stored state at {state_dir!r} predates the"
                f" parameter columns {sorted(expected)} and cannot be"
                " verified against this stream's configuration. If"
                " (and only if) the parameters are unchanged since the"
                " state was built, restart once with"
                " adopt_legacy_params=True to migrate it; otherwise"
                f" wipe {state_dir!r} AND {checkpoint_dir!r} together"
                " and rebuild."
            )
        import logging

        logging.getLogger(__name__).warning(
            "%s: adopting legacy (param-less) state at %s with %s —"
            " UNVERIFIED: correctness rests on the operator's"
            " certification that these match the build-time"
            " parameters. The migrated state is persisted NOW and"
            " carries them as columns.",
            op,
            state_dir,
            expected,
        )
        return True
    return False


def _persist_param_stamp(
    spark: SparkSession,
    stored: DataFrame,
    state_dir: str,
    cols: "dict[str, Column]",
) -> DataFrame:
    """Complete a legacy-state adoption by writing the stamped
    parameter columns back to disk immediately (staging + atomic
    promote, the fold's own write pattern), then re-read — the caller
    must not keep using the pre-promote frame, whose lazy plan still
    points at the replaced files."""
    for name, col in cols.items():
        stored = stored.withColumn(name, col)
    tmp = staging_path(state_dir)
    stored.write.mode("overwrite").parquet(tmp)
    promote_dir(tmp, state_dir)
    return spark.read.parquet(state_dir)


def start_streaming_psi(
    stream: DataFrame,
    psi_dir: str,
    *,
    value_col: str,
    ref: DataFrame,
    n_buckets: int = 10,
    checkpoint_dir: str,
    adopt_legacy_params: bool = False,
):
    """Streaming PSI drift monitor (``operators/drift.psi``): bucket
    edges are frozen ONCE from the reference distribution at start
    (exact order-statistic build on the distinct-value aggregate — or
    at warehouse scale pass a pre-bucketized ref through the same
    shapes), then every micro-batch folds its bucket counts into the
    stored current-side state and rewrites the k-row serving table
    ``(bucket, edge, n_ref, n_cur, ref_share, cur_share, psi_term,
    psi)`` — the batch operator's exact output schema, produced by the
    SAME formula tail (``drift._psi_from_base``), so a dashboard reads
    one tiny table and the streamed verdict can never diverge from
    what batch psi() would say about the union of delivered batches
    (the differential the tests pin).

    Exactly-once: bucket counts are a SUM-fold — monoid, not
    idempotent — so this twin sits on rung 3 of DEPLOYMENT.md's
    state-algebra ladder and carries the rollup twin's ``__batch_id``
    watermark verbatim (a checkpoint-recovery re-delivery is skipped).
    Same CONTRACT: ``psi_dir`` and ``checkpoint_dir`` live and die
    together — the guard cannot distinguish a replayed batch from
    genuinely NEW input renumbered 0..k after a checkpoint wipe, so
    wiping the checkpoint while keeping psi_dir silently discards
    fresh low-numbered batches (the rollup twin's documented trade;
    the partitioned rollup's checkpoint-identity token is the upgrade
    path if that ever matters here). The reference side (edges,
    per-bucket ref counts, ref
    total) is computed eagerly here and pinned via localCheckpoint —
    after a driver restart the caller passes the same ``ref`` again
    and gets the identical integer edges (exact order statistics of
    the same data), so the frozen-edges contract survives restarts
    without storing the reference.

    The restart contract is VERIFIED, not just documented (the CMS
    twin's param-column gate): state carries ``__n_buckets`` and
    ``__edges_fp`` (order-independent xxhash fingerprint of the
    frozen (bucket, edge) table — and the edges being exact order
    statistics makes that a fingerprint of the reference
    distribution itself), and the fold FAILS LOUD if a restart
    changed either — folding new bucket counts into
    incompatibly-bucketed stored state would silently corrupt every
    share. State written before these columns existed needs the
    one-time explicit ``adopt_legacy_params=True`` migration
    (loudly logged), the CMS twin's contract verbatim.

    Per batch: one map-side distinct-value reduction + broadcast range
    join against k−1 edges + a ≤ k-row state merge and rewrite —
    O(batch + k) regardless of history. NULL stream values raise (the
    psi fail-loud convention).
    """
    from ..operators.drift import _bucketize, _psi_from_base, psi_buckets

    k = int(n_buckets)
    edges = psi_buckets(ref, value_col, n_buckets=k).localCheckpoint(
        eager=True
    )
    # order-independent fingerprint of the frozen bucketing: XOR of
    # per-row hashes over the ≤ k−1 distinct (bucket, edge) rows (no
    # duplicate rows, so XOR cancellation is impossible); empty edges
    # (degenerate single-value ref) coalesce to 0
    edges_fp = int(
        edges.agg(
            F.coalesce(
                F.bit_xor(F.xxhash64("bucket", "edge")), F.lit(0)
            )
        ).first()[0]
    )
    ref_counts = (
        _bucketize(ref, value_col, edges, k, [], "reference")
        .withColumnRenamed("c", "n_ref")
        .localCheckpoint(eager=True)
    )
    ref_total = (
        ref.agg(F.count("*").cast("long").alias("n_ref_total"))
        .localCheckpoint(eager=True)
    )
    wm: dict[str, int | None] = {"v": None}

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        old_cur = None
        if recover_dir(psi_dir):
            stored = spark.read.parquet(psi_dir)
            if wm["v"] is None:  # first touch this process: verify
                if _verify_state_params(
                    stored,
                    {"__n_buckets": k, "__edges_fp": edges_fp},
                    op="start_streaming_psi",
                    state_dir=psi_dir,
                    checkpoint_dir=checkpoint_dir,
                    adopt_legacy=adopt_legacy_params,
                ):
                    stored = _persist_param_stamp(
                        spark,
                        stored,
                        psi_dir,
                        {
                            "__n_buckets": F.lit(k).cast("int"),
                            "__edges_fp": F.lit(edges_fp).cast("long"),
                        },
                    )
            bid = wm["v"]
            if bid is None:  # cold cache → recovery path, read disk
                bid = stored.agg(F.max("__batch_id")).first()[0]
            if bid is not None and batch_id <= bid:
                wm["v"] = bid
                return  # checkpoint replay of an already-folded batch
            old_cur = stored.select("bucket", "n_cur")
        delta = _bucketize(batch, value_col, edges, k, [], "input")
        if old_cur is not None:
            merged = (
                old_cur.unionByName(
                    delta.withColumnRenamed("c", "n_cur")
                )
                .groupBy("bucket")
                .agg(F.sum("n_cur").cast("long").alias("n_cur"))
            )
        else:
            merged = delta.withColumnRenamed("c", "n_cur")
        grid = spark.range(1, k + 1).select(
            F.col("id").cast("int").alias("bucket")
        )
        cur_total = merged.agg(
            F.sum("n_cur").cast("long").alias("n_cur_total")
        )
        base = (
            grid.join(F.broadcast(ref_counts), "bucket", "left")
            .join(F.broadcast(merged), "bucket", "left")
            .crossJoin(F.broadcast(ref_total))
            .crossJoin(F.broadcast(cur_total))
        )
        out = _psi_from_base(base, edges, [], k)
        tmp = staging_path(psi_dir)
        out.withColumn("__batch_id", F.lit(batch_id)).withColumn(
            "__n_buckets", F.lit(k).cast("int")
        ).withColumn(
            "__edges_fp", F.lit(edges_fp).cast("long")
        ).write.mode(
            "overwrite"
        ).parquet(tmp)
        promote_dir(tmp, psi_dir)
        wm["v"] = batch_id

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_streaming_mwu(
    stream: DataFrame,
    mwu_dir: str,
    *,
    value_col: str,
    ref: DataFrame,
    checkpoint_dir: str,
    adopt_legacy_params: bool = False,
    group_cols: "list[str] | None" = None,
):
    """Streaming Mann-Whitney U drift monitor — the SIGNIFICANCE leg
    of continuous monitoring next to :func:`start_streaming_psi`'s
    magnitude leg: the reference side's distinct-value counts are
    frozen ONCE at start, every micro-batch folds its own value counts
    into the stored current side, and the one-row verdict
    ``(n_ref, n_cur, u_stat, auc, tie_term, z, p_value)`` is served by
    ``read_streaming_two_sample(spark, mwu_dir, "mwu")`` through the
    SAME formula tail as the batch operator
    (``twosample._mwu_from_counts``), so the streamed
    statistic equals batch ``mann_whitney_u(ref, union-of-batches)``
    exactly — the ``_psi_from_base`` shared-formula rule.

    State is the sided-counts frame itself: one row per distinct value
    ``(__v, __c1, __c2, __batch_id)`` with the ref side carried
    through unchanged. That is O(distinct values) — NOT fixed-size
    like the PSI twin's k buckets — so the operator contract is the
    two-sample module's: the caller controls value cardinality (cents,
    or pre-bucketed/rounded values at warehouse scale).

    Exactly-once: the cur-side count fold is a SUM — monoid, not
    idempotent — rung 3 of DEPLOYMENT.md's ladder, carrying the rollup
    twin's ``__batch_id`` watermark verbatim; ``mwu_dir`` and
    ``checkpoint_dir`` live and die together (a wiped checkpoint
    renumbers batches and the guard silently discards fresh
    low-numbered input — the documented trade). NULL stream values
    raise (the module's fail-loud convention).

    The frozen-reference contract is VERIFIED on restart (the CMS/PSI
    param gate): once state exists the fold never looks at ``ref``
    again, so state carries ``__ref_fp`` — an order-independent
    xxhash fingerprint of the frozen reference distinct-value counts
    — and the fold FAILS LOUD if a restart passed a DIFFERENT ref
    (which would otherwise be silently ignored). Param-less legacy
    state needs the one-time explicit ``adopt_legacy_params=True``
    migration, loudly logged.

    With ``group_cols`` the monitor is PER KEY: the frozen reference
    and every folded batch are keyed ``(group..., value)``, the state
    is O(keys × distinct values), and each reader serves one verdict
    row per key through the grouped batch tails — the streamed twin
    of the grouped batch battery (events_type_mwu et al.); pipe the
    p column through ``stats.bh_select`` for the multiplicity rung.
    Readers detect the group columns from the state itself.
    """
    return _start_streaming_sided_counts(
        stream,
        mwu_dir,
        value_col=value_col,
        ref=ref,
        checkpoint_dir=checkpoint_dir,
        adopt_legacy_params=adopt_legacy_params,
        op="start_streaming_mwu",
        check_op="mann_whitney_u",
        group_cols=group_cols,
    )


def start_streaming_ks(
    stream: DataFrame,
    ks_dir: str,
    *,
    value_col: str,
    ref: DataFrame,
    checkpoint_dir: str,
    adopt_legacy_params: bool = False,
    group_cols: "list[str] | None" = None,
):
    """Streaming two-sample KS drift monitor — the SHAPE-sensitive leg
    completing the streaming drift playbook next to
    :func:`start_streaming_psi` (magnitude) and
    :func:`start_streaming_mwu` (location significance): identical
    sided-counts state and fold (one builder serves both rank twins —
    the state IS ``_sided_counts``), with the verdict served by
    ``read_streaming_two_sample(spark, ks_dir, "ks")`` through the
    batch operator's exact formula tail
    (``twosample._ks_from_counts``), so the streamed
    D/location/p equal batch ``ks_two_sample(ref, union-of-batches)``
    bit-for-bit. All the MWU twin's contracts apply verbatim:
    O(distinct values) state (caller controls value cardinality),
    rung-3 ``__batch_id`` replay guard, dirs live and die together,
    ``__ref_fp`` restart verification, fail-loud NULLs, and the
    per-key ``group_cols`` mode with reader auto-detection."""
    return _start_streaming_sided_counts(
        stream,
        ks_dir,
        value_col=value_col,
        ref=ref,
        checkpoint_dir=checkpoint_dir,
        adopt_legacy_params=adopt_legacy_params,
        op="start_streaming_ks",
        check_op="ks_two_sample",
        group_cols=group_cols,
    )


def _start_streaming_sided_counts(
    stream: DataFrame,
    state_dir: str,
    *,
    value_col: str,
    ref: DataFrame,
    checkpoint_dir: str,
    adopt_legacy_params: bool,
    op: str,
    check_op: str,
    group_cols: "list[str] | None" = None,
    categorical: bool = False,
):
    """The shared fold behind the MWU, KS and mix streaming twins:
    every two-sample statistic is a pure function of the SAME
    ``(__v | __cat, __c1, __c2)`` sided-counts frame, so the state,
    the replay guard, and the reference fingerprint are one
    implementation, and :func:`read_streaming_two_sample` picks the
    formula tail at serving time. The frozen reference (literal side
    1) and each batch's delta (literal side 2) come from the batch
    operators' own counts function, ``twosample._sided_counts``.

    With ``group_cols`` the state is keyed ``(group..., __v)`` — one
    per-key sided-counts row set, O(keys × distinct values) — and
    every reader serves the PER-KEY verdict battery (the grouped
    batch operators' streamed twin; pipe any reader's p column
    through ``stats.bh_select`` for the multiplicity rung). The group
    columns are stored in the state itself, so readers detect them
    without configuration; a restart that renames a group column
    fails loud at the stored-column select, and a restart that
    re-points at a different grouped reference fails the ``__ref_fp``
    gate (the fingerprint hashes the group key with each value
    row)."""
    from ..operators.twosample import _sided_counts

    groups = list(group_cols or [])
    kcol = "__cat" if categorical else "__v"

    def counts(df: DataFrame, side: int) -> DataFrame:
        return _sided_counts(
            df, value_col, F.lit(side), groups, check_op,
            categorical=categorical,
        )

    ref_counts = counts(ref, 1).localCheckpoint(eager=True)
    # order-independent fingerprint of the frozen reference side: XOR
    # of per-row hashes over distinct (group..., key, __c1) rows
    # (distinct by the (group, key) pair, so XOR cancellation is
    # impossible); empty ref → 0
    ref_fp = int(
        ref_counts.agg(
            F.coalesce(
                F.bit_xor(F.xxhash64(*groups, kcol, "__c1")), F.lit(0)
            )
        ).first()[0]
    )
    wm: dict[str, int | None] = {"v": None}

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        stored = None
        if recover_dir(state_dir):
            stored = spark.read.parquet(state_dir)
            if wm["v"] is None:  # first touch this process: verify
                if _verify_state_params(
                    stored,
                    {"__ref_fp": ref_fp},
                    op=op,
                    state_dir=state_dir,
                    checkpoint_dir=checkpoint_dir,
                    adopt_legacy=adopt_legacy_params,
                ):
                    stored = _persist_param_stamp(
                        spark,
                        stored,
                        state_dir,
                        {"__ref_fp": F.lit(ref_fp).cast("long")},
                    )
            bid = wm["v"]
            if bid is None:  # cold cache → recovery path, read disk
                bid = stored.agg(F.max("__batch_id")).first()[0]
            if bid is not None and batch_id <= bid:
                wm["v"] = bid
                return  # checkpoint replay of an already-folded batch
        base = (
            ref_counts
            if stored is None
            else stored.select(*groups, kcol, "__c1", "__c2")
        )
        merged = (
            base.unionByName(counts(batch, 2))
            .groupBy(*groups, kcol)
            .agg(
                F.sum("__c1").cast("long").alias("__c1"),
                F.sum("__c2").cast("long").alias("__c2"),
            )
        )
        tmp = staging_path(state_dir)
        merged.withColumn("__batch_id", F.lit(batch_id)).withColumn(
            "__ref_fp", F.lit(ref_fp).cast("long")
        ).write.mode(
            "overwrite"
        ).parquet(tmp)
        promote_dir(tmp, state_dir)
        wm["v"] = batch_id

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _stored_counts(
    spark: SparkSession, state_dir: str, key: str, caller: str
):
    """Load a stored sided-counts state keyed by ``key`` (``__cat`` for
    a ``start_streaming_mix`` state, ``__v`` for the value twins) and
    detect its group columns from the state itself (everything that is
    not a reserved state column, in stored order), so the per-key
    monitors need zero reader configuration. A state keyed by the
    other column raises ``ValueError`` naming it."""
    df = spark.read.parquet(state_dir)
    found = "__cat" if "__cat" in df.columns else "__v"
    if found != key:
        raise ValueError(
            f"{caller}: the state at {state_dir!r} is keyed by {found},"
            f" not {key} — read a start_streaming_mix state as 'chi2'"
            " or mix shares, a start_streaming_mwu/ks state as a value"
            " kind"
        )
    reserved = {key, "__c1", "__c2", "__batch_id", "__ref_fp"}
    groups = [c for c in df.columns if c not in reserved]
    return df.select(*groups, key, "__c1", "__c2"), groups


def read_streaming_two_sample(
    spark: SparkSession, state_dir: str, kind: str
) -> DataFrame:
    """The ``kind`` verdict (any key of ``twosample._FROM_COUNTS``:
    mwu, ks, w1, cvm, mood, ab, bm over a value state — the one
    written by ``start_streaming_mwu``/``start_streaming_ks`` — or
    chi2 over a ``start_streaming_mix`` category state) from the
    stored sided-counts state, computed by the batch operator's own
    formula tail, so it equals the batch verdict on ``ref`` against
    the union of the folded batches. One row, or one row per key for a
    grouped state. An unknown kind, or a kind that does not fit the
    state's key column, raises ``ValueError``."""
    from ..operators.twosample import _from_counts

    _, key, tail = _from_counts(kind, "read_streaming_two_sample")
    vc, groups = _stored_counts(
        spark, state_dir, key, f"read_streaming_two_sample({kind!r})"
    )
    return tail(vc, groups)


def start_streaming_mix(
    stream: DataFrame,
    state_dir: str,
    *,
    cat_col: str,
    ref: DataFrame,
    checkpoint_dir: str,
    adopt_legacy_params: bool = False,
    group_cols: "list[str] | None" = None,
):
    """Streaming categorical-MIX drift monitor — the categorical rung
    of continuous monitoring next to the value-distribution twins
    (PSI/MWU/KS watch a NUMERIC column; this watches a composition:
    event-type mix, language mix, source mix). The reference side's
    per-category counts are frozen ONCE at start, every micro-batch
    folds its own category counts into the stored current side, and
    the state is the category sided-counts frame itself
    ``(group..., __cat, __c1, __c2, __batch_id)`` — O(categories)
    rows, the smallest state in the family. Served by
    ``read_streaming_two_sample(spark, state_dir, "chi2")`` (the
    significance verdict through the batch ``chi2_homogeneity``
    formula tail — exact χ²₁ at k = 2) and
    :func:`read_streaming_mix_shares` (the per-category magnitude
    display: shares per side and the share delta, the "which category
    moved" companion the χ² omnibus does not name).

    All the sided-counts family's contracts apply verbatim: rung-3
    ``__batch_id`` replay guard, dirs live and die together,
    ``__ref_fp`` restart verification (hashes categories with their
    counts), fail-loud NULL categories (a NULL silently pooled into
    its own category would hide an encoding bug), optional
    ``group_cols`` for a per-key monitor with reader auto-detection.
    """
    return _start_streaming_sided_counts(
        stream,
        state_dir,
        value_col=cat_col,
        ref=ref,
        checkpoint_dir=checkpoint_dir,
        adopt_legacy_params=adopt_legacy_params,
        op="start_streaming_mix",
        check_op="chi2_homogeneity",
        group_cols=group_cols,
        categorical=True,
    )


def read_streaming_mix_shares(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """Per-category share comparison from a ``start_streaming_mix``
    state — the magnitude/display companion of the chi2 verdict ("the
    view mix moved from 31% to 38%"): shares per side, the share
    delta, ordered by |delta| descending so the biggest mover leads.
    The batch ``events_mix_shares`` query's own tail
    (``twosample._mix_shares``); one-sided states report NULL shares
    for the empty side rather than a 0/0."""
    from ..operators.twosample import _mix_shares

    vc, groups = _stored_counts(
        spark, state_dir, "__cat", "read_streaming_mix_shares"
    )
    return _mix_shares(vc, groups).orderBy(
        *groups, F.abs(F.col("share_delta")).desc(), "category"
    )


def start_streaming_kw(
    stream: DataFrame,
    state_dir: str,
    *,
    group_col: str,
    value_col: str,
    checkpoint_dir: str,
    adopt_legacy_params: bool = False,
):
    """Streaming Kruskal-Wallis omnibus monitor — the k-sample rung of
    the drift dashboard streamed ("did ANY group's value distribution
    differ ACROSS groups in what has arrived so far"): unlike the
    two-sample twins there is no frozen reference side — the k groups
    are compared against each other within the delivered union — so
    the state is the per-(group, value) count frame itself
    ``(__g, __v, __c, __batch_id)``, the EXACT aggregate the batch
    operator folds over (``twosample._kw_value_counts``). The verdict
    is served by :func:`read_streaming_kw` through the batch formula
    tail (``_kw_per_group_from_counts`` → ``_kw_from_per_group``), so
    the streamed H/p equal batch ``kruskal_wallis(union-of-batches)``
    bit-for-bit — and the SAME stored state also serves
    :func:`read_streaming_dunn`'s post-hoc pair verdicts ("one fold,
    two verdicts", the k-sample analogue of the sided-counts family's
    five).

    State is O(k·distinct values) — NOT fixed-size — so the operator
    contract is the two-sample module's: the caller controls value
    cardinality (cents, or pre-bucketed values at warehouse scale).
    Exactly-once: the count fold is a SUM — monoid, not idempotent —
    rung 3 of DEPLOYMENT.md's ladder with the rollup twin's
    ``__batch_id`` replay guard verbatim; ``state_dir`` and
    ``checkpoint_dir`` live and die together. The column contract is
    VERIFIED on restart (the CMS/PSI param gate): state carries
    ``__cols_fp`` — a fingerprint of (group_col, value_col) — and the
    fold FAILS LOUD if a restart re-pointed the monitor at different
    columns (folding apples-counts into oranges-state would silently
    corrupt every rank). Param-less legacy state needs the one-time
    explicit ``adopt_legacy_params=True`` migration, loudly logged.
    NULL group keys or stream values raise (the fail-loud
    convention)."""
    from ..operators.drift import _checked_keys, _checked_long

    cols_fp = int(
        stream.sparkSession.range(1)
        .select(F.xxhash64(F.lit(group_col), F.lit(value_col)))
        .first()[0]
    )
    wm: dict[str, int | None] = {"v": None}

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        stored = None
        if recover_dir(state_dir):
            stored = spark.read.parquet(state_dir)
            if wm["v"] is None:  # first touch this process: verify
                if _verify_state_params(
                    stored,
                    {"__cols_fp": cols_fp},
                    op="start_streaming_kw",
                    state_dir=state_dir,
                    checkpoint_dir=checkpoint_dir,
                    adopt_legacy=adopt_legacy_params,
                ):
                    stored = _persist_param_stamp(
                        spark,
                        stored,
                        state_dir,
                        {"__cols_fp": F.lit(cols_fp).cast("long")},
                    )
            bid = wm["v"]
            if bid is None:  # cold cache → recovery path, read disk
                bid = stored.agg(F.max("__batch_id")).first()[0]
            if bid is not None and batch_id <= bid:
                wm["v"] = bid
                return  # checkpoint replay of an already-folded batch
        checked = _checked_keys(
            batch.select(
                F.col(group_col).alias("__g"),
                F.col(value_col).alias("__x"),
            ),
            ["__g"],
            op_name="kruskal_wallis",
        )
        delta = (
            checked.select(
                "__g",
                _checked_long(
                    F.col("__x"), "input", "kruskal_wallis"
                ).alias("__v"),
            )
            .groupBy("__g", "__v")
            .agg(F.count("*").cast("long").alias("__c"))
        )
        if stored is not None:
            merged = (
                stored.select("__g", "__v", "__c")
                .unionByName(delta)
                .groupBy("__g", "__v")
                .agg(F.sum("__c").cast("long").alias("__c"))
            )
        else:
            merged = delta
        tmp = staging_path(state_dir)
        merged.withColumn("__batch_id", F.lit(batch_id)).withColumn(
            "__cols_fp", F.lit(cols_fp).cast("long")
        ).write.mode(
            "overwrite"
        ).parquet(tmp)
        promote_dir(tmp, state_dir)
        wm["v"] = batch_id

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_streaming_kw(spark: SparkSession, state_dir: str) -> DataFrame:
    """The one-row Kruskal-Wallis omnibus verdict from the stored
    (group, value) count state — the serving path of
    :func:`start_streaming_kw`, computed by the identical formula
    tail as the batch operator."""
    from ..operators.twosample import (
        _kw_from_per_group,
        _kw_per_group_from_counts,
    )

    vc = spark.read.parquet(state_dir).select("__g", "__v", "__c")
    return _kw_from_per_group(
        _kw_per_group_from_counts(vc, "__g", []), []
    )


def read_streaming_dunn(
    spark: SparkSession, state_dir: str, *, alpha: float = 0.05
) -> DataFrame:
    """Dunn post-hoc pair verdicts from the SAME stored KW state —
    WHICH group moved, BH-corrected, batch-exact (the k-sample "one
    fold, two verdicts" serving path; pair columns come back as
    ``group_a``/``group_b``)."""
    from ..operators.twosample import (
        _dunn_from_per_group,
        _kw_per_group_from_counts,
    )

    vc = spark.read.parquet(state_dir).select("__g", "__v", "__c")
    return _dunn_from_per_group(
        _kw_per_group_from_counts(vc, "__g", []), "__g", [], alpha
    )


def read_streaming_median_k(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """Brown-Mood k-sample median verdict from the stored KW
    (group, value) count state (see :func:`read_streaming_kw`): the
    k-sample rung's FOURTH batch-exact verdict from one fold — KW
    "did ANY group move", Dunn "WHICH", JT "is it MONOTONE", median
    "did a MEDIAN move" (the robust gate when tails are wild)."""
    from ..operators.twosample import _medk_from_counts

    vc = spark.read.parquet(state_dir).select("__g", "__v", "__c")
    return _medk_from_counts(vc, "__g", [])


def read_streaming_jt(spark: SparkSession, state_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-trend verdict from the stored KW
    (group, value) count state (see :func:`read_streaming_kw`): the
    k-sample rung's third batch-exact verdict from one fold — KW
    "did ANY group move", Dunn "WHICH", JT "is it MONOTONE in the
    group order"."""
    from ..operators.twosample import _jt_from_counts

    vc = spark.read.parquet(state_dir).select("__g", "__v", "__c")
    return _jt_from_counts(vc, "__g", [])
