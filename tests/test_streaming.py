"""Real Structured Streaming behavior (the part the DuckDB oracle can't
check): windowed aggregation parity between batch and streaming runs of
the SAME builder, watermark late-row dropping across micro-batches, and
idempotent CDC MERGE under replay.

Mirrors the reference's test strategy tier 2 (live end-to-end,
SURVEY.md §5): drive the actual runtime, assert effects."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kube_etl_spark.catalog import load_table
from kube_etl_spark.streaming import windowed
from kube_etl_spark.streaming.cdc import StateTable, latest_op, run_cdc_stream
from kube_etl_spark.streaming.sources import chunked_file_stream

from .conftest import SMOKE_SF


def _run_stream_to_memory(stream_df, name: str, output_mode: str = "complete"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()


@pytest.fixture()
def events_stream(spark, tmp_path):
    # ms truncation: the json round-trip through chunked_file_stream
    # keeps millisecond precision, so align the batch side to it.
    ev = load_table(spark, SMOKE_SF, "events").withColumn(
        "ts", F.timestamp_millis(F.unix_millis(F.col("ts").cast("timestamp")))
    )
    stream = chunked_file_stream(spark, ev, str(tmp_path / "src"), n_chunks=4, order_col="event_id")
    return ev, stream


def test_tumbling_stream_matches_batch(spark, events_stream):
    """The tumbling builder gives identical results in batch and
    streaming mode (ST1's mode-agnosticism claim, executed)."""
    ev, stream = events_stream
    batch = {
        (r["window_start"], r["n_events"], r["total_value"])
        for r in windowed.tumbling(ev).collect()
    }
    _run_stream_to_memory(windowed.tumbling(stream), "t_tumbling")
    streamed = {
        (r["window_start"], r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM t_tumbling").collect()
    }
    assert streamed == batch


def test_session_stream_matches_batch(spark, events_stream):
    """Session windows: streaming (with watermark, required for session
    aggregation) equals batch on fully-replayed in-order data."""
    ev, stream = events_stream
    batch = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in windowed.session(ev).collect()
    }
    _run_stream_to_memory(
        windowed.session(stream.withWatermark("ts", "100 days")), "t_session"
    )
    streamed = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in spark.sql("SELECT * FROM t_session").collect()
    }
    assert streamed == batch


def test_watermark_drops_late_rows(spark, tmp_path):
    """ST4 for real: a row arriving in a later run with event time far
    behind the advanced watermark is excluded from its window's final
    (append-mode) result. Two availableNow runs over one checkpoint =
    two guaranteed separate micro-batches (also exercises restart
    recovery: the watermark survives in the checkpoint)."""
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    src = tmp_path / "late"
    src.mkdir()

    def _arrive(path, rows):
        spark.createDataFrame(
            [(i, t, 1, "a", 1.0, "{}") for i, t in rows], schema
        ).coalesce(1).write.mode("overwrite").json(str(path))

    def _run():
        stream = spark.readStream.schema(schema).json(str(src) + "/*")
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").cast("string").alias("start"), "n")
        )
        emitted: dict[str, int] = {}

        def _collect(batch, _bid):
            for r in batch.collect():
                emitted[r["start"]] = r["n"]

        q = (
            agg.writeStream.foreachBatch(_collect)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        # a window is emitted exactly once across the checkpoint's
        # lifetime, so merging runs cannot double-count
        return emitted

    from datetime import datetime as dt

    # run 1: on-time data advances the watermark to 11:50
    _arrive(src / "b1", [(1, dt(2024, 1, 1, 10, 0)), (2, dt(2024, 1, 1, 10, 30)), (3, dt(2024, 1, 1, 12, 0))])
    got = _run()
    # run 2: an hours-late row for the (closed) 10:00 window + a pusher
    _arrive(src / "b2", [(4, dt(2024, 1, 1, 10, 5)), (5, dt(2024, 1, 1, 14, 0))])
    got.update(_run())
    # Event 4 (10:05) arrived after the watermark passed 11:00, so the
    # finalized 10:00 window holds only events 1 and 2.
    assert got.get("2024-01-01 10:00:00") == 2
    # The 12:00 window finalized in run 2 (watermark 13:50) with 1 row.
    assert got.get("2024-01-01 12:00:00") == 1


def test_cdc_state_merge_idempotent(spark, tmp_path):
    """ST6: replaying the same op-log through the StateTable (simulated
    at-least-once redelivery) leaves the state unchanged, and deletes
    remove keys — the SSA-apply idempotence the reference relies on."""
    oplog = spark.createDataFrame(
        [
            (1, 10, "upsert", 100.0),
            (2, 10, "upsert", 150.0),   # overrides seq 1
            (3, 20, "upsert", 200.0),
            (4, 30, "upsert", 300.0),
            (5, 30, "delete", None),    # removes key 30
        ],
        "seq long, key long, op string, value double",
    )
    state = StateTable(spark, str(tmp_path / "state"), ["key"], "seq")
    state.merge_batch(oplog)
    first = sorted((r["key"], r["value"]) for r in state.read().collect())
    assert first == [(10, 150.0), (20, 200.0)]
    # replay (redelivery) — must converge, not duplicate or resurrect
    state.merge_batch(oplog)
    assert sorted((r["key"], r["value"]) for r in state.read().collect()) == first
    # late-arriving older op for key 10 must lose (seq-based winner)
    state.merge_batch(
        spark.createDataFrame([(1, 10, "upsert", 100.0)], "seq long, key long, op string, value double")
    )
    assert sorted((r["key"], r["value"]) for r in state.read().collect()) == first


def test_cdc_streaming_replay_matches_batch_compaction(spark, tmp_path):
    """End-to-end ST6/ST7: replay the events fixture as a file stream
    through foreachBatch + StateTable; final state equals the one-shot
    batch compaction (latest_op) of the same op-log."""
    ev = (
        load_table(spark, SMOKE_SF, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn(
            "op",
            F.when(F.col("event_type") == "error", "delete").otherwise("upsert"),
        )
        .select(
            F.col("event_id").alias("seq"),
            F.col("user_id").alias("key"),
            "op",
            "value",
        )
    )
    stream = chunked_file_stream(spark, ev, str(tmp_path / "oplog"), n_chunks=3, order_col="seq")
    state = StateTable(spark, str(tmp_path / "state"), ["key"], "seq")
    run_cdc_stream(stream, state, str(tmp_path / "ckpt"))
    got = sorted((r["key"], r["seq"], r["value"]) for r in state.read().collect())
    expect = sorted(
        (r["key"], r["seq"], r["value"])
        for r in latest_op(ev, ["key"], ["seq"]).filter(F.col("op") != "delete").collect()
    )
    assert got == expect


def test_stateful_tracker_accumulates_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-user state accumulates over
    micro-batches; the final emitted snapshot per user equals the batch
    aggregate over all events."""
    from kube_etl_spark.streaming.stateful import user_activity_tracker

    ev = (
        load_table(spark, SMOKE_SF, "events")
        .withColumn("ts", F.timestamp_millis(F.unix_millis(F.col("ts").cast("timestamp"))))
        .select("event_id", "user_id", "ts", "value")
    )
    stream = chunked_file_stream(spark, ev, str(tmp_path / "src"), n_chunks=3, order_col="event_id")
    snapshots: dict[int, tuple] = {}

    def _collect(batch, _bid):
        for r in batch.collect():
            # update-mode: later batches overwrite earlier snapshots
            snapshots[r["user_id"]] = (r["n_events"], round(r["total_value"], 6), r["last_ts"])

    q = (
        user_activity_tracker(stream)
        .writeStream.foreachBatch(_collect)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    expect = {
        r["user_id"]: (r["n"], round(r["total"], 6), r["last_ts"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    }
    assert snapshots == expect


def test_stream_stream_interval_join(spark, tmp_path):
    """Real stream-stream join: click→purchase attribution with
    watermarks + the time-range condition that bounds each side's state.
    Result equals the batch interval join (q_stream_stream_join) on the
    same data."""
    from kube_etl_spark.registry import all_specs

    ev = load_table(spark, SMOKE_SF, "events").withColumn(
        "ts", F.timestamp_millis(F.unix_millis(F.col("ts").cast("timestamp")))
    )
    stream = chunked_file_stream(spark, ev, str(tmp_path / "src"), n_chunks=3, order_col="event_id")
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 minutes")),
    ).select("click_id", "purchase_id", "user_id")
    got: set[tuple] = set()

    def _collect(batch, _bid):
        got.update((r["click_id"], r["purchase_id"], r["user_id"]) for r in batch.collect())

    q = (
        joined.writeStream.foreachBatch(_collect)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    # batch twin over the SAME ms-truncated data (the registry query
    # reads the raw fixture, so rebuild the condition here)
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    expect = {
        (r["click_id"], r["purchase_id"], r["user_id"])
        for r in c.join(
            p,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") > F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 minutes")),
        )
        .select("click_id", "purchase_id", "user_id")
        .collect()
    }
    assert got == expect


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """ST5 for real: dropDuplicates on a stream removes redelivered
    event_ids across micro-batches (state keyed on event_id, bounded by
    the watermark)."""
    ev = (
        load_table(spark, SMOKE_SF, "events")
        .withColumn("ts", F.timestamp_millis(F.unix_millis(F.col("ts").cast("timestamp"))))
        .filter(F.col("event_id") < 200)
        .select("event_id", "ts", "user_id")
    )
    # duplicate every event (redelivery), interleaved into the replay
    dup = ev.unionByName(ev)
    stream = chunked_file_stream(spark, dup.orderBy("event_id"), str(tmp_path / "src"), n_chunks=4, order_col="event_id")
    seen: list[int] = []

    def _collect(batch, _bid):
        seen.extend(r["event_id"] for r in batch.collect())

    q = (
        stream.withWatermark("ts", "100 days")
        .dropDuplicates(["event_id"])
        .writeStream.foreachBatch(_collect)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    assert sorted(seen) == sorted(r["event_id"] for r in ev.collect())
    assert len(seen) == len(set(seen))


def test_continuous_rollup_matches_batch(spark, tmp_path):
    """Multi-resolution continuous rollup: after replaying the stream,
    the maintained bucket table equals the one-shot batch rollup at
    every resolution (and buckets updated across several micro-batches
    hold the cumulative value, not the last increment)."""
    from kube_etl_spark.streaming.rollup import rollup_aggregate, run_continuous_rollup

    ev = load_table(spark, SMOKE_SF, "events").withColumn(
        "ts", F.timestamp_millis(F.unix_millis(F.col("ts").cast("timestamp")))
    ).select("event_id", "ts", "value")
    stream = chunked_file_stream(spark, ev, str(tmp_path / "src"), n_chunks=4, order_col="event_id")
    state = StateTable(
        spark, str(tmp_path / "rollup"), ["bucket_start", "resolution"],
        ["__seq", "total_value"],
    )
    run_continuous_rollup(
        stream, state, str(tmp_path / "ckpt"), resolutions=("1 hour", "1 day"),
        watermark="365 days",  # keep all buckets open: full replay must equal batch
    )
    got = {
        (r["bucket_start"], r["resolution"]): (r["n_events"], r["total_value"])
        for r in state.read().collect()
    }
    expect = {}
    for res in ("1 hour", "1 day"):
        for r in rollup_aggregate(ev, res).collect():
            expect[(r["bucket_start"], r["resolution"])] = (r["n_events"], r["total_value"])
    assert got == expect


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """ST5b: dropDuplicatesWithinWatermark — unlike dropDuplicates, the
    dedup state for a key is DROPPED once the watermark passes it, so
    state stays bounded on an infinite stream (the 100 TB requirement);
    redeliveries inside the delay are still removed. Stream result must
    equal batch distinct when all redeliveries fall inside the delay."""
    ev = (
        load_table(spark, SMOKE_SF, "events")
        .withColumn("ts", F.timestamp_millis(F.unix_millis(F.col("ts").cast("timestamp"))))
        .filter(F.col("event_id") < 200)
        .select("event_id", "ts", "user_id")
    )
    dup = ev.unionByName(ev)
    stream = chunked_file_stream(
        spark, dup.orderBy("event_id"), str(tmp_path / "src"), n_chunks=4, order_col="event_id"
    )
    seen: list[int] = []

    def _collect(batch, _bid):
        seen.extend(r["event_id"] for r in batch.collect())

    q = (
        stream.withWatermark("ts", "100 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .writeStream.foreachBatch(_collect)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    assert sorted(seen) == sorted(r["event_id"] for r in ev.collect())
    assert len(seen) == len(set(seen))


def test_update_mode_sink(spark, tmp_path):
    """Update-mode output: each micro-batch emits only CHANGED windows
    (not the full result like complete mode, not only finalized windows
    like append mode). Last-update-per-window must equal the batch
    aggregate, and windows spanning micro-batches must be emitted more
    than once (proving incremental updates actually flow)."""
    ev = load_table(spark, SMOKE_SF, "events").withColumn(
        "ts", F.timestamp_millis(F.unix_millis(F.col("ts").cast("timestamp")))
    ).select("event_id", "ts", "value")
    stream = chunked_file_stream(spark, ev, str(tmp_path / "src"), n_chunks=4, order_col="event_id")
    updates: list[tuple] = []

    def _collect(batch, bid):
        updates.extend((r["ws"], r["n"], r["tv"]) for r in batch.collect())

    q = (
        stream.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("tv"))
        .select(F.col("w.start").alias("ws"), "n", "tv")
        .writeStream.foreachBatch(lambda b, i: _collect(b, i))
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    # last emitted update per window == batch result
    last: dict = {}
    for ws, n, tv in updates:
        last[ws] = (n, tv)
    batch = {
        r["ws"]: (r["n"], r["tv"])
        for r in ev.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("tv"))
        .select(F.col("w.start").alias("ws"), "n", "tv")
        .collect()
    }
    assert last == batch
    # incrementality: at least one window updated across >1 micro-batch
    from collections import Counter

    emit_counts = Counter(ws for ws, _, _ in updates)
    assert any(c > 1 for c in emit_counts.values()), "no window updated incrementally"
    # update mode emitted fewer rows than complete mode would (4 batches × all windows)
    assert len(updates) < 4 * len(batch) or len(batch) == 1


def test_rocksdb_state_store_matches_default(spark, tmp_path):
    """The RocksDB state-store toggle: the same stateful stream (windowed
    agg + dedup state) produces identical results under
    RocksDBStateStoreProvider — the provider changes WHERE state lives
    (bounded memory + local disk, the production 100 TB choice), never
    results. Asserts the conf actually took effect on the running query."""
    from kube_etl_spark.session import ROCKSDB_STATE_STORE, use_rocksdb_state_store

    ev = (
        load_table(spark, SMOKE_SF, "events")
        .withColumn("ts", F.timestamp_millis(F.unix_millis(F.col("ts").cast("timestamp"))))
        .filter(F.col("event_id") < 300)
        .select("event_id", "ts", "user_id", "value")
    )
    dup = ev.unionByName(ev)
    stream = chunked_file_stream(
        spark, dup.orderBy("event_id"), str(tmp_path / "src"), n_chunks=3, order_col="event_id"
    )
    rows: list[tuple] = []

    def _collect(batch, _bid):
        rows.extend((r["ws"], r["n"]) for r in batch.collect())

    prev = use_rocksdb_state_store(spark)
    try:
        assert spark.conf.get("spark.sql.streaming.stateStore.providerClass") == ROCKSDB_STATE_STORE
        q = (
            stream.withWatermark("ts", "100 days")
            .dropDuplicatesWithinWatermark(["event_id"])
            .groupBy(F.window("ts", "1 day").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
            .writeStream.foreachBatch(_collect)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
    finally:
        use_rocksdb_state_store(spark, enabled=False)
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    last: dict = {}
    for ws, n in rows:
        last[ws] = n
    batch = {
        r["ws"]: r["n"]
        for r in ev.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
        .collect()
    }
    assert last == batch


def test_rate_source_through_window_builder(spark, tmp_path):
    """Source-agnosticism: the tumbling builder runs unchanged on a
    rate-micro-batch source (synthetic clock ticks) — proving the
    windowed operators care only about (ts, value) columns, not where
    the stream comes from (file, Kafka, rate...)."""
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 50)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 60000)
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 10).cast("double").alias("value"),
            F.col("value").alias("event_id"),
            F.lit(1).alias("user_id"),
        )
    )
    got: list[tuple] = []

    def _collect(batch, _bid):
        got.extend(
            (r["window_start"], r["n_events"]) for r in windowed.tumbling(batch).collect()
        )

    q = (
        stream.writeStream.foreachBatch(_collect)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    assert got, "rate source produced no windows"
    # every generated row lands in exactly one window
    assert sum(n for _, n in got) == 50


def test_streaming_state_metrics_observed(spark, tmp_path):
    """Operational observability: the state-store metrics the 100 TB
    operator watches (numRowsTotal growing with keyed state, memory
    used) are exposed through query progress — the signal that drives
    'switch to RocksDB' / 'tighten the watermark' decisions."""
    ev = (
        load_table(spark, SMOKE_SF, "events")
        .withColumn("ts", F.timestamp_millis(F.unix_millis(F.col("ts").cast("timestamp"))))
        .filter(F.col("event_id") < 200)
        .select("event_id", "ts", "user_id")
    )
    stream = chunked_file_stream(spark, ev, str(tmp_path / "src"), n_chunks=2, order_col="event_id")
    q = (
        stream.withWatermark("ts", "100 days")
        .dropDuplicates(["event_id"])
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = q.recentProgress
    q.stop()
    state_rows = [
        op["numRowsTotal"]
        for p in progress
        for op in (p["stateOperators"] if isinstance(p, dict) else p.stateOperators or [])
    ]
    assert state_rows, "no state operator metrics in progress"
    # dedup state must have accumulated one row per distinct event_id
    assert max(state_rows) == 200


def test_stream_stream_left_outer_join_emits_unmatched_after_watermark(
    spark, tmp_path
):
    """LEFT OUTER stream-stream join — the state-EVICTION semantics the
    inner-join test can't see: a click with no purchase in its
    10-minute attribution window must be emitted WITH NULLS, but only
    once the watermark proves no match can still arrive (click_ts +
    10 min < watermark). Mirrors the reference's delete-propagation
    idea at the join level: absence is data.

    Matched pairs must equal the batch interval join exactly; the
    null-extended set must be exactly the unmatched clicks whose
    match-window closed before the final watermark (clicks near the
    stream tail legitimately stay in state, emitted on a later
    trigger in production)."""
    ev = load_table(spark, SMOKE_SF, "events").withColumn(
        "ts", F.timestamp_millis(F.unix_millis(F.col("ts").cast("timestamp")))
    )
    stream = chunked_file_stream(
        spark, ev, str(tmp_path / "src"), n_chunks=3, order_col="event_id"
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 minutes")),
        "left_outer",
    ).select("click_id", "purchase_id", "user_id", "click_ts")
    matched: set[tuple] = set()
    unmatched: set[int] = set()

    def _collect(batch, _bid):
        for r in batch.collect():
            if r["purchase_id"] is None:
                unmatched.add(r["click_id"])
            else:
                matched.add((r["click_id"], r["purchase_id"], r["user_id"]))

    q = (
        joined.writeStream.foreachBatch(_collect)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch_joined = c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 minutes")),
        "left_outer",
    )
    expect_matched = {
        (r["click_id"], r["purchase_id"], r["user_id"])
        for r in batch_joined.filter(F.col("purchase_id").isNotNull()).collect()
    }
    assert matched == expect_matched

    # final watermark = min over BOTH sides' per-stream watermarks
    # (MultipleWatermarkPolicy default is min), i.e. the LAGGING side's
    # max event time - 1 hour; a click's match window is closed (and
    # its null row MUST have been emitted) when click_ts + 10 min is
    # under that watermark
    max_ts = min(
        ev.filter(F.col("event_type") == t).agg(F.max("ts").alias("m")).collect()[0]["m"]
        for t in ("click", "purchase")
    )
    closed = {
        r["click_id"]
        for r in batch_joined.filter(F.col("purchase_id").isNull())
        .withColumn("deadline", F.col("click_ts") + F.expr("INTERVAL 10 minutes"))
        # 1-minute safety margin: Spark's state-eviction threshold is
        # conservative at the exact watermark boundary
        .filter(
            F.col("deadline")
            < F.lit(max_ts) - F.expr("INTERVAL 1 hour") - F.expr("INTERVAL 1 minute")
        )
        .collect()
    }
    all_unmatched = {
        r["click_id"]
        for r in batch_joined.filter(F.col("purchase_id").isNull()).collect()
    }
    assert closed, "fixture must produce closed-window unmatched clicks"
    assert closed <= unmatched, (
        f"{len(closed - unmatched)} closed-window clicks never emitted null rows"
    )
    assert unmatched <= all_unmatched, "null row emitted for a matched click"
    # no spurious matches leaked into the null set
    assert not (unmatched & {m[0] for m in expect_matched})


def test_scd2_history_matches_duckdb_oracle(spark):
    """SCD2 historization vs an independent DuckDB formulation of the
    same semantics (lead() over the op-log per key; deletes close their
    predecessor's interval and emit no row). Uses the events fixture
    reshaped into an op-log: every 7th op is a delete."""
    import duckdb

    from kube_etl_spark.streaming.cdc import scd2_history

    ev = load_table(spark, SMOKE_SF, "events").select(
        F.col("user_id").alias("key"),
        F.col("event_id").alias("seq"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.when(F.col("event_id") % 7 == 0, "delete").otherwise("upsert").alias("op"),
        F.col("props").alias("payload"),
    )
    got = (
        scd2_history(ev, ["key"], "seq", "ts")
        .select("key", "seq", "valid_from", "valid_to", "is_current")
        .orderBy("key", "seq")
        .collect()
    )

    con = duckdb.connect()
    con.register("oplog", ev.toPandas())
    want = con.sql("""
        WITH w AS (
          SELECT key, seq, op, ts AS valid_from,
                 LEAD(ts) OVER (PARTITION BY key ORDER BY seq) AS valid_to
          FROM oplog
        )
        SELECT key, seq, valid_from, valid_to,
               valid_to IS NULL AS is_current
        FROM w WHERE op <> 'delete'
        ORDER BY key, seq
    """).fetchall()
    assert len(got) == len(want)
    for g, e in zip(got, want):
        assert (g["key"], g["seq"], g["valid_from"], g["valid_to"], g["is_current"]) == e

    # semantic checks: exactly one current row per surviving key; a key
    # whose LAST op is a delete has no current row
    cur = [g for g in got if g["is_current"]]
    per_key = {}
    for g in cur:
        per_key[g["key"]] = per_key.get(g["key"], 0) + 1
    assert all(v == 1 for v in per_key.values())
    last_ops = {
        r["key"]: r["op"]
        for r in ev.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window
                .partitionBy("key").orderBy(F.col("seq").desc())
            ),
        ).filter(F.col("rn") == 1).collect()
    }
    deleted_keys = {k for k, op in last_ops.items() if op == "delete"}
    assert deleted_keys.isdisjoint(per_key.keys())


def test_scd2_table_incremental_equals_batch(spark, tmp_path):
    """Incremental SCD2 maintenance: merging the op-log in 3 chunks
    (with one chunk REPLAYED — at-least-once delivery) must produce
    exactly the history a one-shot scd2_history computes over the full
    op-log."""
    from kube_etl_spark.streaming.cdc import Scd2Table, scd2_history

    ev = load_table(spark, SMOKE_SF, "events").select(
        F.col("user_id").alias("key"),
        F.col("event_id").alias("seq"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.when(F.col("event_id") % 7 == 0, "delete").otherwise("upsert").alias("op"),
        F.col("props").alias("payload"),
    )
    table = Scd2Table(spark, str(tmp_path / "dim"), ["key"], "seq", "ts")
    chunks = [
        ev.filter(F.col("seq") % 3 == i) for i in range(3)
    ]  # interleaved: every chunk touches every key
    table.merge_batch(chunks[0])
    table.merge_batch(chunks[1])
    table.merge_batch(chunks[1])  # replay: must be a no-op
    table.merge_batch(chunks[2])

    cols = ["key", "seq", "valid_from", "valid_to", "is_current"]
    got = [tuple(r) for r in table.history().select(cols).orderBy("key", "seq").collect()]
    want = [
        tuple(r)
        for r in scd2_history(ev, ["key"], "seq", "ts")
        .select(cols)
        .orderBy("key", "seq")
        .collect()
    ]
    assert got == want


def test_scd2_as_of_time_travel(spark):
    """as_of(t) returns at most one version per key, and exactly the
    version whose interval contains t — cross-checked per key against
    a scan of that key's ops."""
    from kube_etl_spark.streaming.cdc import as_of, scd2_history

    ev = load_table(spark, SMOKE_SF, "events").select(
        F.col("user_id").alias("key"),
        F.col("event_id").alias("seq"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.when(F.col("event_id") % 7 == 0, "delete").otherwise("upsert").alias("op"),
        F.col("props").alias("payload"),
    )
    hist = scd2_history(ev, ["key"], "seq", "ts")
    mid = ev.approxQuantile("seq", [0.5], 0.0)[0]
    t = ev.filter(F.col("seq") == mid).collect()[0]["ts"]
    snap = as_of(hist, t).collect()
    per_key = {}
    for r in snap:
        per_key.setdefault(r["key"], []).append(r)
    assert all(len(v) == 1 for v in per_key.values())
    # independent per-key check: current version at t = the max-seq op
    # with ts <= t, provided it isn't a delete
    ops = ev.filter(F.col("ts") <= F.lit(t)).collect()
    by_key = {}
    for r in ops:
        cur = by_key.get(r["key"])
        if cur is None or r["seq"] > cur["seq"]:
            by_key[r["key"]] = r
    expect_keys = {k for k, r in by_key.items() if r["op"] != "delete"}
    assert set(per_key) == expect_keys
    for k in expect_keys:
        assert per_key[k][0]["seq"] == by_key[k]["seq"]


def test_state_table_crash_before_publish_keeps_old_version(spark, tmp_path):
    """atomic_overwrite's crash contract: a version directory written
    but never published (crash between the parquet write and the
    symlink rename) must be invisible — reads keep serving the old
    complete version."""
    import os

    from kube_etl_spark.streaming.cdc import StateTable

    st = StateTable(spark, str(tmp_path / "state"), ["k"], "seq")
    st.merge_batch(
        spark.createDataFrame([(1, 1, "a", "upsert")], "k long, seq long, v string, op string")
    )
    before = {(r["k"], r["seq"], r["v"]) for r in st.read().collect()}

    # simulate the crash: a fully-written but unpublished version dir
    stray = str(tmp_path / "state.v-deadbeef")
    spark.createDataFrame(
        [(9, 9, "CRASH")], "k long, seq long, v string"
    ).write.parquet(stray)
    assert os.path.exists(os.path.join(stray, "_SUCCESS"))

    after = {(r["k"], r["seq"], r["v"]) for r in st.read().collect()}
    assert after == before
    # and the next successful merge publishes normally
    st.merge_batch(
        spark.createDataFrame([(2, 2, "b", "upsert")], "k long, seq long, v string, op string")
    )
    assert {(r["k"], r["v"]) for r in st.read().collect()} == {(1, "a"), (2, "b")}


def test_concurrency_profile_matches_duckdb_oracle(spark):
    """q_concurrency_profile is rows-only in the registry purely by
    window capacity — this test supplies the exact oracle: the same
    gaps-and-islands + sweep computed independently in DuckDB SQL must
    match value-for-value."""
    import duckdb

    from kube_etl_spark.registry import all_specs

    got = [
        (r["hour"], r["peak_concurrency"], r["eoh_concurrency"])
        for r in all_specs()["q_concurrency_profile"].fn(spark, SMOKE_SF).collect()
    ]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SMOKE_SF}/events.parquet')"
    )
    want = con.sql("""
        WITH e AS (
          SELECT user_id, ts,
                 CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                           - CAST(floor(epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))) AS BIGINT) > 1800
                      OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
        ),
        s AS (
          SELECT user_id, ts,
                 SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
          FROM e
        ),
        sessions AS (
          SELECT user_id, sess, MIN(ts) AS t0, MAX(ts) AS t1
          FROM s GROUP BY user_id, sess
        ),
        deltas AS (
          SELECT t0 AS t, 1 AS d FROM sessions
          UNION ALL
          SELECT t1 AS t, -1 AS d FROM sessions
        ),
        swept AS (
          SELECT t, d, SUM(d) OVER (ORDER BY t ASC, d DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live
          FROM deltas
        )
        SELECT date_trunc('hour', t) AS hour,
               CAST(MAX(live) AS BIGINT) AS peak,
               CAST(LAST(live ORDER BY t ASC, d DESC) AS BIGINT) AS eoh
        FROM swept GROUP BY hour ORDER BY hour
    """).fetchall()
    assert len(got) == len(want)
    for g, e in zip(got, want):
        assert g == e, (g, e)


def test_drift_psi_matches_duckdb_oracle(spark):
    """q_drift_psi (rows-only by window capacity) vs the identical PSI
    formulation in DuckDB — exact value parity, plus the sanity check
    that a stationary synthetic stream scores PSI ≈ 0."""
    import duckdb

    from kube_etl_spark.registry import all_specs

    got = [
        (r["event_type"], r["n_old"], r["n_new"], r["psi"])
        for r in all_specs()["q_drift_psi"].fn(spark, SMOKE_SF).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SMOKE_SF}/events.parquet')"
    )
    want = con.sql("""
        WITH b AS (
          SELECT MIN(value) AS mn, MAX(value) AS mx,
                 to_timestamp((epoch(MIN(ts)) + epoch(MAX(ts))) / 2) AS mid
          FROM events
        ),
        tagged AS (
          SELECT event_type,
                 LEAST(CAST(floor((value - mn) * 10.0 / (mx - mn)) AS BIGINT), 9) AS bucket,
                 CASE WHEN ts < mid THEN 'old' ELSE 'new' END AS half
          FROM events, b
        ),
        piv AS (
          SELECT event_type, bucket,
                 COUNT(*) FILTER (half = 'old') AS c_old,
                 COUNT(*) FILTER (half = 'new') AS c_new
          FROM tagged GROUP BY event_type, bucket
        ),
        tot AS (
          SELECT event_type, SUM(c_old) AS n_old, SUM(c_new) AS n_new
          FROM piv GROUP BY event_type
        )
        SELECT p.event_type,
               CAST(t.n_old AS BIGINT) AS n_old,
               CAST(t.n_new AS BIGINT) AS n_new,
               ROUND(SUM(((p.c_old + 0.5) / (t.n_old + 5.0) - (p.c_new + 0.5) / (t.n_new + 5.0))
                     * ln(((p.c_old + 0.5) / (t.n_old + 5.0)) / ((p.c_new + 0.5) / (t.n_new + 5.0)))), 6) AS psi
        FROM piv p JOIN tot t USING (event_type)
        GROUP BY p.event_type, t.n_old, t.n_new
        ORDER BY p.event_type
    """).fetchall()
    assert len(got) == len(want)
    for g, e in zip(got, want):
        assert g == tuple(e), (g, e)
    # the fixture stream is stationary by construction: drift alarm off
    assert all(r[3] < 0.1 for r in got), got


def test_ewma_matches_duckdb_oracle(spark):
    """q_ewma_smoothing (rows-only by window capacity) vs the identical
    closed-form EWMA in DuckDB — exact parity, plus the semantic check
    that EWMA lies within each user's running [min, max] envelope
    scaled by the geometric-series bound."""
    import duckdb

    from kube_etl_spark.registry import all_specs

    got = [
        (r["user_id"], r["ts"], r["value"], r["ewma"])
        for r in all_specs()["q_ewma_smoothing"].fn(spark, SMOKE_SF).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SMOKE_SF}/events.parquet')"
    )
    want = con.sql("""
        WITH t AS (
          SELECT user_id, ts, value,
                 (epoch_us(ts) - epoch_us(MIN(ts) OVER (PARTITION BY user_id))) / (86400.0 * 1e6) AS tp
          FROM events
        ),
        c AS (
          SELECT user_id, ts, value,
                 exp(-tp) * SUM(value * exp(tp)) OVER (
                   PARTITION BY user_id ORDER BY ts, value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ewma,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, value DESC) AS rn
          FROM t
        )
        SELECT user_id, ts, ROUND(value, 4) AS value, ROUND(ewma, 4) AS ewma
        FROM c WHERE rn <= 5 ORDER BY user_id, ts
    """).fetchall()
    assert len(got) == len(want)
    for g, e in zip(got, want):
        assert g == tuple(e), (g, e)
    # EWMA of non-negative values is non-negative and bounded by
    # sum of a geometric-ish series: <= running max / (1 - e^(-mingap/tau))
    # — just sanity-check non-negativity and finiteness here
    assert all(r[3] >= 0 and r[3] == r[3] for r in got)


def test_drift_monitor_stationary_and_shifted(spark, tmp_path):
    """Continuous drift monitor: (a) a stationary stream replayed in
    micro-batches scores PSI under the 0.1 alarm for every batch and
    every event type; (b) a mean-shifted batch trips the 0.25
    investigate threshold; (c) state is keyed (batch_id, event_type)
    and idempotent under re-merge."""
    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.streaming.cdc import StateTable
    from kube_etl_spark.streaming.monitor import (
        batch_psi,
        reference_profile,
        run_drift_monitor,
    )
    from kube_etl_spark.streaming.sources import chunked_file_stream

    ev = load_table(spark, SMOKE_SF, "events").select("event_type", "ts", "value")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    mid = ev.agg(F.median(us)).collect()[0][0]
    ref = ev.filter(us <= mid)
    live = ev.filter(us > mid)

    profile = reference_profile(ref)

    # (b) semantic check, batch API: a +200 mean shift must alarm hard
    # (measured ≈ 7 per type; stationary halves score < 0.1)
    shifted = live.withColumn("value", F.col("value") + 200.0)
    psis = {r["event_type"]: r["psi"] for r in batch_psi(shifted, profile).collect()}
    assert psis and all(v > 2.0 for v in psis.values()), psis

    # a NEVER-SEEN event type must still be monitored: its row carries
    # n_ref = 0 (novelty marker) and a concentrated batch shape scores
    # against the uniform smoothed reference — not silently dropped
    novel = live.limit(50).withColumn("event_type", F.lit("deploy"))
    nrow = {
        r["event_type"]: (r["n_ref"], r["psi"])
        for r in batch_psi(live.unionByName(novel), profile).collect()
    }
    assert "deploy" in nrow and nrow["deploy"][0] == 0, nrow
    assert nrow["deploy"][1] > 0.1, nrow

    # a CONSTANT reference window (stuck sensor) must not blind the
    # monitor (review r9): the linear bucket divides by zero → NULL,
    # and greatest() skips NULLs, coercing ALL mass — reference and
    # every future batch — into bucket 0 (PSI ~0 under any drift). The
    # degenerate rule maps the constant to the middle bucket and
    # departures to edge buckets, so a shifted batch still alarms.
    const_ref = ref.withColumn("value", F.lit(42.0))
    const_profile = reference_profile(const_ref)
    same = {
        r["event_type"]: r["psi"]
        for r in batch_psi(
            live.withColumn("value", F.lit(42.0)), const_profile
        ).collect()
    }
    assert same and all(v < 0.1 for v in same.values()), same
    drifted = {
        r["event_type"]: r["psi"]
        for r in batch_psi(
            live.withColumn("value", F.lit(43.5)), const_profile
        ).collect()
    }
    assert drifted and all(v > 2.0 for v in drifted.values()), drifted

    # (a) streaming e2e: stationary replay stays under the alarm
    stream = chunked_file_stream(
        spark, live, str(tmp_path / "chunks"), n_chunks=2, order_col="ts"
    )
    state = StateTable(
        spark, str(tmp_path / "state"), ["batch_id", "event_type"], "batch_id"
    )
    run_drift_monitor(stream, profile, state, str(tmp_path / "ckpt"))
    got = state.read().collect()
    batches = {r["batch_id"] for r in got}
    assert len(batches) >= 2, batches
    # per-micro-batch PSI carries sampling noise (≈50 rows per type per
    # batch → up to ~0.3 on a stationary stream); the operating point
    # is separation from a real shift (≈7), not the batch-sized 0.1
    assert all(r["psi"] < 1.0 for r in got), [(r["batch_id"], r["event_type"], r["psi"]) for r in got]
    assert max(r["psi"] for r in got) < min(psis.values())

    # (c) idempotence: re-merging one batch's rows leaves state unchanged
    before = sorted((r["batch_id"], r["event_type"], r["psi"]) for r in got)
    one = state.read().filter(F.col("batch_id") == min(batches)).withColumn("op", F.lit("upsert"))
    state.merge_batch(one)
    after = sorted(
        (r["batch_id"], r["event_type"], r["psi"]) for r in state.read().collect()
    )
    assert before == after


def test_materialized_join_incremental_maintenance(spark, tmp_path):
    """MaterializedJoin stays exactly equal to the one-shot join of the
    final fact/dim states through: late-arriving dims, fact deletes,
    dim updates rippling to referencing facts, an fk re-pointed to a
    MISSING dim (the stale-row trap), dim deletes orphaning facts, and
    replay of an old batch."""
    from kube_etl_spark.streaming.cdc import StateTable
    from kube_etl_spark.streaming.matview import MaterializedJoin

    fact_schema = "o_orderkey long, o_custkey long, amt double, op string"
    dim_schema = "c_custkey long, name string, op string"
    mv = MaterializedJoin(
        StateTable(spark, str(tmp_path / "fact"), ["o_orderkey"], "seq"),
        StateTable(spark, str(tmp_path / "dim"), ["c_custkey"], "seq"),
        StateTable(spark, str(tmp_path / "view"), ["o_orderkey"], "seq"),
        fact_key="o_orderkey",
        fact_fk="o_custkey",
        dim_key="c_custkey",
    )

    def fb(rows, seq):
        mv.apply_fact_batch(spark.createDataFrame(rows, fact_schema), seq)

    def db(rows, seq):
        mv.apply_dim_batch(spark.createDataFrame(rows, dim_schema), seq)

    def view():
        got = mv.read()
        return (
            set()
            if got is None
            else {(r["o_orderkey"], r["o_custkey"], r["amt"], r["name"]) for r in got.collect()}
        )

    fb([(1, 10, 5.0, "upsert"), (2, 20, 7.0, "upsert")], 1)
    assert view() == set()  # no dims yet → nothing materialized
    db([(10, "alice", "upsert")], 2)
    assert view() == {(1, 10, 5.0, "alice")}  # late dim materializes fact
    db([(20, "bob", "upsert")], 3)
    fb([(3, 10, 9.0, "upsert"), (2, None, 1.0, "delete")], 4)
    assert view() == {(1, 10, 5.0, "alice"), (3, 10, 9.0, "alice")}
    db([(10, "alicia", "upsert")], 5)  # ripples to both referencing facts
    assert view() == {(1, 10, 5.0, "alicia"), (3, 10, 9.0, "alicia")}
    fb([(1, 99, 5.0, "upsert")], 6)  # fk re-pointed to a missing dim
    assert view() == {(3, 10, 9.0, "alicia")}
    db([(20, None, "delete")], 7)  # deletes an unreferenced dim: no-op
    db([(99, "zed", "upsert")], 8)  # the missing dim arrives
    expected = {(1, 99, 5.0, "zed"), (3, 10, 9.0, "alicia")}
    assert view() == expected

    # equivalence with the one-shot join of final states
    f, d = mv.fact.read().drop("seq"), mv.dim.read().drop("seq")
    oneshot = {
        (r["o_orderkey"], r["o_custkey"], r["amt"], r["name"])
        for r in f.join(d, f.o_custkey == d.c_custkey).collect()
    }
    assert oneshot == expected

    # replaying an old dim batch leaves the view unchanged
    db([(10, "alicia", "upsert")], 5)
    assert view() == expected


def test_transform_with_state_topk_matches_batch(spark, tmp_path):
    """The transformWithStateInPandas top-k design: replay the fixture
    in 3 micro-batches; each user's FINAL emitted ranking must equal
    the batch top-3 of their values (stream ≡ batch for the
    incremental merge-then-truncate algebra).

    Two tiers, so the suite never skips: (1) the REAL TopKProcessor
    class is driven directly through its StatefulProcessor lifecycle
    (init → handleInputRows per batch) against an in-memory ListState —
    the per-key state round-trip and merge algebra are exactly the
    operator's, only the protobuf worker transport is replaced; (2)
    where google.protobuf exists, the true
    transformWithStateInPandas stream runs end-to-end as well (this
    container lacks protobuf, so tier 2 is a no-op here — stateful.py
    documents the seam; applyInPandasWithState is the supported
    arbitrary-state path and streams for real above)."""
    import importlib.util

    from pyspark.sql import Window

    from kube_etl_spark.streaming.stateful import _TOPK_K, TopKProcessor

    ev = load_table(spark, SMOKE_SF, "events").select("event_id", "user_id", "value")

    w = Window.partitionBy("user_id").orderBy(F.col("value").desc())
    expect: dict[int, list[tuple[int, float]]] = {}
    for r in (
        ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK_K)
        .collect()
    ):
        expect.setdefault(r["user_id"], []).append((r["rank"], r["value"]))

    # --- tier 1: drive the real processor through its lifecycle with
    # an in-memory ListState (per-key, exactly the store contract)
    class _ListState:
        def __init__(self):
            self.rows: list[dict] = []

        def get(self):
            return list(self.rows)

        def put(self, rows):
            self.rows = [{"value": t[0]} for t in rows]

    class _Handle:
        def __init__(self):
            self.states: dict[str, _ListState] = {}

        def getListState(self, name, schema):
            return self.states.setdefault(name, _ListState())

    pdf = ev.toPandas().sort_values("event_id").reset_index(drop=True)
    batches = [pdf.iloc[i::3] for i in range(3)]  # 3 micro-batches
    latest: dict[int, list[tuple[int, float]]] = {}
    processors: dict[int, TopKProcessor] = {}
    for batch in batches:
        for uid, rows in batch.groupby("user_id"):
            proc = processors.get(uid)
            if proc is None:
                proc = TopKProcessor()
                proc.init(_Handle())
                processors[uid] = proc
            (out,) = list(proc.handleInputRows((uid,), iter([rows]), None))
            latest[uid] = list(zip(out["rank"], out["value"]))
    assert set(latest) == set(expect)
    for u in expect:
        assert sorted(latest[u]) == sorted(expect[u]), (u, latest[u], expect[u])

    # --- tier 2: the true streaming operator, where protobuf exists
    # (find_spec on a dotted name raises if the parent package is absent)
    if (
        importlib.util.find_spec("google") is None
        or importlib.util.find_spec("google.protobuf") is None
    ):
        return
    from kube_etl_spark.session import use_rocksdb_state_store
    from kube_etl_spark.streaming.stateful import topk_tracker

    stream = chunked_file_stream(
        spark, ev, str(tmp_path / "src"), n_chunks=3, order_col="event_id"
    )
    latest_s: dict[int, list[tuple[int, float]]] = {}
    seen_batch: dict[int, int] = {}

    def _collect(batch, bid):
        for r in batch.collect():
            u = r["user_id"]
            if seen_batch.get(u, -1) != bid:
                latest_s[u] = []
                seen_batch[u] = bid
            latest_s[u].append((r["rank"], r["value"]))

    use_rocksdb_state_store(spark, True)
    try:
        q = (
            topk_tracker(stream)
            .writeStream.foreachBatch(_collect)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
    finally:
        use_rocksdb_state_store(spark, False)
    assert set(latest_s) == set(expect)
    for u in expect:
        assert sorted(latest_s[u]) == sorted(expect[u])


def test_materialized_agg_incremental_maintenance(spark, tmp_path):
    """MaterializedAgg equals the one-shot aggregate of final fact
    state through value updates, keys MOVING between groups, deletes
    emptying a group (which must leave the view), re-adds, and batch
    replay."""
    from kube_etl_spark.streaming.cdc import StateTable
    from kube_etl_spark.streaming.matview import MaterializedAgg

    schema = "k long, grp string, amt double, op string"
    ma = MaterializedAgg(
        StateTable(spark, str(tmp_path / "fact"), ["k"], "seq"),
        StateTable(spark, str(tmp_path / "view"), ["grp"], "seq"),
        fact_key="k",
        group_col="grp",
        value_col="amt",
    )

    def apply(rows, seq):
        ma.apply_fact_batch(spark.createDataFrame(rows, schema), seq)

    def view():
        got = ma.read()
        return (
            {}
            if got is None
            else {r["grp"]: (r["n_rows"], float(r["total"])) for r in got.collect()}
        )

    def oneshot():
        f = ma.fact.read()
        if f is None:
            return {}
        return {
            r["grp"]: (r["n"], float(r["s"]))
            for r in f.groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("amt").alias("s"))
            .collect()
        }

    apply([(1, "a", 10.0, "upsert"), (2, "a", 20.0, "upsert"),
           (3, "b", 30.0, "upsert"), (4, "b", 5.0, "upsert")], 1)
    assert view() == {"a": (2, 30.0), "b": (2, 35.0)} == oneshot()

    # update value, MOVE key 3 b→a, delete key 4 (emptying nothing yet)
    apply([(2, "a", 25.0, "upsert"), (3, "a", 7.0, "upsert"),
           (4, None, None, "delete")], 2)
    assert view() == {"a": (3, 42.0)} == oneshot()  # b emptied and gone

    # replay batch 2: zero delta, unchanged
    apply([(2, "a", 25.0, "upsert"), (3, "a", 7.0, "upsert"),
           (4, None, None, "delete")], 2)
    assert view() == {"a": (3, 42.0)} == oneshot()

    # re-add key 4 under a new group
    apply([(4, "c", 9.5, "upsert")], 3)
    assert view() == {"a": (3, 42.0), "c": (1, 9.5)} == oneshot()


def test_stream_static_join_enrichment(spark, tmp_path):
    """Stream⋈static enrichment: a streaming event feed joined with a
    static dimension inside the streaming query (re-resolved per
    micro-batch, no watermark needed on the static side) must equal
    the batch join of the same inputs — including rows REJECTED by the
    inner join (unknown dimension keys drop in both modes)."""
    ev = load_table(spark, SMOKE_SF, "events").select("event_id", "user_id", "value")
    # static dim covering only even user ids — odd-user events must drop
    dim = (
        ev.select("user_id")
        .distinct()
        .filter(F.col("user_id") % 2 == 0)
        .withColumn("tier", F.when(F.col("user_id") % 4 == 0, "gold").otherwise("basic"))
    )
    batch = {
        (r["event_id"], r["tier"])
        for r in ev.join(dim, "user_id").select("event_id", "tier").collect()
    }
    assert batch and len(batch) < ev.count()  # the filter bites

    stream = chunked_file_stream(spark, ev, str(tmp_path / "src"), n_chunks=3, order_col="event_id")
    _run_stream_to_memory(
        stream.join(dim, "user_id").select("event_id", "tier"),
        "t_enrich",
        output_mode="append",
    )
    streamed = {
        (r["event_id"], r["tier"])
        for r in spark.sql("SELECT * FROM t_enrich").collect()
    }
    assert streamed == batch


def test_drift_monitor_restart_recovery(spark, tmp_path):
    """The monitor resumes from its checkpoint: run 1 processes the
    first arrival, the query STOPS, more files arrive, run 2 (same
    checkpoint) processes ONLY the new data — no duplicated batch ids,
    state accumulates across the restart, and every row stays under
    the stationary bound."""
    import os as _os

    from kube_etl_spark.streaming.cdc import StateTable
    from kube_etl_spark.streaming.monitor import reference_profile, run_drift_monitor

    ev = load_table(spark, SMOKE_SF, "events").select("event_type", "ts", "value")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    mid = ev.agg(F.median(us)).collect()[0][0]
    ref = ev.filter(us <= mid)
    live = ev.filter(us > mid).withColumn("rn", F.monotonically_increasing_id())
    profile = reference_profile(ref)
    state = StateTable(
        spark, str(tmp_path / "state"), ["batch_id", "event_type"], "batch_id"
    )
    src = tmp_path / "src"
    src.mkdir()
    schema_cols = ["event_type", "ts", "value"]

    half1 = live.limit(200).select(*schema_cols)
    half1.coalesce(1).write.mode("overwrite").json(str(src / "f1"))
    stream_schema = "event_type string, ts timestamp, value double"

    def run_once():
        stream = spark.readStream.schema(stream_schema).json(str(src) + "/*")
        run_drift_monitor(stream, profile, state, str(tmp_path / "ckpt"))

    run_once()
    first = {(r["batch_id"], r["event_type"]) for r in state.read().collect()}
    assert first, "run 1 produced no monitor rows"

    live.exceptAll(live.limit(200)).select(*schema_cols).coalesce(1).write.mode(
        "overwrite"
    ).json(str(src / "f2"))
    run_once()
    rows = state.read().collect()
    second = {(r["batch_id"], r["event_type"]) for r in rows}
    assert first < second, "restart did not process the new arrival"
    # batch ids continue from the checkpoint, never repeat-with-different-values
    assert len(second) == len({(b, t) for b, t in second})
    assert all(r["psi"] < 1.0 for r in rows)


def test_bucketed_state_equals_flat_state(spark, tmp_path):
    """A bucketed StateTable is semantically identical to a flat one on
    the same op-log chunks (winners, deletes, replay), while only
    rewriting the buckets a batch touches — untouched buckets keep
    their exact version directory across a merge."""
    import os as _os

    from kube_etl_spark.streaming.cdc import StateTable

    schema = "seq long, key long, op string, value double"
    ops1 = [(i, k, "upsert", float(k * 10 + i)) for i, k in enumerate(range(20))]
    ops2 = [(100, 3, "upsert", 999.0), (101, 7, "delete", None), (102, 50, "upsert", 1.5)]

    flat = StateTable(spark, str(tmp_path / "flat"), ["key"], "seq")
    buck = StateTable(spark, str(tmp_path / "buck"), ["key"], "seq", n_buckets=8)
    for ops in (ops1, ops2):
        df = spark.createDataFrame(ops, schema)
        flat.merge_batch(df)
        buck.merge_batch(df)

    def snap(t):
        out = t.read()
        return sorted((r["key"], r["seq"], r["value"]) for r in out.collect())

    assert snap(flat) == snap(buck)

    # replay idempotence on the bucketed table
    buck.merge_batch(spark.createDataFrame(ops2, schema))
    assert snap(flat) == snap(buck)

    # partial-rewrite guarantee: a batch touching ONE key rewrites only
    # that key's bucket — every other bucket's version dir (the symlink
    # target) is bit-identical before and after
    targets_before = {
        d: _os.readlink(str(tmp_path / "buck" / d))
        for d in _os.listdir(str(tmp_path / "buck"))
        if d.startswith("bucket-") and _os.path.islink(str(tmp_path / "buck" / d))
    }
    buck.merge_batch(spark.createDataFrame([(200, 3, "upsert", -1.0)], schema))
    changed = [
        d
        for d, t in targets_before.items()
        if _os.readlink(str(tmp_path / "buck" / d)) != t
    ]
    assert len(changed) == 1, changed
    assert snap(buck) != snap(flat)  # the single-key update landed
    flat.merge_batch(spark.createDataFrame([(200, 3, "upsert", -1.0)], schema))
    assert snap(buck) == snap(flat)


def test_bucketed_state_refuses_spec_drift(spark, tmp_path):
    """ADVICE r8: the bucket spec is persisted in a _layout.json
    sidecar on first create, and reopening existing state with a
    different n_buckets / bucket expression / key set must REFUSE —
    value-derived routing (read(buckets=…), buckets_for, per-bucket
    merges) against a drifted spec silently hits the wrong bucket dirs
    (missed changed-detection, un-retracted ghost pairs)."""
    import os as _os

    import pytest
    from pyspark.sql import functions as F

    from kube_etl_spark.streaming.cdc import StateTable

    path = str(tmp_path / "state")
    t = StateTable(spark, path, ["key"], "seq", n_buckets=8)
    t.merge_batch(
        spark.createDataFrame(
            [(1, k, "upsert", float(k)) for k in range(10)],
            "seq long, key long, op string, value double",
        )
    )
    # same spec reopens fine and sees the state
    again = StateTable(spark, path, ["key"], "seq", n_buckets=8)
    assert again.read().count() == 10

    with pytest.raises(ValueError, match="different bucket spec"):
        StateTable(spark, path, ["key"], "seq", n_buckets=16)
    with pytest.raises(ValueError, match="different bucket spec"):
        StateTable(
            spark, path, ["key"], "seq", n_buckets=8,
            bucket_col=F.pmod(F.col("key"), F.lit(8)),
        )
    with pytest.raises(ValueError, match="different bucket spec"):
        StateTable(spark, path, ["key", "extra"], "seq", n_buckets=8)

    # pre-sidecar grandfather: a state dir created before the sidecar
    # existed is stamped with the opener's spec on first open (cannot
    # validate that one open), and validates every open after it
    _os.remove(_os.path.join(path, StateTable._SIDECAR))
    StateTable(spark, path, ["key"], "seq", n_buckets=8)
    assert _os.path.exists(_os.path.join(path, StateTable._SIDECAR))
    with pytest.raises(ValueError, match="different bucket spec"):
        StateTable(spark, path, ["key"], "seq", n_buckets=4)


def test_bucketed_state_purge_only_handle(spark, tmp_path):
    """open_for_purge (ADVICE r8) yields a spec-blind handle: the
    dir-driven surfaces (purge_tombstones, full read) work without
    knowing the real spec, and every value-derived routing surface
    raises instead of silently misrouting under the placeholder."""
    import pytest

    from kube_etl_spark.streaming.cdc import StateTable

    path = str(tmp_path / "state")
    real = StateTable(spark, path, ["key"], "seq", n_buckets=4)
    real.merge_batch(
        spark.createDataFrame(
            [(1, k, "upsert", float(k)) for k in range(6)]
            + [(2, 0, "delete", None), (9, 1, "delete", None)],
            "seq long, key long, op string, value double",
        )
    )

    blind = StateTable.open_for_purge(spark, path, seq_col="seq")
    assert blind.read().count() == 4  # live rows, key-agnostic
    blind.purge_tombstones(before_seq=5)  # drops (key=0, seq=2) only
    # live buckets are the symlinks; non-link bucket-* entries are
    # superseded version dirs that still hold the pre-purge rows
    raw = spark.read.parquet(
        *[str(p) for p in (tmp_path / "state").glob("bucket-*") if p.is_symlink()]
    )
    from pyspark.sql import functions as F

    assert {
        (r["key"], r["seq"])
        for r in raw.filter(F.col("__op") == "delete").collect()
    } == {(1, 9)}

    # the flat twin: purge works key-blind, merge refuses
    from kube_etl_spark.streaming.cdc import StateTable

    fpath = str(tmp_path / "flat")
    freal = StateTable(spark, fpath, ["key"], "seq")
    freal.merge_batch(
        spark.createDataFrame(
            [(1, 0, "upsert", 1.0), (2, 0, "delete", None)],
            "seq long, key long, op string, value double",
        )
    )
    fblind = StateTable.open_for_purge(spark, fpath, seq_col="seq")
    fblind.purge_tombstones(before_seq=5)
    assert fblind.read().count() == 0  # the only key was deleted
    with pytest.raises(RuntimeError, match="purge-only"):
        fblind.merge_batch(
            spark.createDataFrame([(3, 0, "upsert", 1.0)],
                                  "seq long, key long, op string, value double")
        )

    probe = spark.createDataFrame([(0,)], "key long")
    with pytest.raises(RuntimeError, match="purge-only"):
        blind.buckets_for(probe)
    with pytest.raises(RuntimeError, match="purge-only"):
        blind.read(buckets=[0])
    with pytest.raises(RuntimeError, match="purge-only"):
        blind.merge_batch(
            spark.createDataFrame([(3, 0, "upsert", 1.0)],
                                  "seq long, key long, op string, value double")
        )
    # the purge-only open did not corrupt the sidecar: the real spec
    # still reopens and a drifted one still refuses
    StateTable(spark, path, ["key"], "seq", n_buckets=4)
    with pytest.raises(ValueError, match="different bucket spec"):
        StateTable(spark, path, ["key"], "seq", n_buckets=8)


def test_bucketed_merge_jobs_do_not_grow_with_touched_buckets(spark, tmp_path):
    """A bucketed merge computes every touched bucket's winners in one
    pass and writes them in ONE job (partitionBy the bucket), then
    publishes each bucket by a metadata-only move: a uniform batch
    touching all 16 hash buckets runs at most one Spark job more than
    a one-bucket batch, and at most 6 in all. Counted by job group."""
    from pyspark.sql import functions as F

    from kube_etl_spark.streaming.cdc import StateTable

    path = str(tmp_path / "state")
    spark.range(4000).select(
        F.col("id").alias("k"),
        (F.col("id") * 3).alias("v"),
        F.lit(1).cast("bigint").alias("seq"),
        F.lit("upsert").alias("op"),
    ).write.parquet(str(tmp_path / "seed"))
    seed = spark.read.parquet(str(tmp_path / "seed"))
    t = StateTable(spark, path, ["k"], "seq", n_buckets=16)
    t.merge_batch(seed)
    sc = spark.sparkContext

    def jobs_for(batch, group):
        sc.setJobGroup(group, group)
        try:
            t.merge_batch(batch)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    one = seed.filter(F.col("k") == 7).withColumn("seq", F.lit(2).cast("bigint"))
    uniform = seed.filter(F.col("k") % 50 == 0).withColumn(
        "seq", F.lit(3).cast("bigint")
    )
    assert len(t.buckets_for(one)) == 1 and len(t.buckets_for(uniform)) == 16
    n_one = jobs_for(one, f"bucketed-one-{tmp_path.name}")
    n_all = jobs_for(uniform, f"bucketed-all-{tmp_path.name}")
    assert n_all <= n_one + 1 and n_all <= 6, (n_one, n_all)
    # and the merges landed: 4000 live keys, the batches' seqs on top
    got = {r["k"]: r["seq"] for r in t.read().collect()}
    assert len(got) == 4000 and got[7] == 2 and got[50] == 3 and got[51] == 1


def test_bucketed_merge_winners_per_bucket_under_value_buckets(spark, tmp_path):
    """Under a bucket expression over a PAYLOAD column (band_buckets'
    shape) one key can hold rows in two buckets: a batch that
    tombstones the key's old row in bucket 1 and upserts its new value
    into bucket 2 at the same seq must leave exactly the new row live.
    Winners are decided per (bucket, key): deciding per key alone
    would let the same-seq delete win both and lose the upsert."""
    from pyspark.sql import functions as F

    from kube_etl_spark.streaming.cdc import StateTable

    schema = "k long, v long, seq long, op string"
    t = StateTable(
        spark, str(tmp_path / "t"), ["k"], "seq", n_buckets=4,
        bucket_col=F.pmod(F.col("v"), F.lit(4)),
    )
    t.merge_batch(spark.createDataFrame([(1, 1, 1, "upsert"), (2, 3, 1, "upsert")], schema))
    t.merge_batch(
        spark.createDataFrame([(1, 1, 5, "delete"), (1, 2, 5, "upsert")], schema)
    )
    assert sorted(tuple(r) for r in t.read().select("k", "v").collect()) == [
        (1, 2), (2, 3)
    ]
    assert t.read(buckets=[1]).count() == 0  # the old row's tombstone


def test_bucketed_merge_lease_lost_mid_publish_converges(spark, tmp_path):
    """The bucketed crash/fencing contract: the lease check runs inside
    EACH bucket's publish, so a writer fenced off after the first of
    several touched-bucket publishes raises LeaseLost and leaves every
    bucket on a complete old or new version (only the first published
    bucket moved). The new owner re-acquires, replays the batch, and
    reads exactly what an uninterrupted merge reads."""
    import json
    import os
    import time

    import pytest

    from kube_etl_spark.streaming.cdc import StateTable
    from kube_etl_spark.streaming.lease import LeaseLost, WriterLease

    schema = "k long, seq long, v string, op string"
    seed = spark.createDataFrame(
        [(k, 1, f"v{k}", "upsert") for k in range(24)], schema
    )
    batch = spark.createDataFrame(
        [(k, 2, f"w{k}", "upsert") for k in range(0, 24, 2)]
        + [(3, 2, None, "delete")],
        schema,
    )
    ref = StateTable(spark, str(tmp_path / "ref"), ["k"], "seq", n_buckets=4)
    ref.merge_batch(seed)
    ref.merge_batch(batch)

    lease_path = str(tmp_path / "state.lease")
    old = WriterLease(lease_path, owner="old", ttl_s=60)
    assert old.acquire()
    path = str(tmp_path / "state")
    t = StateTable(spark, path, ["k"], "seq", n_buckets=4, lease=old)
    t.merge_batch(seed)
    assert len(t.buckets_for(batch)) >= 3

    def per_bucket(table):
        return {
            b: sorted(tuple(r) for r in table.read(buckets=[b]).collect())
            for b in range(4)
        }

    def links():
        return {
            d: os.readlink(os.path.join(path, d))
            for d in os.listdir(path)
            if d.startswith("bucket-") and os.path.islink(os.path.join(path, d))
        }

    before, targets = per_bucket(t), links()
    real_check, calls = old.assert_held, []

    def takeover_after_first_publish():
        calls.append(1)
        if len(calls) == 2:  # a new owner takes over mid-loop
            rec = json.load(open(lease_path))
            rec["deadline"] = time.time() - 1
            with open(lease_path, "w") as f:
                json.dump(rec, f)
            assert WriterLease(lease_path, owner="new", ttl_s=60).acquire()
        real_check()

    old.assert_held = takeover_after_first_publish
    with pytest.raises(LeaseLost):
        t.merge_batch(batch)
    moved = [d for d, tgt in links().items() if tgt != targets[d]]
    assert len(moved) == 1, moved
    after, want = per_bucket(t), per_bucket(ref)
    for b in range(4):
        assert os.path.exists(os.path.join(path, f"bucket-{b:06d}", "_SUCCESS"))
        assert after[b] in (before[b], want[b]), b
    assert sum(after[b] != before[b] for b in range(4)) == 1

    new = WriterLease(lease_path, owner="new", ttl_s=60)
    assert new.acquire()
    StateTable(spark, path, ["k"], "seq", n_buckets=4, lease=new).merge_batch(batch)
    assert per_bucket(t) == want
    assert sorted(tuple(r) for r in t.read().collect()) == sorted(
        tuple(r) for r in ref.read().collect()
    )
    # the abandoned merge left no garbage behind the replay: no staging
    # dir, and each bucket back to its current + one grace version
    names = os.listdir(path)
    assert not [d for d in names if d.startswith("_staging-")]
    for b in range(4):
        assert sum(d.startswith(f"bucket-{b:06d}.v-") for d in names) <= 2


def test_bucketed_merge_fenced_writer_keeps_other_staging(spark, tmp_path):
    """A fenced-off writer deletes nothing it does not own: its merge
    removes only its own staging dir, and other ``_staging-*`` dirs
    (a crashed merge's leftovers) are swept only after a publish of
    that merge passed the lease check. So another owner's in-flight
    staging dir survives a stale writer's merge, and the rightful
    owner's next merge sweeps a leftover one."""
    import json
    import os
    import time

    import pytest

    from kube_etl_spark.streaming.cdc import StateTable
    from kube_etl_spark.streaming.lease import LeaseLost, WriterLease

    schema = "k long, seq long, v string, op string"
    seed = spark.createDataFrame([(k, 1, f"v{k}", "upsert") for k in range(8)], schema)
    batch = spark.createDataFrame([(k, 2, f"w{k}", "upsert") for k in range(8)], schema)
    lease_path = str(tmp_path / "state.lease")
    old = WriterLease(lease_path, owner="old", ttl_s=60)
    assert old.acquire()
    path = str(tmp_path / "state")
    t = StateTable(spark, path, ["k"], "seq", n_buckets=4, lease=old)
    t.merge_batch(seed)

    rec = json.load(open(lease_path))
    rec["deadline"] = time.time() - 1
    with open(lease_path, "w") as f:
        json.dump(rec, f)
    new = WriterLease(lease_path, owner="new", ttl_s=60)
    assert new.acquire()
    theirs = os.path.join(path, "_staging-newowner", "__b=1")
    os.makedirs(theirs)
    open(os.path.join(theirs, "part-00000.parquet"), "w").close()

    with pytest.raises(LeaseLost):
        t.merge_batch(batch)
    assert os.path.exists(os.path.join(theirs, "part-00000.parquet"))
    assert [d for d in os.listdir(path) if d.startswith("_staging-")] == [
        "_staging-newowner"
    ]

    StateTable(spark, path, ["k"], "seq", n_buckets=4, lease=new).merge_batch(batch)
    assert not [d for d in os.listdir(path) if d.startswith("_staging-")]
    assert sorted(r["v"] for r in t.read().collect()) == [f"w{k}" for k in range(8)]


def test_atomic_overwrite_migrates_plain_directory(spark, tmp_path):
    """A table first written as a PLAIN parquet directory (a pre-
    versioning build, e.g. the retrieval index's initial write) must
    survive its first atomic_overwrite: the old data stays readable
    throughout (the new version derives from it), the path becomes a
    symlink afterwards, and a second overwrite cycles versions
    normally."""
    import os

    from pyspark.sql import functions as F

    from kube_etl_spark.streaming.cdc import atomic_overwrite

    path = str(tmp_path / "table")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k long, v string"
    ).write.parquet(path)
    assert os.path.isdir(path) and not os.path.islink(path)

    # the new version is DERIVED from the old table (the lazy-read
    # hazard the migration ordering must survive)
    derived = spark.read.parquet(path).filter(F.col("k") < 5)
    atomic_overwrite(derived, path)
    assert os.path.islink(path)
    assert spark.read.parquet(path).count() == 5

    atomic_overwrite(spark.read.parquet(path).filter(F.col("k") < 2), path)
    assert {r["k"] for r in spark.read.parquet(path).collect()} == {0, 1}
    # grace GC: the current version plus exactly ONE previous remain
    # (the immediately-prior version survives so a concurrent reader
    # outlives one publish); anything older is gone
    vers = [d for d in os.listdir(tmp_path) if d.startswith("table.v-")]
    assert len(vers) == 2
    assert os.path.basename(os.path.realpath(path)) in vers


def test_health_listener_and_probe(spark, tmp_path):
    """The operational shell: a real streaming query drives the
    HealthListener; metrics.jsonl accumulates per-batch rows,
    health.json reports running totals, and the probe verdict flips on
    staleness exactly like a liveness endpoint."""
    import json as _json
    import time as _time

    from kube_etl_spark.streaming.health import attach_health, is_healthy

    out = str(tmp_path / "obs")
    listener = attach_health(spark, out)
    try:
        src = tmp_path / "src"
        src.mkdir()
        ev = load_table(spark, SMOKE_SF, "events").select("event_id", "user_id", "value")
        (src / "b0.json").write_text("\n".join(ev.limit(200).toJSON().collect()))
        stream = (
            spark.readStream.schema("event_id long, user_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            stream.writeStream.format("noop")
            .queryName("health-probe-test")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        # listener callbacks are async — wait until the progress
        # totals (not just the started snapshot) have landed. The
        # deadline is generous because Spark's listener bus is ONE
        # async dispatch thread shared by the whole session: late in a
        # long suite it can carry a backlog of earlier tests' events
        # (this listener even receives terminated events for queries
        # that finished BEFORE it attached), and this query's progress
        # rows land only after that backlog drains — the r8 "one-off
        # flake" reproduced at 30 s under a 29-minute suite run (r9,
        # .preflight-logs/test.log caught the name and the foreign
        # UUID-keyed entry that proved the backlog).
        deadline = _time.time() + 180
        qstate = None
        while _time.time() < deadline:
            try:
                h = _json.load(open(f"{out}/health.json"))
            except (FileNotFoundError, ValueError):
                h = {"queries": {}}
            matches = [
                v
                for k, v in h["queries"].items()
                if "health-probe-test" in k and "input_rows" in v
            ]
            if matches and matches[0]["input_rows"] >= 200:
                qstate = matches[0]
                break
            _time.sleep(0.5)
        assert qstate is not None, f"no progress snapshot: {h}"
        ok, reason = is_healthy(out, max_staleness_s=300)
        assert ok, reason
        assert qstate["input_rows"] == 200
        assert qstate["batches"] >= 1
        lines = [
            _json.loads(l)
            for l in open(f"{out}/metrics.jsonl").read().splitlines()
        ]
        assert sum(r["num_input_rows"] for r in lines if "health-probe-test" in r["query"]) == 200
        # staleness: a 0-second budget must flip the verdict
        ok2, reason2 = is_healthy(out, max_staleness_s=0.0)
        assert not ok2 and "stale" in reason2
    finally:
        spark.streams.removeListener(listener)


def test_failed_unnamed_query_superseded_by_restart(tmp_path):
    """Review r9: production jobs don't set queryName, so a failure is
    keyed by the run's UUID — a healthy restart runs under a NEW UUID
    and could never clear the old 'failed' entry, wedging is_healthy
    red forever. A new query start must demote other keys' failed
    entries to failed_superseded (exception kept for forensics)."""
    from types import SimpleNamespace

    import json as _json

    from kube_etl_spark.streaming.health import HealthListener, is_healthy

    out = str(tmp_path / "obs")
    crashed = HealthListener(out)
    crashed.onQueryStarted(SimpleNamespace(id="uuid-run-1", name=None))
    crashed.onQueryTerminated(
        SimpleNamespace(id="uuid-run-1", exception="boom: executor lost")
    )
    ok, reason = is_healthy(out, max_staleness_s=300)
    assert not ok and "failed" in reason  # the pod IS unhealthy now

    # k8s restarts the pod: fresh process, fresh listener, NEW run UUID
    restarted = HealthListener(out)
    restarted.onQueryStarted(SimpleNamespace(id="uuid-run-2", name=None))
    ok2, reason2 = is_healthy(out, max_staleness_s=300)
    assert ok2, reason2  # the restart supersedes the old failure
    h = _json.load(open(f"{out}/health.json"))
    assert h["queries"]["uuid-run-1"]["status"] == "failed_superseded"
    assert "boom" in h["queries"]["uuid-run-1"]["exception"]
    assert h["queries"]["uuid-run-2"]["status"] == "started"


@pytest.mark.slow
def test_materialized_agg_survives_crash_between_merges(spark, tmp_path):
    """Review r9: the delta design derived the view update from
    PRE-merge fact state, so a crash between fact.merge_batch and
    view.merge_batch made redelivery compute a zero delta and the view
    under-counted forever. The absolute-recompute design must converge
    through that exact crash — including a key MOVING groups in the
    crashed batch, whose OLD group is only recoverable from the intent
    sidecar (post-merge state no longer knows it)."""
    import pytest

    from kube_etl_spark.streaming.cdc import StateTable
    from kube_etl_spark.streaming.matview import MaterializedAgg

    ma = MaterializedAgg(
        StateTable(spark, str(tmp_path / "fact"), ["k"], "seq"),
        StateTable(spark, str(tmp_path / "view"), ["grp"], "seq"),
        fact_key="k",
        group_col="grp",
        value_col="amt",
    )
    schema = "k long, grp string, amt double, op string"

    def apply(rows, seq):
        ma.apply_fact_batch(spark.createDataFrame(rows, schema), seq)

    def view():
        got = ma.read()
        return (
            {}
            if got is None
            else {r["grp"]: (r["n_rows"], float(r["total"])) for r in got.collect()}
        )

    apply([(1, "a", 10.0, "upsert"), (2, "b", 20.0, "upsert")], 1)
    assert view() == {"a": (1, 10.0), "b": (1, 20.0)}

    # batch 2 moves key 2 from b to a AND updates key 1 — then crashes
    # AFTER the fact merge, BEFORE the view merge
    real_merge = ma.view.merge_batch

    def boom(*a, **kw):
        raise RuntimeError("simulated crash between merges")

    ma.view.merge_batch = boom
    batch2 = [(1, "a", 11.0, "upsert"), (2, "a", 21.0, "upsert")]
    with pytest.raises(RuntimeError, match="simulated crash"):
        apply(batch2, 2)
    # fact state HAS batch 2; the view does not — the poisoned window
    assert view() == {"a": (1, 10.0), "b": (1, 20.0)}

    # at-least-once redelivery of the SAME batch converges the view,
    # including emptying the moved key's old group b
    ma.view.merge_batch = real_merge
    apply(batch2, 2)
    assert view() == {"a": (2, 32.0)}

    # replay once more: absolute recompute is idempotent
    apply(batch2, 2)
    assert view() == {"a": (2, 32.0)}


def test_attach_health_replaces_previous_listener(spark, tmp_path):
    """attach_health keeps ONE live listener per application: every
    Python streaming listener costs a py4j round-trip per event on the
    context's single streams dispatch queue, so listeners leaked by
    successive --once job invocations accumulated into minutes of
    event-delivery lag (the r8/r9 flake's root cause). A second attach
    must detach the first — only the newest out dir receives events."""
    import json as _json
    import time as _time

    from kube_etl_spark.streaming.health import attach_health

    first = attach_health(spark, str(tmp_path / "obs1"))
    second = attach_health(spark, str(tmp_path / "obs2"))
    try:
        src = tmp_path / "src"
        src.mkdir()
        (src / "b0.json").write_text('{"k": 1}\n{"k": 2}')
        q = (
            spark.readStream.schema("k long")
            .json(str(src))
            .writeStream.format("noop")
            .queryName("health-replace-test")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
        deadline = _time.time() + 180
        got = None
        while _time.time() < deadline and got is None:
            try:
                h = _json.load(open(str(tmp_path / "obs2" / "health.json")))
                if any(
                    "health-replace-test" in k and "input_rows" in v
                    for k, v in h["queries"].items()
                ):
                    got = h
            except (FileNotFoundError, ValueError):
                pass
            _time.sleep(0.5)
        assert got is not None, "replacement listener saw no events"
        # the replaced listener received nothing (it was detached
        # BEFORE the query ran)
        import os as _os

        assert not _os.path.exists(str(tmp_path / "obs1" / "health.json"))
    finally:
        spark.streams.removeListener(second)


def test_atomic_overwrite_grace_gc_survives_one_publish(spark, tmp_path):
    """The reader-side half of the publish contract (VERDICT r4): the
    WriterLease serializes writers, but a separate reader process that
    resolved the symlink just before a publish still holds paths into
    the previous version dir. atomic_overwrite therefore keeps exactly
    one previous version: a lazy read over the pre-publish version
    survives the NEXT publish and loses its files only after the one
    after that — and each publish prunes everything older, so disk use
    stays bounded at two versions."""
    import os

    from pyspark.sql import functions as F

    from kube_etl_spark.streaming.cdc import atomic_overwrite

    path = str(tmp_path / "table")
    atomic_overwrite(
        spark.createDataFrame([(i,) for i in range(10)], "k long"), path
    )
    # a concurrent reader resolves the symlink and plans a job over the
    # concrete version dir (what a second Spark job's file index holds)
    v0 = os.path.realpath(path)
    reader = spark.read.parquet(v0).filter(F.col("k") >= 0)

    atomic_overwrite(spark.createDataFrame([(1,)], "k long"), path)
    assert reader.count() == 10  # one publish later: still readable

    atomic_overwrite(spark.createDataFrame([(2,)], "k long"), path)
    assert not os.path.exists(v0)  # second publish: v0 is pruned
    with pytest.raises(Exception):
        spark.read.parquet(v0).count()
    # steady state: current + one grace version, never more
    vers = [d for d in os.listdir(tmp_path) if d.startswith("table.v-")]
    assert len(vers) == 2


def test_atomic_overwrite_sweeps_stale_staging_symlink(spark, tmp_path):
    """ADVICE r5: a crash between os.symlink(tmp_link) and os.rename
    leaves a '{base}.ln-*' staging symlink that nothing references; it
    used to accumulate forever across crashed publishes. The next
    successful publish must sweep it (and must NOT touch the live
    link or version dirs)."""
    import os

    from kube_etl_spark.streaming.cdc import atomic_overwrite

    path = str(tmp_path / "table")
    atomic_overwrite(spark.createDataFrame([(1,)], "k long"), path)
    # simulate the crashed publish's leftover staging link
    stale = f"{path}.ln-deadbeef"
    os.symlink("nowhere", stale)
    atomic_overwrite(spark.createDataFrame([(2,)], "k long"), path)
    assert not os.path.lexists(stale), "stale staging symlink not swept"
    assert spark.read.parquet(path).count() == 1


def test_snapshot_delta_classifies_all_transitions(spark):
    """snapshot_delta must emit upserts for added+changed keys, deletes
    carrying the OLD payload for vanished keys, nothing for unchanged —
    including NULL→value, value→NULL and NULL→NULL value transitions
    (the eqNullSafe contract)."""
    from kube_etl_spark.streaming.snapdiff import snapshot_delta

    old = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, None)], "k long, v string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "b2"), (3, None), (5, "e")], "k long, v string"
    )
    rows = {(r["k"], r["v"], r["op"]) for r in snapshot_delta(old, new, ["k"]).collect()}
    assert rows == {
        (2, "b2", "upsert"),   # NULL → value = changed
        (3, None, "upsert"),   # value → NULL = changed
        (5, "e", "upsert"),    # added
        (4, None, "delete"),   # vanished, old payload carried
    }  # k=1 unchanged → absent; k=4 was NULL→NULL on a vanished key
    # first snapshot: everything upserts
    first = snapshot_delta(None, new, ["k"])
    assert first.filter("op <> 'upsert'").count() == 0
    assert first.count() == 4


def test_snapshot_diff_source_converges_and_replays(spark, tmp_path):
    """Poll-based CDC end-to-end: successive full snapshots produce
    delta-sized StateTable merges; state always equals the latest
    snapshot exactly (deletes propagate); re-applying the same snapshot
    is an EMPTY delta (at-least-once snapshot delivery converges); and
    the deltas drive MaterializedAgg to the same view a direct
    aggregation of the final snapshot gives — full exports in,
    incremental maintenance out."""
    from pyspark.sql import functions as F

    from kube_etl_spark.streaming.cdc import StateTable
    from kube_etl_spark.streaming.matview import MaterializedAgg
    from kube_etl_spark.streaming.snapdiff import SnapshotDiffSource

    src = SnapshotDiffSource(StateTable(spark, str(tmp_path / "snap"), ["k"], "seq"))
    ma = MaterializedAgg(
        StateTable(spark, str(tmp_path / "fact"), ["k"], "seq"),
        StateTable(spark, str(tmp_path / "view"), ["g"], "seq"),
        fact_key="k",
        group_col="g",
        value_col="x",
    )
    s1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)], "k long, g string, x double"
    )
    s2 = spark.createDataFrame(  # k=2 repriced, k=3 deleted, k=4 added (group move n/a)
        [(1, "a", 10.0), (2, "a", 25.0), (4, "b", 40.0)], "k long, g string, x double"
    )
    s3 = spark.createDataFrame(  # k=1 moves group a→b
        [(1, "b", 10.0), (2, "a", 25.0), (4, "b", 40.0)], "k long, g string, x double"
    )
    for i, snap in enumerate((s1, s2, s3), start=1):
        delta = src.apply(snap, seq=i)
        ma.apply_fact_batch(delta, i)
    # deltas were minimal, not snapshot-sized
    assert src.apply(s3, seq=4).count() == 0  # replay: empty delta
    state = {(r["k"], r["g"], r["x"]) for r in src.state.read().drop("seq").collect()}
    assert state == {(1, "b", 10.0), (2, "a", 25.0), (4, "b", 40.0)}
    view = {
        (r["g"], r["n_rows"], float(r["total"]))
        for r in ma.read().select("g", "n_rows", "total").collect()
    }
    direct = {
        (r["g"], r["n"], float(r["s"]))
        for r in s3.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("x").cast("decimal(20,2)")).alias("s"))
        .collect()
    }
    assert view == direct  # insert+update+delete+group-move all maintained


def test_snapshot_delta_null_keys_classify_by_presence(spark):
    """ADVICE r6 (medium): a NULL-keyed row present in BOTH snapshots
    joins (eqNullSafe keys) but its key VALUE is NULL on both sides —
    the old key-isNull presence test classified it 'removed' every
    poll, re-emitting a spurious delete and never upserting its new
    value. Presence is now marker-based: NULL-keyed rows must classify
    unchanged / changed / removed / added exactly like any other key."""
    from kube_etl_spark.streaming.snapdiff import snapshot_delta

    old = spark.createDataFrame([(None, "a"), (1, "b")], "k long, v string")

    # NULL key present in both, value unchanged → NO delta at all
    same = spark.createDataFrame([(None, "a"), (1, "b")], "k long, v string")
    assert snapshot_delta(old, same, ["k"]).count() == 0

    # NULL key present in both, value changed → ONE upsert, no delete
    changed = spark.createDataFrame([(None, "a2"), (1, "b")], "k long, v string")
    rows = {
        (r["k"], r["v"], r["op"])
        for r in snapshot_delta(old, changed, ["k"]).collect()
    }
    assert rows == {(None, "a2", "upsert")}

    # NULL key vanishes → one delete carrying the old payload
    gone = spark.createDataFrame([(1, "b")], "k long, v string")
    rows = {
        (r["k"], r["v"], r["op"]) for r in snapshot_delta(old, gone, ["k"]).collect()
    }
    assert rows == {(None, "a", "delete")}

    # NULL key appears → one upsert
    appear = spark.createDataFrame(
        [(None, "z"), (1, "b")], "k long, v string"
    )
    no_null = spark.createDataFrame([(1, "b")], "k long, v string")
    rows = {
        (r["k"], r["v"], r["op"])
        for r in snapshot_delta(no_null, appear, ["k"]).collect()
    }
    assert rows == {(None, "z", "upsert")}


def test_snapshot_diff_source_rejects_schema_drift(spark, tmp_path):
    """A generation whose column set drifted must fail LOUDLY at
    apply() with the added/dropped columns named — not three operators
    deep in the state merge (q_schema_drift_report is the diagnosis
    companion)."""
    import pytest

    from kube_etl_spark.streaming.cdc import StateTable
    from kube_etl_spark.streaming.snapdiff import SnapshotDiffSource

    src = SnapshotDiffSource(StateTable(spark, str(tmp_path / "s"), ["k"], "seq"))
    src.apply(spark.createDataFrame([(1, "a")], "k long, v string"), seq=1)
    drifted = spark.createDataFrame([(1, "a", 9)], "k long, v string, extra long")
    with pytest.raises(ValueError, match=r"added=\['extra'\]"):
        src.apply(drifted, seq=2)
    narrowed = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match=r"dropped=\['v'\]"):
        src.apply(narrowed, seq=2)
    # a RETYPED column under the same name is drift too (the guard
    # compares dtypes, not names — review r7): bigint v would coerce
    # or crash deep in the merge otherwise
    retyped = spark.createDataFrame([(1, 9)], "k long, v long")
    with pytest.raises(ValueError, match=r"retyped=.*'v', 'string', 'bigint'"):
        src.apply(retyped, seq=2)


# -- recorded state schemas: each version dir carries _schema.json ------

_SCHEMA_ROWS = "k long, a string, b struct<x:string,y:array<long>>, mgr string, seq long, op string"


def _schema_batches(spark):
    first = [
        (k, f"a{k}", (f"x{k}", [k, None]), "m1", 1, "upsert") for k in range(30)
    ]
    second = [
        (3, None, None, "m1", 2, "delete"),
        (5, "a5'", None, "m1", 2, "upsert"),
        (41, None, (None, []), "m2", 2, "upsert"),
    ]
    return [spark.createDataFrame(rows, _SCHEMA_ROWS) for rows in (first, second)]


def _jobs_run(spark, group: str, fn):
    """``fn()`` and the number of Spark jobs it ran, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "layout", ["flat", "hash", "range", "field_merge", "manager_col"]
)
def test_state_read_schema_matches_parquet_inference(spark, tmp_path, layout):
    """Every published version dir records its schema, and opening the
    state reads with it: the schema ``read()`` and the tombstone-keeping
    raw read return equals what Spark's Parquet inference reports for
    the same dirs, in every layout and merge mode, and building either
    frame runs no Spark job (inference costs one)."""
    kw = {
        "flat": {},
        "hash": {"n_buckets": 4},
        "range": {"n_buckets": 8, "bucket_col": F.floor(F.col("k") / 10)},
        "field_merge": {"field_merge": ["a", "b"]},
        "manager_col": {"field_merge": ["a", "b"], "manager_col": "mgr"},
    }[layout]
    t = StateTable(spark, str(tmp_path / "t"), ["k"], "seq", **kw)
    for batch in _schema_batches(spark):
        t.merge_batch(batch)
    dirs = [os.path.realpath(p) for p in t._live_paths()]
    assert dirs and all(os.path.exists(os.path.join(d, "_schema.json")) for d in dirs)
    inferred = spark.read.parquet(*dirs)

    group = f"schema-read-{layout}-{tmp_path.name}"
    (raw, live), jobs = _jobs_run(spark, group, lambda: (t._read_raw(), t.read()))
    assert jobs == 0
    assert raw.schema == inferred.schema
    assert live.schema == inferred.drop(
        *[c for c in inferred.columns if c not in live.columns]
    ).schema
    assert sorted(map(repr, raw.collect())) == sorted(
        map(repr, inferred.select(*raw.columns).collect())
    )
    got = {r["k"]: r for r in live.collect()}
    assert 3 not in got and got[5]["a"] == "a5'" and 41 in got and len(got) == 30


@pytest.mark.parametrize("layout", [{}, {"n_buckets": 4}])
def test_state_schema_file_is_all_nullable(spark, tmp_path, layout):
    """The recorded schema is all-nullable even where the batch declares
    columns, struct fields and array elements non-nullable: a later
    merge's tombstone holds nulls there (a delete batch carries no
    payload), and one schema has to describe every version a read
    unions. The tombstone's null payload reads back as null."""
    import json

    from pyspark.sql.types import (
        ArrayType, LongType, StringType, StructField, StructType,
    )

    strict = StructType([
        StructField("k", LongType(), False),
        StructField("v", StringType(), False),
        StructField("s", StructType([StructField("x", StringType(), False)]), False),
        StructField("tags", ArrayType(StringType(), False), False),
        StructField("seq", LongType(), False),
        StructField("op", StringType(), False),
    ])
    t = StateTable(spark, str(tmp_path / "t"), ["k"], "seq", **layout)
    t.merge_batch(spark.createDataFrame(
        [(k, f"v{k}", (f"x{k}",), ["t"], 1, "upsert") for k in range(1, 9)], strict
    ))
    t.merge_batch(spark.createDataFrame([(1, 2, "delete")], "k long, seq long, op string"))

    def all_nullable(t) -> bool:
        kind = t["type"] if isinstance(t, dict) else None
        if kind == "struct":
            return all(f["nullable"] and all_nullable(f["type"]) for f in t["fields"])
        if kind == "array":
            return t["containsNull"] and all_nullable(t["elementType"])
        if kind == "map":
            return t["valueContainsNull"] and all_nullable(t["valueType"])
        return True

    stored = []
    for d in t._live_paths():
        with open(os.path.join(d, "_schema.json")) as f:
            stored.append(json.load(f))
    assert all(all_nullable(s) for s in stored), stored
    # buckets written by the strict batch and by the delete agree, so
    # the read uses the recorded schema rather than inferring
    assert all(s == stored[0] for s in stored)
    raw = {r["k"]: r for r in t._read_raw().collect()}
    assert raw[1]["__op"] == "delete"
    assert raw[1]["v"] is None and raw[1]["s"] is None and raw[1]["tags"] is None
    assert raw[2]["s"]["x"] == "x2" and raw[2]["tags"] == ["t"]
    assert sorted(r["k"] for r in t.read().collect()) == list(range(2, 9))


@pytest.mark.parametrize("layout", [{}, {"n_buckets": 4}])
def test_state_without_schema_files_opens_merges_and_gains_them(spark, tmp_path, layout):
    """A state dir written before version dirs recorded their schema
    (no ``_schema.json`` anywhere) opens by inference, merges to the
    same rows as a state that had the files all along, and every dir
    that merge publishes gains the file. A bucketed state then holds
    dirs with and without it, and the read infers across both."""
    first, second = _schema_batches(spark)
    ref = StateTable(spark, str(tmp_path / "ref" / "t"), ["k"], "seq", **layout)
    ref.merge_batch(first)
    legacy_root = tmp_path / "legacy"
    StateTable(spark, str(legacy_root / "t"), ["k"], "seq", **layout).merge_batch(first)
    for root, _dirs, files in os.walk(legacy_root):
        if "_schema.json" in files:
            os.remove(os.path.join(root, "_schema.json"))

    legacy = StateTable(spark, str(legacy_root / "t"), ["k"], "seq", **layout)

    def rows(t):
        return sorted(map(repr, t._read_raw().select(*ref._read_raw().columns).collect()))

    assert rows(legacy) == rows(ref)
    legacy.merge_batch(second)
    ref.merge_batch(second)
    assert rows(legacy) == rows(ref)
    assert sorted(map(repr, legacy.read().collect())) == sorted(map(repr, ref.read().collect()))
    has = {
        os.path.basename(p): os.path.exists(os.path.join(p, "_schema.json"))
        for p in legacy._live_paths()
    }
    touched = (
        {os.path.basename(legacy.path)}
        if not layout
        else {f"bucket-{b:06d}" for b in legacy.buckets_for(second)}
    )
    assert {p for p, h in has.items() if h} == touched
