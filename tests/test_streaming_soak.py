"""Sustained multi-batch streaming soak: state-store size must stay
BOUNDED under the watermark across many micro-batches (VERDICT r4 #8).

The bounded AvailableNow runs in the catalog prove value-correctness but
execute only a handful of batches — the watermark-bounds-eviction
subtlety (a window is evicted one batch AFTER the watermark passes its
end; CLAUDE.md) only shows its steady-state behavior across a long run.
Here the generator micro-batch source (sources/generator.py) drives a
watermarked 1-minute tumbling aggregate in UPDATE mode for >= 20 batches
of monotonically-advancing event time on the RocksDB state store; each
batch spans ~16 windows of event time, so WITHOUT eviction state would
grow to ~400 windows by the end. The assertions pin: every batch ran,
state plateaued at the watermark horizon (a few windows), and it never
approached the no-eviction growth line.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.slow

ROWS = 44_000
BATCH_ROWS = 2_000  # -> 22 micro-batches
STEP_US = 1_000_000  # 1 s of event time per row


def test_streaming_state_bounded_under_watermark(spark):
    from bigdata_retailrocket_recsys_spark.sources.generator import (
        register_events_generator,
    )
    from bigdata_retailrocket_recsys_spark.streaming import stream_session

    session = stream_session(spark)
    register_events_generator(session)
    st = (
        session.readStream.format("bdrr_events_gen")
        .option("rows", ROWS)
        .option("batch_rows", BATCH_ROWS)
        .option("step_us", STEP_US)
        .load()
    )
    agg = (
        st.withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("bdrr_soak_sink")
        .outputMode("update")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        import ast

        deadline = time.time() + 300
        while time.time() < deadline:
            lp = q.lastProgress
            if lp and lp["sources"][0]["endOffset"]:
                off = lp["sources"][0]["endOffset"]
                if isinstance(off, str):
                    # Python-source offsets surface as a repr string
                    off = ast.literal_eval(off)
                if int(off["i"]) >= ROWS:
                    break
            time.sleep(0.5)
        progresses = [
            p
            for p in q.recentProgress
            if p["numInputRows"] > 0 and p["stateOperators"]
        ]
    finally:
        q.stop()
        q.awaitTermination()

    assert len(progresses) >= 20, f"only {len(progresses)} data batches ran"
    curve = [p["stateOperators"][0]["numRowsTotal"] for p in progresses]
    # steady state: watermark horizon (2 min) + one batch's event-time span
    # (~33 min of 1-min windows x 4 event types) is the worst transient;
    # no-eviction growth would reach ~400 windows x 4 types by batch 22.
    assert max(curve) <= 250, curve
    # plateau, not growth: the last quarter of the run must not exceed the
    # running max of the first half (eviction keeps pace with ingest)
    assert max(curve[-5:]) <= max(curve[: len(curve) // 2]), curve
    # eviction actually happened: state rows must drop somewhere
    assert any(b < a for a, b in zip(curve, curve[1:])), curve
    # and the aggregate itself is correct-to-date: every ingested row
    # landed in exactly one (window, type) cell of the sink's latest rows
    sink = session.table("bdrr_soak_sink")
    latest = (
        sink.groupBy("w", "event_type").agg(F.max("n").alias("n"))
    )
    total = latest.agg(F.sum("n")).collect()[0][0]
    assert total == ROWS, total


DG_ROWS = 44_000
DG_BATCH = 2_000
DG_USERS = 50  # 50 s of event time between a user's consecutive events


def test_dynamic_gap_state_bounded_under_watermark(spark):
    """VERDICT r6 #7: the dynamic-gap session_window (per-event gap
    durations — the engine's most complex eviction logic: interval-union
    state merging) must hold a bounded state plateau across a >=20-batch
    soak, not just the bounded AvailableNow run the catalog entry does.

    Generator geometry: a user's events arrive 50 s apart (event time).
    The deterministic type mapping makes 10 of the 50 users all-purchase
    (gap 80 s > 50 — their sessions chain forever and stay OPEN in
    state) and the other 40 single-type non-purchase (gap 30 s < 50 —
    every event is its own session, closed and EVICTED once the 2-min
    watermark passes). Without eviction the closed sessions would pile
    to ~35k state rows by batch 22; the plateau must stay 100x below."""
    import ast

    from bigdata_retailrocket_recsys_spark.sources.generator import (
        register_events_generator,
    )
    from bigdata_retailrocket_recsys_spark.streaming import stream_session

    session = stream_session(spark)
    register_events_generator(session)
    st = (
        session.readStream.format("bdrr_events_gen")
        .option("rows", DG_ROWS)
        .option("batch_rows", DG_BATCH)
        .option("step_us", STEP_US)
        .option("n_users", DG_USERS)
        .load()
    )
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("80 seconds")
    ).otherwise(F.lit("30 seconds"))
    agg = (
        st.withWatermark("ts", "2 minutes")
        .groupBy(F.col("user_id"), F.session_window(F.col("ts"), gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("event_type").alias("etype"),
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("bdrr_dyngap_soak_sink")
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 300
        while time.time() < deadline:
            lp = q.lastProgress
            if lp and lp["sources"][0]["endOffset"]:
                off = lp["sources"][0]["endOffset"]
                if isinstance(off, str):
                    off = ast.literal_eval(off)
                if int(off["i"]) >= DG_ROWS:
                    break
            time.sleep(0.5)
        progresses = [
            p
            for p in q.recentProgress
            if p["numInputRows"] > 0 and p["stateOperators"]
        ]
    finally:
        q.stop()
        q.awaitTermination()

    assert len(progresses) >= 20, f"only {len(progresses)} data batches ran"
    curve = [p["stateOperators"][0]["numRowsTotal"] for p in progresses]
    # plateau: open purchase chains (10) + the watermark horizon's worth of
    # un-evicted singles (~2.4 events/user x 40) + one batch's transient
    # (a 2000-row batch spans ~40 events/user of event time before the
    # watermark catches up) — far below the ~35k no-eviction line
    assert max(curve) <= 3_500, curve
    assert max(curve[-5:]) <= max(curve[: len(curve) // 2]), curve
    # eviction actually happened: the deterministic geometry holds the
    # TOTAL flat (each batch evicts exactly as many sessions as it opens
    # — the curve never dips, unlike the tumbling soak), so assert the
    # state store's own removal counter instead
    removed = sum(
        p["stateOperators"][0].get("numRowsRemoved", 0) for p in progresses
    )
    assert removed > 10_000, (removed, curve)
    # append-mode sink carries only CLOSED sessions: every non-purchase
    # event is its own 1-event session; purchase chains never close
    sink = session.table("bdrr_dyngap_soak_sink").collect()
    assert sink and all(r["etype"] != "purchase" for r in sink)
    assert all(r["n_events"] == 1 for r in sink)
    emitted = len(sink)
    # all non-purchase events except the un-evicted tail must have been
    # finalized: 4/5 of rows, minus slack for the tail the final
    # watermark never reaches — watermark horizon (~2 min of event time)
    # plus up to TWO batch spans, because whether the last no-data batch
    # runs before q.stop() is timing-dependent (it flipped between a
    # standalone run and the full-gate run)
    expected_total = DG_ROWS * 4 // 5
    slack = 2 * (DG_BATCH * 4 // 5) + 400
    assert expected_total - slack <= emitted <= expected_total, emitted
