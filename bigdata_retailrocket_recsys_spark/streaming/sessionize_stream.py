"""Structured Streaming sessionization (engine extension — SURVEY §2.9).

The reference is pure batch; its 30-min-gap sessionization (py:96-131) is a
window function. At continuous/100 TB scale the same semantics run as a
Structured Streaming job: ``session_window(ts, gap)`` + watermark bounds
state (late events beyond the watermark are dropped instead of growing
executor state forever).

Semantics note vs the batch operator: ``session_window`` merges events
whose [ts, ts+gap) windows OVERLAP, i.e. a successor at exactly ``gap``
after its predecessor starts a NEW session, while the batch rule
(``gap_us > gap``) keeps it in the SAME session. With microsecond
timestamps an exact-gap tie is measure-zero; documented, not hidden.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_retailrocket_recsys_spark.sources.readers import (
    events_stream,
    load_table,
)
from bigdata_retailrocket_recsys_spark.streaming import (
    SINK,
    run_available_now,
    staged_stream,
    stream_session,
)


def streaming_session_stats(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """session_window aggregation with watermark — works on both streaming
    and batch DataFrames (same code path, Spark picks the impl)."""
    gap = f"{gap_minutes} minutes"
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(user_col),
            F.session_window(F.col(ts_col), gap).alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(user_col),
            F.unix_micros("w.start").alias("start_us"),
            F.unix_micros("w.end").alias("end_us"),
            "n_events",
        )
    )


def streaming_tumbling_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    group_col: str = "event_type",
) -> DataFrame:
    """Watermarked tumbling-window aggregation (epoch-aligned windows);
    with ``slide`` set, a SLIDING window — each event lands in
    window/slide overlapping windows (e.g. 1h every 30min → 2).

    Aggregates are chosen to be exactly deterministic (count + min/max —
    no float accumulation, no distinct, which streaming prohibits), so the
    bounded-source AvailableNow run is value-equal to the batch GROUP BY
    and can be DuckDB-oracle-checked.
    """
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), F.col(group_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.unix_micros("w.start").alias("win_start_us"),
            F.col(group_col),
            "n_events",
            "min_value",
            "max_value",
        )
    )


def run_streaming_tumbling(
    spark: SparkSession,
    sf_dir: str,
    *,
    window: str = "1 hour",
    slide: str | None = None,
) -> DataFrame:
    """Events table → parquet file stream → tumbling (or, with ``slide``,
    sliding) window agg → memory sink, Trigger.AvailableNow. Returns the
    sink contents (batch-equal)."""
    session = stream_session(spark)
    stream = events_stream(session, sf_dir)
    out = streaming_tumbling_counts(stream, window=window, slide=slide)
    run_available_now(out, output_mode="complete")
    return session.table(SINK)


def run_streaming_sessionize(
    spark: SparkSession,
    sf_dir: str,
    *,
    gap_minutes: int = 30,
) -> DataFrame:
    """Drive the events table through a real streaming query: parquet file
    source → session_window agg → memory sink, Trigger.AvailableNow (one
    bounded pass — the batch-parity mode). Returns the sink contents."""
    session = stream_session(spark)
    stream = events_stream(session, sf_dir)
    out = streaming_session_stats(stream, gap_minutes=gap_minutes)
    run_available_now(out, output_mode="complete")
    return session.table(SINK)


def run_streaming_late_drop(
    spark: SparkSession,
    sf_dir: str,
    *,
    split_at: str = "2024-01-16",
    delay: str = "30 minutes",
) -> DataFrame:
    """Watermark late-data semantics, demonstrated deterministically.

    Three staged files processed as three micro-batches
    (``maxFilesPerTrigger=1``): file 0 holds events before ``split_at``,
    file 1 the rest, file 2 late replays of day-one events (same event
    time, re-tagged ids). By the replay batch the watermark stands at
    ``max(all ts) − delay`` and the day-one windows are long evicted —
    the stateful aggregation DROPS every replay (verified via the
    ``numRowsDroppedByWatermark`` metric), so every hourly count equals
    the ORIGINAL data's count (the oracle proves exactly this). Append
    mode emits each window once, when the watermark passes its end;
    windows still open at stream end (within ``delay`` of the last
    event) are never emitted — the oracle cuts the same tail.

    Found empirically (Spark 4.1): a late row whose window is still IN
    state (the watermark passed its end only this batch, eviction
    pending) is merged, not dropped — the watermark is a lower bound on
    eviction, not an input filter per se. Hence the replays ride a
    THIRD batch, after eviction has demonstrably happened.

    This is the semantic contract a 100 TB streaming ingest runs on:
    bounded state (closed windows evicted), deterministic late-data
    policy (drop beyond watermark), exactly-once window emission.
    """
    session = stream_session(spark)
    # staged files bypass events_stream — apply its event-time domain
    # contract (non-null, post-epoch) here so both paths agree
    src = (
        load_table(session, sf_dir, "events")
        .select("event_id", "ts")
        .filter(
            F.col("ts").isNotNull()
            & (F.col("ts") >= F.timestamp_micros(F.lit(0)))
        )
    )
    cut = F.lit(split_at).cast("timestamp")
    early = src.filter(F.col("ts") < cut)
    late_replays = (
        early.filter(F.col("ts") < F.lit("2024-01-02").cast("timestamp"))
        .withColumn("event_id", F.col("event_id") + F.lit(10_000_000))
    )
    # three micro-batches in order: early, rest, then the late replays
    stream = staged_stream(
        session,
        "late_drop_stage",
        [early, src.filter(F.col("ts") >= cut), late_replays],
    )
    out = (
        stream.withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            F.unix_micros(F.col("w.end")).alias("window_end_us"),
            "n",
        )
    )
    run_available_now(out)
    # distinct: a sink table re-registered in the same session could
    # retain rows from a previous run of this query
    return session.table(SINK).distinct()


def run_streaming_observe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming observability: ``observe()`` metrics attached to a file
    stream, totalled across micro-batches.

    Each micro-batch reports (n_rows, NaN-guarded decimal sum of value)
    through its StreamingQueryProgress ``observedMetrics``; counts and
    DECIMAL sums are associative, so the cross-batch totals equal the
    batch aggregate over the whole table EXACTLY, for any file/batch
    split — which is what makes a streaming query oracle-able against a
    plain GROUP-BY-less aggregate. (Float sums would NOT be: per-batch
    reduction order differs.) The pattern is how production streams get
    per-batch audit counters without a second pass."""
    session = stream_session(spark)
    stream = events_stream(session, sf_dir)
    guarded = F.when(
        ~F.isnan("value") & (F.abs("value") != float("inf")),
        F.col("value"),
    ).cast("decimal(18,2)")
    # metrics cross the JVM->Python boundary as JSON: a decimal would be
    # parsed back as FLOAT and lose exactness — ship integer CENTS
    observed = stream.observe(
        "audit",
        F.count(F.lit(1)).cast("bigint").alias("b_rows"),
        (F.sum(guarded) * 100).cast("bigint").alias("b_sum_cents"),
    )
    q = run_available_now(observed)
    n_rows, cents = 0, 0
    for p in q.recentProgress:
        m = p.get("observedMetrics", {}).get("audit")
        if m:
            n_rows += m["b_rows"]
            if m["b_sum_cents"] is not None:
                cents += m["b_sum_cents"]
    # cents/100.0 and DuckDB's CAST(decimal AS DOUBLE) are both the
    # correctly-rounded double of the same rational -> bit-identical
    return session.createDataFrame(
        [(n_rows, cents / 100.0)], "n_rows bigint, sum_value double"
    )


def streaming_chained_rollup(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    group_col: str = "event_type",
    watermark: str = "2 hours",
) -> DataFrame:
    """TWO chained stateful window aggregations in one streaming query —
    the multi-stateful-operator pipeline (Spark ≥3.4): hourly counts per
    group roll up into 6-hour summaries without leaving the stream. The
    second window keys on ``window_time()`` of the first (the event-time
    column Spark propagates the watermark through). Append mode is
    REQUIRED for chained stateful ops: each hourly window flows into the
    rollup exactly once, when the watermark passes its end; the rollup
    window closes under the SAME watermark, so a closed 6-hour window has
    necessarily absorbed all six hourly buckets. Aggregates are exact
    ints (sum/max/count of counts) — cross-engine deterministic."""
    hourly = (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), "1 hour").alias("w"), F.col(group_col))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        hourly.groupBy(
            F.window(F.window_time("w"), "6 hours").alias("w6"),
            F.col(group_col),
        )
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.max("n").cast("bigint").alias("max_hourly"),
            F.count(F.lit(1)).cast("bigint").alias("n_hourly_buckets"),
        )
        .select(
            F.unix_micros("w6.start").alias("win_start_us"),
            F.col(group_col),
            "n_events",
            "max_hourly",
            "n_hourly_buckets",
        )
    )


def run_streaming_chained_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Events parquet stream → hourly agg → 6-hour rollup → memory sink,
    Trigger.AvailableNow + the closing no-data batch. Append emits each
    rollup window once when the final watermark (max event time − delay)
    passes its end — the oracle cuts the identical tail."""
    session = stream_session(spark)
    run_available_now(streaming_chained_rollup(events_stream(session, sf_dir)))
    return session.table(SINK)


def run_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline streaming-state inspection (Spark ≥4.0 State Data
    Source): run a checkpointed tumbling aggregation, then read the
    state store back with ``spark.read.format("statestore")`` — the ops
    tool for debugging stuck streaming jobs without replaying them. In
    complete mode nothing evicts, so the state is EXACTLY the full
    (window, type) aggregate and the read-back is oracle-checkable."""
    import os
    import shutil
    import tempfile

    session = stream_session(spark)
    # per-application path: two concurrent sessions on one machine must
    # not rmtree each other's live checkpoint (ADVICE r6 #4)
    app = session.sparkContext.applicationId.replace(":", "_")
    ckpt = os.path.join(
        tempfile.gettempdir(), f"bdrr_state_reader_ckpt_{app}"
    )
    shutil.rmtree(ckpt, ignore_errors=True)
    stream = events_stream(session, sf_dir)
    agg = (
        stream.groupBy(
            F.window(F.col("ts"), "1 hour").alias("w"), F.col("event_type")
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    run_available_now(agg, output_mode="complete", checkpoint=ckpt)
    state = session.read.format("statestore").load(ckpt)
    # the value struct's field carries the INTERNAL aggregate buffer name
    # ("count"), not the output alias — resolve it positionally
    buf_field = state.schema["value"].dataType.fields[0].name
    return state.select(
        F.unix_micros(F.col("key.window.start")).alias("win_start_us"),
        F.col("key.event_type").alias("event_type"),
        F.col(f"value.{buf_field}").cast("bigint").alias("n_events"),
    )


def run_streaming_dynamic_gap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DYNAMIC-GAP streaming sessionization: ``session_window`` with a
    per-event gap expression (purchases hold the session open 60 min,
    everything else 30) — the Spark ≥3.2 feature the fixed-gap variant
    can't express. Sessions are the union of overlapping
    ``[ts, ts+gap_e)`` intervals; the relational twin is the running
    ``MAX(ts+gap)`` interval-union islands pattern, which the DuckDB
    oracle replays exactly (an event starting AT the previous max end
    begins a NEW session — interval overlap is strict, same boundary
    rule as fixed-gap session_window)."""
    session = stream_session(spark)
    stream = events_stream(session, sf_dir).filter(
        F.col("user_id").isNotNull()
    )
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("60 minutes")
    ).otherwise(F.lit("30 minutes"))
    out = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(
            F.col("user_id"),
            F.session_window(F.col("ts"), gap).alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("start_us"),
            F.unix_micros("w.end").alias("end_us"),
            "n_events",
        )
    )
    run_available_now(out, output_mode="complete")
    return session.table(SINK)
