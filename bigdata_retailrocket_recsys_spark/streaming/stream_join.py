"""Stream-stream join (engine extension — SURVEY §2.9).

The reference is pure batch; its view→purchase attribution shape
(candidates × prefix events) would, in a continuous pipeline, be a
watermarked stream-stream join: both sides buffer state, the event-time
range condition bounds how long a row waits for matches, and watermarks
expire state — without them the join state grows forever.

Batch-parity note: with a bounded file source and Trigger.AvailableNow the
whole input arrives before the join's watermark advances, so every
qualifying pair is emitted exactly once and the result equals the batch
join — which is why the catalog query carries a full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_retailrocket_recsys_spark.sources.readers import (
    events_stream,
    load_table,
)
from bigdata_retailrocket_recsys_spark.sources.scratch import session_scratch
from bigdata_retailrocket_recsys_spark.streaming import (
    SINK,
    run_available_now,
    staged_stream,
    stream_session,
)


def run_stream_stream_join(
    spark: SparkSession,
    sf_dir: str,
    *,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: each purchase matched to the
    same user's views in the preceding ``horizon`` (half-open, strict
    ``<`` on the view side — SURVEY §4.4 discipline). Both sides carry
    watermarks + the time-range condition, so Spark can bound and expire
    join state — the production requirement at continuous 100 TB ingest.
    """
    session = stream_session(spark)
    views = (
        events_stream(session, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", watermark)
    )
    purchases = (
        events_stream(session, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    joined = views.join(
        purchases,
        F.expr(
            f"v_user_id = p_user_id AND p_ts > v_ts "
            f"AND p_ts <= v_ts + interval {horizon}"
        ),
        "inner",
    ).select(
        "view_id",
        "purchase_id",
        F.unix_micros("v_ts").alias("view_ts_us"),
        F.unix_micros("p_ts").alias("purchase_ts_us"),
    )
    run_available_now(joined)
    return session.table(SINK)


def run_stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink — the production pattern for exactly-once writes
    to systems without a native streaming sink: each micro-batch arrives
    as a plain DataFrame plus a monotonically increasing batch id, and an
    IDEMPOTENT write (mode=overwrite keyed by batch contents here; in
    production, MERGE on a unique key or overwrite-by-partition) makes
    replays after failure safe. With a bounded source + AvailableNow the
    re-read output equals the batch aggregate → full DuckDB oracle.
    """
    session = stream_session(spark)
    out_path = session_scratch(session, "stream_foreach_batch")
    agg = (
        events_stream(session, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent: a replayed batch overwrites its own previous output
        batch_df.write.mode("overwrite").parquet(out_path)

    run_available_now(agg, output_mode="complete", foreach_batch=write_batch)
    return session.read.parquet(out_path)


def run_stream_upsert_merge(
    spark: SparkSession,
    sf_dir: str,
    *,
    split_at: str = "2024-01-16",
) -> DataFrame:
    """CDC-style serving-table maintenance: a streaming aggregation in
    UPDATE mode + foreachBatch MERGE keeps a parquet snapshot current —
    each micro-batch delivers only the keys whose aggregate changed, and
    :func:`sources.writers.upsert_parquet` folds them into a NEW
    snapshot version (copy-on-write, replay-idempotent: re-merging the
    same batch's cumulative rows is a no-op). Two staged files →
    two batches (``maxFilesPerTrigger=1``); the final snapshot equals
    the batch aggregate over ALL events → full DuckDB oracle.

    This is the production loop for "keep a dashboard/feature table
    fresh from a stream" when the store has no native streaming sink —
    the incremental complement of run_stream_foreach_batch's
    complete-mode overwrite.
    """
    import os as _os

    from bigdata_retailrocket_recsys_spark.sources.writers import (
        upsert_parquet,
    )

    session = stream_session(spark)
    base_path = session_scratch(session, "stream_upsert")
    # the staged time-split replay needs an event time to route each row —
    # NULL-ts and pre-epoch rows are dropped at ingest (the events_stream
    # event-time domain contract, mirrored in the oracle)
    src = (
        load_table(session, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & (F.col("ts") >= F.timestamp_micros(F.lit(0)))
        )
        .select("event_type", "ts", "value")
    )
    cut = F.lit(split_at).cast("timestamp")
    stream = staged_stream(
        session,
        "stream_upsert_stage",
        [src.filter(F.col("ts") < cut), src.filter(F.col("ts") >= cut)],
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_value"),
    )

    versions: list[str] = []

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = _os.path.join(base_path, f"v{batch_id}")
        if not versions:
            batch_df.write.mode("overwrite").parquet(out)
        else:
            upsert_parquet(
                batch_df.sparkSession,
                versions[-1],
                batch_df,
                key_cols=["event_type"],
                out_path=out,
            )
        versions.append(out)

    run_available_now(agg, output_mode="update", foreach_batch=merge_batch)
    return session.read.parquet(versions[-1])


def run_streaming_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static POINT-IN-TIME enrichment against SCD-type-2
    intervals: each streamed event joins the dimension state that was
    valid AT ITS EVENT TIME (`valid_from <= ts < valid_to`, open-ended
    current rows) — the streaming form of the PIT join, and the
    canonical 'enrich a stream against a slowly-changing dimension'
    pattern. The static side is re-resolvable per micro-batch; the join
    is STATELESS (no watermark, no state store — interval lookup into a
    static table), so append mode is exact. Output: per-state event
    counts, batch-deterministic for a bounded source."""
    from pyspark.sql import Window

    session = stream_session(spark)
    ev = load_table(session, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = ev.filter(F.col("ts").isNotNull()).select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("state"),
        F.unix_micros("ts").alias("valid_from_us"),
        F.unix_micros(F.lead("ts").over(w)).alias("valid_to_us"),
    )
    stream = events_stream(session, sf_dir).select(
        "user_id", F.unix_micros("ts").alias("ts_us")
    )
    enriched = stream.join(
        dim,
        (F.col("user_id") == F.col("d_user"))
        & (F.col("ts_us") >= F.col("valid_from_us"))
        & (
            F.col("valid_to_us").isNull()
            | (F.col("ts_us") < F.col("valid_to_us"))
        ),
        "inner",
    ).select("state")
    run_available_now(enriched)
    return (
        session.table(SINK)
        .groupBy("state")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
