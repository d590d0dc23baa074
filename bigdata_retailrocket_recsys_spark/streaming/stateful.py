"""Custom stateful streaming operator: exact-gap sessionization via
``applyInPandasWithState``.

``session_window`` (sessionize_stream.py) covers the built-in path but its
merge rule differs from the reference's batch rule at the exact-gap
boundary (>= starts a new session vs the batch ``gap_us > gap`` keeping
it — SURVEY §4.4). This operator carries the BATCH rule into streaming:
per-user state holds the open session (start, last_ts, count); closed
sessions emit as soon as the closing event arrives; an event-time timeout
(watermark + gap) flushes sessions with no successor. Arrow-batched
(pandas), grouped state — the Spark-native custom-stateful-operator shape.

At 100 TB/continuous: state per key is three int64s (bounded), the
watermark bounds state lifetime, and hot users are a state-store shard
concern, not a shuffle-skew concern (state is hash-partitioned by user).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_retailrocket_recsys_spark.sources.readers import events_stream
from bigdata_retailrocket_recsys_spark.streaming import (
    SINK,
    run_available_now,
    stream_session,
)
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_us", LongType()),
        StructField("session_end_us", LongType()),
        StructField("n_events", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)


def make_sessionizer(gap_us: int):
    """Build the per-group stateful function (closure over the gap)."""

    def sessionize_group(
        key: tuple, pdf_iter: Iterator["pd.DataFrame"], state: Any
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            # no successor within gap past the watermark — flush and drop
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                [(user_id, start_us, last_us, n)],
                columns=[f.name for f in OUTPUT_SCHEMA],
            )
            return

        start_us = last_us = None
        n = 0
        if state.exists:
            start_us, last_us, n = state.get

        out: list[tuple] = []
        for pdf in pdf_iter:
            for ts_us in sorted(int(t) for t in pdf["ts_us"]):
                if last_us is None:
                    start_us, last_us, n = ts_us, ts_us, 1
                elif ts_us - last_us > gap_us:  # strict >: the BATCH rule
                    out.append((user_id, start_us, last_us, n))
                    start_us, last_us, n = ts_us, ts_us, 1
                else:
                    last_us, n = ts_us, n + 1

        if last_us is not None:
            state.update((int(start_us), int(last_us), int(n)))
            # flush when the watermark passes last event + gap (ms epoch)
            state.setTimeoutTimestamp((last_us + gap_us) // 1000)
            # update-mode emit of the (possibly still-open) session: each
            # micro-batch upserts the row keyed (user_id, session_start_us)
            out.append((user_id, start_us, last_us, n))

        yield pd.DataFrame(out, columns=[f.name for f in OUTPUT_SCHEMA])

    return sessionize_group


def stateful_sessionize(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming (or batch) gap sessionization with reference-exact
    semantics. Input needs ``user_col`` and a timestamp ``ts_col``.
    Output: user_id, session_start_us, session_end_us (last event, NOT
    +gap), n_events — upserted per micro-batch, final row per session
    appears once its timeout fires or the stream is bounded."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    prepared = events.select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("ts"),
        F.unix_micros(ts_col).alias("ts_us"),
    )
    if prepared.isStreaming:
        prepared = prepared.withWatermark("ts", watermark)
    return prepared.groupBy("user_id").applyInPandasWithState(
        make_sessionizer(gap_minutes * 60 * 1_000_000),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def run_stateful_sessionize(
    spark,
    sf_dir: str,
    *,
    gap_minutes: int = 30,
) -> DataFrame:
    """Events table → file stream → applyInPandasWithState → memory sink
    (AvailableNow). The bounded source arrives as one micro-batch, so the
    update-mode upserts ARE the final sessions — value-equal to batch
    sessionization with the strict-> rule."""
    session = stream_session(spark)
    # batch-sessionize ingest policy: a session needs an identified user
    # and an event time (operators/sessionize.py applies the same filter)
    stream = events_stream(session, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    out = stateful_sessionize(stream, gap_minutes=gap_minutes)
    run_available_now(out, output_mode="update")
    # the memory sink APPENDS update-mode rows; a real update sink upserts
    # by (user_id, session_start_us). AvailableNow runs a trailing
    # micro-batch where event-time timeouts flush — re-emitting the same
    # final row — so the append log contains exact duplicates: dedupe.
    return session.table(SINK).distinct()
