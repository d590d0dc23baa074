"""Streaming package. Every streaming entry point starts its query
through this module:

- :func:`stream_session` is the session a caller's streams run in. It
  is a ``newSession()`` of the caller's (same SparkContext, its own SQL
  conf) with UTC event time, as many shuffle partitions as the context
  has cores (stateful operators take that as their state-store width),
  and the RocksDB state store: the production state backend (state
  lives off-heap/on-disk with incremental checkpointing, so
  watermark/session/join state survives executor heap pressure at
  100 TB ingest; the HDFS-backed default keeps ALL state on the JVM heap
  and dies first at scale). The caller's conf is never touched.
- :func:`staged_stream` replays frames as files, one micro-batch each.
- :func:`run_available_now` runs a query to the end of its input.

A runner builds its stream, and every static side it reads, on the
stream session and returns a frame read there: the caller's session
cannot see the stream session's temp views.
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from bigdata_retailrocket_recsys_spark.sources.scratch import session_scratch

# the memory sink's table in the stream session; each run replaces it,
# and a frame read from an earlier run keeps that run's rows
SINK = "bdrr_stream_sink"


def stream_session(spark: SparkSession) -> SparkSession:
    """The caller's one stream session, made on first use and kept on
    the caller's session object. One per caller, not one per run: the
    first query a session starts adds a listener to the SparkContext that
    is never removed."""
    session = getattr(spark, "_stream_session", None)
    if session is None:
        session = spark.newSession()
        session.conf.set("spark.sql.session.timeZone", "UTC")
        session.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        session.conf.set(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )
        spark._stream_session = session
    return session


def staged_stream(
    session: SparkSession, name: str, parts: list[DataFrame]
) -> DataFrame:
    """Write each frame of ``parts`` as one parquet file under
    ``session_scratch(name)`` and stream the files back in that order,
    one micro-batch each (files are taken oldest first)."""
    stage = session_scratch(session, name)
    for i, part in enumerate(parts):
        part.coalesce(1).write.mode("overwrite").parquet(f"{stage}/f={i}")
    return (
        session.readStream.schema(parts[0].schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(stage + "/f=*")
    )


def run_available_now(
    stream: DataFrame,
    *,
    output_mode: str = "append",
    foreach_batch=None,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Run ``stream`` under ``Trigger.AvailableNow`` until its input is
    consumed and return the finished query. The sink is ``foreach_batch``
    when given, else the memory table :data:`SINK` of the stream's
    session."""
    writer = stream.writeStream.outputMode(output_mode).trigger(
        availableNow=True
    )
    if foreach_batch is not None:
        writer = writer.foreachBatch(foreach_batch)
    else:
        writer = writer.format("memory").queryName(SINK)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    query = writer.start()
    query.awaitTermination()
    return query


from bigdata_retailrocket_recsys_spark.streaming.sessionize_stream import (  # noqa: E402
    run_streaming_sessionize,
    streaming_session_stats,
)

__all__ = [
    "SINK",
    "run_available_now",
    "run_streaming_sessionize",
    "staged_stream",
    "stream_session",
    "streaming_session_stats",
]
