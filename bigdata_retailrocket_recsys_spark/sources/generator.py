"""Deterministic synthetic events generator — a pure-Python custom data
source on Spark 4's Python Data Source API (``pyspark.sql.datasource``).

Why an engine needs this at 100 TB: scale/soak tests should not require
storing 100 TB first. A generator source synthesizes any volume with
N parallel tasks (one per ``partitions`` option) and ZERO storage or
shuffle — each task derives its row range arithmetically, so the source
scales linearly with requested parallelism and is exactly reproducible
across runs and engines.

Every column is a closed-form function of the global row index ``i`` (no
RNG state), which makes the output expressible in ANY engine — the DuckDB
oracle reproduces it from ``range(n)`` — and keeps per-task generation
independent: task k generates rows [k·rows/P, (k+1)·rows/P) without
coordination.

The reference ingests fixed CSVs (prepare_training_data_pyspark.py:70-71);
this is the engine's synthetic-ingest extension (SURVEY §2.11 family).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
)

#: closed-form column recipe (mirrored in the q_scan_pysource oracle):
#:   event_id = i
#:   ts       = START_US + i * step_us          (µs since epoch, UTC)
#:   user_id  = (i * 2654435761) % n_users      (Knuth multiplicative hash)
#:   event_type = TYPES[(i * 7) % len(TYPES)]
#:   value    = ((i * 48271) % 100000) / 100.0  (MINSTD multiplier)
TYPES = ("view", "click", "purchase", "signup", "error")
START_US = 1_704_067_200_000_000  # 2024-01-01 UTC


@dataclass
class _Range(InputPartition):
    start: int
    end: int


class EventsGenReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.rows = int(options.get("rows", 10_000))
        self.parts = max(1, int(options.get("partitions", 8)))
        self.n_users = int(options.get("n_users", 1_000))
        self.step_us = int(options.get("step_us", 1_000_000))

        self.lo = 0  # half-open [lo, hi) row range after filter pushdown
        self.hi = self.rows

    def pushFilters(self, filters):
        """Range/point predicates on ``event_id`` (== the global row index)
        are CONSUMED as arithmetic partition pruning — the clipped rows are
        never generated at all, the custom-source analogue of parquet
        row-group pruning. Everything else is returned for Spark to
        evaluate post-scan (the list is an AND, so consuming a conjunct is
        always sound)."""
        remaining = []
        for f in filters:
            if getattr(f, "attribute", None) == ("event_id",) and isinstance(
                getattr(f, "value", None), int
            ):
                if isinstance(f, GreaterThan):
                    self.lo = max(self.lo, f.value + 1)
                    continue
                if isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, f.value)
                    continue
                if isinstance(f, LessThan):
                    self.hi = min(self.hi, f.value)
                    continue
                if isinstance(f, LessThanOrEqual):
                    self.hi = min(self.hi, f.value + 1)
                    continue
                if isinstance(f, EqualTo):
                    self.lo = max(self.lo, f.value)
                    self.hi = min(self.hi, f.value + 1)
                    continue
            remaining.append(f)
        return remaining

    def partitions(self) -> list[_Range]:
        lo, hi = self.lo, min(self.hi, self.rows)
        n = max(hi - lo, 0)
        per = -(-max(n, 1) // self.parts)  # ceil — last partition may be short
        return [
            _Range(lo + k * per, min(lo + (k + 1) * per, hi))
            for k in range(self.parts)
            if lo + k * per < hi
        ] or [_Range(0, 0)]

    def read(self, partition: _Range) -> Iterator["pa.RecordBatch"]:
        # bounded batches: a huge partition streams as 64k-row RecordBatches
        # instead of materializing once (constant memory per task)
        for lo in range(partition.start, partition.end, 65_536):
            yield _arrow_batch(
                lo, min(lo + 65_536, partition.end), self.n_users, self.step_us
            )


_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _arrow_batch(start: int, end: int, n_users: int, step_us: int):
    """Vectorized generation of rows [start, end) as ONE Arrow RecordBatch —
    the high-throughput form of a Python source (Spark consumes RecordBatch
    iterators zero-copy; per-row tuple yielding pays Python object cost per
    cell). All modular arithmetic is reduced first ((a·b) mod m ==
    ((a mod m)·(b mod m)) mod m), so no intermediate exceeds int64 at any
    row count."""
    import numpy as np
    import pyarrow as pa

    i = np.arange(start, end, dtype=np.int64)
    ts_us = START_US + i * step_us
    user = ((i % n_users) * (2654435761 % n_users)) % n_users
    etype = np.array(TYPES, dtype=object)[((i % 5) * 7) % 5]
    value = (((i % 100_000) * 48271) % 100_000) / 100.0
    return pa.RecordBatch.from_arrays(
        [
            pa.array(i, type=pa.int64()),
            pa.array(ts_us, type=pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            pa.array(user, type=pa.int64()),
            pa.array(etype, type=pa.string()),
            pa.array(value, type=pa.float64()),
        ],
        names=["event_id", "ts", "user_id", "event_type", "value"],
    )


def _row(i: int, n_users: int, step_us: int) -> tuple:
    us = START_US + i * step_us
    return (
        i,
        # integer timedelta, not fromtimestamp(us/1e6): float seconds have
        # ~0.5µs resolution at 2024 epochs and would round sub-second steps
        _EPOCH + timedelta(microseconds=us),
        (i * 2654435761) % n_users,
        TYPES[(i * 7) % len(TYPES)],
        ((i * 48271) % 100_000) / 100.0,
    )


class EventsGenStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch reader over the same closed-form rows: the offset IS the
    global row index ({"i": n}), so exactly-once replay after failure is
    arithmetic — restart from the checkpointed offset and regenerate the
    identical rows. ``batch_rows`` rows per micro-batch until ``rows`` is
    exhausted, then empty batches. NOTE: Python micro-batch sources do not
    support Trigger.AvailableNow (Spark falls back to ONE batch) — bounded
    consumers should poll the sink until sum(rows) == ``rows`` and stop
    (see q_stream_pysource)."""

    def __init__(self, options: dict) -> None:
        self.rows = int(options.get("rows", 10_000))
        self.batch_rows = int(options.get("batch_rows", self.rows))
        self.n_users = int(options.get("n_users", 1_000))
        self.step_us = int(options.get("step_us", 1_000_000))

    def initialOffset(self) -> dict:
        return {"i": 0}

    def read(self, start: dict):
        i0 = int(start["i"])
        i1 = min(i0 + self.batch_rows, self.rows)
        # a LIST iterator, not a generator: Spark's prefetch cache copies
        # the iterator (copy.copy) and generators are not copyable
        rows = iter([_row(i, self.n_users, self.step_us) for i in range(i0, i1)])
        return rows, {"i": i1}

    def commit(self, end: dict) -> None:
        pass


class EventsGeneratorDataSource(DataSource):
    """``spark.read.format("bdrr_events_gen")`` — options: rows, partitions,
    n_users, step_us. Register once per session with
    ``spark.dataSource.register(EventsGeneratorDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "bdrr_events_gen"

    def schema(self) -> str:
        return (
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double"
        )

    def reader(self, schema) -> EventsGenReader:
        return EventsGenReader(self.options)

    def simpleStreamReader(self, schema) -> EventsGenStreamReader:
        return EventsGenStreamReader(self.options)


def register_events_generator(spark) -> None:
    # opt-in conf gate for DataSourceReader.pushFilters (Spark 4.1)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(EventsGeneratorDataSource)


def run_generator_stream(
    spark,
    *,
    rows: int = 30_000,
    batch_rows: int = 10_000,
    timeout_s: float = 120.0,
):
    """Drive the generator's micro-batch reader to exhaustion in the
    caller's stream session: complete-mode aggregate over
    ``rows // batch_rows`` batches, polling the memory sink until every
    generated row is accounted for (Python micro-batch sources don't
    support Trigger.AvailableNow), then stop. Returns the final
    aggregate — batch-equal, so the catalog query carries a full oracle."""
    import time

    from pyspark.sql import functions as F

    from bigdata_retailrocket_recsys_spark.streaming import (
        SINK,
        stream_session,
    )

    session = stream_session(spark)
    register_events_generator(session)
    st = (
        session.readStream.format("bdrr_events_gen")
        .option("rows", rows)
        .option("batch_rows", batch_rows)
        .load()
    )
    out = st.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
        F.min(F.unix_micros("ts")).alias("first_ts_us"),
        F.max(F.unix_micros("ts")).alias("last_ts_us"),
    )
    q = (
        out.writeStream.format("memory")
        .queryName(SINK)
        .outputMode("complete")
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + timeout_s
    got = 0
    while time.time() < deadline:
        got = session.table(SINK).agg(F.sum("n_events")).collect()[0][0] or 0
        if got >= rows:
            break
        time.sleep(0.3)
    q.stop()
    q.awaitTermination()
    if got < rows:
        # the stream may have delivered the remaining rows between the last
        # poll and the deadline — re-read once after stop before deciding
        got = session.table(SINK).agg(F.sum("n_events")).collect()[0][0] or 0
    if got < rows:
        # A partial aggregate must be a loud timeout, not a confusing oracle
        # hash mismatch downstream (ADVICE r2 #4).
        raise TimeoutError(
            f"run_generator_stream: sink reached {got}/{rows} rows within "
            f"{timeout_s}s — raise timeout_s or reduce rows"
        )
    return session.table(SINK)
