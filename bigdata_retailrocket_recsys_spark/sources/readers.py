"""Sources: CSV + Parquet scans with explicit schemas.

Reference sites: CSV scan with header+inferSchema
(prepare_training_data_pyspark.py:70-71, 146-153), parquet re-read
(ipynb cell 24). We replace schema inference with explicit ``StructType``
(one pass, deterministic — SURVEY.md §1.3/S1) but keep an opt-in
``infer_schema`` escape hatch for exploration.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bigdata_retailrocket_recsys_spark.schemas import TESTDATA_SCHEMAS


def read_csv(
    spark: SparkSession,
    paths: str | list[str],
    schema: StructType | None = None,
    *,
    header: bool = True,
    infer_schema: bool = False,
) -> DataFrame:
    """CSV scan (reference S1/S2). Multiple paths union-read in one scan —
    the engine form of the reference's two-file property read (py:146-153)."""
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", True)
    return reader.csv(paths)


def read_parquet(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Parquet scan (reference S4). Schema comes from parquet footers; filters
    and projections push down to row-group pruning automatically."""
    if isinstance(paths, str):
        paths = [paths]
    return spark.read.parquet(*paths)


#: testdata columns whose physical parquet encoding has varied across driver
#: rounds: TIMESTAMP(NANOS) int64 (round 1 — Spark reads LongType under
#: ``spark.sql.legacy.parquet.nanosAsLong``) or TIMESTAMP(MICROS,
#: isAdjustedToUTC=false) (round 2+ — Spark reads TIMESTAMP_NTZ). Both are
#: normalized here to a UTC-instant TimestampType so every downstream
#: ``unix_micros`` / window / date_trunc sees ONE type and µs precision
#: (ns case floors ns→µs, the same truncation DuckDB applies).
_EVENT_TS_COLS: dict[str, list[str]] = {"events": ["ts"]}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md) with normalized types.

    Works on ANY caller-provided SparkSession (the driver builds its own):
    the two runtime confs the engine's semantics depend on are pinned here —
    ns-as-long parquet reads and the UTC session timezone (SURVEY §4.4).
    """
    if name not in TESTDATA_SCHEMAS:
        raise KeyError(f"unknown testdata table {name!r}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # naive parquet timestamps read as LTZ (UTC instants) AT THE SCAN —
    # keeps ts range predicates pushdown-able into row-group pruning,
    # where a post-scan NTZ→LTZ projection would block them
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    for col in _EVENT_TS_COLS.get(name, []):
        dt = dict(df.dtypes).get(col)
        if dt == "bigint":  # TIMESTAMP(NANOS) read as raw ns int64
            # FLOOR(ns/1000), not `div` (trunc): pre-1970 ns would round
            # toward zero and land 1µs above the DuckDB oracle's floor.
            # Subtracting pmod makes the division exact, so trunc ≡ floor
            # regardless of engine/version semantics.
            df = df.withColumn(
                col,
                F.timestamp_micros(
                    F.expr(f"(`{col}` - pmod(`{col}`, 1000)) div 1000")
                ),
            )
        elif dt == "timestamp_ntz":  # fallback if inferTimestampNTZ pin is lost
            df = df.withColumn(col, F.to_utc_timestamp(F.col(col), "UTC"))
    return df


def _events_ts_unit(path: str) -> str:
    """Physical time unit of ``events.ts`` ('ns' or 'us') from the parquet
    footer — a driver-side metadata peek, no data read."""
    import pyarrow.parquet as pq

    typ = pq.ParquetFile(path).schema_arrow.field("ts").type
    return getattr(typ, "unit", "us")


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events table, ``ts`` normalized to a UTC
    TIMESTAMP instant at µs precision.

    File streams require an explicit schema up front, so the dtype probe
    ``load_table`` uses is unavailable — instead the parquet footer decides
    the layout: TIMESTAMP(NANOS) reads as raw int64 ns (floored to µs),
    TIMESTAMP(MICROS, naive) reads as TIMESTAMP_NTZ (re-tagged as a UTC
    instant). Both land on the exact same values as ``load_table``.

    Event-time domain contract: rows with NULL or pre-epoch (ts < 1970)
    event time are filtered HERE, at the source. Structured Streaming's
    initial watermark is 0 (the epoch), so pre-epoch rows are
    late-by-construction — measured on Spark 4.1: a stateful
    session_window agg drops exactly the sessions whose window end < 0,
    while a complete-mode tumbling agg keeps them, i.e. the drop is
    OPERATOR-DEPENDENT. Filtering at the seam replaces that per-operator
    behavior with one deterministic, DuckDB-expressible rule
    (``ts IS NOT NULL AND epoch_us(ts) >= 0`` in every streaming oracle).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    unit = _events_ts_unit(os.path.join(sf_dir, "events.parquet"))
    ts_ddl = "bigint" if unit == "ns" else "timestamp"
    schema = (
        f"event_id bigint, ts {ts_ddl}, user_id bigint, "
        "event_type string, value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if unit == "ns":
        # FLOOR(ns/1000) — same negative-epoch-safe form as load_table
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000"))
        )
    return stream.filter(
        F.col("ts").isNotNull() & (F.col("ts") >= F.timestamp_micros(F.lit(0)))
    )
