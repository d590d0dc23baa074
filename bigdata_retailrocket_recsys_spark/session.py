"""SparkSession factory with deterministic, scale-minded defaults.

The reference configures its session at prepare_training_data_pyspark.py:53-59
(local[*], driver 4g, shuffle.partitions=200, /tmp spill dir) and enables AQE
in the notebook (ipynb cell 5). We keep those ideas but pin semantics that the
reference leaves implicit (SURVEY.md §4.4):

- ``spark.sql.session.timeZone=UTC`` — ``from_unixtime``/``hour``/``dayofweek``
  are session-timezone dependent; pinning UTC makes every run reproducible.
- AQE on (coalescing, skew-join splitting) — the runtime re-planner that makes
  a fixed shuffle-partition count survive a 100× scale-up.
- Arrow enabled — any unavoidable pandas interchange is vectorized.

At 100 TB the same code runs unchanged on a real cluster: only ``master`` and
the sizing knobs move to spark-submit / cluster conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "bigdata-retailrocket-recsys-spark"


def _cpus() -> str:
    """The local core count: ``SPARK_GRAFT_CPUS``, else the machine's."""
    return os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))


def _default_master() -> str:
    return os.environ.get("SPARK_MASTER", f"local[{_cpus()}]")


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "8g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``shuffle_partitions`` defaults to the local core count: measured on the
    sf0.1 pipeline, 64 partitions (2× cores) cost 26s vs 13s at 32 — task
    scheduling overhead dominates small shuffles, and AQE's coalescing floor
    (defaultParallelism under parallelismFirst) can't rescue a too-wide
    default locally. On a real cluster pass ~2-3× total executor cores and
    let AQE coalesce per stage.
    """
    master = master or _default_master()
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(_cpus()), 4)
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- determinism (SURVEY.md §4.4) ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- runtime re-optimization: the scale story ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- IO ---
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Driver testdata timestamp encodings vary by round (TIMESTAMP_NANOS
        # → int64 under nanosAsLong; TIMESTAMP_MICROS naive → LTZ with
        # inferTimestampNTZ off). sources.readers normalizes both to UTC
        # instants; the confs are ALSO pinned there at read time because the
        # external driver builds a vanilla session without this factory.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- python interchange is Arrow-batched, never row-at-a-time ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/tmp/spark-local"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
