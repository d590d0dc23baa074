"""Avro round-trip (VERDICT r11 #6).

The reference needs no Avro (its IO surface is CSV + Parquet, SURVEY
§2.1); this module exists because a real large-scale intake fleet
usually lands on Avro or Kafka. Spark documents Avro as an EXTERNAL
datasource module (the ``"avro"`` short name resolves through the
``spark-avro`` connector jar's ServiceLoader registration, deployed via
``--packages org.apache.spark:spark-avro_2.13:<version>``) — that jar is
absent here. HOWEVER, since Spark 4 the implementation class
``org.apache.spark.sql.avro.AvroFileFormat`` ships inside
``spark-sql_2.13`` itself (verified: Class.forName resolves from
spark-sql_2.13-4.1.2.jar and a full round-trip works) — only the alias
registration is external. These wrappers therefore resolve the format
name at call time: the ``"avro"`` alias when the connector is deployed,
else the full provider class name, else (older/unbundled builds) a loud
NotImplementedError with deployment guidance.

Scale notes: Avro is a row-major ingest/wire format — land it, then
convert to Parquet for analytics (columnar pruning/pushdown do not exist
in Avro scans). Schema evolution rides the embedded writer schema; pass
``avro_schema`` to pin a reader schema across heterogeneous files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_PROVIDER_CLASS = "org.apache.spark.sql.avro.AvroFileFormat"


def _alias_registered(spark: SparkSession) -> bool:
    """True when the external spark-avro connector's ServiceLoader
    registration makes the short ``"avro"`` name resolvable."""
    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(  # type: ignore[union-attr]
            "avro", spark._jsparkSession.sessionState().conf()
        )
        return True
    except Exception:
        return False


def _provider_on_classpath(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(_PROVIDER_CLASS)  # type: ignore[union-attr]
        return True
    except Exception:
        return False


def avro_format(spark: SparkSession) -> str:
    """The format string to pass to ``.format(...)``: ``"avro"`` when the
    connector alias is registered, else the bundled provider class name
    (Spark 4 ships it in spark-sql), else raises with deployment
    guidance."""
    if _alias_registered(spark):
        return "avro"
    if _provider_on_classpath(spark):
        return _PROVIDER_CLASS
    raise NotImplementedError(
        "Avro needs the spark-avro connector (the 'avro' alias) or a "
        "Spark build bundling org.apache.spark.sql.avro.AvroFileFormat; "
        "neither is on this classpath. Deploy with --packages "
        "org.apache.spark:spark-avro_2.13:<spark-version>; use Parquet/"
        "ORC/JSON/CSV/XML or the python-datasource intake meanwhile."
    )


def avro_available(spark: SparkSession) -> bool:
    """True when either resolution tier works."""
    try:
        avro_format(spark)
        return True
    except NotImplementedError:
        return False


def write_avro(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """Write ``df`` as Avro files."""
    df.write.mode(mode).format(avro_format(df.sparkSession)).save(path)


def read_avro(
    spark: SparkSession, path: str, *, avro_schema: str | None = None
) -> DataFrame:
    """Read Avro files; ``avro_schema`` (a JSON Avro schema string) pins
    a reader schema across files written under evolving writer
    schemas."""
    r = spark.read.format(avro_format(spark))
    if avro_schema is not None:
        r = r.option("avroSchema", avro_schema)
    return r.load(path)


