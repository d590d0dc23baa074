"""Explicit StructType contracts.

The reference relies on ``inferSchema=True`` CSV reads
(prepare_training_data_pyspark.py:71,149-150) then pins types with casts.
At 100 TB inference is a full extra pass over the data — this engine declares
schemas up front (SURVEY.md §1.3) and keeps the same post-projection
column contracts.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --- driver testdata tables (/root/testdata/sf*/, TESTDATA.md) -------------

TESTDATA_SCHEMAS: dict[str, StructType] = {
    "region": StructType(
        [StructField("r_regionkey", IntegerType()), StructField("r_name", StringType())]
    ),
    "nation": StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
        ]
    ),
    "customer": StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_nationkey", IntegerType()),
            StructField("c_acctbal", DoubleType()),
            StructField("c_mktsegment", StringType()),
        ]
    ),
    "supplier": StructType(
        [
            StructField("s_suppkey", LongType()),
            StructField("s_name", StringType()),
            StructField("s_nationkey", IntegerType()),
            StructField("s_acctbal", DoubleType()),
        ]
    ),
    "part": StructType(
        [
            StructField("p_partkey", LongType()),
            StructField("p_name", StringType()),
            StructField("p_brand", StringType()),
            StructField("p_type", StringType()),
            StructField("p_size", IntegerType()),
            StructField("p_retailprice", DoubleType()),
        ]
    ),
    "orders": StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderdate", TimestampType()),
            StructField("o_orderpriority", StringType()),
        ]
    ),
    "lineitem": StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_partkey", LongType()),
            StructField("l_suppkey", LongType()),
            StructField("l_linenumber", IntegerType()),
            StructField("l_quantity", DoubleType()),
            StructField("l_extendedprice", DoubleType()),
            StructField("l_discount", DoubleType()),
            StructField("l_tax", DoubleType()),
            StructField("l_returnflag", StringType()),
            StructField("l_linestatus", StringType()),
            StructField("l_shipdate", TimestampType()),
        ]
    ),
    "events": StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    ),
    "documents": StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    ),
    "embeddings": StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    ),
}
