"""Declared schemas for the fixture tables + the CDC envelope.

The reference declares fixed schemas as Java beans per warehouse layer
(lombok, reference pom.xml:88-93; commons-beanutils
realtime-common/pom.xml:55-58). This module is the bean package's
replacement: one StructType per table (FIXTURES.md), plus the
Debezium-style CDC envelope the MySQL-CDC source emits
(flink-connector-mysql-cdc, realtime-common/pom.xml:33-36).

Declared schemas matter at scale: schema inference over 100 TB of files
is a full-data pass; an explicit StructType makes the scan zero-cost to
plan and keeps streaming sources (which *require* a schema) in sync with
batch.
"""

from __future__ import annotations

from pyspark.sql import types as T

region = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)

nation = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)

customer = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)

supplier = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("s_acctbal", T.DoubleType()),
    ]
)

part = T.StructType(
    [
        T.StructField("p_partkey", T.LongType()),
        T.StructField("p_name", T.StringType()),
        T.StructField("p_brand", T.StringType()),
        T.StructField("p_type", T.StringType()),
        T.StructField("p_size", T.IntegerType()),
        T.StructField("p_retailprice", T.DoubleType()),
    ]
)

orders = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampNTZType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

lineitem = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_suppkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_discount", T.DoubleType()),
        T.StructField("l_tax", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_linestatus", T.StringType()),
        T.StructField("l_shipdate", T.TimestampNTZType()),
    ]
)

# events.parquet's timestamp column scans differently by environment
# (LongType epoch-nanos under legacy nanosAsLong; TIMESTAMP_NTZ on
# Spark 4.1+). sources/io.py:events_ts_to_timestamp normalizes either
# to TimestampType (µs, UTC). This is the *post-load* engine schema.
events = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

documents = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

embeddings = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

TABLES: dict[str, T.StructType] = {
    "region": region,
    "nation": nation,
    "customer": customer,
    "supplier": supplier,
    "part": part,
    "orders": orders,
    "lineitem": lineitem,
    "events": events,
    "documents": documents,
    "embeddings": embeddings,
}


# Multimodal payload column pattern (SURVEY §2.10 L6): opaque binary +
# typed metadata struct. Decoders are Pandas-UDF stubs (operators/llm/).
multimodal_asset = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                ]
            ),
        ),
    ]
)
