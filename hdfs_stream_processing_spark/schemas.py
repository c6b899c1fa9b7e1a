"""Fixed StructType registry for every table the engine touches.

The reference infers schemas three different ways (inferSchema on batch CSV,
utils/spark_transforming.py:82; inferSchema again in the generator,
data_generator/dataframe_to_kafka.py:78; hand-rolled split/cast on the
stream, spark_streaming/convert-to-elasticsearch.py:107-114).  Column
identity there depends on alphabetical HDFS listing order — a fragility we
replace with one declared schema per table and explicit casts at
boundaries.  At 100 TB, inferSchema is also a full extra pass over the
data; declared schemas make every scan single-pass.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Driver test tables (/root/testdata/sf*/; FIXTURES.md §2)
# --------------------------------------------------------------------------

DRIVER_TABLES: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
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
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

# --------------------------------------------------------------------------
# Reference-native shapes (FIXTURES.md §1)
# --------------------------------------------------------------------------

SENSOR_METRICS = ["co2", "humidity", "light", "pir", "temperature"]

#: Unified wide sensors table — output of the alignment join + union
#: (utils/spark_transforming.py:97-114,128,143-149).  The streaming consumers
#: parse the same columns but with narrower types (FloatType metrics,
#: IntegerType ts, StringType event_ts_min, convert-to-elasticsearch.py:107-114);
#: we deliberately upgrade to double/long/timestamp engine-wide — one schema,
#: no Int-overflow trap, real timestamps until the sink boundary.
SENSORS_WIDE = T.StructType(
    [T.StructField("ts_min_bignt", T.LongType())]
    + [T.StructField(m, T.DoubleType()) for m in SENSOR_METRICS]
    + [
        T.StructField("room", T.StringType()),
        T.StructField("event_ts_min", T.TimestampType()),
    ]
)

#: Wide table + derived classification column (convert-to-elasticsearch.py:120-134).
SENSORS_CLASSIFIED = T.StructType(
    SENSORS_WIDE.fields + [T.StructField("if_movement", T.StringType())]
)


def schema_for(table: str) -> T.StructType:
    if table in DRIVER_TABLES:
        return DRIVER_TABLES[table]
    raise KeyError(f"no registered schema for table {table!r}")


def ddl_for(table: str) -> str:
    """Valid DDL string form (``name TYPE, ...``) for from_csv / createDataFrame."""
    schema = schema_for(table)
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
