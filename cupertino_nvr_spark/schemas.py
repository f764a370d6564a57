"""Explicit StructTypes for every record the engine handles.

The reference enforces a fixed, declared schema at runtime with Pydantic
(reference ``cupertino_nvr/events/schema.py:32-48``); here the same logical
schema is a Spark ``StructType`` that is passed explicitly, never inferred,
so ``from_json`` parsing, Parquet scans and streaming sources all agree.
Every batch table in ``BATCH_TABLES`` has one (``TABLE_SCHEMAS``), with the
types Spark's parquet inference gives the driver data and every field
nullable, as a file scan reports it; ``sources.tables.load_table`` reads
with it, so building a plan over a scan runs no schema-inference job, and
checks it against one parquet footer instead. Validation constraints that
Pydantic carried (e.g. confidence in [0,1], ``events/schema.py:27``) live
in ``operators.filters`` as filter/dead-letter predicates, since Spark
schemas don't carry range checks.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Event domain (reference parity) — SURVEY §1.2
# ---------------------------------------------------------------------------

BBOX_SCHEMA = T.StructType(
    [
        # center + size format (reference events/schema.py:14-20)
        T.StructField("x", T.DoubleType(), False),
        T.StructField("y", T.DoubleType(), False),
        T.StructField("width", T.DoubleType(), False),
        T.StructField("height", T.DoubleType(), False),
    ]
)

DETECTION_SCHEMA = T.StructType(
    [
        T.StructField("class_name", T.StringType(), False),
        T.StructField("confidence", T.DoubleType(), False),  # in [0,1]
        T.StructField("bbox", BBOX_SCHEMA, False),
        T.StructField("tracker_id", T.IntegerType(), True),  # nullable sentinel
    ]
)

DETECTION_EVENT_SCHEMA = T.StructType(
    [
        # reference events/schema.py:32-48, field for field
        T.StructField("instance_id", T.StringType(), False),
        T.StructField("source_id", T.IntegerType(), False),
        T.StructField("frame_id", T.LongType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("model_id", T.StringType(), False),
        T.StructField("inference_time_ms", T.DoubleType(), False),
        T.StructField("detections", T.ArrayType(DETECTION_SCHEMA), False),
        T.StructField("fps", T.DoubleType(), True),
        T.StructField("latency_ms", T.DoubleType(), True),
    ]
)

# Video-frame metadata stream (reference interfaces.py:135-152). Pixels are
# out of scope for the engine; metadata is the probe side of the as-of join.
FRAME_SCHEMA = T.StructType(
    [
        T.StructField("source_id", T.IntegerType(), False),
        T.StructField("frame_id", T.LongType(), False),
        T.StructField("frame_ts", T.TimestampType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)

# Control plane (reference control_plane.py:212-247, 358-433)
COMMAND_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("command", T.StringType(), False),
        T.StructField("params", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("target_instances", T.ArrayType(T.StringType()), True),
    ]
)

ACK_SCHEMA = T.StructType(
    [
        T.StructField("instance_id", T.StringType(), False),
        T.StructField("command", T.StringType(), False),
        T.StructField("ack_status", T.StringType(), False),  # received|completed|error
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("message", T.StringType(), True),
    ]
)

STATUS_SCHEMA = T.StructType(
    [
        T.StructField("instance_id", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("extra", T.StringType(), True),  # JSON blob
    ]
)

# ---------------------------------------------------------------------------
# Driver batch tables (/root/testdata) — FIXTURES.md §A
# ---------------------------------------------------------------------------

REGION_SCHEMA = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType(), True),
        T.StructField("r_name", T.StringType(), True),
    ]
)

NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType(), True),
        T.StructField("n_name", T.StringType(), True),
        T.StructField("n_regionkey", T.IntegerType(), True),
    ]
)

CUSTOMER_SCHEMA = T.StructType(
    [
        T.StructField("c_custkey", T.LongType(), True),
        T.StructField("c_name", T.StringType(), True),
        T.StructField("c_nationkey", T.IntegerType(), True),
        T.StructField("c_acctbal", T.DoubleType(), True),
        T.StructField("c_mktsegment", T.StringType(), True),
    ]
)

SUPPLIER_SCHEMA = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType(), True),
        T.StructField("s_name", T.StringType(), True),
        T.StructField("s_nationkey", T.IntegerType(), True),
        T.StructField("s_acctbal", T.DoubleType(), True),
    ]
)

PART_SCHEMA = T.StructType(
    [
        T.StructField("p_partkey", T.LongType(), True),
        T.StructField("p_name", T.StringType(), True),
        T.StructField("p_brand", T.StringType(), True),
        T.StructField("p_type", T.StringType(), True),
        T.StructField("p_size", T.IntegerType(), True),
        T.StructField("p_retailprice", T.DoubleType(), True),
    ]
)

# TPC-H dates are naive microsecond timestamps in the files: TIMESTAMP_NTZ
ORDERS_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType(), True),
        T.StructField("o_custkey", T.LongType(), True),
        T.StructField("o_orderstatus", T.StringType(), True),
        T.StructField("o_totalprice", T.DoubleType(), True),
        T.StructField("o_orderdate", T.TimestampNTZType(), True),
        T.StructField("o_orderpriority", T.StringType(), True),
    ]
)

LINEITEM_SCHEMA = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType(), True),
        T.StructField("l_partkey", T.LongType(), True),
        T.StructField("l_suppkey", T.LongType(), True),
        T.StructField("l_linenumber", T.IntegerType(), True),
        T.StructField("l_quantity", T.DoubleType(), True),
        T.StructField("l_extendedprice", T.DoubleType(), True),
        T.StructField("l_discount", T.DoubleType(), True),
        T.StructField("l_tax", T.DoubleType(), True),
        T.StructField("l_returnflag", T.StringType(), True),
        T.StructField("l_linestatus", T.StringType(), True),
        T.StructField("l_shipdate", T.TimestampNTZType(), True),
    ]
)

# ``ts`` is TIMESTAMP whatever its encoding in the files (sources.tables)
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)

# Multimodal column convention: opaque payload + typed metadata. The decode
# step is a stub locally (image/audio libs absent) but the schema contract is
# real — see llm/multimodal.py.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.DoubleType(), True),
    ]
)

#: every batch table and its declared schema, in load order
TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": REGION_SCHEMA,
    "nation": NATION_SCHEMA,
    "customer": CUSTOMER_SCHEMA,
    "supplier": SUPPLIER_SCHEMA,
    "part": PART_SCHEMA,
    "orders": ORDERS_SCHEMA,
    "lineitem": LINEITEM_SCHEMA,
    "events": EVENTS_SCHEMA,
    "documents": DOCUMENTS_SCHEMA,
    "embeddings": EMBEDDINGS_SCHEMA,
}

BATCH_TABLES = tuple(TABLE_SCHEMAS)
