"""Declared schemas: the posts record shape and the fixture-table registry.

Declared-schema discipline mirrors the reference's infrastructure-declared
sink DDL (reference terraform/main.tf:68-94) while avoiding its
schema-oblivious in-flight data (reference src/extract/main.py:28): the
JSON ingest path reads with ``POSTS_RAW`` so malformed records surface
deterministically instead of via per-row warehouse insert errors
(reference src/load/main.py:41-43).

``TABLES`` is the registry of fixture-table names plus their declared
shapes. It is not the read schema: ``sources.load_table`` reads each
file's own footer schema (inferred once per file version and memoized),
which matches ``TABLES`` except that the files' naive timestamps come
back as ``timestamp_ntz`` where ``TABLES`` declares ``timestamp``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Reference-native record shape: the `posts` table.
# Columns mirror the BigQuery DDL at reference terraform/main.tf:68-94.
# `processedAt` is the reference's vestigial Transform column (declared but
# never populated, SURVEY.md §1.2); this engine populates it at load time.
# ---------------------------------------------------------------------------
POSTS = T.StructType(
    [
        T.StructField("userId", T.LongType(), True),
        T.StructField("id", T.LongType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("body", T.StringType(), True),
        T.StructField("processedAt", T.TimestampType(), True),
    ]
)

# Raw shape as fetched from the HTTP source (no processedAt yet).
POSTS_RAW = T.StructType([f for f in POSTS.fields if f.name != "processedAt"])

# ---------------------------------------------------------------------------
# Driver-generated fixture tables (/root/testdata/sf*/, see FIXTURES.md §2).
# ---------------------------------------------------------------------------
REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType(), True),
        T.StructField("r_name", T.StringType(), True),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType(), True),
        T.StructField("n_name", T.StringType(), True),
        T.StructField("n_regionkey", T.IntegerType(), True),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType(), True),
        T.StructField("c_name", T.StringType(), True),
        T.StructField("c_nationkey", T.IntegerType(), True),
        T.StructField("c_acctbal", T.DoubleType(), True),
        T.StructField("c_mktsegment", T.StringType(), True),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType(), True),
        T.StructField("s_name", T.StringType(), True),
        T.StructField("s_nationkey", T.IntegerType(), True),
        T.StructField("s_acctbal", T.DoubleType(), True),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType(), True),
        T.StructField("p_name", T.StringType(), True),
        T.StructField("p_brand", T.StringType(), True),
        T.StructField("p_type", T.StringType(), True),
        T.StructField("p_size", T.IntegerType(), True),
        T.StructField("p_retailprice", T.DoubleType(), True),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType(), True),
        T.StructField("o_custkey", T.LongType(), True),
        T.StructField("o_orderstatus", T.StringType(), True),
        T.StructField("o_totalprice", T.DoubleType(), True),
        T.StructField("o_orderdate", T.TimestampType(), True),
        T.StructField("o_orderpriority", T.StringType(), True),
    ]
)

LINEITEM = T.StructType(
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
        T.StructField("l_shipdate", T.TimestampType(), True),
    ]
)

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)

TABLES: dict[str, T.StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

# Dimension tables that are safe to broadcast at ANY scale factor: region
# and nation are constant-size (5 / 25 rows) regardless of SF. customer /
# supplier / part grow with SF, so broadcasting them is a per-query decision
# (fine at test SF, wrong at 100 TB) -- AQE's dynamic threshold handles it.
BROADCAST_TABLES = frozenset({"region", "nation"})
