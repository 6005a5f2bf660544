"""Canonical schemas.

One module, one source of truth — the reference declared the same two
schemas in four places (pg DDL, BQ DDL, Polars dict, Spark StructType;
see SURVEY.md §1.4). The Spark StructTypes here reproduce the
reference's own declarations (reference:
src/etl/spark_deltalake_sync.py:115-122 for company,
:182-190 for daily_stock_price) with one deliberate deviation: prices
are DoubleType, not FloatType, because the reference itself is split
(float32 in Spark/Polars vs float64 in Postgres/BigQuery) and double
matches the DuckDB-oracle math (SURVEY.md §7.5).
"""

from __future__ import annotations

from pyspark.sql import types as T

COMPANY_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("company_name", T.StringType(), True),
        T.StructField("sector", T.StringType(), True),
        T.StructField("subsector", T.StringType(), True),
        T.StructField("listing_date", T.DateType(), True),
        # NTZ: extract timestamps are wall-clock values from the
        # connector; an instant type would make their stored value (and
        # the Arrow dtype the driver hashes) depend on the session tz.
        T.StructField("extracted_at", T.TimestampNTZType(), True),
    ]
)

DAILY_STOCK_PRICE_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("date", T.DateType(), False),
        T.StructField("open", T.DoubleType(), True),
        T.StructField("high", T.DoubleType(), True),
        T.StructField("low", T.DoubleType(), True),
        T.StructField("close", T.DoubleType(), True),
        T.StructField("extracted_at", T.TimestampNTZType(), True),  # see COMPANY_SCHEMA
    ]
)

# Column order of the connector's pandas frames (sources/pse_edge*.py).
COMPANY_COLUMNS = COMPANY_SCHEMA.fieldNames()
PRICE_COLUMNS = DAILY_STOCK_PRICE_SCHEMA.fieldNames()

# The driver's synthetic star schema (TESTDATA.md). Declared explicitly so
# csv/json/streaming readers never fall back to inferSchema (the reference's
# one sloppy spot, spark_deltalake_sync.py:293 — SURVEY.md §1.4).
TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType(), True),
            T.StructField("r_name", T.StringType(), True),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType(), True),
            T.StructField("n_name", T.StringType(), True),
            T.StructField("n_regionkey", T.IntegerType(), True),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType(), True),
            T.StructField("c_name", T.StringType(), True),
            T.StructField("c_nationkey", T.IntegerType(), True),
            T.StructField("c_acctbal", T.DoubleType(), True),
            T.StructField("c_mktsegment", T.StringType(), True),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType(), True),
            T.StructField("s_name", T.StringType(), True),
            T.StructField("s_nationkey", T.IntegerType(), True),
            T.StructField("s_acctbal", T.DoubleType(), True),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType(), True),
            T.StructField("p_name", T.StringType(), True),
            T.StructField("p_brand", T.StringType(), True),
            T.StructField("p_type", T.StringType(), True),
            T.StructField("p_size", T.IntegerType(), True),
            T.StructField("p_retailprice", T.DoubleType(), True),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType(), True),
            T.StructField("o_custkey", T.LongType(), True),
            T.StructField("o_orderstatus", T.StringType(), True),
            T.StructField("o_totalprice", T.DoubleType(), True),
            T.StructField("o_orderdate", T.TimestampType(), True),
            T.StructField("o_orderpriority", T.StringType(), True),
        ]
    ),
    "lineitem": T.StructType(
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
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("source", T.StringType(), True),
            T.StructField("n_chars", T.LongType(), True),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType(), True),
            T.StructField("embedding", T.ArrayType(T.FloatType()), True),
            T.StructField("label", T.IntegerType(), True),
        ]
    ),
}

TESTDATA_TABLES = tuple(TESTDATA_SCHEMAS)
