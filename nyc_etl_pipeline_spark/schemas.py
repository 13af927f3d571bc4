"""Explicit schemas for every table the engine touches.

The reference has no schema registry — schemas are implied by Parquet
self-description and hard-coded select lists (reference
assets/silver.py:67-70,125-128) plus SQL DDL
(Databases/create_datamart.sql). Making them explicit StructType
constants and validating on read is the engine's main robustness
upgrade (SURVEY §1.3).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# NYC trip tables (reference data model)
# ---------------------------------------------------------------------------

# Raw green trips — observed parquet metadata of the reference's
# data/green_data/2023-01.parquet (FIXTURES.md §1).
GREEN_RAW = T.StructType(
    [
        T.StructField("VendorID", T.LongType()),
        T.StructField("lpep_pickup_datetime", T.TimestampType()),
        T.StructField("lpep_dropoff_datetime", T.TimestampType()),
        T.StructField("store_and_fwd_flag", T.StringType()),
        T.StructField("RatecodeID", T.DoubleType()),
        T.StructField("PULocationID", T.LongType()),
        T.StructField("DOLocationID", T.LongType()),
        T.StructField("passenger_count", T.DoubleType()),
        T.StructField("trip_distance", T.DoubleType()),
        T.StructField("fare_amount", T.DoubleType()),
        T.StructField("extra", T.DoubleType()),
        T.StructField("mta_tax", T.DoubleType()),
        T.StructField("tip_amount", T.DoubleType()),
        T.StructField("tolls_amount", T.DoubleType()),
        T.StructField("ehail_fee", T.DoubleType()),
        T.StructField("improvement_surcharge", T.DoubleType()),
        T.StructField("total_amount", T.DoubleType()),
        T.StructField("payment_type", T.DoubleType()),
        T.StructField("trip_type", T.DoubleType()),
        T.StructField("congestion_surcharge", T.DoubleType()),
    ]
)

# Raw yellow trips — reference assets/silver.py:125-128 select list +
# TLC public schema (FIXTURES.md §2).
YELLOW_RAW = T.StructType(
    [
        T.StructField("VendorID", T.LongType()),
        T.StructField("tpep_pickup_datetime", T.TimestampType()),
        T.StructField("tpep_dropoff_datetime", T.TimestampType()),
        T.StructField("store_and_fwd_flag", T.StringType()),
        T.StructField("RatecodeID", T.DoubleType()),
        T.StructField("PULocationID", T.LongType()),
        T.StructField("DOLocationID", T.LongType()),
        T.StructField("passenger_count", T.DoubleType()),
        T.StructField("trip_distance", T.DoubleType()),
        T.StructField("fare_amount", T.DoubleType()),
        T.StructField("extra", T.DoubleType()),
        T.StructField("mta_tax", T.DoubleType()),
        T.StructField("tip_amount", T.DoubleType()),
        T.StructField("tolls_amount", T.DoubleType()),
        T.StructField("improvement_surcharge", T.DoubleType()),
        T.StructField("total_amount", T.DoubleType()),
        T.StructField("payment_type", T.DoubleType()),
        T.StructField("congestion_surcharge", T.DoubleType()),
        T.StructField("airport_fee", T.DoubleType()),
    ]
)

# Unified cleaned trip table — the 17-column green layout of reference
# assets/silver.py:67-86, with the yellow path fixed to produce the
# SAME schema (reference quirk Q2: yellow silver lacked trip_duration /
# dropna / fillna and the positional union at gold.py:273 would throw).
TRIPS_SILVER = T.StructType(
    [
        T.StructField("VendorID", T.LongType()),
        T.StructField("pickup_datetime", T.TimestampType()),
        T.StructField("dropoff_datetime", T.TimestampType()),
        T.StructField("PULocationID", T.LongType()),
        T.StructField("DOLocationID", T.LongType()),
        T.StructField("RatecodeID", T.IntegerType()),
        T.StructField("passenger_count", T.IntegerType()),
        T.StructField("trip_distance", T.DoubleType()),
        T.StructField("fare_amount", T.DoubleType()),
        T.StructField("tip_amount", T.DoubleType()),
        T.StructField("tolls_amount", T.DoubleType()),
        T.StructField("total_amount", T.DoubleType()),
        T.StructField("payment_type", T.IntegerType()),
        T.StructField("airport_fee", T.DoubleType()),
        T.StructField("taxi_type", T.StringType()),
        T.StructField("total_surcharges", T.DoubleType()),
        T.StructField("trip_duration", T.LongType()),  # seconds (Q1 fixed)
    ]
)

TAXI_ZONE = T.StructType(
    [
        T.StructField("LocationID", T.IntegerType()),
        T.StructField("Borough", T.StringType()),
        T.StructField("Zone", T.StringType()),
        T.StructField("service_zone", T.StringType()),
    ]
)

# Date dimension — reference Databases/create_datamart.sql:15-91
# (a MySQL stored procedure); here generated with Spark functions.
DIM_DATE = T.StructType(
    [
        T.StructField("dateID", T.IntegerType()),
        T.StructField("date", T.DateType()),
        T.StructField("dateStr", T.StringType()),
        T.StructField("day", T.IntegerType()),
        T.StructField("month", T.IntegerType()),
        T.StructField("quarter", T.StringType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("dayOfMonth", T.IntegerType()),
        T.StructField("dayOfWeek", T.StringType()),
        T.StructField("weekOfYear", T.IntegerType()),
        T.StructField("Weekday", T.IntegerType()),  # 1 if Sat/Sun else 0 (sic, reference)
    ]
)

# Star-schema fact — reference Databases/create_datamart.sql:164-192.
FACT_NYC = T.StructType(
    [
        T.StructField("ID", T.LongType()),
        T.StructField("PULocationID", T.LongType()),
        T.StructField("DOLocationID", T.LongType()),
        T.StructField("typeID", T.IntegerType()),
        T.StructField("VendorID", T.LongType()),
        T.StructField("date_puID", T.IntegerType()),
        T.StructField("date_doID", T.IntegerType()),
        T.StructField("RatecodeID", T.IntegerType()),
        T.StructField("paymentID", T.IntegerType()),
        T.StructField("passenger_count", T.IntegerType()),
        T.StructField("trip_distance", T.DoubleType()),
        T.StructField("trip_duration", T.DoubleType()),
        T.StructField("fare_amount", T.DoubleType()),
        T.StructField("tip_amount", T.DoubleType()),
        T.StructField("tolls_amount", T.DoubleType()),
        T.StructField("total_amount", T.DoubleType()),
        T.StructField("airport_fee", T.DoubleType()),
        T.StructField("total_surcharges", T.DoubleType()),
    ]
)

# Enum-like dims — create_datamart.sql:5-13, 93-133.
DIM_VENDOR = T.StructType(
    [T.StructField("VendorID", T.LongType()), T.StructField("VendorName", T.StringType())]
)
DIM_RATE = T.StructType(
    [T.StructField("RatecodeID", T.IntegerType()), T.StructField("RatecodeName", T.StringType())]
)
DIM_PAYMENT = T.StructType(
    [T.StructField("paymentID", T.IntegerType()), T.StructField("payment_type", T.StringType())]
)
DIM_TYPE = T.StructType(
    [T.StructField("typeID", T.IntegerType()), T.StructField("typeName", T.StringType())]
)

# Per-month silver fingerprint recorded by the last fact build
# (engine.Engine._silver_month_state).
FACT_STATE = T.StructType(
    [
        T.StructField("month", T.IntegerType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("digest", T.LongType()),
    ]
)


def _month_partitioned(schema: T.StructType) -> T.StructType:
    return T.StructType(schema.fields + [T.StructField("month", T.IntegerType())])


# Every warehouse table the Engine reads back, as its writer stores it.
# Reads pass these schemas so Spark plans the scan without a
# schema-inference job; a writer change must update this map.
ENGINE_TABLES = {
    "trips_silver": _month_partitioned(TRIPS_SILVER),
    "fact_nyc": _month_partitioned(FACT_NYC),
    "dim_date": DIM_DATE,
    "dim_zone": TAXI_ZONE,
    "dim_vendor": DIM_VENDOR,
    "dim_rate": DIM_RATE,
    "dim_payment": DIM_PAYMENT,
    "dim_type": DIM_TYPE,
    "_fact_state": FACT_STATE,
}

# ---------------------------------------------------------------------------
# Driver testdata tables (/root/testdata/sf*/ — TESTDATA.md / FIXTURES.md §8)
# ---------------------------------------------------------------------------

TESTDATA = {
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
