"""Gold layer: star-schema fact build.

Reference: assets/gold.py:256-347 (insert_fact_table). The
reference's max-pickup watermark load (:56-65, :278) is not used:
`Engine.run_fact` detects changed months from per-month content
digests, which also catch late rows a watermark would miss.
Differences, all documented:

- union of green/yellow silver is by name (Q3 fix; the reference's
  positional union at gold.py:273 would throw on its own yellow schema
  — Q2).
- date-dim join keys: the reference derives (day, month, year) triples
  and joins on a composite key (gold.py:280-309). We join on a single
  ``to_date(ts)`` key — same matched set, one comparison, and the date
  dim is broadcast. The inner join drops trips outside the dim's year
  exactly like the reference (Q10 — its de-facto outlier filter).
- surrogate ID: ``monotonically_increasing_id`` stands in for the
  MySQL autoincrement (Q7 — it is only ever counted, never joined).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MEASURES = [
    "passenger_count",
    "trip_distance",
    "trip_duration",
    "fare_amount",
    "tip_amount",
    "tolls_amount",
    "total_amount",
    "airport_fee",
    "total_surcharges",
]


def build_fact(trips: DataFrame, dim_date: DataFrame, dim_type: DataFrame) -> DataFrame:
    """Unified silver trips -> fact_nyc rows (FACT_NYC schema).

    ``trips`` should already be the by-name union of all taxi colors.
    Rows whose pickup/dropoff date is missing from ``dim_date`` are
    dropped by the inner joins (Q10).
    """
    pu = F.broadcast(
        dim_date.select(F.col("dateID").alias("date_puID"), F.col("date").alias("__pu_date"))
    )
    do = F.broadcast(
        dim_date.select(F.col("dateID").alias("date_doID"), F.col("date").alias("__do_date"))
    )
    df = (
        trips.withColumn("__pu_date", F.to_date("pickup_datetime"))
        .withColumn("__do_date", F.to_date("dropoff_datetime"))
        .join(pu, on="__pu_date", how="inner")
        .join(do, on="__do_date", how="inner")
        .join(
            F.broadcast(dim_type),
            F.col("taxi_type") == F.col("typeName"),
            "inner",
        )
    )
    return df.select(
        F.monotonically_increasing_id().alias("ID"),
        "PULocationID",
        "DOLocationID",
        "typeID",
        "VendorID",
        "date_puID",
        "date_doID",
        F.col("RatecodeID").cast("int").alias("RatecodeID"),
        F.col("payment_type").cast("int").alias("paymentID"),
        F.col("passenger_count").cast("int").alias("passenger_count"),
        "trip_distance",
        F.col("trip_duration").cast("double").alias("trip_duration"),
        "fare_amount",
        "tip_amount",
        "tolls_amount",
        "total_amount",
        "airport_fee",
        "total_surcharges",
    ).na.fill(0)
