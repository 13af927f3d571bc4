"""Silver layer: clean + unify raw trip records.

Reference semantics (assets/silver.py:57-103 green, :115-146 yellow),
re-expressed as ONE shared transform producing an identical 17-column
schema for both taxi colors. Deviations from the reference are
deliberate, documented fixes:

- Q1 fix: ``trip_duration`` is true seconds via
  ``unix_timestamp(dropoff) - unix_timestamp(pickup)`` (the reference
  computed seconds at silver.py:85 but later divided by 1000*60
  calling it minutes — platinum.py:101-102).
- Q2 fix: the reference's yellow path skipped dropna/derive/fillna so
  the gold-layer positional union (gold.py:273) would throw (17 vs 16
  cols); both colors now share this transform.
- Q3 fix: downstream unions are by name, not position.
- Q4 replicated: nulls in RatecodeID/passenger_count/payment_type are
  coerced to 0 (``fillna(0)`` silver.py:86) and 0 is treated as a
  sentinel key downstream — required for oracle parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Surcharge components folded into total_surcharges (silver.py:83,139).
_SURCHARGE_PARTS = ["mta_tax", "extra", "improvement_surcharge", "congestion_surcharge"]

_FINAL_COLUMNS = [
    "VendorID",
    "pickup_datetime",
    "dropoff_datetime",
    "PULocationID",
    "DOLocationID",
    "RatecodeID",
    "passenger_count",
    "trip_distance",
    "fare_amount",
    "tip_amount",
    "tolls_amount",
    "total_amount",
    "payment_type",
    "airport_fee",
    "taxi_type",
    "total_surcharges",
    "trip_duration",
]


def read_raw_normalized(spark, paths: list[str], schema) -> DataFrame:
    """Read raw trip parquet files whose physical schemas drift across
    months (real TLC data: e.g. RatecodeID is DOUBLE in 2023-01 but
    INT64 in 2023-03) and normalize every file to the declared schema:
    cast matching columns, null-fill missing ones, union by name.

    Per-file-group normalization is the schema-evolution pattern that
    survives at scale — a single forced-schema scan aborts on the first
    drifted file, and parquet mergeSchema rejects type conflicts. Files
    are grouped by their footer schema (read with pyarrow, no Spark
    job), and each group is one scan: one schema-inference job per
    distinct footer rather than per file.
    """
    import pyarrow.parquet as pq

    groups: dict = {}
    for p in paths:
        groups.setdefault(pq.read_schema(p).remove_metadata(), []).append(p)
    out = None
    for group in groups.values():
        df = spark.read.parquet(*group)
        have = {f.name for f in df.schema.fields}
        cols = [
            (F.col(f.name).cast(f.dataType) if f.name in have else F.lit(None).cast(f.dataType)).alias(f.name)
            for f in schema.fields
        ]
        part = df.select(*cols)
        out = part if out is None else out.unionByName(part)
    return out


def clean_trips(raw: DataFrame, taxi_type: str) -> DataFrame:
    """Raw green/yellow trips -> unified silver schema (TRIPS_SILVER).

    taxi_type: 'Green' or 'Yellow'. Pure transform — no I/O; Catalyst
    prunes the untouched raw columns out of the parquet scan.
    """
    if taxi_type not in ("Green", "Yellow"):
        raise ValueError(f"taxi_type must be 'Green' or 'Yellow', got {taxi_type!r}")
    prefix = "lpep" if taxi_type == "Green" else "tpep"

    df = raw.dropDuplicates()  # full-row dedup (silver.py:71,129)

    df = (
        df.withColumnRenamed(f"{prefix}_pickup_datetime", "pickup_datetime")
        .withColumnRenamed(f"{prefix}_dropoff_datetime", "dropoff_datetime")
        # reference applies to_timestamp('yyyy-MM-dd HH:mm:ss') to
        # already-typed columns (Q9) — a no-op; we read typed parquet.
        .na.drop(subset=["pickup_datetime", "dropoff_datetime"])
    )

    # Plain sum: any null component nulls the total, which the final
    # na.fill(0) coerces to 0 — exactly the reference's order of
    # operations (sum at silver.py:83, fillna at :86).
    surcharges = sum((F.col(c) for c in _SURCHARGE_PARTS), F.lit(0.0))
    df = (
        df.withColumn("RatecodeID", F.col("RatecodeID").cast("int"))
        .withColumn("passenger_count", F.col("passenger_count").cast("int"))
        .withColumn("payment_type", F.col("payment_type").cast("int"))
        .withColumn("total_surcharges", surcharges)
        .withColumn(
            "trip_duration",
            F.unix_timestamp("dropoff_datetime") - F.unix_timestamp("pickup_datetime"),
        )
        .withColumn("taxi_type", F.lit(taxi_type))
    )
    if taxi_type == "Green":
        # green raw has no airport_fee column (silver.py:78: lit 0.0)
        df = df.withColumn("airport_fee", F.lit(0.0))
    else:
        df = df.withColumn("airport_fee", F.coalesce(F.col("airport_fee"), F.lit(0.0)))

    # Q4: null id-ish/measure columns -> 0 (sentinel semantics kept).
    df = df.select(*_FINAL_COLUMNS).na.fill(0)
    return df
