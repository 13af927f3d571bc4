"""Independent-engine cross-check of the FULL NYC pipeline: the Spark
silver -> fact -> shared_report_base -> monthly_from_base chain (the
plan Engine.run_reports runs) vs the same semantics written from
scratch as DuckDB SQL, on one month of real green data where it is
present and on the conftest green fixture everywhere.

This validates the reference-parity core (dedup, dropna, null->0
sentinel, surcharge sum, duration seconds, 2023 date-dim inner join,
dim decoration incl. 'Unknown Vendor' upsert, minutes fix Q1, rounding)
end-to-end — not just the TPC-H-shaped suite mapping.
"""

import math
import os

import duckdb
import pyarrow.parquet as pq
import pytest
from conftest import GREEN_DIR, ZONE_CSV, requires_reference

from tests.oracle_harness import canon


def _duck_sql(green: str, zone: str) -> str:
    return f"""
WITH raw AS (SELECT DISTINCT * FROM read_parquet('{green}')),
silver AS (
  SELECT VendorID,
         lpep_pickup_datetime  AS pu,
         lpep_dropoff_datetime AS do_,
         PULocationID, DOLocationID,
         coalesce(CAST(RatecodeID AS INTEGER), 0)       AS RatecodeID,
         coalesce(CAST(passenger_count AS INTEGER), 0)  AS passenger_count,
         trip_distance, fare_amount, tip_amount, tolls_amount, total_amount,
         coalesce(CAST(payment_type AS INTEGER), 0)     AS paymentID,
         coalesce(mta_tax + extra + improvement_surcharge + congestion_surcharge, 0)
                                                        AS total_surcharges,
         CAST(epoch(do_) AS BIGINT) - CAST(epoch(pu) AS BIGINT) AS trip_duration
  FROM raw
  WHERE pu IS NOT NULL AND do_ IS NOT NULL
),
fact AS (
  SELECT * FROM silver
  WHERE year(pu) = 2023 AND year(do_) = 2023   -- Q10: 2023 date-dim inner join
),
zone AS (SELECT * FROM read_csv('{zone}', header=true)),
dim_payment(pid, payment_type) AS (VALUES
  (0,'Flex Fare trip'),(1,'Credit card'),(2,'Cash'),(3,'No charge'),
  (4,'Dispute'),(5,'Unknown'),(6,'Voided trip')),
dim_rate(rid, RatecodeName) AS (VALUES
  (1,'Standard rate'),(2,'JFK'),(3,'Newark'),(4,'Nassau or Westchester'),
  (5,'Negotiated fare'),(6,'Group ride'),(99,'Unknown')),
grouped AS (
  SELECT PULocationID, DOLocationID, VendorID,
         CAST(month(pu) AS INTEGER) AS month_pu, RatecodeID, paymentID,
         floor(avg(passenger_count) * 1000.0 + 0.5) / 1000.0        AS avg_passenger_count,
         floor(avg(trip_distance) * 1000.0 + 0.5) / 1000.0          AS avg_trip_distance,
         floor(avg(trip_duration / 60.0) * 1000.0 + 0.5) / 1000.0   AS avg_trip_duration,
         floor(avg(tip_amount) * 1000.0 + 0.5) / 1000.0             AS avg_tip_amount,
         floor(avg(tolls_amount) * 1000.0 + 0.5) / 1000.0           AS avg_tolls_amount,
         floor(avg(total_amount) * 1000.0 + 0.5) / 1000.0           AS avg_total_amount,
         floor(avg(fare_amount) * 1000.0 + 0.5) / 1000.0            AS avg_fare_amount,
         floor(CAST(sum(passenger_count) AS DOUBLE) * 1000.0 + 0.5) / 1000.0 AS total_passenger_count,
         floor(CAST(sum(trip_distance) AS DOUBLE) * 1000.0 + 0.5) / 1000.0   AS total_trip_distance,
         floor(CAST(sum(trip_duration / 60.0) AS DOUBLE) * 1000.0 + 0.5) / 1000.0 AS total_trip_duration,
         floor(CAST(sum(tip_amount) AS DOUBLE) * 1000.0 + 0.5) / 1000.0      AS total_tip_amount,
         floor(CAST(sum(tolls_amount) AS DOUBLE) * 1000.0 + 0.5) / 1000.0    AS total_tolls_amount,
         floor(CAST(sum(total_amount) AS DOUBLE) * 1000.0 + 0.5) / 1000.0    AS total_total_amount,
         floor(CAST(sum(fare_amount) AS DOUBLE) * 1000.0 + 0.5) / 1000.0     AS total_fare_amount,
         count(*) AS total_trips
  FROM fact
  GROUP BY 1, 2, 3, 4, 5, 6
)
SELECT g.month_pu,
       puz.Borough AS PU_Borough, puz.Zone AS PU_Zone, puz.service_zone AS PU_service_zone,
       doz.Borough AS DO_Borough, doz.Zone AS DO_Zone, doz.service_zone AS DO_service_zone,
       'Green' AS typeName,
       CASE g.VendorID WHEN 1 THEN 'Creative Mobile Technologies, LLC'
                       WHEN 2 THEN 'VeriFone Inc.'
                       ELSE 'Unknown Vendor' END AS VendorName,
       p.payment_type, r.RatecodeName,
       avg_passenger_count, avg_trip_distance, avg_trip_duration, avg_tip_amount,
       avg_tolls_amount, avg_total_amount, avg_fare_amount,
       total_passenger_count, total_trip_distance, total_trip_duration,
       total_tip_amount, total_tolls_amount, total_total_amount, total_fare_amount,
       total_trips
FROM grouped g
JOIN zone puz ON g.PULocationID = puz.LocationID
JOIN zone doz ON g.DOLocationID = doz.LocationID
JOIN dim_payment p ON g.paymentID = p.pid
JOIN dim_rate r ON g.RatecodeID = r.rid
"""



@pytest.mark.parametrize("source", [pytest.param("reference", marks=requires_reference), "fixture"])
def test_monthly_report_matches_independent_duckdb_implementation(
    spark, tmp_path, green_raw, zone_csv, source
):
    from nyc_etl_pipeline_spark.pipeline import (
        build_date_dim,
        build_fact,
        clean_trips,
        monthly_from_base,
        seed_payment_dim,
        seed_rate_dim,
        seed_type_dim,
        seed_vendor_dim,
        shared_report_base,
        upsert_dim,
        zone_dim,
    )
    from nyc_etl_pipeline_spark.schemas import GREEN_RAW

    if source == "reference":
        green, zone = os.path.join(GREEN_DIR, "2023-01.parquet"), ZONE_CSV
    else:
        green, zone = str(tmp_path / "green.parquet"), zone_csv
        pq.write_table(green_raw.toArrow(), green)

    raw = spark.read.schema(GREEN_RAW).parquet(green)
    silver = clean_trips(raw, "Green")
    dd = build_date_dim(spark, "2023-01-01", "2023-12-31")
    vendors = upsert_dim(
        seed_vendor_dim(spark),
        silver.select("VendorID").dropDuplicates(),
        "VendorID",
        "VendorName",
        "Unknown Vendor",
    )
    fact = build_fact(silver, dd, seed_type_dim(spark))
    report = monthly_from_base(
        shared_report_base(fact, 2023),
        zone_dim(spark, zone),
        seed_type_dim(spark),
        vendors,
        seed_payment_dim(spark),
        seed_rate_dim(spark),
    )
    con = duckdb.connect()
    oracle = con.sql(_duck_sql(green, zone)).df()
    assert len(oracle) > 0

    # Real money data is decimal-aligned, so group aggregates routinely
    # land EXACTLY on .0005 rounding boundaries; there, cross-engine
    # float summation order legitimately flips the final rounded digit
    # (SURVEY §7.3). Non-float columns must match exactly; rounded
    # floats may differ by at most one rounding step (0.001).
    spark_pdf = report.toPandas()
    s_rows, s_cols = canon(spark_pdf)
    o_rows, o_cols = canon(oracle)
    assert s_cols == o_cols
    assert len(s_rows) == len(o_rows)
    bad = []
    boundary_flips = 0
    for i, (sr, orow) in enumerate(zip(s_rows, o_rows)):
        for c, (sv, ov) in enumerate(zip(sr, orow)):
            if isinstance(sv, float) and isinstance(ov, float):
                if sv == ov or (math.isnan(sv) and math.isnan(ov)):
                    continue
                if abs(sv - ov) <= 0.001 + 1e-9:
                    boundary_flips += 1
                    continue
                bad.append((i, s_cols[c], sv, ov))
            elif sv != ov:
                bad.append((i, s_cols[c], sv, ov))
    assert not bad, bad[:10]
    # boundary flips must stay a rare tail, not a systematic deviation
    total_cells = len(s_rows) * len(s_cols)
    assert boundary_flips / total_cells < 0.002, (boundary_flips, total_cells)
