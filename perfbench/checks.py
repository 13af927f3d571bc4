"""Output checks, recomputed independently in DuckDB.

Each check returns a list of problems (empty = correct). They run
outside every timed region.

- ``check_fact``: the warehouse's ``fact_nyc`` equals a from-scratch
  fact over the raw files (every column except the surrogate ``ID``,
  compared as multisets). After an incremental re-run this is the
  "incremental == fresh full build" check.
- ``check_marts``: ``monthly_report``/``weekly_report`` row counts and
  column totals against the report SQL of ``tests/test_nyc_oracle.py``,
  adapted to yellow columns.
- ``check_query``: a suite query's collected result against its
  ``oracle_sql`` by row count and an order-insensitive value hash.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb

# (column, DuckDB type) of fact_nyc minus ID/month; ints widened to BIGINT.
_FACT_COLUMNS = [
    ("PULocationID", "BIGINT"), ("DOLocationID", "BIGINT"), ("typeID", "BIGINT"),
    ("VendorID", "BIGINT"), ("date_puID", "BIGINT"), ("date_doID", "BIGINT"),
    ("RatecodeID", "BIGINT"), ("paymentID", "BIGINT"), ("passenger_count", "BIGINT"),
    ("trip_distance", "DOUBLE"), ("trip_duration", "DOUBLE"), ("fare_amount", "DOUBLE"),
    ("tip_amount", "DOUBLE"), ("tolls_amount", "DOUBLE"), ("total_amount", "DOUBLE"),
    ("airport_fee", "DOUBLE"), ("total_surcharges", "DOUBLE"),
]

_FACT_SQL = """
WITH raw AS (SELECT DISTINCT * FROM read_parquet('{raw}/*.parquet')),
silver AS (
  SELECT VendorID, tpep_pickup_datetime AS pu, tpep_dropoff_datetime AS do_,
         PULocationID, DOLocationID,
         coalesce(CAST(RatecodeID AS INTEGER), 0)      AS RatecodeID,
         coalesce(CAST(passenger_count AS INTEGER), 0) AS passenger_count,
         coalesce(CAST(payment_type AS INTEGER), 0)    AS paymentID,
         coalesce(trip_distance, 0) AS trip_distance, coalesce(fare_amount, 0) AS fare_amount,
         coalesce(tip_amount, 0) AS tip_amount, coalesce(tolls_amount, 0) AS tolls_amount,
         coalesce(total_amount, 0) AS total_amount, coalesce(airport_fee, 0) AS airport_fee,
         coalesce(0.0 + mta_tax + extra + improvement_surcharge + congestion_surcharge, 0)
                                                       AS total_surcharges,
         CAST(epoch(do_) AS BIGINT) - CAST(epoch(pu) AS BIGINT) AS trip_duration
  FROM raw WHERE pu IS NOT NULL AND do_ IS NOT NULL
)
SELECT PULocationID, DOLocationID, 2 AS typeID, VendorID,
       datediff('day', DATE '2023-01-01', CAST(pu AS DATE)) + 1  AS date_puID,
       datediff('day', DATE '2023-01-01', CAST(do_ AS DATE)) + 1 AS date_doID,
       RatecodeID, paymentID, passenger_count, trip_distance,
       CAST(trip_duration AS DOUBLE) AS trip_duration, fare_amount, tip_amount,
       tolls_amount, total_amount, airport_fee, total_surcharges, pu
FROM silver
WHERE year(pu) = 2023 AND year(do_) = 2023   -- the 2023 date-dim inner joins
"""

# Report grain over the oracle fact: the dims decorate by inner join, so
# RatecodeID 0 (a NULL in the raw file, dropped from dim_rate) and any
# key outside the seeded dims fall out of both marts.
_MART_SQL = """
WITH fact AS ({fact}),
decorated AS (
  SELECT * FROM fact
  WHERE RatecodeID IN (1, 2, 3, 4, 5, 6, 99) AND paymentID BETWEEN 0 AND 6
    AND VendorID IN (1, 2)
    AND PULocationID IN (SELECT LocationID FROM read_csv('{zone}', header=true))
    AND DOLocationID IN (SELECT LocationID FROM read_csv('{zone}', header=true))
)
SELECT count(*) AS n_rows, sum(total_trips) AS trips, sum(fare) AS fare, sum(dist) AS dist
FROM (
  SELECT count(*) AS total_trips, sum(fare_amount) AS fare, sum(trip_distance) AS dist
  FROM decorated
  GROUP BY PULocationID, DOLocationID, VendorID, RatecodeID, paymentID, {keys}
)
"""
_MART_KEYS = {
    "monthly_report": "month(pu)",
    "weekly_report": "dayname(pu), weekofyear(pu)",
}


def _table_glob(wh: str, table: str) -> str:
    return os.path.join(wh, table, "**", "*.parquet")


def check_fact(wh: str, raw_dir: str) -> list[str]:
    con = duckdb.connect()
    cols = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in _FACT_COLUMNS)
    con.sql(f"CREATE VIEW got AS SELECT {cols} FROM read_parquet('{_table_glob(wh, 'fact_nyc')}')")
    con.sql(f"CREATE VIEW want AS SELECT {cols} FROM ({_FACT_SQL.format(raw=raw_dir)})")
    n_got, n_want = (con.sql(f"SELECT count(*) FROM {v}").fetchone()[0] for v in ("got", "want"))
    extra = con.sql("SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)").fetchone()[0]
    missing = con.sql("SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)").fetchone()[0]
    if n_got != n_want or extra or missing:
        return [f"fact_nyc: {n_got} rows vs {n_want} expected; {extra} unexpected, {missing} missing"]
    return []


def check_marts(wh: str, raw_dir: str, zone_csv: str) -> list[str]:
    con = duckdb.connect()
    fact = _FACT_SQL.format(raw=raw_dir)
    problems = []
    for table, keys in _MART_KEYS.items():
        want = con.sql(_MART_SQL.format(fact=fact, zone=zone_csv, keys=keys)).fetchone()
        got = con.sql(
            "SELECT count(*), sum(total_trips), sum(total_fare_amount), sum(total_trip_distance) "
            f"FROM read_parquet('{_table_glob(wh, table)}')"
        ).fetchone()
        # each mart cell is rounded half-up to 3 decimals
        tol = 0.0005 * got[0] + 1e-6
        if got[:2] != want[:2] or any(abs(g - w) > tol for g, w in zip(got[2:], want[2:])):
            problems.append(f"{table}: (rows, trips, fare, distance) {got} vs {want}")
    return problems


def _canon(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, float):
        return "null" if math.isnan(v) else f"{v:.9g}"
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
        if not isinstance(v, list):
            return _canon(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    try:
        import pandas as pd

        if pd.isna(v):
            return "null"
    except (TypeError, ValueError):
        pass
    return str(v)


def result_digest(pdf) -> tuple[int, list[str], str]:
    """(rows, sorted column names, order-insensitive value hash)."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_canon(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    return len(rows), cols, hashlib.sha256("\x1e".join(rows).encode()).hexdigest()


def suite_connection(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
    return con


def check_query(name: str, spark_pdf, con: duckdb.DuckDBPyConnection, oracle: str) -> list[str]:
    got = result_digest(spark_pdf)
    want = result_digest(con.sql(oracle).df())
    if got != want:
        return [f"{name}: (rows, columns, hash) {got[:2]} vs oracle {want[:2]}"]
    return []
