"""Dimension builds and incremental upsert.

Replaces the reference's MySQL-seeded dimensions + per-dim Dagster
assets (Databases/create_datamart.sql, assets/gold.py:77-239) with
Spark-generated DataFrames and ONE generic upsert.

The reference's "find new dim keys" pattern is a hand-rolled left-anti
join: right-outer join old->new then ``where(old.key.isNull())``
(gold.py:93-94/153-154/211-213, SURVEY J3). Here it IS a left-anti
join, with the same downstream semantics kept: new keys get default
names (Q5, gold.py:101/160/218), key 0 (null-coerced sentinel, Q4) is
dropped from dims (gold.py:104/163/220) except dim_payment which seeds
0 = 'Flex Fare trip' (create_datamart.sql:117).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.io import read_csv
from nyc_etl_pipeline_spark.schemas import (
    DIM_PAYMENT,
    DIM_RATE,
    DIM_TYPE,
    DIM_VENDOR,
    TAXI_ZONE,
)


def date_attributes(date_id: Column, start: str) -> dict[str, Column]:
    """``month``, ``dayOfWeek`` and ``weekOfYear`` of the day that
    ``date_id`` names, where a dateID counts days since ``start`` plus 1
    (``build_date_dim``'s numbering). Plain column arithmetic: a fact
    keyed by ``date_puID`` gets its date parts without a date-dim join.
    ``weekOfYear`` is the ISO week, so 2023-01-01 is in week 52 and
    2024-12-30 in week 1."""
    date = F.date_add(F.lit(start).cast("date"), (date_id - 1).cast("int"))
    return {
        "month": F.month(date).cast("int"),
        "dayOfWeek": F.date_format(date, "EEEE"),
        "weekOfYear": F.weekofyear(date).cast("int"),
    }


def build_date_dim(spark: SparkSession, start: str = "2023-01-01", end: str = "2023-12-31") -> DataFrame:
    """One row per day of [start, end] — replaces the MySQL stored
    procedure (create_datamart.sql:45-91) with pure Spark functions.

    dateID is days-since-start + 1, matching the stored procedure's
    autoincrement insert order. 'Weekday' is 1 for Sat/Sun else 0
    (sic — the reference column marks weekends; name kept for parity).
    """
    days = (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(F.lit(start).cast("date"), F.lit(end).cast("date"))
            ).alias("date")
        )
    )
    date_id = (F.datediff("date", F.lit(start).cast("date")) + 1).cast("int")
    attrs = date_attributes(date_id, start)
    return days.select(
        date_id.alias("dateID"),
        F.col("date"),
        F.date_format("date", "yyyy-MM-dd").alias("dateStr"),
        F.dayofmonth("date").cast("int").alias("day"),
        attrs["month"].alias("month"),
        F.concat(F.lit("Q"), F.quarter("date").cast("string")).alias("quarter"),
        F.year("date").cast("int").alias("year"),
        F.dayofmonth("date").cast("int").alias("dayOfMonth"),
        attrs["dayOfWeek"].alias("dayOfWeek"),
        attrs["weekOfYear"].alias("weekOfYear"),
        F.when(F.dayofweek("date").isin(1, 7), F.lit(1)).otherwise(F.lit(0)).alias("Weekday"),
    )


def seed_vendor_dim(spark: SparkSession) -> DataFrame:
    """create_datamart.sql:5-13 seed rows."""
    return spark.createDataFrame(
        [(1, "Creative Mobile Technologies, LLC"), (2, "VeriFone Inc.")], DIM_VENDOR
    )


def seed_rate_dim(spark: SparkSession) -> DataFrame:
    """create_datamart.sql:93-106 seed rows."""
    rows = [
        (1, "Standard rate"),
        (2, "JFK"),
        (3, "Newark"),
        (4, "Nassau or Westchester"),
        (5, "Negotiated fare"),
        (6, "Group ride"),
        (99, "Unknown"),
    ]
    return spark.createDataFrame(rows, DIM_RATE)


def seed_payment_dim(spark: SparkSession) -> DataFrame:
    """create_datamart.sql:110-123 seed rows (0 = Flex Fare trip)."""
    rows = [
        (0, "Flex Fare trip"),
        (1, "Credit card"),
        (2, "Cash"),
        (3, "No charge"),
        (4, "Dispute"),
        (5, "Unknown"),
        (6, "Voided trip"),
    ]
    return spark.createDataFrame(rows, DIM_PAYMENT)


def seed_type_dim(spark: SparkSession) -> DataFrame:
    """create_datamart.sql:125-133 seed rows."""
    return spark.createDataFrame([(1, "Green"), (2, "Yellow")], DIM_TYPE)


def zone_dim(spark: SparkSession, csv_path: str) -> DataFrame:
    """dim_pu_location / dim_do_location from taxi_zone.csv
    (create_datamart.sql:136-162; one dim, two role-playing joins)."""
    return read_csv(spark, csv_path, TAXI_ZONE)


def upsert_dim(
    existing: DataFrame,
    candidates: DataFrame,
    key: str,
    name_col: str,
    default_name: str,
    drop_sentinel: bool = True,
) -> DataFrame:
    """Return existing dim + rows for unseen keys with default names.

    Reference pattern J3+P17+P15+P5 (gold.py:77-123): append-only, no
    SCD — existing rows are never updated (Q5). ``drop_sentinel``
    removes key==0 rows (Q4) as gold.py:104 does; dim_payment callers
    pass False since 0 is a real seeded key.

    ``candidates`` is expected to be small (distinct keys); the
    left-anti join broadcasts ``existing`` when Catalyst sees its size.
    The reference's pre-insert ``.sort()`` (gold.py:87, A7) orders rows
    into an unordered table, so it is dropped.
    """
    new_keys = candidates.join(existing, on=key, how="left_anti")
    if drop_sentinel:
        new_keys = new_keys.filter(F.col(key) != 0)
    new_rows = new_keys.select(
        F.col(key), F.lit(default_name).alias(name_col)
    )
    return existing.unionByName(new_rows)


def merge_dim_keys(
    existing: list,
    keys,
    default_name: str,
    drop_sentinel: bool = True,
) -> list[tuple]:
    """``upsert_dim`` over rows already on the driver: the existing
    (key, name) rows, then one (key, default_name) row per unseen key
    in ``keys``, in key order. Same semantics (Q4, Q5), no Spark job —
    for enum-sized dims whose existing rows and distinct keys are
    collected anyway. ``keys`` holds no NULL (silver fills them with 0,
    and ``collect_set`` skips them)."""
    seen = {row[0] for row in existing}
    new = sorted(k for k in set(keys) - seen if not (drop_sentinel and k == 0))
    return [tuple(row) for row in existing] + [(k, default_name) for k in new]
