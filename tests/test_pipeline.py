"""End-to-end + per-layer tests of the NYC pipeline semantics
(SURVEY §2 operator families S/P/J/U/A and quirks Q1-Q10)."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

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
    weekly_from_base,
    zone_dim,
)
from nyc_etl_pipeline_spark.pipeline.dims import date_attributes
from nyc_etl_pipeline_spark.schemas import TRIPS_SILVER


def test_clean_trips_green(spark, green_raw):
    out = clean_trips(green_raw, "Green")
    rows = out.collect()
    # 9 raw rows: -1 duplicate, -2 null datetimes => 6
    assert len(rows) == 6
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        (f.name, f.dataType) for f in TRIPS_SILVER.fields
    ]
    by_vendor = {r["VendorID"]: r for r in rows if r["VendorID"] in (1, 6)}
    assert by_vendor[1]["trip_duration"] == 30 * 60  # Q1: true seconds
    # null IDs coerced to 0 (Q4)
    nulls = [r for r in rows if r["RatecodeID"] == 0]
    assert len(nulls) == 1 and nulls[0]["passenger_count"] == 0 and nulls[0]["payment_type"] == 0
    # null surcharge component nulls the sum, then fillna -> 0
    cong_null = [r for r in rows if r["total_surcharges"] == 0.0]
    assert len(cong_null) >= 1
    # green airport_fee is lit 0.0
    assert all(r["airport_fee"] == 0.0 for r in rows)
    assert all(r["taxi_type"] == "Green" for r in rows)


def test_clean_trips_yellow_schema_matches_green(spark, green_raw, yellow_raw):
    g = clean_trips(green_raw, "Green")
    y = clean_trips(yellow_raw, "Yellow")
    # Q2 fix: identical schema -> unionByName works
    assert g.schema == y.schema
    u = g.unionByName(y)
    assert u.count() == 8
    yrows = {r["VendorID"]: r for r in y.collect()}
    assert yrows[1]["airport_fee"] == 1.25
    assert yrows[2]["airport_fee"] == 0.0  # null -> 0


def test_date_dim(spark):
    dd = build_date_dim(spark, "2023-01-01", "2023-12-31")
    rows = dd.collect()
    assert len(rows) == 365
    first = rows[0]
    assert first["dateID"] == 1 and first["dateStr"] == "2023-01-01"
    assert first["dayOfWeek"] == "Sunday" and first["Weekday"] == 1
    assert first["quarter"] == "Q1"
    jul4 = [r for r in rows if r["dateStr"] == "2023-07-04"][0]
    assert jul4["quarter"] == "Q3" and jul4["Weekday"] == 0
    assert jul4["weekOfYear"] == 27


# (year, dateID, month, dayOfWeek, ISO weekOfYear) at the year edges:
# 2023-01-01 closes ISO week 52 of 2022, 2024-12-30 opens week 1 of
# 2025, and 2020-12-31 is in week 53
_DATE_EDGES = {
    2023: (1, 1, "Sunday", 52),
    2024: (365, 12, "Monday", 1),
    2020: (366, 12, "Thursday", 53),
}


@pytest.mark.parametrize("year", sorted(_DATE_EDGES))
def test_date_attributes_match_date_dim(spark, year):
    """The date parts derived from a dateID alone equal the date dim's
    for every day of the year, leap years and ISO-week wraps included."""
    start = f"{year}-01-01"
    cols = ["dateID", "month", "dayOfWeek", "weekOfYear"]
    dd = build_date_dim(spark, start, f"{year}-12-31").select(*cols)
    n_days = 366 if year % 4 == 0 else 365
    attrs = date_attributes(F.col("dateID"), start)
    derived = spark.range(1, n_days + 1).select(F.col("id").cast("int").alias("dateID")).select(
        "dateID", *(attrs[c].alias(c) for c in cols[1:])
    )
    got = Counter(map(tuple, derived.collect()))
    assert got == Counter(map(tuple, dd.collect()))
    assert sum(got.values()) == n_days
    assert got[_DATE_EDGES[year]] == 1


def test_upsert_dim_adds_unseen_vendor_with_default(spark, green_raw, yellow_raw):
    g = clean_trips(green_raw, "Green")
    y = clean_trips(yellow_raw, "Yellow")
    # distinct keys across both colors, union by name (Q3), as q04 builds them
    cands = (
        g.select("VendorID").dropDuplicates()
        .unionByName(y.select("VendorID").dropDuplicates())
        .dropDuplicates()
    )
    dim = upsert_dim(seed_vendor_dim(spark), cands, "VendorID", "VendorName", "Unknown Vendor")
    got = {r["VendorID"]: r["VendorName"] for r in dim.collect()}
    assert got[1] == "Creative Mobile Technologies, LLC"  # Q5: never updated
    assert got[6] == "Unknown Vendor"  # new key, default name
    assert 0 not in got  # sentinel dropped (Q4)


def test_build_fact_drops_out_of_dim_dates(spark, green_raw):
    dd = build_date_dim(spark, "2023-01-01", "2023-12-31")
    g = clean_trips(green_raw, "Green")
    fact = build_fact(g, dd, seed_type_dim(spark))
    rows = fact.collect()
    # 6 silver rows, minus the 2008 trip (Q10 inner-join row loss)
    assert len(rows) == 5
    assert len({r["ID"] for r in rows}) == 5  # surrogate IDs unique


def test_reports_end_to_end(spark, green_raw, yellow_raw, zone_csv):
    dd = build_date_dim(spark, "2023-01-01", "2023-12-31")
    trips = clean_trips(green_raw, "Green").unionByName(clean_trips(yellow_raw, "Yellow"))
    fact = build_fact(trips, dd, seed_type_dim(spark))
    zone = zone_dim(spark, zone_csv)
    vendors = upsert_dim(
        seed_vendor_dim(spark),
        trips.select("VendorID").dropDuplicates(),
        "VendorID",
        "VendorName",
        "Unknown Vendor",
    )
    dims = (zone, seed_type_dim(spark), vendors, seed_payment_dim(spark), seed_rate_dim(spark))
    base = shared_report_base(fact, 2023)
    m = monthly_from_base(base, *dims)
    rows = m.collect()
    # 7 fact rows: the RatecodeID=0 row has no dim_rate entry -> dropped
    # by the inner join (Q4); the two Jan-05 vendor-2 green trips share
    # every grouping key -> one group of 2. Remaining rows are singleton
    # groups: 7 - 1 (Q4) - 1 (collapsed pair) = 5 report rows.
    assert len(rows) == 5
    assert sum(r["total_trips"] for r in rows) == 6
    jan = [r for r in rows if r["month_pu"] == 1 and r["typeName"] == "Green"]
    assert len(jan) == 1
    assert jan[0]["total_trips"] == 2
    assert round(jan[0]["avg_trip_duration"], 3) == 15.0  # minutes (Q1 fixed)

    w = weekly_from_base(base, *dims)
    wrows = w.collect()
    assert len(wrows) == 5
    assert {r["dayOfWeek_pu"] for r in wrows} <= {
        "Monday",
        "Tuesday",
        "Wednesday",
        "Thursday",
        "Friday",
        "Saturday",
        "Sunday",
    }


def test_idempotent_partition_overwrite(spark, green_raw, tmp_path):
    """Q6 fix: re-writing a month replaces it instead of duplicating."""
    from nyc_etl_pipeline_spark.io import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    g = clean_trips(green_raw, "Green").withColumn(
        "month", F.month("pickup_datetime")
    )
    wh.overwrite_partitions(g, "trips_silver", ["month"])
    n1 = wh.read("trips_silver").count()
    wh.overwrite_partitions(g.filter(F.col("month") == 1), "trips_silver", ["month"])
    n2 = wh.read("trips_silver").count()
    assert n1 == n2 == 6

    # on an absent table, overwrite_partitions creates what a full
    # partitioned overwrite would: same rows, same partition dirs
    wh.overwrite_partitions(g, "dynamic_first", ["month"])
    wh.overwrite(g, "static_first", partition_by=["month"])
    dyn, sta = wh.read("dynamic_first"), wh.read("static_first")
    assert dyn.exceptAll(sta).count() == sta.exceptAll(dyn).count() == 0
    assert dyn.count() == sta.count() == 6

    def dirs(t):
        return sorted(p.name for p in (tmp_path / t).iterdir() if p.is_dir())

    assert dirs("dynamic_first") == dirs("static_first")
    assert "month=1" in dirs("static_first")


def test_merge_dim_keys_matches_upsert_dim(spark):
    """The Engine's driver-side dim merge and the distributed upsert_dim
    give the same rows: seeds and earlier-upserted names kept (Q5),
    unseen keys added with the default name, key 0 dropped except for
    the payment dim, whose seed holds it (Q4)."""
    from pyspark.sql import types as T

    from nyc_etl_pipeline_spark.pipeline.dims import merge_dim_keys

    cases = [
        (seed_vendor_dim, "Unknown Vendor", True),
        (seed_rate_dim, "Unknown Ratecode", True),
        (seed_payment_dim, "Unknown Payment Method", False),
    ]
    for seed, default, drop_sentinel in cases:
        seed_df = seed(spark)
        key, name_col = seed_df.columns
        existing = seed_df.unionByName(spark.createDataFrame([(42, "upserted earlier")], seed_df.schema))
        keys = [0, 1, 2, 7, 9, 42]  # sentinel, seeded, unseen, earlier-upserted
        candidates = spark.createDataFrame(
            [(k,) for k in keys], T.StructType([seed_df.schema[key]])
        )
        want = upsert_dim(existing, candidates, key, name_col, default, drop_sentinel=drop_sentinel)
        got = merge_dim_keys(existing.collect(), keys, default, drop_sentinel)
        assert sorted(got) == sorted(tuple(r) for r in want.collect()), key
        names = dict(got)
        assert names[42] == "upserted earlier" and names[7] == names[9] == default
        if drop_sentinel:
            assert 0 not in names
        else:
            assert names[0] == "Flex Fare trip"


def test_read_raw_normalized_one_scan_per_footer_schema(spark, tmp_path, yellow_raw, count_jobs):
    """Three raw files with two footer schemas (RatecodeID DOUBLE vs
    INT64, airport_fee missing from one): the grouped read equals the
    per-file normalization as a multiset, and infers one schema per
    group instead of per file."""
    import functools

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nyc_etl_pipeline_spark.pipeline.silver import read_raw_normalized
    from nyc_etl_pipeline_spark.schemas import YELLOW_RAW

    t = yellow_raw.toArrow()
    rate = t.schema.get_field_index("RatecodeID")
    drifted = t.set_column(rate, "RatecodeID", t["RatecodeID"].cast(pa.int64())).drop_columns(
        ["airport_fee"]
    )
    paths = []
    for name, table in (("2023-01", t.slice(0, 1)), ("2023-02", drifted), ("2023-03", t.slice(1, 1))):
        paths.append(str(tmp_path / f"{name}.parquet"))
        pq.write_table(table, paths[-1])

    def per_file(p):
        df = spark.read.parquet(p)
        return df.select(
            *[
                (F.col(f.name) if f.name in df.columns else F.lit(None)).cast(f.dataType).alias(f.name)
                for f in YELLOW_RAW.fields
            ]
        )

    want = functools.reduce(lambda a, b: a.unionByName(b), map(per_file, paths))
    got, jobs = count_jobs(lambda: read_raw_normalized(spark, paths, YELLOW_RAW))
    assert jobs == 2
    assert got.count() == want.count() == 4
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
