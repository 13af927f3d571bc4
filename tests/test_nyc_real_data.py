"""NYC-scale sanity (BASELINE.md): full-year real green taxi data
(~0.8M rows) through the complete pipeline — silver -> dims -> fact ->
monthly + weekly reports — in well under the 2-minute bar, no OOM.
(The reference crashed on larger inputs at the platinum layer,
reference README.md:162.)

Input is the reference repo's DATA (public TLC trip records), read
in place; skipped when absent.
"""

import os
import time

from conftest import GREEN_DIR, ZONE_CSV, requires_reference
from pyspark.sql import functions as F

pytestmark = requires_reference


def test_full_year_pipeline_under_two_minutes(spark):
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
    from nyc_etl_pipeline_spark.schemas import GREEN_RAW

    from nyc_etl_pipeline_spark.pipeline.silver import read_raw_normalized

    t0 = time.perf_counter()
    paths = sorted(
        os.path.join(GREEN_DIR, f) for f in os.listdir(GREEN_DIR) if f.endswith(".parquet")
    )
    # real TLC files drift schema across months -> normalizing reader
    raw = read_raw_normalized(spark, paths, GREEN_RAW)
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
    dims = (
        zone_dim(spark, ZONE_CSV),
        seed_type_dim(spark),
        vendors,
        seed_payment_dim(spark),
        seed_rate_dim(spark),
    )
    base = shared_report_base(fact, 2023)
    m = monthly_from_base(base, *dims)
    w = weekly_from_base(base, *dims)
    n_monthly = m.count()
    n_weekly = w.count()
    elapsed = time.perf_counter() - t0

    n_raw = raw.count()
    n_fact = fact.count()
    assert n_raw > 700_000  # full-year green ~0.8M
    assert 0 < n_fact <= n_raw  # dedup/dropna/2023-only losses
    assert n_monthly > 10_000 and n_weekly > n_monthly  # weekly keys are finer
    assert elapsed < 120, f"pipeline took {elapsed:.1f}s (bar: 120s)"
    print(
        f"\nNYC full-year: raw={n_raw} fact={n_fact} monthly={n_monthly} "
        f"weekly={n_weekly} in {elapsed:.1f}s"
    )


def test_real_data_quirk_q4_null_ids(spark):
    """~6% of green rows have null RatecodeID (FIXTURES.md §1); the
    Q4 sentinel pipeline must coerce them to 0, and they must then
    drop out of rate-dim inner joins."""
    from nyc_etl_pipeline_spark.pipeline import clean_trips
    from nyc_etl_pipeline_spark.schemas import GREEN_RAW

    raw = spark.read.schema(GREEN_RAW).parquet(f"{GREEN_DIR}/2023-01.parquet")
    silver = clean_trips(raw, "Green")
    n0 = silver.filter(F.col("RatecodeID") == 0).count()
    assert n0 > 1000  # thousands of null->0 rows in Jan alone
    assert silver.filter(F.col("RatecodeID").isNull()).count() == 0
