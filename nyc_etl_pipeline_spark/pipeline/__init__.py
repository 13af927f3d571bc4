"""The reference pipeline's semantics as pure DataFrame transforms.

silver  — clean/unify raw trip records       (reference assets/silver.py)
dims    — dimension builds + incremental upsert (reference assets/gold.py dims,
          Databases/create_datamart.sql)
fact    — star-schema fact build                (reference gold.py)
reports — monthly/weekly denormalized marts  (reference assets/platinum.py)
"""

from nyc_etl_pipeline_spark.pipeline.silver import clean_trips
from nyc_etl_pipeline_spark.pipeline.dims import (
    build_date_dim,
    seed_payment_dim,
    seed_rate_dim,
    seed_type_dim,
    seed_vendor_dim,
    upsert_dim,
    zone_dim,
)
from nyc_etl_pipeline_spark.pipeline.fact import build_fact
from nyc_etl_pipeline_spark.pipeline.reports import (
    monthly_from_base,
    shared_report_base,
    weekly_from_base,
)

__all__ = [
    "clean_trips",
    "build_date_dim",
    "seed_payment_dim",
    "seed_rate_dim",
    "seed_type_dim",
    "seed_vendor_dim",
    "upsert_dim",
    "zone_dim",
    "build_fact",
    "shared_report_base",
    "monthly_from_base",
    "weekly_from_base",
]
