"""Skew utilities for the 100 TB posture.

- Co-location (bucketing) lives in `io.Warehouse.overwrite_bucketed`:
  both sides of a recurring equi-join bucketed on the join key
  sort-merge-join bucket-to-bucket with NO shuffle exchange on either
  side (asserted in tests/test_io_formats.py).
- Salting: a hot key (the NYC data's airport taxi zones, a null-ish
  default user, ...) makes one reducer partition take the whole
  stage's wall clock. `salted_sum_count` spreads each key over
  n_salts sub-keys (partial agg) and re-combines — same result,
  bounded partition size. `salted_join` replicates the small side per
  salt so the big side's hot key fans out. AQE's skew-join handles the
  sort-merge case automatically (enabled in session.py); explicit
  salting remains for aggregations and for joins AQE can't split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salt_col(n_salts: int, *cols) -> F.Column:
    """Deterministic salt in [0, n_salts) from row content (xxhash64 of
    the given columns) — reproducible runs, unlike rand()."""
    return F.pmod(F.xxhash64(*cols), F.lit(n_salts)).cast("int")


def salted_sum_count(
    df: DataFrame, key: str, value_col: str, n_salts: int = 16
) -> DataFrame:
    """Two-phase skew-safe aggregation: partial sum/count per
    (key, salt) — at most n_salts× more groups, each bounded — then
    final combine per key. Result identical to a direct groupBy."""
    salted = df.withColumn("__salt", salt_col(n_salts, value_col, key))
    # DECIMAL accumulation through both stages: the whole point of the
    # two-phase shape is that regrouping must not change the answer —
    # exact decimal sums make that literally true for doubles too
    # (functions.dec_sum rationale).
    partial = salted.groupBy(key, "__salt").agg(
        F.sum(F.col(value_col).cast("decimal(28,6)")).alias("__s"),
        F.count(F.lit(1)).alias("__c"),
    )
    return partial.groupBy(key).agg(
        F.sum("__s").cast("double").alias(f"sum_{value_col}"),
        F.sum("__c").alias("n_rows"),
    )


def salted_join(
    big: DataFrame, small: DataFrame, key: str, n_salts: int = 16
) -> DataFrame:
    """Equi-join where `big` has skewed keys and `small` is modest but
    above the broadcast threshold: salt the big side, replicate the
    small side once per salt, join on (key, salt). Each hot key now
    spreads across n_salts partitions."""
    big_s = big.withColumn("__salt", salt_col(n_salts, *big.columns))
    salts = big.sparkSession.range(n_salts).select(F.col("id").cast("int").alias("__salt"))
    small_r = small.crossJoin(salts)
    out = big_s.join(small_r, on=[key, "__salt"], how="inner")
    return out.drop("__salt")
