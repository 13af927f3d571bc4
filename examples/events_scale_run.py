"""Event-scale probe: the round-6 event/DQ operators at volume.

Synthesizes N events (default 10M over 50k users / 30 days) entirely
JVM-side with column expressions (xxhash64 — no storage, no Python
loop, deterministic under retries), then times each operator at that
scale. Scale EVIDENCE, not correctness (the oracle gate does
correctness): each runtime is the single-node bound a multi-executor
cluster divides.

Usage: python examples/events_scale_run.py [n_events]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")

from pyspark.sql import functions as F

from nyc_etl_pipeline_spark import get_spark, hygiene

N_USERS = 50_000
SPAN_US = 30 * 86400 * 1_000_000


def synth_events(spark, n: int):
    base = F.lit("2024-01-01 00:00:00").cast("timestamp")
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            F.unix_micros(base) + F.pmod(F.xxhash64("id", F.lit(1)), F.lit(SPAN_US))
        ).alias("ts"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(N_USERS)).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in ("click", "view", "purchase", "signup", "share")]),
            (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(5)) + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod(F.xxhash64("id", F.lit(4)), F.lit(10_000_000)) / 100_000.0).alias("value"),
    )


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    spark = get_spark(
        app_name="events-scale-probe",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    from nyc_etl_pipeline_spark.operators.pandas_ops import capped_sessionize
    from nyc_etl_pipeline_spark.operators.quality import (
        benford_report,
        ks_vs_global,
        mad_outlier_report,
        winsorize_report,
        weighted_median,
    )
    from nyc_etl_pipeline_spark.operators.scd import diff_tables

    e = synth_events(spark, n).persist()
    t0 = time.perf_counter()
    print(f"synth+persist: {e.count():,} events in {time.perf_counter() - t0:.1f}s")

    def timed(label: str, fn):
        hygiene.new_epoch(label)  # release the case-before-last's scratch
        t = time.perf_counter()
        out = fn()
        print(f"{label}: {out} in {time.perf_counter() - t:.1f}s")

    gap, cap = 30 * 60 * 10**6, 45 * 60 * 10**6
    # ~200k rows per pandas group (the bucket-sizing contract in the
    # operator docstring): the default 64 buckets is tuned to the 10M
    # tier; at 100M it makes 1.5M-row groups and the stage went 48x
    # for 10x data (memory-pressure cliff, not the numpy scan)
    sess_buckets = max(64, n // 200_000)
    timed(
        f"capped_sessionize ({sess_buckets} buckets)",
        lambda: f"{capped_sessionize(e, 'user_id', 'ts', 'event_id', gap, cap, n_buckets=sess_buckets).agg(F.max('session_idx')).first()[0]:,} max sessions/user",
    )
    # KS grid = types x pooled distinct values (~n here: every value
    # distinct at 5 decimals) — deliberately the worst case for the
    # spillable per-type window
    timed(
        "ks_vs_global",
        lambda: "max ks %.4f" % ks_vs_global(e, "event_type", "value").agg(F.max("ks")).first()[0],
    )
    timed(
        "mad_outliers",
        lambda: f"{mad_outlier_report(e, 'event_type', 'value').agg(F.sum('n_outliers')).first()[0]:,} outliers",
    )
    timed(
        "winsorize",
        lambda: "means %.2f" % winsorize_report(e, "event_type", "value").agg(F.sum("mean_winsor")).first()[0],
    )
    timed(
        "benford",
        lambda: "max chi2 %.0f" % benford_report(e, "event_type", "value").agg(F.max("chi2")).first()[0],
    )
    tok = e.withColumn("w", (F.pmod(F.xxhash64("event_id"), F.lit(500)) + 1))
    timed(
        "weighted_median",
        lambda: f"{weighted_median(tok, 'event_type', 'value', 'w').count()} groups",
    )
    # table diff: full-outer self-join against a mutated version
    old = e.select("event_id", "event_type", "value")
    new = old.filter(F.col("event_id") % 97 != 0).withColumn(
        "value", F.when(F.col("event_id") % 31 == 0, F.lit(0.0)).otherwise(F.col("value"))
    )
    timed(
        "table_diff",
        lambda: f"{ {r['metric']: r['n'] for r in diff_tables(old, new, ['event_id'], ['event_type', 'value']).collect()} }",
    )
    e.unpersist()


if __name__ == "__main__":
    main()
