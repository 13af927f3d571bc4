"""Engine runner: the reference's Dagster asset graph as one
SparkSession + four idempotent layer runs over a Parquet lakehouse.

Reference lifecycle (SURVEY §3): Dagster daemon -> per-asset
SparkSession -> pandas hop -> Spark -> MinIO/MySQL/SQL Server.
Here: `Engine(spark, warehouse).run_all(green_dir=...)` — each layer a
pure transform between warehouse tables:

  silver   raw monthly parquet -> trips_silver        (month-partitioned)
  dims     date dim + seeded dims + upserts           (small tables)
  fact     digest-incremental star fact               (month-partitioned,
                                                       partition overwrite
                                                       = idempotent re-runs)
  reports  monthly_report / weekly_report             (full rebuild)

Every table the Engine reads back is read with its schema from
`schemas.ENGINE_TABLES`, so no read launches a schema-inference job;
a change to what a layer writes must update that map. The dims layer
writes a dim only when it changes (a new key, a new year); the zone
dim alone is rewritten from its CSV on every pass. Within a layer,
steps that write disjoint tables run side by side (`_concurrently`,
under the caller's job group): the dims layer's four steps (the
date-dim year check and write; the key pass and the three upserts; the
type dim; the zone dim) and the reports layer's two mart builds and
writes. Job budget of an incremental pass over six one-color months,
one changed: silver 3 (one scan per raw footer schema, plus the
write), dims 7 (the stored date-dim year, two for the key pass, three
dim reads, the zone write), fact 7, reports 15; tests/test_engine.py
pins the budget on two-color months.

CLI:  python -m nyc_etl_pipeline_spark.engine \
          --warehouse /tmp/wh --green-dir .../green_data \
          --zone-csv .../taxi_zone.csv [--layer all]
"""

from __future__ import annotations

import argparse
import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor, wait

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.storagelevel import StorageLevel
from pyspark.util import inheritable_thread_target

from nyc_etl_pipeline_spark.hygiene import release, scratch_persist
from nyc_etl_pipeline_spark.io import Warehouse
from nyc_etl_pipeline_spark.pipeline import (
    build_date_dim,
    build_fact,
    clean_trips,
    seed_payment_dim,
    seed_rate_dim,
    seed_type_dim,
    seed_vendor_dim,
    zone_dim,
)
from nyc_etl_pipeline_spark.pipeline.dims import date_attributes, merge_dim_keys
from nyc_etl_pipeline_spark.pipeline.reports import (
    monthly_from_base,
    shared_report_base,
    weekly_from_base,
)
from nyc_etl_pipeline_spark.pipeline.silver import read_raw_normalized
from nyc_etl_pipeline_spark.schemas import ENGINE_TABLES, GREEN_RAW, YELLOW_RAW

# (table, silver key column, seed, default name, drop sentinel 0)
_UPSERTED_DIMS = (
    ("dim_vendor", "VendorID", seed_vendor_dim, "Unknown Vendor", True),
    ("dim_rate", "RatecodeID", seed_rate_dim, "Unknown Ratecode", True),
    # 0 is the seeded 'Flex Fare trip' key (Q4)
    ("dim_payment", "payment_type", seed_payment_dim, "Unknown Payment Method", False),
)

# One pool for the life of the process: in pinned-thread mode every
# Python thread holds its own JVM thread, so a pool per call would
# leave JVM threads behind on every pass. Four workers cover the most
# steps any layer submits at once (run_dims).
_POOL = ThreadPoolExecutor(4, thread_name_prefix="engine-step")


def _concurrently(spark: SparkSession, *steps: Callable[[], object]) -> list:
    """Run zero-argument ``steps`` side by side and return their
    results in order. Independent plans submitted together share the
    scheduler's slots, so a 1-task write stage or a step's driver-side
    plan building overlaps the others instead of leaving cores idle.

    Each step runs with the caller's Spark local properties (job group,
    scheduler pool) and session tags, copied when it is submitted, so
    its jobs count under the caller's job group. Every step is waited
    for before the first error (in step order) is re-raised: the
    caller's cleanup, such as unpersisting a base the steps share, must
    not run while a sibling still reads it.

    A step must not call ``_concurrently`` itself: a nested submit to
    the bounded pool can wait for a worker its own parent holds, and
    deadlock.
    """
    futures = [_POOL.submit(inheritable_thread_target(spark)(step)) for step in steps]
    wait(futures)
    return [f.result() for f in futures]


class Engine:
    def __init__(self, spark: SparkSession, warehouse_root: str, year: int = 2023):
        self.spark = spark
        self.wh = Warehouse(spark, warehouse_root)
        self.year = year

    def _read(self, table: str) -> DataFrame:
        return self.wh.read(table, ENGINE_TABLES[table])

    def _write_rows(self, rows: list, table: str) -> None:
        """Overwrite a small table from driver-side rows, as one file
        (the next read-back is one job). The rows travel as one Arrow
        table, so no Python worker starts: a pickled-RDD write took
        ~0.35 s for a 7-row dim on local[4], this path ~0.19 s."""
        schema = ENGINE_TABLES[table]
        arrow = pa.Table.from_pylist(
            [dict(zip(schema.names, row)) for row in rows], to_arrow_schema(schema)
        )
        self.wh.overwrite(self.spark.createDataFrame(arrow, schema).coalesce(1), table)

    # ---- silver ----------------------------------------------------------

    def run_silver(self, green_dir: str | None = None, yellow_dir: str | None = None) -> None:
        """Clean+unify all available raw files into month-partitioned
        trips_silver (by-name union fixes reference Q2/Q3)."""
        parts: list[DataFrame] = []
        for d, schema, color in ((green_dir, GREEN_RAW, "Green"), (yellow_dir, YELLOW_RAW, "Yellow")):
            if not d:
                continue
            paths = sorted(
                os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
            )
            raw = read_raw_normalized(self.spark, paths, schema)
            parts.append(clean_trips(raw, color))
        if not parts:
            raise ValueError("no raw inputs given")
        silver = parts[0]
        for p in parts[1:]:
            silver = silver.unionByName(p)
        silver = silver.withColumn("month", F.month("pickup_datetime"))
        self.wh.overwrite_partitions(silver, "trips_silver", ["month"])

    # ---- dims ------------------------------------------------------------

    def run_dims(self, zone_csv: str | None = None) -> None:
        """Write each dim only when it would change: ``dim_date`` on a
        new year, ``dim_type`` on first creation (its seeds, like the
        upserted dims', apply only then), an upserted dim when it is
        absent or gains a key. ``dim_zone`` follows the CSV and is
        rewritten on every pass. The four steps write disjoint tables
        and run side by side."""
        spark = self.spark

        def date_dim() -> None:
            # one bounded read finds the year of the stored date dim
            year_row = self.wh.exists("dim_date") and self._read("dim_date").select("year").first()
            if not year_row or year_row[0] != self.year:
                self.wh.overwrite(
                    build_date_dim(spark, f"{self.year}-01-01", f"{self.year}-12-31"), "dim_date"
                )

        def upserted_dims() -> None:
            # every dim's distinct keys in one silver pass; the (enum-
            # sized) merge with the existing rows then runs on the driver
            found = self._read("trips_silver").agg(
                *(F.collect_set(dim[1]) for dim in _UPSERTED_DIMS)
            ).first()
            for keys, (table, _, seed, default_name, drop_sentinel) in zip(found, _UPSERTED_DIMS):
                stored = self.wh.exists(table)
                existing = self._existing(table, seed)
                merged = merge_dim_keys(existing, keys, default_name, drop_sentinel)
                # merge_dim_keys only appends: same length == same table
                if not stored or len(merged) > len(existing):
                    self._write_rows(merged, table)

        def type_dim() -> None:
            if not self.wh.exists("dim_type"):
                self.wh.overwrite(seed_type_dim(spark), "dim_type")

        def zone() -> None:
            if zone_csv:
                self.wh.overwrite(zone_dim(spark, zone_csv), "dim_zone")

        _concurrently(spark, date_dim, upserted_dims, type_dim, zone)

    # Dims are enum-like (vendors, rate codes, payment types) — a few
    # dozen rows by design. The bound exists so corrupt raw data that
    # explodes key cardinality (e.g. millions of distinct VendorIDs)
    # fails loud at the guard instead of OOMing the driver collect.
    MAX_DIM_ROWS = 100_000

    def _existing(self, table: str, seed: Callable[[SparkSession], DataFrame]) -> list:
        # Q5 semantics: existing dim rows are never updated; seeds are
        # the initial state on first run, built only then. The existing
        # dim is collected (dims are small by definition) so the merged
        # dim can overwrite the same path it was derived from — lazy
        # lineage over the original files would read deleted parquet
        # mid-write.
        if not self.wh.exists(table):
            return seed(self.spark).collect()
        rows = self._read(table).limit(self.MAX_DIM_ROWS + 1).collect()
        if len(rows) > self.MAX_DIM_ROWS:
            raise ValueError(
                f"dim table {table!r} has more than MAX_DIM_ROWS="
                f"{self.MAX_DIM_ROWS} rows: dims are materialized to the "
                f"driver for same-path overwrite, so an unbounded dim "
                f"indicates corrupt upstream keys — refusing the collect."
            )
        return rows

    # ---- fact ------------------------------------------------------------

    def _silver_month_state(self, silver: DataFrame) -> DataFrame:
        """(month, n_rows, digest): an order-independent per-month
        fingerprint of silver — count plus bit_xor of a full-row hash.
        One map-side-combinable pass, 12-row shuffle. XOR never
        overflows (relevant under ANSI mode) and is order/partition
        independent; identical-row pairs cancel in the XOR but change
        the count, so a content change always moves at least one of
        the two. At larger-than-rebuild scale, maintain this state
        incrementally at silver-write time instead of rescanning."""
        data_cols = [c for c in silver.columns if c != "month"]
        return silver.groupBy("month").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor(F.xxhash64(*data_cols)).alias("digest"),
        )

    def run_fact(self, incremental: bool = True) -> None:
        """Incremental load, idempotent per month (fixes reference Q6).

        Change detection compares each month's silver fingerprint
        (row count + content digest, `_silver_month_state`) against the
        state recorded at the previous fact build — NOT a pickup-time
        watermark. A watermark misses batches consisting solely of
        late rows (e.g. a re-delivered earlier month's file whose
        timestamps all precede the max already loaded); a content
        digest catches any change. The reference's max-watermark + filter
        shape (gold.py:56-65) stays under the oracle gate as suite
        query q05 on `orders`; the Engine does not use it.

        Affected months are rebuilt COMPLETELY from silver and swapped
        in with partition overwrite. (Appending just the new rows would
        be cheaper but re-runs after partial failures would duplicate;
        overwriting a partition with only the new rows would drop the
        month's earlier rows. Rebuild-and-swap stays correct under
        retries and late data — the engine is single-year scoped like
        the reference's date dim, so `month` alone identifies a
        partition.) A month deleted from silver entirely keeps its last
        fact partition — removal requires incremental=False, which
        writes with a STATIC full-table overwrite so stale partitions
        absent from the rebuilt fact are actually dropped.
        """
        silver = self._read("trips_silver")
        dd = self._read("dim_date")
        dtype = self._read("dim_type")
        # <= 12 rows, collected once: change detection compares them on
        # the driver and they are recorded as the new state
        state = [tuple(r) for r in self._silver_month_state(silver).collect()]
        full_rebuild = not incremental
        if incremental and self.wh.exists("fact_nyc") and self.wh.exists("_fact_state"):
            prev = set(map(tuple, self._read("_fact_state").collect()))
            affected = sorted(row[0] for row in state if row not in prev)
            if not affected:
                return
            silver = silver.filter(F.col("month").isin(affected))
        # dateID numbers the days of self.year (build_date_dim as
        # run_dims calls it), so the pickup month needs no join
        month = date_attributes(F.col("date_puID"), f"{self.year}-01-01")["month"]
        fact = build_fact(silver, dd, dtype).withColumn("month", month)
        if full_rebuild:
            # static overwrite: a month deleted upstream must not leave
            # a stale fact partition behind (dynamic mode would keep it)
            self.wh.overwrite(fact, "fact_nyc", ["month"])
        else:
            self.wh.overwrite_partitions(fact, "fact_nyc", ["month"])
        # record the silver state this build consumed (after the fact
        # write — a crash in between just re-detects the months next run)
        self._write_rows(state, "_fact_state")

    # ---- reports ---------------------------------------------------------

    def run_reports(self) -> None:
        fact = self._read("fact_nyc").drop("month")
        # One scan + one shuffle serve BOTH marts: the base is hash-
        # partitioned on the 6 shared grouping keys (a subset of each
        # mart's keys, so neither groupBy re-shuffles) and persisted
        # across the two writes. See reports.py scale note.
        #
        # Partition count comes from the fact's on-disk bytes alone
        # (~32 MB of parquet each, so the per-task aggregation hash
        # maps stay small even when the report grain barely
        # compresses, and a small mart is one file),
        # and the base persists DISK_ONLY: it is a materialized
        # shuffle, and memory-caching it would pin the protected
        # storage half of the unified pool exactly when both pipelined
        # hash aggs need execution memory (a 36M-row run in a 4g heap
        # died that way).
        n_parts = max(1, min(4096, -(-self.wh.size_bytes("fact_nyc") // (32 << 20))))
        base = scratch_persist(
            shared_report_base(fact, self.year, num_partitions=n_parts),
            StorageLevel.DISK_ONLY,
        )
        dims = tuple(
            self._read(t) for t in ("dim_zone", "dim_type", "dim_vendor", "dim_payment", "dim_rate")
        )
        # the two marts are built and written side by side; the base is
        # released only once both have ended
        try:
            _concurrently(
                self.spark,
                lambda: self.wh.overwrite(monthly_from_base(base, *dims), "monthly_report"),
                lambda: self.wh.overwrite(weekly_from_base(base, *dims), "weekly_report"),
            )
        finally:
            release(base)

    def run_all(
        self,
        green_dir: str | None = None,
        yellow_dir: str | None = None,
        zone_csv: str | None = None,
        incremental: bool = True,
    ) -> None:
        self.run_silver(green_dir, yellow_dir)
        self.run_dims(zone_csv)
        self.run_fact(incremental=incremental)
        self.run_reports()


def main() -> None:
    from nyc_etl_pipeline_spark import get_spark

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--green-dir")
    ap.add_argument("--yellow-dir")
    ap.add_argument("--zone-csv")
    ap.add_argument("--year", type=int, default=2023)
    ap.add_argument(
        "--layer", default="all", choices=["all", "silver", "dims", "fact", "reports"]
    )
    ap.add_argument("--full-refresh", action="store_true")
    args = ap.parse_args()

    spark = get_spark(app_name="nyc-etl-pipeline-engine")
    eng = Engine(spark, args.warehouse, year=args.year)
    if args.layer == "all":
        eng.run_all(
            args.green_dir, args.yellow_dir, args.zone_csv, incremental=not args.full_refresh
        )
    elif args.layer == "silver":
        eng.run_silver(args.green_dir, args.yellow_dir)
    elif args.layer == "dims":
        eng.run_dims(args.zone_csv)
    elif args.layer == "fact":
        eng.run_fact(incremental=not args.full_refresh)
    elif args.layer == "reports":
        eng.run_reports()
    for t in ("trips_silver", "fact_nyc", "monthly_report", "weekly_report"):
        if eng.wh.exists(t):
            print(f"{t}: {eng.wh.read(t).count()} rows")


if __name__ == "__main__":
    main()
