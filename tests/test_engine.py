"""End-to-end Engine runs into a tmp warehouse: full run, incremental
no-op, incremental month arrival, idempotent re-run. The first group
reads the reference's real green data and skips where it is absent;
the synthetic group writes the conftest fixtures as monthly files and
runs everywhere."""

import os
import shutil
import threading
import time
import warnings

import pyarrow.parquet as pq
import pytest
from conftest import GREEN_DIR, ZONE_CSV, requires_reference
from pyspark.sql import functions as F

from nyc_etl_pipeline_spark import engine, hygiene
from nyc_etl_pipeline_spark.engine import Engine
from nyc_etl_pipeline_spark.schemas import ENGINE_TABLES


@pytest.fixture()
def two_month_dir(tmp_path):
    d = tmp_path / "raw"
    d.mkdir()
    for f in ("2023-01.parquet", "2023-02.parquet"):
        shutil.copy(os.path.join(GREEN_DIR, f), d / f)
    return str(d)


@requires_reference
def test_engine_full_then_incremental(spark, tmp_path, two_month_dir):
    wh_root = str(tmp_path / "wh")
    eng = Engine(spark, wh_root)
    eng.run_all(green_dir=two_month_dir, zone_csv=ZONE_CSV)

    n_fact_1 = eng.wh.read("fact_nyc").count()
    n_monthly_1 = eng.wh.read("monthly_report").count()
    assert n_fact_1 > 100_000
    assert n_monthly_1 > 0
    months_1 = {
        r["month"]: r["n"]
        for r in eng.wh.read("fact_nyc").groupBy("month").agg(F.count("*").alias("n")).collect()
    }
    # real TLC files carry strays: the Feb file holds one 2023-03-01
    # trip (kept — in-dim-year), plus 2008/2009/2022 strays (dropped by
    # the date-dim inner join, Q10)
    assert set(months_1) == {1, 2, 3}

    # incremental re-run with no new data: fact unchanged
    eng.run_fact(incremental=True)
    assert eng.wh.read("fact_nyc").count() == n_fact_1

    # a new month arrives -> every month whose silver content changed is
    # rebuilt. The real 2023-03 TLC file carries a few LATE January
    # trips (pickup before the loaded maximum): digest-based change
    # detection loads them — a pickup-time watermark silently dropped
    # them (the month-1 count below used to stay frozen).
    shutil.copy(os.path.join(GREEN_DIR, "2023-03.parquet"), two_month_dir + "/2023-03.parquet")
    eng.run_silver(green_dir=two_month_dir)
    eng.run_fact(incremental=True)
    fact = eng.wh.read("fact_nyc")
    months = {r["month"]: r["n"] for r in fact.groupBy("month").agg(F.count("*").alias("n")).collect()}
    assert set(months) >= {1, 2, 3}
    assert months[1] >= months_1[1]  # late Jan strays from the Mar file may add
    assert months[2] >= months_1[2]
    assert months[3] > months_1[3]  # March rebuilt with the full file

    # and the load converges: a second incremental run is a no-op
    eng.run_fact(incremental=True)
    months_again = {
        r["month"]: r["n"]
        for r in eng.wh.read("fact_nyc").groupBy("month").agg(F.count("*").alias("n")).collect()
    }
    assert months_again == months

    # full re-run of everything is idempotent (Q6 fixed)
    n_total = fact.count()
    eng.run_all(green_dir=two_month_dir, zone_csv=ZONE_CSV)
    assert eng.wh.read("fact_nyc").count() == n_total


@requires_reference
def test_engine_dim_upsert_keeps_existing_names(spark, tmp_path, two_month_dir):
    eng = Engine(spark, str(tmp_path / "wh2"))
    eng.run_silver(green_dir=two_month_dir)
    eng.run_dims(zone_csv=ZONE_CSV)
    vend = {r["VendorID"]: r["VendorName"] for r in eng.wh.read("dim_vendor").collect()}
    assert vend[1] == "Creative Mobile Technologies, LLC"
    assert vend[2] == "VeriFone Inc."
    rates = {r["RatecodeID"]: r["RatecodeName"] for r in eng.wh.read("dim_rate").collect()}
    assert rates[99] == "Unknown"
    assert 0 not in rates  # sentinel dropped (Q4)
    pays = {r["paymentID"]: r["payment_type"] for r in eng.wh.read("dim_payment").collect()}
    assert pays[0] == "Flex Fare trip"  # sentinel kept for payment dim


def test_engine_refuses_exploded_dim(spark, tmp_path):
    """_existing materializes dims to the driver for same-path
    overwrite; a dim whose cardinality exploded (corrupt upstream
    keys) must fail at the row-count guard, not OOM the collect."""
    eng = Engine(spark, str(tmp_path / "wh_guard"))
    big = spark.range(eng.MAX_DIM_ROWS + 1).select(
        F.col("id").cast("int").alias("VendorID"),
        F.concat(F.lit("v"), F.col("id")).alias("VendorName"),
    )
    eng.wh.overwrite(big, "dim_vendor")
    with pytest.raises(ValueError, match="MAX_DIM_ROWS"):
        eng._existing("dim_vendor", lambda _: big.limit(0))
    # a sane dim still round-trips through the guard
    eng.wh.overwrite(big.limit(5), "dim_rate")
    assert len(eng._existing("dim_rate", lambda _: big.limit(0))) == 5


@requires_reference
def test_engine_full_rebuild_drops_deleted_month(spark, tmp_path, two_month_dir):
    """A month removed from silver must disappear from the fact on a
    full rebuild (incremental=False uses STATIC overwrite). Dynamic
    partition overwrite would silently keep the stale partition —
    run_fact's documented contract requires it gone."""
    eng = Engine(spark, str(tmp_path / "wh_del"))
    eng.run_all(green_dir=two_month_dir, zone_csv=ZONE_CSV)
    months_before = {
        r["month"] for r in eng.wh.read("fact_nyc").select("month").distinct().collect()
    }
    assert 2 in months_before
    # delete February upstream and rewrite silver without it (staged
    # through a scratch path: overwriting the path being read would
    # delete parquet mid-scan)
    staging = str(tmp_path / "silver_staging")
    eng.wh.read("trips_silver").filter(F.col("month") != 2).write.parquet(staging)
    eng.wh.overwrite(spark.read.parquet(staging), "trips_silver", ["month"])
    eng.run_fact(incremental=False)
    months_after = {
        r["month"] for r in eng.wh.read("fact_nyc").select("month").distinct().collect()
    }
    assert 2 not in months_after, "stale fact partition survived a full rebuild"
    assert 1 in months_after


@requires_reference
def test_engine_incremental_detects_late_only_batch(spark, tmp_path, two_month_dir):
    """A re-delivered batch whose pickup timestamps ALL precede the
    loaded maximum must still be loaded. Digest-based change detection
    catches it; the old pickup-time watermark silently skipped it."""
    eng = Engine(spark, str(tmp_path / "wh_late"))
    eng.run_all(green_dir=two_month_dir, zone_csv=ZONE_CSV)
    before = {
        r["month"]: r["n"]
        for r in eng.wh.read("fact_nyc").groupBy("month").agg(F.count("*").alias("n")).collect()
    }
    # simulate the late re-delivery: extra January rows appended to
    # silver (duplicates of loaded trips — every pickup <= watermark)
    silver = eng.wh.read("trips_silver")
    jan_extra = silver.filter(F.col("month") == 1).limit(500)
    n_extra = jan_extra.count()
    assert n_extra > 0
    eng.wh.append(jan_extra, "trips_silver", ["month"])

    eng.run_fact(incremental=True)
    after = {
        r["month"]: r["n"]
        for r in eng.wh.read("fact_nyc").groupBy("month").agg(F.count("*").alias("n")).collect()
    }
    assert after[1] > before[1], "late-only batch was not loaded"
    assert after[2] == before[2], "untouched month was rebuilt"


# ---- synthetic months (run on every host) ---------------------------------


def _write_monthly(df, ts_col, d):
    """One parquet file per pickup year-month, as the TLC delivers them
    (rows without a pickup go to 2023-01)."""
    d.mkdir()
    key = F.coalesce(F.date_format(ts_col, "yyyy-MM"), F.lit("2023-01"))
    for (month,) in df.select(key).distinct().collect():
        pq.write_table(df.filter(key == month).toArrow(), str(d / f"{month}.parquet"))


@pytest.fixture()
def synth_dirs(tmp_path, green_raw, yellow_raw):
    _write_monthly(green_raw, "lpep_pickup_datetime", tmp_path / "green")
    _write_monthly(yellow_raw, "tpep_pickup_datetime", tmp_path / "yellow")
    return str(tmp_path / "green"), str(tmp_path / "yellow")


def _reprice_february(green_raw, green_dir):
    """Re-deliver the February file with every fare one dollar higher."""
    feb = green_raw.filter(F.date_format("lpep_pickup_datetime", "yyyy-MM") == "2023-02")
    pq.write_table(
        feb.withColumn("fare_amount", F.col("fare_amount") + 1.0).toArrow(),
        os.path.join(green_dir, "2023-02.parquet"),
    )


def _fact_months(eng):
    fact = eng.wh.read("fact_nyc")
    return {r["month"]: r["n"] for r in fact.groupBy("month").agg(F.count("*").alias("n")).collect()}


def _data_files(eng, table):
    """(path in the table, inode, mtime, size) of every data file."""
    root = eng.wh.path(table)
    files = set()
    for d, _, names in os.walk(root):
        for name in names:
            if not name.startswith((".", "_")):
                path = os.path.join(d, name)
                st = os.stat(path)
                files.add((os.path.relpath(path, root), st.st_ino, st.st_mtime_ns, st.st_size))
    return files


def test_engine_synthetic_incremental_matches_full_build(
    spark, tmp_path, zone_csv, green_raw, synth_dirs
):
    """A full build, then an incremental re-run after one month is
    re-delivered: only that month's fact partition is rewritten, and
    the fact equals a fresh full build over the same files."""
    green, yellow = synth_dirs
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.run_all(green, yellow, zone_csv)
    # Jan: 3 green (after dedup and null-pickup drops) + 1 yellow; the
    # 2008 stray falls out at the date-dim join (Q10)
    assert _fact_months(eng) == {1: 4, 2: 1, 3: 1, 6: 1}
    feb_fare = eng.wh.read("fact_nyc").filter("month = 2").first()["fare_amount"]

    before = _data_files(eng, "fact_nyc")
    _reprice_february(green_raw, green)
    eng.run_all(green, yellow, zone_csv)
    rewritten = {os.path.dirname(f[0]) for f in before ^ _data_files(eng, "fact_nyc")}
    assert rewritten == {"month=2"}
    assert eng.wh.read("fact_nyc").filter("month = 2").first()["fare_amount"] == feb_fare + 1.0
    # mart files are sized from the fact's bytes, not shuffle.partitions
    assert len(_data_files(eng, "monthly_report")) == len(_data_files(eng, "weekly_report")) == 1

    fresh = Engine(spark, str(tmp_path / "wh_fresh"))
    fresh.run_all(green, yellow, zone_csv)
    cols = [c for c in fresh.wh.read("fact_nyc").columns if c != "ID"]
    got, want = (e.wh.read("fact_nyc").select(*cols) for e in (eng, fresh))
    assert got.count() == want.count() == 7
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_engine_synthetic_detects_late_only_batch(spark, tmp_path, zone_csv, synth_dirs):
    """Rows appended to an already-loaded month, every pickup earlier
    than the loaded maximum, are still loaded (content digest, not a
    pickup-time watermark), and no other month is rebuilt."""
    green, yellow = synth_dirs
    eng = Engine(spark, str(tmp_path / "wh_late"))
    eng.run_all(green, yellow, zone_csv)
    before = _fact_months(eng)
    jan_extra = eng.wh.read("trips_silver").filter(F.col("month") == 1).limit(2)
    eng.wh.append(jan_extra, "trips_silver", ["month"])
    untouched = {f for f in _data_files(eng, "fact_nyc") if os.path.dirname(f[0]) != "month=1"}

    eng.run_fact(incremental=True)
    after = _fact_months(eng)
    assert after[1] == before[1] + 2, "late-only batch was not loaded"
    assert {m: n for m, n in after.items() if m != 1} == {m: n for m, n in before.items() if m != 1}
    assert untouched <= _data_files(eng, "fact_nyc"), "an unchanged month was rebuilt"


def test_engine_synthetic_full_rebuild_drops_deleted_month(spark, tmp_path, zone_csv, synth_dirs):
    """incremental=False rewrites the fact with a static overwrite, so a
    month deleted from silver leaves no stale partition behind."""
    green, yellow = synth_dirs
    eng = Engine(spark, str(tmp_path / "wh_del"))
    eng.run_all(green, yellow, zone_csv)
    assert 2 in _fact_months(eng)
    # staged through a scratch path: overwriting the path being read
    # would delete parquet mid-scan
    staging = str(tmp_path / "silver_staging")
    eng.wh.read("trips_silver").filter(F.col("month") != 2).write.parquet(staging)
    eng.wh.overwrite(spark.read.parquet(staging), "trips_silver", ["month"])
    eng.run_fact(incremental=False)
    assert set(_fact_months(eng)) == {1, 3, 6}


_UNCHANGING_DIMS = ("dim_date", "dim_type", "dim_vendor", "dim_rate", "dim_payment")


def test_engine_incremental_dims_write_only_on_change(
    spark, tmp_path, zone_csv, green_raw, synth_dirs
):
    """A re-delivered month that brings no new dim key rewrites none of
    the dims it cannot change: every data file stays in place."""
    green, yellow = synth_dirs
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.run_all(green, yellow, zone_csv)
    before = {t: _data_files(eng, t) for t in _UNCHANGING_DIMS}
    assert all(before.values())
    _reprice_february(green_raw, green)
    eng.run_all(green, yellow, zone_csv)
    assert {t: _data_files(eng, t) for t in _UNCHANGING_DIMS} == before


def test_engine_incremental_dims_add_unseen_vendor(
    spark, tmp_path, zone_csv, green_raw, synth_dirs
):
    """A re-delivered month with an unseen VendorID adds exactly one
    default-named row; existing names stay as they were (Q5)."""
    green, yellow = synth_dirs
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.run_all(green, yellow, zone_csv)

    def vendors():
        return {r["VendorID"]: r["VendorName"] for r in eng.wh.read("dim_vendor").collect()}

    before = vendors()
    assert 7 not in before
    feb = green_raw.filter(F.date_format("lpep_pickup_datetime", "yyyy-MM") == "2023-02")
    pq.write_table(
        feb.withColumn("VendorID", F.lit(7).cast("long")).toArrow(),
        os.path.join(green, "2023-02.parquet"),
    )
    eng.run_all(green, yellow, zone_csv)
    assert vendors() == {**before, 7: "Unknown Vendor"}


def test_engine_new_year_rewrites_dim_date(spark, tmp_path, synth_dirs):
    """The stored dim_date follows the Engine's year."""
    green, yellow = synth_dirs
    root = str(tmp_path / "wh")
    Engine(spark, root).run_silver(green, yellow)
    Engine(spark, root).run_dims()
    eng = Engine(spark, root, year=2024)
    eng.run_dims()
    years = eng.wh.read("dim_date").groupBy("year").count().collect()
    assert [tuple(r) for r in years] == [(2024, 366)]


@pytest.mark.parametrize(
    "table, rows",
    [
        ("_fact_state", [(1, 3, -(2**63)), (2, 1, -1), (12, 5, 2**63 - 1)]),
        ("dim_vendor", [(1, "Creative Mobile Technologies, LLC"), (6, "Unknown Vendor")]),
        ("dim_rate", []),
    ],
)
def test_write_rows_round_trips_as_one_file(spark, tmp_path, table, rows):
    eng = Engine(spark, str(tmp_path / "wh"))
    eng._write_rows(rows, table)
    assert sorted(tuple(r) for r in eng._read(table).collect()) == sorted(rows)
    stored = spark.read.parquet(eng.wh.path(table)).schema
    declared = ENGINE_TABLES[table]
    assert [(f.name, f.dataType) for f in stored] == [(f.name, f.dataType) for f in declared]
    assert len(_data_files(eng, table)) == 1


# Spark jobs per Engine layer on the synthetic months, as measured: a
# full build, then an incremental re-run with one re-delivered month.
# Silver infers one schema per raw footer schema (green, yellow); every
# warehouse read uses its declared schema, dims take one silver pass
# and write only what changed, and the fact reads silver's month state
# once.
JOB_BUDGET = {
    "full": {"silver": 5, "dims": 11, "fact": 6, "reports": 15},
    "incremental": {"silver": 5, "dims": 7, "fact": 7, "reports": 15},
}


def test_engine_layer_job_budget(spark, tmp_path, zone_csv, green_raw, synth_dirs, count_jobs):
    green, yellow = synth_dirs
    eng = Engine(spark, str(tmp_path / "wh_jobs"))
    calls = {
        "silver": lambda: eng.run_silver(green, yellow),
        "dims": lambda: eng.run_dims(zone_csv),
        "fact": eng.run_fact,
        "reports": eng.run_reports,
    }
    jobs = {"full": {layer: count_jobs(call)[1] for layer, call in calls.items()}}
    _reprice_february(green_raw, green)
    jobs["incremental"] = {layer: count_jobs(call)[1] for layer, call in calls.items()}
    for run, budget in JOB_BUDGET.items():
        over = {k: (jobs[run][k], v) for k, v in budget.items() if jobs[run][k] > v}
        assert not over, f"{run} pass: layer (jobs, budget) over budget: {over}"


# ---- steps run side by side ----------------------------------------------


def test_concurrently_returns_in_order_and_raises_after_every_step(spark):
    assert engine._concurrently(spark, lambda: 1, lambda: 2) == [1, 2]
    finished = threading.Event()

    def slow():
        time.sleep(0.5)
        finished.set()

    def fail():
        raise RuntimeError("step failed")

    with pytest.raises(RuntimeError, match="step failed"):
        engine._concurrently(spark, fail, slow)
    assert finished.is_set(), "the error surfaced while a sibling step still ran"


def test_run_reports_failure_releases_base_after_both_marts(
    spark, tmp_path, zone_csv, synth_dirs, monkeypatch
):
    """A failing mart surfaces its error only once the other mart has
    been written, and the shared base is released after both."""
    green, yellow = synth_dirs
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.run_all(green, yellow, zone_csv)
    written = []
    overwrite = eng.wh.overwrite

    def recording_overwrite(df, table, *args):
        overwrite(df, table, *args)
        written.append(table)

    def broken_weekly(*_):
        raise RuntimeError("weekly mart failed")

    monkeypatch.setattr(eng.wh, "overwrite", recording_overwrite)
    monkeypatch.setattr(engine, "weekly_from_base", broken_weekly)
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    registered = hygiene.registered_count()
    with pytest.raises(RuntimeError, match="weekly mart failed"):
        eng.run_reports()
    assert written == ["monthly_report"]
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    assert hygiene.registered_count() == registered


def _job_ids(spark) -> set[int]:
    """Ids of the jobs the status store holds. Sets of ids, not sizes,
    are compared: the store drops its oldest jobs beyond
    ``spark.ui.retainedJobs``, which a long test session passes."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def test_engine_steps_run_under_callers_job_group(
    spark, tmp_path, zone_csv, green_raw, synth_dirs, count_jobs
):
    """Every job that run_dims and run_reports launch from their step
    threads counts under the caller's job group, on a full and an
    incremental pass. Warnings are errors here, so a step wrapped
    without the session ("Tags will not be inherited") fails too."""
    green, yellow = synth_dirs
    eng = Engine(spark, str(tmp_path / "wh"))
    layers = {"dims": lambda: eng.run_dims(zone_csv), "reports": eng.run_reports}
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        # PySpark's collect leaves its local socket to the collector
        warnings.simplefilter("ignore", ResourceWarning)
        for run in ("full", "incremental"):
            eng.run_silver(green, yellow)
            for layer in ("dims", "reports"):
                if layer == "reports":
                    eng.run_fact()
                before = _job_ids(spark)
                grouped = count_jobs(layers[layer])[1]
                launched = len(_job_ids(spark) - before)
                assert grouped == launched > 0, f"{run} {layer}: {grouped} of {launched} jobs in group"
            _reprice_february(green_raw, green)


def test_engine_passes_do_not_accumulate_threads(spark, tmp_path, zone_csv, synth_dirs):
    """Repeated passes reuse the step threads: each Python thread holds
    a JVM thread in pinned-thread mode, so new threads per pass would
    pile up on both sides of the gateway."""
    green, yellow = synth_dirs
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.run_all(green, yellow, zone_csv)
    eng.run_all(green, yellow, zone_csv)
    after_first = threading.active_count()
    for _ in range(9):
        eng.run_all(green, yellow, zone_csv)
    assert threading.active_count() <= after_first
