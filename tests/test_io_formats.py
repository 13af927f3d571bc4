"""Source/sink format coverage beyond parquet (SURVEY §2.1 family):
CSV, JSON, ORC round-trips with explicit schemas (never inference in
the engine path)."""

from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.io import read_csv, read_testdata
from nyc_etl_pipeline_spark.schemas import TESTDATA


def _canon(df, cols):
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    nation = read_testdata(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_csv")
    nation.write.option("header", True).csv(path)
    back = read_csv(spark, path, TESTDATA["nation"])
    assert _canon(back, nation.columns) == _canon(nation, nation.columns)


def test_json_roundtrip(spark, sf_dir, tmp_path):
    orders = read_testdata(spark, sf_dir, "orders").limit(500)
    path = str(tmp_path / "orders_json")
    orders.write.json(path)
    back = spark.read.schema(TESTDATA["orders"]).json(path)
    assert _canon(back, orders.columns) == _canon(orders, orders.columns)


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    from tests import plans as P

    li = read_testdata(spark, sf_dir, "lineitem")
    path = str(tmp_path / "li_orc")
    li.write.orc(path)
    back = spark.read.schema(TESTDATA["lineitem"]).orc(path)
    assert back.count() == li.count()
    filtered = back.filter(F.col("l_quantity") > 30).select("l_orderkey")
    plan = P.explain_str(filtered)
    assert any("l_quantity" in p for p in P.pushed_filters(plan)), plan


# ---------------------------------------------------------------------------
# Fixture-drift canary (VERDICT r3 item 4)
# ---------------------------------------------------------------------------

# Arrow physical types we know how to read into each declared Spark type.
# Timestamps allow any unit — read_testdata sniffs the footer and adapts
# (the r3 regression was events.ts silently regenerated NANOS→MICROS while
# the reader hard-coded NANOS; this canary fails by name on the NEXT drift
# that falls outside what the reader handles).
_ARROW_OK = {
    "bigint": {"int64"},
    "int": {"int32", "int64"},
    "double": {"double", "float"},
    "string": {"string", "large_string"},
    "timestamp": {"timestamp[ns]", "timestamp[us]", "timestamp[ms]"},
    "array<float>": {"list<element: float>", "list<item: float>"},
}


def test_testdata_footer_canary(sf_dir):
    """Every testdata table's parquet footer must be readable under the
    engine's declared TESTDATA schemas. Pure pyarrow — no Spark job —
    so it runs in milliseconds and pinpoints the drifted column."""
    import pyarrow.parquet as pq

    problems = []
    for table, schema in TESTDATA.items():
        arrow = pq.read_schema(f"{sf_dir}/{table}.parquet")
        arrow_types = {f.name: str(f.type) for f in arrow}
        for field in schema.fields:
            got = arrow_types.get(field.name)
            want = field.dataType.simpleString()
            key = "timestamp" if want == "timestamp" else want
            ok = _ARROW_OK.get(key)
            if got is None:
                problems.append(f"{table}.{field.name}: missing from parquet")
            elif ok is None:
                problems.append(f"{table}.{field.name}: no compat rule for spark type {want}")
            elif not (got in ok or (key == "timestamp" and got.startswith("timestamp"))):
                problems.append(f"{table}.{field.name}: parquet {got} not readable as spark {want}")
    assert not problems, "\n".join(problems)


def test_events_ts_reads_sane_epoch(spark, sf_dir):
    """The actual r3 corruption mode: a unit misread lands every event
    in 1970. Whatever unit the fixture uses, the read must produce
    event times in a plausible modern range."""
    from pyspark.sql import functions as F2

    bounds = (
        read_testdata(spark, sf_dir, "events")
        .select(F2.year(F2.min("ts")).alias("lo"), F2.year(F2.max("ts")).alias("hi"))
        .first()
    )
    assert 2000 <= bounds["lo"] <= bounds["hi"] <= 2100, bounds


def test_ensure_session_confs_warns_on_locked_conf(spark, caplog):
    """ensure_session_confs must be loud when a required conf cannot be
    applied (VERDICT r3 item 2): a silently-missing conf changes read
    semantics (UTC alignment, NANOS readability)."""
    import logging

    from nyc_etl_pipeline_spark import io as eio

    class Locked:
        def get(self, k, default=None):
            return None

        def set(self, k, v):
            raise Exception("Cannot modify the value of a locked config")

    class FakeSpark:
        conf = Locked()

    with caplog.at_level(logging.WARNING, logger="nyc_etl_pipeline_spark.io"):
        eio.ensure_session_confs(FakeSpark())
    assert any("could not apply session conf" in r.message for r in caplog.records)


def test_warehouse_on_file_uri_root(spark, sf_dir, tmp_path):
    """Warehouse against a URI root (file://), not a bare local path:
    exists/overwrite/read/compact all go through the Hadoop FS API, so
    the same code path serves hdfs:// and s3a:// roots (VERDICT r3
    item 8 — exists() was os.path-based and URI-broken)."""
    from nyc_etl_pipeline_spark.io import Warehouse

    wh = Warehouse(spark, f"file://{tmp_path}/wh")
    assert not wh.exists("nation")
    nation = read_testdata(spark, sf_dir, "nation")
    wh.overwrite(nation, "nation")
    assert wh.exists("nation")
    assert wh.read("nation").count() == nation.count()
    n_files = wh.compact("nation", target_file_mb=128)
    assert n_files == 1
    assert wh.read("nation").count() == nation.count()


def test_read_testdata_handles_nanos_regeneration(spark, sf_dir, tmp_path):
    """If the driver regenerates ANY table's timestamp column as
    TIMESTAMP(NANOS) — as happened to events.ts in round 3 — the
    reader must still produce correct TimestampType values. Round-trip:
    rewrite orders with ns timestamps via pyarrow, read through
    read_testdata, compare against the original."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    orig = read_testdata(spark, sf_dir, "orders")
    tbl = pq.read_table(f"{sf_dir}/orders.parquet")
    i = tbl.schema.get_field_index("o_orderdate")
    ns_col = tbl.column(i).cast(pa.timestamp("ns"))
    tbl_ns = tbl.set_column(i, pa.field("o_orderdate", pa.timestamp("ns")), ns_col)
    pq.write_table(tbl_ns, str(tmp_path / "orders.parquet"), store_schema=False)

    back = read_testdata(spark, str(tmp_path), "orders")
    assert dict(back.dtypes)["o_orderdate"] == "timestamp"
    canon = lambda df: sorted(  # noqa: E731
        tuple(str(x) for x in r) for r in df.select(sorted(df.columns)).collect()
    )
    assert canon(back) == canon(orig)

    # the streaming events read shares the derivation: drained over a
    # NANOS copy it equals the batch read of the same copy
    from nyc_etl_pipeline_spark.io import parquet_timestamp_unit
    from nyc_etl_pipeline_spark.streaming import run_available_now
    from nyc_etl_pipeline_spark.streaming.events import read_event_stream

    ev = pq.read_table(f"{sf_dir}/events.parquet")
    j = ev.schema.get_field_index("ts")
    ev_ns = ev.set_column(j, pa.field("ts", pa.timestamp("ns")), ev.column(j).cast(pa.timestamp("ns")))
    pq.write_table(ev_ns, str(tmp_path / "events.parquet"), store_schema=False)
    assert parquet_timestamp_unit(str(tmp_path / "events.parquet"), "ts") == "nanos"
    streamed = run_available_now(
        read_event_stream(spark, str(tmp_path)), "t_nanos_events", output_mode="append"
    )
    batch = read_testdata(spark, str(tmp_path), "events")
    assert dict(streamed.dtypes)["ts"] == "timestamp"
    assert canon(streamed) == canon(batch) == canon(read_testdata(spark, sf_dir, "events"))


def test_footer_sniff_partitioned_layout(spark, sf_dir, tmp_path):
    """parquet_timestamp_unit must find a footer inside a
    Hive-partitioned (nested) layout, and return None — not raise —
    for a missing table dir, so read_testdata falls through to Spark's
    clearer reader error."""
    from nyc_etl_pipeline_spark.io import (
        _first_parquet_file,
        parquet_timestamp_unit,
        read_testdata,
    )

    e = read_testdata(spark, sf_dir, "events")
    part_dir = str(tmp_path / "events.parquet")
    e.withColumn("day", F.to_date("ts")).write.partitionBy("day").parquet(part_dir)
    found = _first_parquet_file(part_dir)
    assert found is not None and "day=" in found  # recursed into the partition dirs
    # partitioned fixture layout reads end-to-end through read_testdata
    # (Spark writes INT96 timestamps by default, so the sniffed unit may
    # legitimately be None — the plain typed read handles it)
    back = read_testdata(spark, str(tmp_path), "events")
    assert back.count() == e.count()

    assert parquet_timestamp_unit(str(tmp_path / "nope.parquet"), "ts") is None


def test_warehouse_on_viewfs_root(spark, sf_dir, tmp_path):
    """S8 hardening: exercise the Warehouse against a SECOND real
    Hadoop FileSystem implementation (ViewFileSystem mount over the
    local FS) — every FS op must go through the Hadoop FS API, not
    os.path / posix assumptions."""
    from nyc_etl_pipeline_spark.io import Warehouse

    hconf = spark._jsc.hadoopConfiguration()
    hconf.set(
        "fs.viewfs.mounttable.whtest.link./wh",
        (tmp_path / "backing").as_uri(),
    )
    wh = Warehouse(spark, "viewfs://whtest/wh")
    o = read_testdata(spark, sf_dir, "orders")
    assert not wh.exists("orders_v")
    wh.overwrite(o, "orders_v")
    assert wh.exists("orders_v")
    assert wh.read("orders_v").count() == o.count()
    wh.append(o.limit(10), "orders_v")
    assert wh.read("orders_v").count() == o.count() + 10
    # compact's rename-swap within one mount link delegates to the
    # backing FS and must keep every row
    wh.compact("orders_v", target_file_mb=512)
    assert wh.read("orders_v").count() == o.count() + 10


class _RenamelessFS:
    """Wraps a real Hadoop FileSystem; rename() reports failure for
    the call numbers in `fail_calls` (1-based) — the object-store
    behavior class, where rename is copy+delete and can fail."""

    def __init__(self, fs, fail_calls):
        self._fs = fs
        self._calls = 0
        self._fail_calls = set(fail_calls)

    def rename(self, src, dst):
        self._calls += 1
        if self._calls in self._fail_calls:
            return False
        return self._fs.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._fs, name)


def test_compact_survives_renameless_fs(spark, sf_dir, tmp_path):
    """If Warehouse ever assumes posix rename semantics (ignores the
    return value, or deletes before the swap lands), this test sees
    either data loss or a silent success. Contract: a failed rename
    raises, and the ORIGINAL table stays fully readable."""
    import pytest as _pytest

    from nyc_etl_pipeline_spark.io import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = read_testdata(spark, sf_dir, "orders")
    wh.overwrite(o.repartition(8), "t")
    n = o.count()

    # first rename fails (pure rename-less store): the table must
    # never have been moved aside
    orig = Warehouse._fs
    wh._fs = lambda p: (orig(wh, p)[0], _RenamelessFS(orig(wh, p)[1], {1}))
    with _pytest.raises(IOError):
        wh.compact("t")
    wh._fs = lambda p: orig(wh, p)
    assert wh.read("t").count() == n

    # swap-in rename fails mid-protocol (table already moved aside):
    # compact must restore the original before raising
    wh._fs = lambda p: (orig(wh, p)[0], _RenamelessFS(orig(wh, p)[1], {2}))
    with _pytest.raises(IOError):
        wh.compact("t")
    wh._fs = lambda p: orig(wh, p)
    assert wh.read("t").count() == n


def test_warehouse_size_bytes_tracks_data(spark, sf_dir, tmp_path):
    from nyc_etl_pipeline_spark.io import Warehouse, read_testdata

    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = read_testdata(spark, sf_dir, "orders")
    wh.overwrite(o.limit(100), "t_small")
    wh.overwrite(o, "t_big")
    small, big = wh.size_bytes("t_small"), wh.size_bytes("t_big")
    assert 0 < small < big
    import os
    real = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(wh.path("t_big")) for f in fs
        if not f.startswith(".")
    )
    assert big == real


def test_warehouse_partitioned_end_to_end(spark, sf_dir, tmp_path):
    """Partitioned Warehouse table: overwrite / read / append /
    dynamic-partition overwrite / compact compose on one table."""
    from nyc_etl_pipeline_spark.io import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    orders = read_testdata(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    wh.overwrite(orders, "orders", partition_by=["o_year"])
    assert wh.exists("orders")
    assert wh.read("orders").count() == orders.count()

    # dynamic partition overwrite: rewriting one year is idempotent
    years = [r[0] for r in orders.select("o_year").distinct().collect()]
    one_year = orders.filter(F.col("o_year") == years[0])
    wh.overwrite_partitions(one_year, "orders", ["o_year"])
    assert wh.read("orders").count() == orders.count()

    # append then compact back to one file per partition value (the
    # return value is the REAL post-swap file count — for a
    # partitioned table that is |partition values|, not the
    # repartition target; ADVICE r5)
    wh.append(one_year, "orders", partition_by=["o_year"])
    assert wh.read("orders").count() == orders.count() + one_year.count()
    n = wh.compact("orders", target_file_mb=512)
    assert n == len(years)
    assert wh.read("orders").count() == orders.count() + one_year.count()


# ---- bucketed (hash-clustered) tables --------------------------------------

def test_bucketed_join_has_no_shuffle_exchange(spark, tmp_path, sf_dir):
    """Two tables bucketed on the join key with equal bucket counts
    must sort-merge-join WITHOUT a shuffle on either side, and the
    bucket-key aggregate must run exchange-free — the write-once
    co-location contract. A control join of the plain-path reads shows
    the exchanges the bucketing removed."""
    from nyc_etl_pipeline_spark.io import Warehouse, read_testdata

    orders = read_testdata(spark, sf_dir, "orders")
    cust = read_testdata(spark, sf_dir, "customer")
    wh = Warehouse(spark, str(tmp_path / "bwh"))
    wh.overwrite_bucketed(orders, "orders_b", ["o_custkey"], 8, sort_cols=["o_custkey"])
    wh.overwrite_bucketed(cust, "customer_b", ["c_custkey"], 8, sort_cols=["c_custkey"])

    ob, cb = wh.read_table("orders_b"), wh.read_table("customer_b")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ob.join(cb, ob.o_custkey == cb.c_custkey).groupBy("c_mktsegment").count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the only exchange allowed is the k-group one above the join
        n_exchanges = plan.count("Exchange hashpartitioning")
        assert n_exchanges <= 1, plan
        assert "SortMergeJoin" in plan

        control = (
            orders.join(cust, orders.o_custkey == cust.c_custkey)
            .groupBy("c_mktsegment").count()
        )
        cplan = control._jdf.queryExecution().executedPlan().toString()
        assert cplan.count("Exchange hashpartitioning") >= 2, cplan

        # results identical through the bucketed path
        got = {r["c_mktsegment"]: r["count"] for r in joined.collect()}
        want = {r["c_mktsegment"]: r["count"] for r in control.collect()}
        assert got == want and got
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)


def test_bucketed_table_names_are_isolated_per_warehouse(spark, tmp_path, sf_dir):
    """The session catalog is global: two Warehouse roots writing the
    SAME bare table name must not drop or repoint each other's entry
    (the catalog name is namespaced per root)."""
    from nyc_etl_pipeline_spark.io import Warehouse, read_testdata

    nation = read_testdata(spark, sf_dir, "nation")
    wh_a = Warehouse(spark, str(tmp_path / "wh_a"))
    wh_b = Warehouse(spark, str(tmp_path / "wh_b"))
    wh_a.overwrite_bucketed(nation.filter("n_regionkey = 0"), "t", ["n_nationkey"], 2)
    wh_b.overwrite_bucketed(nation.filter("n_regionkey <> 0"), "t", ["n_nationkey"], 2)
    a_keys = {r["n_nationkey"] for r in wh_a.read_table("t").collect()}
    b_keys = {r["n_nationkey"] for r in wh_b.read_table("t").collect()}
    want_a = {r["n_nationkey"] for r in nation.filter("n_regionkey = 0").collect()}
    want_b = {r["n_nationkey"] for r in nation.filter("n_regionkey <> 0").collect()}
    assert a_keys == want_a and b_keys == want_b
    assert a_keys.isdisjoint(b_keys) and a_keys and b_keys
