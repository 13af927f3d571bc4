"""Scale-path utilities: skew salting."""

from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.io import read_testdata
from nyc_etl_pipeline_spark.operators import skew as SK


def test_salted_agg_equals_plain(spark, sf_dir):
    li = read_testdata(spark, sf_dir, "lineitem")
    salted = {
        r["l_returnflag"]: (round(r["sum_l_quantity"], 6), r["n_rows"])
        for r in SK.salted_sum_count(li, "l_returnflag", "l_quantity", n_salts=16).collect()
    }
    plain = {
        r["l_returnflag"]: (round(r["s"], 6), r["c"])
        for r in li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert salted == plain


def test_salted_join_equals_plain(spark, sf_dir):
    o = read_testdata(spark, sf_dir, "orders")
    c = read_testdata(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    got = SK.salted_join(o, c, "o_custkey", n_salts=8)
    want = o.join(c, on="o_custkey", how="inner")
    assert got.count() == want.count()
    g = got.groupBy("c_mktsegment").count().collect()
    w = want.groupBy("c_mktsegment").count().collect()
    assert sorted(map(tuple, g)) == sorted(map(tuple, w))


def test_aqe_splits_skewed_join_partition(spark):
    """The OTHER half of the skew story (salting is the manual fix):
    AQE's runtime skew-join must detect the hot partition from the
    actual shuffle statistics and split it — the final adaptive plan
    carries the skew=true marker. Thresholds are production-sized;
    scaled down here so a local hot key qualifies. Result must equal
    the plain computation regardless of the split."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # 90% of left rows share one key -> one hot shuffle partition
        left = spark.range(0, 500_000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 1_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k").select(F.sum(F.col("v") + F.col("w")).alias("s"))
        got = j.collect()[0]["s"]
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)
    want = (
        left.join(right, "k").select(F.sum(F.col("v") + F.col("w")).alias("s")).collect()[0]["s"]
    )
    assert got == want


# ---- Z-order layout: measured data-skipping contract ---------------------

def _rowgroup_widths(path, cols):
    """Per-row-group normalized (max-min)/full_range width for each
    column, straight from parquet footer statistics — the exact
    numbers a scan's row-group pruner uses."""
    import glob
    import pyarrow.parquet as pq

    spans = {c: [] for c in cols}
    full = {c: [None, None] for c in cols}
    metas = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            row = {}
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                name = col.path_in_schema
                if name in spans:
                    st = col.statistics
                    row[name] = (st.min, st.max)
                    lo, hi = full[name]
                    full[name] = [
                        st.min if lo is None else min(lo, st.min),
                        st.max if hi is None else max(hi, st.max),
                    ]
            metas.append(row)
    out = {}
    for c in cols:
        lo, hi = full[c]
        out[c] = [
            (m[c][1] - m[c][0]) / max(1, hi - lo) for m in metas if c in m
        ]
    return out


def test_zorder_layout_skips_on_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order-clustered parquet keeps row-group min/max ranges narrow
    on BOTH interleaved columns; a single-column sort leaves the other
    column's ranges at ~the full domain (no skipping possible). This
    is the physical contract behind q122's key."""
    from nyc_etl_pipeline_spark.operators import layout

    li = read_testdata(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    z_path = str(tmp_path / "li_z")
    lin_path = str(tmp_path / "li_lin")
    layout.zorder_write(li, z_path, "l_partkey", "l_suppkey", n_files=16)
    (
        li.repartitionByRange(16, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.parquet(lin_path)
    )

    z = _rowgroup_widths(z_path, ["l_partkey", "l_suppkey"])
    lin = _rowgroup_widths(lin_path, ["l_partkey", "l_suppkey"])

    def avg(xs):
        return sum(xs) / len(xs)

    # Linear layout: partkey is tightly clustered, suppkey is not.
    assert avg(lin["l_partkey"]) < 0.3
    assert avg(lin["l_suppkey"]) > 0.8
    # Z-order: BOTH dimensions materially narrower than the full
    # domain -> a filter on either column can prune row groups.
    assert avg(z["l_partkey"]) < 0.5
    assert avg(z["l_suppkey"]) < 0.5
    # And suppkey skipping is strictly better than the linear layout.
    assert avg(z["l_suppkey"]) < avg(lin["l_suppkey"]) / 2


def test_interleave_bits_roundtrip_and_sql_parity(spark):
    """Every (x, y) < 2^16 must be exactly recoverable from the Morton
    key (bit interleaving is a bijection), and the generated DuckDB
    fragment must produce the identical key."""
    import duckdb

    from nyc_etl_pipeline_spark.operators.layout import (
        interleave_bits,
        sql_interleave_bits,
    )

    df = (
        spark.range(500)
        .select(
            (F.col("id") * 131 % 65536).alias("x"),
            (F.col("id") * 31337 % 65536).alias("y"),
        )
        .withColumn("z", interleave_bits(F.col("x"), F.col("y"), 16))
    )
    rows = df.collect()
    for r in rows:
        x = sum(((r["z"] >> (2 * i)) & 1) << i for i in range(16))
        y = sum(((r["z"] >> (2 * i + 1)) & 1) << i for i in range(16))
        assert (x, y) == (r["x"], r["y"])

    sql = (
        "SELECT " + sql_interleave_bits("x", "y", 16) + " AS z "
        "FROM (SELECT CAST(range * 131 % 65536 AS BIGINT) AS x, "
        "CAST(range * 31337 % 65536 AS BIGINT) AS y FROM range(500))"
    )
    duck = [r[0] for r in duckdb.sql(sql).fetchall()]
    assert duck == [r["z"] for r in rows]


def test_runtime_bloom_filter_prunes_application_side(spark, sf_dir):
    """Runtime row-level bloom-filter join pruning — the third leg of
    the join-pruning story (broadcast for small dims, AQE skew split,
    and THIS: a selective filter on the creation side injects a
    might_contain() probe into the big side's scan, dropping rows
    before the shuffle). At 100 TB this is the difference between
    shuffling the whole fact table and shuffling only the ~selectivity
    fraction that can possibly match. Thresholds are production-sized
    (creation side must be modest, application side huge); scaled down
    here so the local fixture qualifies. Result must equal the
    bloom-less plan — might_contain has no false negatives."""
    from nyc_etl_pipeline_spark.io import read_testdata

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}

    def shape():
        li = read_testdata(spark, sf_dir, "lineitem")
        o = read_testdata(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = shape()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan, plan[:2000]
        got = {r["l_linestatus"]: r["n"] for r in j.collect()}
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)
    want = {r["l_linestatus"]: r["n"] for r in shape().collect()}
    assert got == want
