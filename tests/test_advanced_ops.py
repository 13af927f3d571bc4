"""Advanced-op contracts not covered by the SQL oracle."""

from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.io import read_testdata
from nyc_etl_pipeline_spark.operators.joins import asof_join_backward
from nyc_etl_pipeline_spark.suite.advanced import q33_distinct_aggs, q34_approx_aggs


def test_approx_aggs_within_tolerance(spark, sf_dir):
    exact = {r["returnflag"]: r for r in q33_distinct_aggs(spark, sf_dir).collect()}
    approx = {r["returnflag"]: r for r in q34_approx_aggs(spark, sf_dir).collect()}
    assert set(exact) == set(approx)
    for flag, e in exact.items():
        a = approx[flag]
        # the gate output carries the exact values + sketch-in-bounds flags
        assert a["exact_orders"] == e["n_orders"]
        assert a["orders_within_tol"] and a["p50_within_tol"] and a["p99_within_tol"], (
            f"{flag}: sketch outside declared tolerance: {a}"
        )
        assert 0 < a["p50_price"] <= a["p99_price"]


def test_asof_join_matches_bruteforce(spark, sf_dir):
    """Window-union as-of join vs a brute-force non-equi join +
    greatest-ts reduction on a small slice."""
    e = read_testdata(spark, sf_dir, "events")
    purchases = e.filter((F.col("event_type") == "purchase") & (F.col("user_id") < 10)).select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter((F.col("event_type") == "click") & (F.col("user_id") < 10)).select(
        "user_id", "ts", "value"
    )
    got = {
        r["event_id"]: r["asof_ts"]
        for r in asof_join_backward(
            purchases, clicks, by="user_id", ts="ts", right_value_cols=["value"]
        ).collect()
    }
    brute = (
        purchases.alias("p")
        .join(
            clicks.alias("c"),
            (F.col("p.user_id") == F.col("c.user_id")) & (F.col("c.ts") <= F.col("p.ts")),
            "left",
        )
        .groupBy("p.event_id")
        .agg(F.max("c.ts").alias("best_ts"))
    )
    want = {r["event_id"]: r["best_ts"] for r in brute.collect()}
    assert got == want


def test_asof_join_tie_is_inclusive(spark):
    left = spark.createDataFrame([(1, 100, 10.0)], "id long, k long, ts double")
    right = spark.createDataFrame(
        [(100, 10.0, "same"), (100, 9.0, "before"), (100, 11.0, "after")],
        "k long, ts double, tag string",
    )
    out = asof_join_backward(
        left.select("id", "k", "ts"),
        right,
        by="k",
        ts="ts",
        right_value_cols=["tag"],
    ).collect()
    assert len(out) == 1 and out[0]["asof_tag"] == "same"


def test_hll_merge_equals_direct_sketch(spark, sf_dir):
    """The mergeability contract behind q80: unioning daily sketches
    yields the SAME estimate as sketching the raw stream directly
    (DataSketches HLL union is exact for same-lgK sketches) — the
    invariant that lets a 100 TB pipeline keep tiny daily rollups
    instead of rescanning raw history."""
    from pyspark.sql import functions as F

    from nyc_etl_pipeline_spark.io import read_testdata

    e = read_testdata(spark, sf_dir, "events")
    direct = e.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")
    )
    merged = (
        e.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    d = {r["event_type"]: r["est"] for r in direct.collect()}
    m = {r["event_type"]: r["est"] for r in merged.collect()}
    assert d == m


def test_observed_write_collects_metrics_in_one_pass(spark, sf_dir, tmp_path):
    """Observation API audit: metrics come from the SAME job that
    wrote the table — values must equal an independent recomputation,
    and the written table must be intact."""
    from pyspark.sql import functions as F

    from nyc_etl_pipeline_spark.io import Warehouse, read_testdata
    from nyc_etl_pipeline_spark.operators.quality import observed_write

    wh = Warehouse(spark, str(tmp_path / "wh"))
    orders = read_testdata(spark, sf_dir, "orders")
    got = observed_write(
        orders,
        lambda d: wh.overwrite(d, "orders_audit"),
        {
            "n_rows": F.count(F.lit(1)),
            "n_null_dates": F.count(F.when(F.col("o_orderdate").isNull(), 1)),
            "total_price": F.round(F.sum("o_totalprice"), 3),
        },
    )
    back = wh.read("orders_audit")
    assert got["n_rows"] == back.count() == orders.count()
    assert got["n_null_dates"] == 0
    want = round(orders.agg(F.sum("o_totalprice")).first()[0], 3)
    assert abs(got["total_price"] - want) < 1e-6


def test_percentile_formulations_agree(spark, sf_dir):
    """q42 (F.percentile, in-memory per-group buffer) is demoted from
    the gate since round 5 — it survives as the ANCHOR for q58's
    spillable distributed-sort formulation. Both must agree to the
    last rounded digit with each other AND with DuckDB's
    quantile_cont on the same data."""
    import duckdb

    from nyc_etl_pipeline_spark.suite.curation import (
        _Q42_SQL,
        q42_percentiles,
        q58_percentiles_sorted,
    )

    anchor = {r["returnflag"]: (r["p25"], r["p50"], r["p75"], r["p99"])
              for r in q42_percentiles(spark, sf_dir).collect()}
    sorted_form = {r["returnflag"]: (r["p25"], r["p50"], r["p75"], r["p99"])
                   for r in q58_percentiles_sorted(spark, sf_dir).collect()}
    assert anchor == sorted_form

    con = duckdb.connect()
    con.sql(f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'")
    duck = {r[0]: tuple(r[1:]) for r in con.sql(_Q42_SQL).fetchall()}
    assert anchor == duck


# ---- geospatial ----------------------------------------------------------

def test_haversine_known_distance_and_cross_cell_pairs(spark):
    """Pin the haversine against a hand-checkable distance (1 degree
    of latitude ~ 111.19 km on the 6371 km sphere) and prove the grid
    join finds pairs straddling a cell boundary."""
    from pyspark.sql import functions as F

    from nyc_etl_pipeline_spark.operators import geo

    pts = spark.createDataFrame(
        [
            (1, 40.0, -74.0),
            (2, 41.0, -74.0),        # ~111.19 km north of 1
            (3, 40.00249, -74.0),    # ~277 m north of 1, same cell col
            (4, 40.00251, -74.0),    # just over a 0.0025-deg cell edge from 1
        ],
        "point_id long, lat double, lon double",
    )
    d = (
        pts.alias("a")
        .crossJoin(pts.alias("b"))
        .filter("a.point_id = 1 and b.point_id = 2")
        .select(
            geo.haversine_m(
                F.col("a.lat"), F.col("a.lon"), F.col("b.lat"), F.col("b.lon")
            ).alias("d")
        )
        .first()["d"]
    )
    assert abs(d - 111194.9) < 10  # 2*pi*6371km/360

    pairs = {
        (r["a_id"], r["b_id"]): r["dist_m"]
        for r in geo.radius_pairs(pts, 300.0, 0.0025).collect()
    }
    # 3 and 4 are in DIFFERENT cells than 1 straddling the boundary;
    # the neighbor-cell explode must still find both pairs
    assert (1, 3) in pairs and (1, 4) in pairs and (3, 4) in pairs
    assert (1, 2) not in pairs  # far outside the radius
    assert abs(pairs[(1, 3)] - 277.0) < 2


def test_q131_spatial_join_is_equi_not_cartesian(spark, sf_dir):
    from tests import plans as P
    from nyc_etl_pipeline_spark.suite.events import q131_radius_pairs

    plan = P.explain_str(q131_radius_pairs(spark, sf_dir))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_interval_overlap_drops_degenerate_intervals(spark):
    """end < start is not an interval: it must be dropped, not fed to
    sequence() (which would silently generate DESCENDING buckets and
    phantom candidates in Spark while DuckDB's generate_series yields
    nothing — an engine-divergence trap)."""
    from nyc_etl_pipeline_spark.operators.joins import interval_overlap_pairs

    df = spark.createDataFrame(
        [(1, 100, 200), (2, 150, 250), (3, 500, 400), (4, 160, 160)],
        "iid long, s long, e long",
    )
    pairs = {
        (r["a_id"], r["b_id"])
        for r in interval_overlap_pairs(df, "iid", "s", "e", bucket_width=100).collect()
    }
    # 3's reversed interval joins nothing; 4 is the EMPTY interval
    # [160,160) sitting inside both 1 and 2 — an empty set overlaps
    # nothing, so no overlap=0 phantom pairs either
    assert pairs == {(1, 2)}


def test_hist_quantiles_merge_and_error_bound(spark, sf_dir):
    """The q135 histogram sketch contracts the oracle can't see:
    (1) merge == direct — partial histograms over disjoint shards
    cell-wise-added give bit-identical quantile answers to one build
    over the whole table (the property that makes it a sketch);
    (2) the upper-edge estimate brackets the true k-th order
    statistic: x_k <= q_upper <= x_k + bin width, for in-range data."""
    from nyc_etl_pipeline_spark.operators.sketches import (
        hist_build,
        hist_merge,
        hist_quantiles,
    )
    from nyc_etl_pipeline_spark.suite.advanced import (
        HIST_BINS,
        HIST_HI,
        HIST_LO,
        HIST_PCTS,
        HIST_W,
    )

    li = read_testdata(spark, sf_dir, "lineitem")
    direct = hist_build(li, "l_extendedprice", HIST_LO, HIST_HI, HIST_BINS)
    shards = [
        hist_build(li.filter(F.col("l_orderkey") % 3 == i), "l_extendedprice",
                   HIST_LO, HIST_HI, HIST_BINS)
        for i in range(3)
    ]
    merged = hist_merge(shards)
    q_direct = {r["pct"]: r["q_upper"] for r in
                hist_quantiles(direct, HIST_PCTS, HIST_LO, HIST_HI, HIST_BINS).collect()}
    q_merged = {r["pct"]: r["q_upper"] for r in
                hist_quantiles(merged, HIST_PCTS, HIST_LO, HIST_HI, HIST_BINS).collect()}
    assert q_direct == q_merged  # bit-identical, not approximately

    n = li.count()
    vals = li.select("l_extendedprice").orderBy("l_extendedprice")
    for pct in HIST_PCTS:
        k = -(-pct * n // 100)  # ceil(pct*n/100)
        x_k = vals.limit(int(k)).orderBy(F.desc("l_extendedprice")).first()[0]
        assert x_k <= q_direct[pct] <= x_k + HIST_W, (pct, x_k, q_direct[pct])


def test_hist_quantiles_by_error_bound_per_group(spark, sf_dir):
    """Per-group histogram quantiles bracket each group's true k-th
    order statistic within one bin width (q140's contract)."""
    from nyc_etl_pipeline_spark.operators.sketches import (
        hist_build_by,
        hist_quantiles_by,
    )
    from nyc_etl_pipeline_spark.suite.corpus import (
        Q140_BINS,
        Q140_HI,
        Q140_LO,
        Q140_PCTS,
        Q140_W,
    )

    docs = read_testdata(spark, sf_dir, "documents")
    h = hist_build_by(docs, ["source"], "n_chars", Q140_LO, Q140_HI, Q140_BINS)
    got = {
        (r["source"], r["pct"]): r["q_upper"]
        for r in hist_quantiles_by(
            h, ["source"], Q140_PCTS, Q140_LO, Q140_HI, Q140_BINS
        ).collect()
    }
    vals = {
        r["source"]: sorted(v["n_chars"] for v in rows)
        for r, rows in (
            (r, r["vals"])
            for r in docs.groupBy("source")
            .agg(F.collect_list(F.struct("n_chars")).alias("vals"))
            .collect()
        )
    }
    for (src, pct), q in got.items():
        xs = vals[src]
        k = -(-pct * len(xs) // 100)
        x_k = xs[k - 1]
        assert x_k <= q <= x_k + Q140_W, (src, pct, x_k, q)


def test_mad_outliers_resist_masking(spark):
    """The case stddev-based bands fail: a cluster of extreme values
    inflates sigma until NOTHING exceeds mean+3*sigma, while the
    median/MAD report still flags exactly the planted extremes."""
    from nyc_etl_pipeline_spark.operators.quality import mad_outlier_report

    vals = [float(v) for v in range(1, 16)] + [1000.0, 1001.0, 1002.0]
    df = spark.createDataFrame([("g", v) for v in vals], ["grp", "value"])
    row = mad_outlier_report(df, "grp", "value", k=3.0).collect()[0]
    assert row["n"] == len(vals)
    assert row["n_outliers"] == 3  # exactly the planted extremes
    # the masking check: classic 3-sigma flags nothing here
    import statistics

    mu, sd = statistics.mean(vals), statistics.pstdev(vals)
    assert max(vals) < mu + 3 * sd
    # median of 1..15 + extremes interpolates to 9.5; MAD = 4.5
    assert row["med"] == 9.5
    assert row["mad"] == 4.5
    assert row["outlier_rate"] == round(3 / len(vals), 4)


def _brute_skyline(pts):
    out = []
    for i, (x, y) in enumerate(pts):
        dominated = any(
            (bx <= x and by >= y and (bx < x or by > y)) for j, (bx, by) in enumerate(pts) if j != i
        )
        if not dominated:
            out.append((x, y))
    return sorted(out)


def test_skyline_matches_bruteforce_random(spark):
    from nyc_etl_pipeline_spark.operators.joins import skyline_2d
    import random

    rng = random.Random(7)
    pts = [(round(rng.uniform(0, 100), 2), round(rng.uniform(0, 100), 2)) for _ in range(400)]
    # plant duplicates ON the frontier: both copies must survive
    pts += [(0.5, 99.5), (0.5, 99.5)]
    df = spark.createDataFrame(pts, ["x", "y"])
    got = sorted((r["x"], r["y"]) for r in skyline_2d(df, "x", "y").collect())
    assert got == _brute_skyline(pts)
    assert got.count((0.5, 99.5)) == 2


def test_skyline_single_bucket_degenerate(spark):
    """All points share one x: grid pruning keeps everything (one
    bucket) and the exact finish alone must produce max-y ties."""
    from nyc_etl_pipeline_spark.operators.joins import skyline_2d

    df = spark.createDataFrame([(5.0, float(v)) for v in (1, 7, 7, 3)], ["x", "y"])
    got = sorted((r["x"], r["y"]) for r in skyline_2d(df, "x", "y").collect())
    assert got == [(5.0, 7.0), (5.0, 7.0)]


def test_skyline_drops_null_metrics_documented(spark):
    """NULL x or y rows are excluded from the dominance order (the
    documented contract); an all-NULL frame returns empty instead of
    crashing on float(None) bounds."""
    from nyc_etl_pipeline_spark.operators.joins import skyline_2d

    df = spark.createDataFrame(
        [(1.0, 2.0), (None, 9.0), (3.0, None), (0.5, 1.0)],
        "x double, y double",
    )
    got = sorted((r["x"], r["y"]) for r in skyline_2d(df, "x", "y").collect())
    assert got == [(0.5, 1.0), (1.0, 2.0)]
    allnull = spark.createDataFrame([(None, None)], "x double, y double")
    assert skyline_2d(allnull, "x", "y").count() == 0
