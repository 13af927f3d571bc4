"""Relational operator suite (SURVEY §2.1-2.5 families) over the driver
testdata, each with a DuckDB oracle.

The NYC pipeline semantics are mapped onto the TPC-H-ish tables the
driver materializes: the flagship q01 is the platinum monthly-report
shape (star join + wide group-agg — reference assets/platinum.py:69-154),
q04 is the gold dim-upsert anti-join (gold.py:77-123), q05 the watermark
incremental load (gold.py:56-65, 278), q06/q07 the date dimension and
composite-key date join of the fact build (gold.py:280-309,
create_datamart.sql:45-91).

Scale notes are in each query's docstring — which side shuffles, what
broadcasts, what AQE handles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.io import read_testdata
from nyc_etl_pipeline_spark.pipeline.dims import build_date_dim, upsert_dim
from nyc_etl_pipeline_spark.functions import dec_avg, dec_sum
from nyc_etl_pipeline_spark.functions import round_half_up as R
from nyc_etl_pipeline_spark.suite import QuerySpec


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_testdata(spark, sf_dir, name)


# --------------------------------------------------------------------------
# q01 — flagship: star join + wide grouped aggregation (monthly report)
# --------------------------------------------------------------------------

def q01_monthly_sales_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem⋈orders is the one genuine big-big shuffle join (both
    sides scale with SF; AQE handles skew). customer is mid-sized
    (shuffle join at scale, broadcast at test SF — Catalyst decides by
    stats); nation/region are broadcast always."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.month("o_orderdate").cast("int").alias("order_month"),
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
            F.col("l_returnflag").alias("returnflag"),
        )
        .agg(
            R(dec_avg("l_quantity"), 3).alias("avg_qty"),
            R(dec_sum("l_quantity"), 3).alias("total_qty"),
            R(dec_avg("l_extendedprice"), 3).alias("avg_price"),
            R(dec_sum(rev), 3).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_Q01_SQL = """
SELECT CAST(month(o_orderdate) AS INTEGER) AS order_month,
       r_name AS region_name,
       n_name AS nation_name,
       l_returnflag AS returnflag,
       floor(((CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / count(l_quantity))) * 1000.0 + 0.5) / 1000.0 AS avg_qty,
       floor((CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)) * 1000.0 + 0.5) / 1000.0 AS total_qty,
       floor(((CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / count(l_extendedprice))) * 1000.0 + 0.5) / 1000.0 AS avg_price,
       floor((CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)) * 1000.0 + 0.5) / 1000.0 AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY 1, 2, 3, 4
"""


# --------------------------------------------------------------------------
# q02 — weekly report variant (weekofyear/dayname keys — SURVEY A6)
# --------------------------------------------------------------------------

def q02_weekly_sales_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.weekofyear("o_orderdate").cast("int").alias("order_week"),
            F.date_format("o_orderdate", "EEEE").alias("order_dayname"),
            F.col("l_returnflag").alias("returnflag"),
        )
        .agg(
            R(dec_sum(rev), 3).alias("revenue"),
            R(dec_avg(rev), 3).alias("avg_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_Q02_SQL = """
SELECT CAST(weekofyear(o_orderdate) AS INTEGER) AS order_week,
       dayname(o_orderdate) AS order_dayname,
       l_returnflag AS returnflag,
       floor((CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)) * 1000.0 + 0.5) / 1000.0 AS revenue,
       floor(((CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) / count(l_extendedprice * (1 - l_discount)))) * 1000.0 + 0.5) / 1000.0 AS avg_revenue,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# q03 — silver-clean shape: project/dedup/filter/cast/derive (SURVEY §2.2)
# --------------------------------------------------------------------------

def q03_clean_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The silver transform's operator chain (P1 projection -> A1 dedup
    -> P5 filter -> P11 cast -> P12/P13 derive -> P19 round) on
    lineitem. All whole-stage-codegen'd scalar work; the only exchange
    is the distinct."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_returnflag",
            "l_shipdate",
        )
        .dropDuplicates()
        .filter(F.col("l_quantity") > 0)
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").cast("bigint").alias("linenumber"),
            F.col("l_quantity").alias("quantity"),
            R(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
                3,
            ).alias("charge"),
            F.year("l_shipdate").cast("int").alias("ship_year"),
            F.month("l_shipdate").cast("int").alias("ship_month"),
            F.col("l_returnflag").alias("returnflag"),
        )
    )


_Q03_SQL = """
WITH deduped AS (
  SELECT DISTINCT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                  l_discount, l_tax, l_returnflag, l_shipdate
  FROM lineitem
)
SELECT l_orderkey AS orderkey,
       CAST(l_linenumber AS BIGINT) AS linenumber,
       l_quantity AS quantity,
       floor((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 1000.0 + 0.5) / 1000.0 AS charge,
       CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       CAST(month(l_shipdate) AS INTEGER) AS ship_month,
       l_returnflag AS returnflag
FROM deduped
WHERE l_quantity > 0
"""


# --------------------------------------------------------------------------
# q04 — dim upsert: union-dedup candidates + left-anti + default names
# (reference gold.py:77-123, SURVEY J3/P17/Q5)
# --------------------------------------------------------------------------

def q04_dim_upsert_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Existing dim' = nations < 13; candidates = distinct nation keys
    seen in customer ∪ supplier. New keys get the default name. The
    anti-join broadcasts the existing dim."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    existing = n.filter(F.col("n_nationkey") < 13).select(
        F.col("n_nationkey").cast("int").alias("key"), F.col("n_name").alias("name")
    )
    cands = (
        c.select(F.col("c_nationkey").cast("int").alias("key"))
        .dropDuplicates()
        .unionByName(s.select(F.col("s_nationkey").cast("int").alias("key")).dropDuplicates())
        .dropDuplicates()
    )
    return upsert_dim(existing, cands, "key", "name", "Unknown Nation", drop_sentinel=False)


_Q04_SQL = """
WITH existing AS (
  SELECT CAST(n_nationkey AS INTEGER) AS key, n_name AS name
  FROM nation WHERE n_nationkey < 13
),
cands AS (
  SELECT DISTINCT CAST(c_nationkey AS INTEGER) AS key FROM customer
  UNION
  SELECT DISTINCT CAST(s_nationkey AS INTEGER) AS key FROM supplier
)
SELECT key, name FROM existing
UNION ALL
SELECT c.key, 'Unknown Nation' AS name
FROM cands c LEFT JOIN existing e USING (key)
WHERE e.key IS NULL
"""


# --------------------------------------------------------------------------
# q05 — watermark incremental load (reference gold.py:56-65 + :278)
# --------------------------------------------------------------------------

def q05_watermark_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark = max(o_orderdate) of already-'F'inalized orders; load
    only newer rows. Declarative (cross-join of a 1-row broadcast
    aggregate) instead of the reference's eager collect() — one job, no
    driver round-trip, and the filter still pushes to the scan via
    DPP-style runtime filtering under AQE."""
    o = _t(spark, sf_dir, "orders")
    wm = o.filter(F.col("o_orderstatus") == "F").agg(
        F.max("o_orderdate").alias("__wm")
    )
    return (
        o.join(F.broadcast(wm))
        .filter(F.col("o_orderdate") > F.col("__wm"))
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_totalprice").alias("totalprice"),
        )
    )


_Q05_SQL = """
SELECT o_orderkey AS orderkey, o_custkey AS custkey,
       o_orderdate AS orderdate, o_totalprice AS totalprice
FROM orders
WHERE o_orderdate > (SELECT max(o_orderdate) FROM orders WHERE o_orderstatus = 'F')
"""


# --------------------------------------------------------------------------
# q06 — date dimension generated in Spark (replaces the reference's
# MySQL stored procedure create_datamart.sql:45-91)
# --------------------------------------------------------------------------

def q06_date_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_date_dim(spark, "1995-01-01", "1995-12-31").drop("date")


_Q06_SQL = """
SELECT CAST(date_diff('day', DATE '1995-01-01', CAST(d AS DATE)) + 1 AS INTEGER) AS dateID,
       strftime(CAST(d AS DATE), '%Y-%m-%d') AS dateStr,
       CAST(dayofmonth(d) AS INTEGER) AS day,
       CAST(month(d) AS INTEGER) AS month,
       'Q' || CAST(quarter(d) AS VARCHAR) AS quarter,
       CAST(year(d) AS INTEGER) AS year,
       CAST(dayofmonth(d) AS INTEGER) AS dayOfMonth,
       dayname(d) AS dayOfWeek,
       CAST(weekofyear(d) AS INTEGER) AS weekOfYear,
       CASE WHEN dayofweek(d) IN (0, 6) THEN 1 ELSE 0 END AS Weekday
FROM generate_series(DATE '1995-01-01', DATE '1995-12-31', INTERVAL 1 DAY) t(d)
"""


# --------------------------------------------------------------------------
# q07 — composite-key date-dim join + inner-join row loss (J2 + Q10)
# --------------------------------------------------------------------------

def q07_fact_datejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference joins fact rows to the date dim on a derived
    (day, month, year) triple (gold.py:289-309); orders outside the
    dim's range silently drop — its de-facto outlier filter (Q10).
    The date dim is broadcast: no shuffle on the big side."""
    o = _t(spark, sf_dir, "orders")
    dd = build_date_dim(spark, "1995-01-01", "1995-12-31")
    o2 = (
        o.withColumn("__day", F.dayofmonth("o_orderdate").cast("int"))
        .withColumn("__month", F.month("o_orderdate").cast("int"))
        .withColumn("__year", F.year("o_orderdate").cast("int"))
    )
    return (
        o2.join(
            F.broadcast(dd),
            (o2["__day"] == dd["day"]) & (o2["__month"] == dd["month"]) & (o2["__year"] == dd["year"]),
            "inner",
        )
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("dateID").alias("order_dateID"),
            F.col("o_totalprice").alias("totalprice"),
        )
    )


_Q07_SQL = """
WITH dd AS (
  SELECT CAST(date_diff('day', DATE '1995-01-01', CAST(d AS DATE)) + 1 AS INTEGER) AS dateID,
         CAST(dayofmonth(d) AS INTEGER) AS day,
         CAST(month(d) AS INTEGER) AS month,
         CAST(year(d) AS INTEGER) AS year
  FROM generate_series(DATE '1995-01-01', DATE '1995-12-31', INTERVAL 1 DAY) t(d)
)
SELECT o_orderkey AS orderkey, dd.dateID AS order_dateID, o_totalprice AS totalprice
FROM orders
JOIN dd ON dayofmonth(o_orderdate) = dd.day
       AND month(o_orderdate) = dd.month
       AND year(o_orderdate) = dd.year
"""


# --------------------------------------------------------------------------
# q08 — top-k with deterministic tie-break (beyond-reference, SURVEY M4)
# --------------------------------------------------------------------------

def q08_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 customers by revenue. Spark executes limit-after-sort as
    TakeOrderedAndProject — per-partition top-k then a k-row merge on
    the driver; no global sort materialization."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(dec_sum(rev).alias("__rev"))
        .orderBy(F.col("__rev").desc(), F.col("c_custkey"))
        .limit(10)
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            R("__rev", 3).alias("revenue"),
        )
    )


_Q08_SQL = """
SELECT c_custkey AS custkey, c_name AS name,
       floor((CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)) * 1000.0 + 0.5) / 1000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2
ORDER BY CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) DESC, c_custkey
LIMIT 10
"""


# --------------------------------------------------------------------------
# q09 — window functions: rank / dense_rank / lag / running sum
# --------------------------------------------------------------------------

def q09_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    w = W.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
    return s.select(
        F.col("s_suppkey").alias("suppkey"),
        F.col("s_nationkey").cast("int").alias("nationkey"),
        F.col("s_acctbal").alias("acctbal"),
        F.rank().over(w).cast("int").alias("bal_rank"),
        F.dense_rank().over(w).cast("int").alias("bal_dense_rank"),
        F.lag("s_acctbal").over(w).alias("prev_acctbal"),
        R(
            F.sum("s_acctbal").over(w.rowsBetween(W.unboundedPreceding, 0)), 3
        ).alias("running_bal"),
    )


_Q09_SQL = """
SELECT s_suppkey AS suppkey,
       CAST(s_nationkey AS INTEGER) AS nationkey,
       s_acctbal AS acctbal,
       CAST(rank() OVER w AS INTEGER) AS bal_rank,
       CAST(dense_rank() OVER w AS INTEGER) AS bal_dense_rank,
       lag(s_acctbal) OVER w AS prev_acctbal,
       floor((sum(s_acctbal) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 1000.0 + 0.5) / 1000.0 AS running_bal
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
"""


# --------------------------------------------------------------------------
# q10 — rollup (grouping sets; beyond-reference)
# --------------------------------------------------------------------------

def q10_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            R(dec_sum("l_quantity"), 3).alias("total_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus"),
            "total_qty",
            "n_items",
        )
    )


_Q10_SQL = """
SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
       floor((CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE)) * 1000.0 + 0.5) / 1000.0 AS total_qty,
       count(*) AS n_items
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


# --------------------------------------------------------------------------
# q11 — semi join (EXISTS; the dual of the reference's anti pattern)
# --------------------------------------------------------------------------

def q11_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    open_orders = o.filter(F.col("o_orderstatus") == "O")
    return c.join(
        open_orders, c.c_custkey == open_orders.o_custkey, "left_semi"
    ).select(F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name"))


_Q11_SQL = """
SELECT c_custkey AS custkey, c_name AS name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
"""


# --------------------------------------------------------------------------
# q12 — pivot (beyond-reference; maps to CASE-WHEN aggregation)
# --------------------------------------------------------------------------

def q12_pivot_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(R(dec_sum("l_quantity"), 3))
    )
    return out.select(
        F.col("l_returnflag").alias("returnflag"),
        F.col("O").alias("qty_open"),
        F.col("F").alias("qty_finished"),
    )


_Q12_SQL = """
SELECT l_returnflag AS returnflag,
       floor((CAST(sum(CAST(CASE WHEN l_linestatus = 'O' THEN l_quantity END AS DECIMAL(28,6))) AS DOUBLE)) * 1000.0 + 0.5) / 1000.0 AS qty_open,
       floor((CAST(sum(CAST(CASE WHEN l_linestatus = 'F' THEN l_quantity END AS DECIMAL(28,6))) AS DOUBLE)) * 1000.0 + 0.5) / 1000.0 AS qty_finished
FROM lineitem
GROUP BY 1
"""


# --------------------------------------------------------------------------
# q49 — outer-join matrix: full outer + null-safe aggregation over the
# unmatched sides (completes the join-type coverage: inner/semi/anti/
# asof/range/left are elsewhere)
# --------------------------------------------------------------------------

def q49_outer_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    c_n = c.groupBy(F.col("c_nationkey").cast("int").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    s_n = s.groupBy(F.col("s_nationkey").cast("int").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    return (
        c_n.join(s_n, on="nationkey", how="full_outer")
        .select(
            "nationkey",
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
            (F.col("n_cust").isNull() | F.col("n_supp").isNull()).alias("one_sided"),
        )
    )


_Q49_SQL = """
WITH c_n AS (
  SELECT CAST(c_nationkey AS INTEGER) AS nationkey, count(*) AS n_cust
  FROM customer GROUP BY 1
),
s_n AS (
  SELECT CAST(s_nationkey AS INTEGER) AS nationkey, count(*) AS n_supp
  FROM supplier GROUP BY 1
)
SELECT coalesce(c_n.nationkey, s_n.nationkey) AS nationkey,
       coalesce(n_cust, 0) AS n_cust,
       coalesce(n_supp, 0) AS n_supp,
       (n_cust IS NULL OR n_supp IS NULL) AS one_sided
FROM c_n FULL OUTER JOIN s_n ON c_n.nationkey = s_n.nationkey
"""


# --------------------------------------------------------------------------
# q136 — skew-safe salted equi-join (oracle = the plain join)
# --------------------------------------------------------------------------

SALTED_JOIN_N = 16


def q136_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer through operators/skew.salted_join — the big
    side salted over {SALTED_JOIN_N} sub-keys, the small side
    replicated once per salt, joined on (key, salt). The manual fix
    for the join AQE's skew split can't reach (e.g. a hot key inside
    a broadcast-ineligible side, or a deliberately disabled AQE).
    The oracle is the PLAIN inner join + group-by, proving salting is
    result-identical; q77 proves the same for aggregation. Post-join
    rollup keeps the gated output bounded (|mktsegment| rows)."""
    from nyc_etl_pipeline_spark.operators.skew import salted_join

    o = read_testdata(spark, sf_dir, "orders")
    c = read_testdata(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    j = salted_join(o, c, "o_custkey", n_salts=SALTED_JOIN_N)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        R(dec_sum("o_totalprice"), 3).alias("total_price"),
    )


_Q136_SQL = """
SELECT c_mktsegment,
       count(*) AS n_orders,
       floor((CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)) * 1000.0 + 0.5) / 1000.0 AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
"""


# --------------------------------------------------------------------------
# q181 — bucketed co-located join (write-once shuffle)
# --------------------------------------------------------------------------

BUCKETS_Q181 = 8


def q181_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment order revenue computed through BUCKETED
    tables: orders and customer are hash-clustered on custkey at write
    time, so the join runs with no shuffle exchange on either side
    (plan-asserted in tests/test_io_formats.py) — the write-once
    co-location contract this gate proves is RESULT-preserving."""
    import os

    from nyc_etl_pipeline_spark.io import Warehouse
    from nyc_etl_pipeline_spark.suite.maintained import scratch_root

    wh = Warehouse(spark, os.path.join(scratch_root(), "bucketed_q181"))
    wh.overwrite_bucketed(
        read_testdata(spark, sf_dir, "orders"), "q181_orders_b",
        ["o_custkey"], BUCKETS_Q181, sort_cols=["o_custkey"],
    )
    wh.overwrite_bucketed(
        read_testdata(spark, sf_dir, "customer"), "q181_customer_b",
        ["c_custkey"], BUCKETS_Q181, sort_cols=["c_custkey"],
    )
    ob, cb = wh.read_table("q181_orders_b"), wh.read_table("q181_customer_b")
    return (
        ob.join(cb, ob.o_custkey == cb.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            R(dec_sum("o_totalprice"), 3).alias("revenue"),
        )
    )


_Q181_SQL = """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       floor((CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)) * 1000.0 + 0.5) / 1000.0 AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


SPECS = [
    QuerySpec("q181_bucketed_join", q181_bucketed_join, _Q181_SQL,
              "co-located join through write-time bucketed tables"),
    QuerySpec("q01_monthly_sales_report", q01_monthly_sales_report, _Q01_SQL,
              "flagship: star join + wide group-agg (platinum monthly report shape)"),
    QuerySpec("q02_weekly_sales_report", q02_weekly_sales_report, _Q02_SQL,
              "weekly report keys: weekofyear + dayname (SURVEY A6)"),
    QuerySpec("q03_clean_project", q03_clean_project, _Q03_SQL,
              "silver chain: project/dedup/filter/cast/derive/round"),
    QuerySpec("q04_dim_upsert_anti", q04_dim_upsert_anti, _Q04_SQL,
              "dim upsert: union candidates + left-anti + default names (J3/Q5)"),
    QuerySpec("q05_watermark_incremental", q05_watermark_incremental, _Q05_SQL,
              "watermark incremental load (A4/P6), declarative scalar"),
    QuerySpec("q06_date_dim", q06_date_dim, _Q06_SQL,
              "Spark-generated date dimension (replaces stored proc)"),
    QuerySpec("q07_fact_datejoin", q07_fact_datejoin, _Q07_SQL,
              "composite (d,m,y) date join + inner-join row loss (J2/Q10)"),
    QuerySpec("q08_top_customers", q08_top_customers, _Q08_SQL,
              "top-k: TakeOrderedAndProject, deterministic tie-break"),
    QuerySpec("q09_window_rank", q09_window_rank, _Q09_SQL,
              "window functions: rank/dense_rank/lag/running sum"),
    QuerySpec("q10_rollup", q10_rollup, _Q10_SQL, "rollup grouping sets"),
    QuerySpec("q11_semi_join", q11_semi_join, _Q11_SQL, "left-semi join (EXISTS)"),
    QuerySpec("q12_pivot_linestatus", q12_pivot_linestatus, _Q12_SQL, "pivot"),
    QuerySpec("q49_outer_joins", q49_outer_joins, _Q49_SQL,
              "full-outer join + null-side handling"),
    QuerySpec("q136_salted_join", q136_salted_join, _Q136_SQL,
              "skew-safe salted equi-join (result-identical to plain join)"),
]
