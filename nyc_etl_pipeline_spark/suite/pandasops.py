"""Pandas-UDF surface suite: grouped-map + grouped-agg, both verified
against SQL oracles — proving the Arrow round-trip computes exactly
what the declarative form would."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.functions import round_half_up as R
from nyc_etl_pipeline_spark.io import read_testdata
from nyc_etl_pipeline_spark.operators.pandas_ops import (
    geometric_mean_agg,
    zscore_per_group,
)
from nyc_etl_pipeline_spark.suite import QuerySpec


def q37_grouped_agg_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_testdata(spark, sf_dir, "lineitem")
    out = geometric_mean_agg(
        li.filter(F.col("l_extendedprice") > 0),
        group_col="l_returnflag",
        value_col="l_extendedprice",
    )
    return out.select(
        F.col("l_returnflag").alias("returnflag"),
        R(F.col("geo_mean_raw"), 3).alias("geo_mean_price"),
    )


_Q37_SQL = """
SELECT l_returnflag AS returnflag,
       floor((exp(avg(ln(l_extendedprice)))) * 1000.0 + 0.5) / 1000.0 AS geo_mean_price
FROM lineitem
WHERE l_extendedprice > 0
GROUP BY 1
"""


def q57_arrow_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer z-score of order totals through Spark 4's
    applyInArrow (pyarrow.Table in/out, numpy segment math on zero-copy
    Arrow buffers), verified against the window-function oracle."""
    o = read_testdata(spark, sf_dir, "orders")
    out = zscore_per_group(
        o.select("o_orderkey", "o_custkey", "o_totalprice"),
        group_col="o_custkey",
        value_col="o_totalprice",
        id_col="o_orderkey",
    )
    return out.select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_custkey").alias("custkey"),
        "zscore",
    )


_Q57_SQL = """
SELECT o_orderkey AS orderkey,
       o_custkey AS custkey,
       CASE WHEN count(*) OVER w > 1 AND stddev_samp(o_totalprice) OVER w > 0
            THEN floor(((o_totalprice - avg(o_totalprice) OVER w)
                        / stddev_samp(o_totalprice) OVER w) * 10000.0 + 0.5) / 10000.0
            ELSE NULL END AS zscore
FROM orders
WINDOW w AS (PARTITION BY o_custkey)
"""


# --------------------------------------------------------------------------
# q174 — Holt double exponential smoothing per event_type daily series
# --------------------------------------------------------------------------

# Dyadic smoothing constants: 0.5/0.25 (and their 1-x complements) are
# exact in binary64, so the literal texts below denote the identical
# doubles numpy uses and the recurrence is bit-reproducible cross-engine.
HOLT_ALPHA, HOLT_BETA = 0.5, 0.25


def q174_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Holt level/trend/one-step forecast over the
    daily dec_sum(value) series (30 points per key). The loop-carried
    recurrence forces the applyInPandas scan on the Spark side; the
    oracle replays the identical float64 recurrence as a recursive CTE
    stepping one day-rank at a time (the q150/q118 pattern). The series
    value itself is pinned cross-engine by decimal accumulation +
    6-dp half-up rounding before either recurrence starts."""
    from nyc_etl_pipeline_spark.functions import dec_sum
    from nyc_etl_pipeline_spark.operators.pandas_ops import (
        holt_winters_level_trend,
    )

    e = read_testdata(spark, sf_dir, "events")
    series = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(R(dec_sum("value"), 6).alias("x"))
    return holt_winters_level_trend(
        series, ["event_type"], "d", "x", alpha=HOLT_ALPHA, beta=HOLT_BETA
    )


_Q174_SQL = f"""
WITH RECURSIVE series AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         floor(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
               * 1000000.0 + 0.5) / 1000000.0 AS x
  FROM events GROUP BY 1, 2
),
ordered AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY d, x) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n,
         lead(x) OVER (PARTITION BY event_type ORDER BY d, x) AS x_next
  FROM series
),
r AS (
  SELECT event_type, rn, n, x AS s,
         CASE WHEN n > 1 THEN x_next - x ELSE 0.0 END AS b
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.event_type, o.rn, o.n,
         {HOLT_ALPHA} * o.x + {1.0 - HOLT_ALPHA} * (r.s + r.b),
         {HOLT_BETA} * (({HOLT_ALPHA} * o.x + {1.0 - HOLT_ALPHA} * (r.s + r.b)) - r.s)
           + {1.0 - HOLT_BETA} * r.b
  FROM r JOIN ordered o ON o.event_type = r.event_type AND o.rn = r.rn + 1
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       floor(s * 1000000.0 + 0.5) / 1000000.0 AS level,
       floor(b * 1000000.0 + 0.5) / 1000000.0 AS trend,
       floor((s + b) * 1000000.0 + 0.5) / 1000000.0 AS forecast_1
FROM r WHERE rn = n
"""


SPECS = [
    QuerySpec("q37_grouped_agg_geomean", q37_grouped_agg_geomean, _Q37_SQL,
              "pandas_udf grouped-agg geometric mean vs exp(avg(ln)) oracle"),
    QuerySpec("q57_arrow_zscore", q57_arrow_zscore, _Q57_SQL,
              "applyInArrow grouped-map z-score (zero-copy Arrow->numpy) vs window-function oracle"),
    QuerySpec("q174_holt_smoothing", q174_holt_smoothing, _Q174_SQL,
              "Holt level/trend/forecast recurrence vs recursive-CTE replay oracle"),
]
