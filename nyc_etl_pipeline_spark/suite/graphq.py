"""Graph suite: fixed-point weighted PageRank over the customer→
supplier nation trade graph (who supplies whom, weighted by lineitem
count).

The interesting property: an ITERATIVE algorithm with a full
value-hash oracle. Ranks are computed in scaled integer arithmetic
(operators/graph.py) so summation order can't shift a digit; the
DuckDB oracle unrolls the same recurrence as a CTE chain and must
match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.hygiene import scratch_checkpoint, scratch_persist

from nyc_etl_pipeline_spark.functions import round_half_up as R
from nyc_etl_pipeline_spark.io import read_testdata
from nyc_etl_pipeline_spark.operators.graph import (
    PR_SCALE,
    pagerank_fixedpoint,
    sql_pagerank_chain,
)
from nyc_etl_pipeline_spark.suite import QuerySpec

PR_ITERS = 5


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src=customer nation, dst=supplier nation, w=lineitem count).
    lineitem⋈orders is the one big-big shuffle; customer/supplier are
    key-lookup dimensions (AQE broadcasts them at gate scale; at 100 TB
    they'd shuffle-hash-join, the 625-row output is unchanged)."""
    li = read_testdata(spark, sf_dir, "lineitem")
    o = read_testdata(spark, sf_dir, "orders")
    c = read_testdata(spark, sf_dir, "customer")
    s = read_testdata(spark, sf_dir, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("weight"))
    )


_EDGES_SQL = """
SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY 1, 2
"""


def q76_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _trade_edges(spark, sf_dir)
    ranks = pagerank_fixedpoint(edges, n_iter=PR_ITERS)
    nation = read_testdata(spark, sf_dir, "nation")
    return ranks.join(
        F.broadcast(nation), ranks.node == nation.n_nationkey
    ).select(
        F.col("node").cast("int").alias("nationkey"),
        F.col("n_name").alias("nation"),
        "rank_scaled",
        R(F.col("rank_scaled") / F.lit(float(PR_SCALE)), 9).alias("rank"),
    )


def _q76_sql() -> str:
    chain = sql_pagerank_chain(_EDGES_SQL, n_iter=PR_ITERS)
    return f"""
WITH pr AS ({chain})
SELECT CAST(pr.node AS INTEGER) AS nationkey,
       n.n_name AS nation,
       pr.rank_scaled,
       floor((pr.rank_scaled / {float(PR_SCALE)}) * 1000000000.0 + 0.5) / 1000000000.0
         AS rank
FROM pr JOIN nation n ON pr.node = n.n_nationkey
"""


def q114_triangle_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation triangle counts + local clustering coefficient over
    the above-average-weight trade subgraph (the threshold sparsifies
    the otherwise near-complete nation graph into structure worth
    measuring). Spark runs the degree-ordered compact-forward
    algorithm (operators/graph.triangle_counts — out-degree bounded by
    sqrt(m), hub-safe at scale); the oracle counts the same triangles
    with the naive id-ordered 3-way self-join. Identical output: a
    triangle's membership doesn't depend on the enumeration order."""
    from nyc_etl_pipeline_spark.operators.graph import triangle_counts

    edges = _trade_edges(spark, sf_dir)
    thresh = edges.agg(F.avg("weight").alias("__avg_w"))
    strong = (
        edges.crossJoin(F.broadcast(thresh))
        .filter(F.col("weight") >= F.col("__avg_w"))
        .select("src", "dst")
    )
    return triangle_counts(strong).select(
        F.col("node").cast("int").alias("nationkey"),
        "degree",
        "triangles",
        "clustering",
    )


_Q114_SQL = f"""
WITH w_edges AS ({_EDGES_SQL}),
strong AS (
  SELECT src, dst FROM w_edges WHERE w >= (SELECT avg(w) FROM w_edges)
),
e AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM strong WHERE src <> dst
),
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT a AS node FROM e UNION ALL SELECT b FROM e
  ) GROUP BY 1
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
per_node AS (
  SELECT node, count(*) AS triangles FROM (
    SELECT unnest([x, y, z]) AS node FROM tri
  ) GROUP BY 1
)
SELECT CAST(deg.node AS INTEGER) AS nationkey,
       deg.degree,
       coalesce(per_node.triangles, 0) AS triangles,
       floor((CASE WHEN deg.degree >= 2
              THEN 2.0 * coalesce(per_node.triangles, 0)
                   / (deg.degree * (deg.degree - 1))
              ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS clustering
FROM deg LEFT JOIN per_node ON deg.node = per_node.node
"""


# q118 — hop-bounded BFS over the strong trade subgraph via a
# RECURSIVE CTE. The SAME SQL text runs on BOTH engines (Spark 4.1
# ships WITH RECURSIVE; the query is written in the ANSI intersection
# of the two dialects) — the strongest possible SQL-surface parity
# statement: not a re-expression, the identical query. Recursion is
# hop-bounded (r.hop < 3) so the cyclic graph terminates under UNION
# ALL on both engines; min(hop) per node is the BFS distance.
_Q118_SQL = """
WITH RECURSIVE w_edges AS (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
),
strong AS (
  SELECT src, dst FROM w_edges WHERE w >= (SELECT avg(w) FROM w_edges)
),
und AS (
  SELECT src, dst FROM strong UNION SELECT dst, src FROM strong
),
reach(node, hop) AS (
  SELECT CAST(13 AS INTEGER) AS node, CAST(0 AS INTEGER) AS hop
  UNION ALL
  SELECT CAST(u.dst AS INTEGER), CAST(r.hop + 1 AS INTEGER)
  FROM reach r JOIN und u ON u.src = r.node
  WHERE r.hop < 3
)
SELECT CAST(node AS INTEGER) AS nationkey, CAST(min(hop) AS INTEGER) AS dist
FROM reach
GROUP BY node
"""


def q118_recursive_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS distances from nation 13 (well-connected at every SF) over
    the strong trade subgraph, via a recursive CTE (Spark 4.1 ships
    WITH RECURSIVE; the DuckDB oracle runs the single-statement form
    _Q118_SQL — same edge derivation, same recursion, same hop bound).

    The STATIC subgraph (w_edges -> strong -> und — the one
    corpus-scale join+aggregate) is computed once as a DataFrame and
    localCheckpoint'ed before the recursion. Spark's UnionLoop inlines
    non-recursive CTEs into every iteration's plan, so the inlined
    form re-ran the 4-table corpus join once per hop (4x at hop<3):
    its formatted plan printed the 4-table scan+join subtree four
    times under the UnionLoop's recursive branch. The checkpointed edge
    table is nation-pair-bounded (<=625 rows) at every SF, so the
    recursion now iterates over stored blocks; the oracle (and the
    recursive surface itself) are unchanged. The iterative DataFrame
    formulations of the same idea are q76 (PageRank) and q41
    (connected components); this entry pins the declarative
    recursive-CTE surface. A checkpoint, not a persist: the UnionLoop
    did not reuse a persisted view inside its loop (execution 1.13 ->
    4.13 s at sf0.1, first run)."""
    li = read_testdata(spark, sf_dir, "lineitem")
    o = read_testdata(spark, sf_dir, "orders")
    c = read_testdata(spark, sf_dir, "customer")
    s = read_testdata(spark, sf_dir, "supplier")
    w_edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # identical derivation as _Q118_SQL's strong/und CTEs: threshold at
    # avg weight, symmetrize with UNION (distinct) semantics
    avg_w = w_edges.agg(F.avg("w").alias("a"))
    strong = w_edges.join(avg_w, F.col("w") >= F.col("a"), "inner").select("src", "dst")
    und = scratch_checkpoint(
        strong.unionByName(
            strong.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    )
    und.createOrReplaceTempView("q118_und")
    return spark.sql(_Q118_RECURSION_SQL)


# the recursion run on Spark over the pre-materialized q118_und view —
# textually the same reach/aggregate clauses as _Q118_SQL's tail
_Q118_RECURSION_SQL = """
WITH RECURSIVE reach(node, hop) AS (
  SELECT CAST(13 AS INTEGER) AS node, CAST(0 AS INTEGER) AS hop
  UNION ALL
  SELECT CAST(u.dst AS INTEGER), CAST(r.hop + 1 AS INTEGER)
  FROM reach r JOIN q118_und u ON u.src = r.node
  WHERE r.hop < 3
)
SELECT CAST(node AS INTEGER) AS nationkey, CAST(min(hop) AS INTEGER) AS dist
FROM reach
GROUP BY node
"""


# q162 — k-core decomposition (fixed-round peel) over a sparsified
# hash-contracted customer→supplier trade graph. The contraction
# (custkey % 257, suppkey % 263 offset into a disjoint id range) keeps
# the node set bounded at every SF; keeping only pairs whose lineitem
# count is > 2x the average weight thins the near-complete multigraph
# into a sparse random graph near the k-core phase transition, where
# peeling genuinely cascades (2-6 rounds measured across SFs) instead
# of converging trivially. KCORE_ROUNDS=10 gives convergence headroom;
# the invariant pytest asserts round 11 is a no-op at the gate SFs.
# The DuckDB oracle unrolls the SAME recurrence as chained MATERIALIZED
# CTEs (the q125 fixed-iteration pattern) from the SAME constants.
KCORE_K = 2
KCORE_ROUNDS = 10
_KCORE_MOD_C = 257
_KCORE_MOD_S = 263


def _kcore_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric simple edge list of the sparsified contracted trade
    graph. One lineitem⋈orders shuffle, one groupBy; the weight
    threshold (2*avg+1, integer arithmetic — exact on both engines)
    is two scalars off the persisted pair table."""
    li = read_testdata(spark, sf_dir, "lineitem")
    o = read_testdata(spark, sf_dir, "orders")
    wbase = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            (F.col("o_custkey") % _KCORE_MOD_C).cast("long").alias("src"),
            (F.lit(1000) + F.col("l_suppkey") % _KCORE_MOD_S)
            .cast("long")
            .alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .transform(scratch_persist)
    )
    stats = wbase.agg(
        F.sum("w").alias("tot"), F.count(F.lit(1)).alias("n")
    ).first()
    w0 = 2 * (stats["tot"] // stats["n"]) + 1
    base = wbase.filter(F.col("w") >= w0).select("src", "dst")
    return base.unionByName(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def q162_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_etl_pipeline_spark.operators.graph import kcore_peel

    edges = _kcore_edges(spark, sf_dir)
    return kcore_peel(edges, KCORE_K, KCORE_ROUNDS)


def _q162_sql() -> str:
    from nyc_etl_pipeline_spark.operators.graph import sql_kcore_chain

    chain = sql_kcore_chain("e0", str(KCORE_K), KCORE_ROUNDS)
    return f"""
WITH wbase AS MATERIALIZED (
  SELECT CAST(o.o_custkey % {_KCORE_MOD_C} AS BIGINT) AS src,
         CAST(1000 + l.l_suppkey % {_KCORE_MOD_S} AS BIGINT) AS dst,
         count(*) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
),
w0 AS MATERIALIZED (
  SELECT 2 * (CAST(sum(w) AS BIGINT) // count(*)) + 1 AS t FROM wbase
),
base AS MATERIALIZED (
  SELECT src, dst FROM wbase WHERE w >= (SELECT t FROM w0)
),
e0 AS MATERIALIZED (
  SELECT src, dst FROM base UNION SELECT dst, src FROM base
),
{chain}
SELECT src AS node, count(*) AS degree
FROM e{KCORE_ROUNDS}
GROUP BY src
"""


# q163 — synchronous label propagation (community detection) over the
# same sparsified contracted trade graph as q162, LPA_ROUNDS rounds.
# Integer-only state (labels are node ids, votes are counts) and a
# deterministic argmax make every round bit-replayable; the oracle
# unrolls the identical recurrence (sql_label_propagation_chain).
LPA_ROUNDS = 5


def q163_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_etl_pipeline_spark.operators.graph import label_propagation

    edges = _kcore_edges(spark, sf_dir)
    return label_propagation(edges, LPA_ROUNDS)


def _q163_sql() -> str:
    from nyc_etl_pipeline_spark.operators.graph import (
        sql_label_propagation_chain,
    )

    chain = sql_label_propagation_chain("e0", LPA_ROUNDS)
    return f"""
WITH wbase AS MATERIALIZED (
  SELECT CAST(o.o_custkey % {_KCORE_MOD_C} AS BIGINT) AS src,
         CAST(1000 + l.l_suppkey % {_KCORE_MOD_S} AS BIGINT) AS dst,
         count(*) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
),
w0 AS MATERIALIZED (
  SELECT 2 * (CAST(sum(w) AS BIGINT) // count(*)) + 1 AS t FROM wbase
),
base AS MATERIALIZED (
  SELECT src, dst FROM wbase WHERE w >= (SELECT t FROM w0)
),
e0 AS MATERIALIZED (
  SELECT src, dst FROM base UNION SELECT dst, src FROM base
),
{chain}
SELECT node, label FROM l{LPA_ROUNDS}
"""


# --------------------------------------------------------------------------
# q182 — Adamic-Adar link prediction over the sparsified trade graph
# --------------------------------------------------------------------------

AA_TOPK = 20

# Shared e0 construction with q162/q163 (the sparsified contracted
# trade graph) — one CTE prefix string so the three cannot drift.
_E0_PREFIX_SQL = f"""
WITH wbase AS MATERIALIZED (
  SELECT CAST(o.o_custkey % {_KCORE_MOD_C} AS BIGINT) AS src,
         CAST(1000 + l.l_suppkey % {_KCORE_MOD_S} AS BIGINT) AS dst,
         count(*) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
),
w0 AS MATERIALIZED (
  SELECT 2 * (CAST(sum(w) AS BIGINT) // count(*)) + 1 AS t FROM wbase
),
base AS MATERIALIZED (
  SELECT src, dst FROM wbase WHERE w >= (SELECT t FROM w0)
),
e0 AS MATERIALIZED (
  SELECT src, dst FROM base UNION SELECT dst, src FROM base
)"""


def q182_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k link predictions by Adamic-Adar (inverse-log common-
    neighbor weighting) over the same symmetric simple graph as
    q162/q163 — the graph-curation primitive behind 'suggest an edge'
    and graph-densification passes. Per-pair sums are z-ordered folds
    so the oracle hash-matches digit for digit."""
    from nyc_etl_pipeline_spark.operators.graph import adamic_adar_topk

    return adamic_adar_topk(_kcore_edges(spark, sf_dir), k=AA_TOPK)


def _q182_sql() -> str:
    from nyc_etl_pipeline_spark.functions import sql_round_half_up

    return f"""{_E0_PREFIX_SQL},
deg AS (SELECT src AS z, count(*) AS deg FROM e0 GROUP BY 1),
wedges AS (
  SELECT e1.src AS a, e1.dst AS z, e2.dst AS b
  FROM e0 e1 JOIN e0 e2 ON e1.dst = e2.src
  WHERE e1.src < e2.dst
),
scored AS (
  SELECT a, b, count(*) AS n_common,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(CAST(
           1.0 / ln(deg)
         AS DOUBLE) ORDER BY z)), (acc, x) -> acc + x) AS s
  FROM wedges JOIN deg USING (z)
  GROUP BY a, b
),
non_adj AS (
  SELECT * FROM scored
  WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE e0.src = scored.a AND e0.dst = scored.b)
)
SELECT a AS u, b AS v, CAST(n_common AS BIGINT) AS n_common,
       {sql_round_half_up('s', 6)} AS aa_score
FROM non_adj
ORDER BY aa_score DESC, u ASC, v ASC
LIMIT {AA_TOPK}
"""


SPECS = [
    QuerySpec("q76_pagerank_nations", q76_pagerank_nations, _q76_sql(),
              "fixed-point weighted PageRank, integer-exact oracle"),
    QuerySpec("q182_adamic_adar", q182_adamic_adar, _q182_sql(),
              "Adamic-Adar link prediction (z-ordered inverse-log folds)"),
    QuerySpec("q114_triangle_clustering", q114_triangle_clustering, _Q114_SQL,
              "degree-ordered triangle counting + clustering coefficient"),
    QuerySpec("q118_recursive_bfs", q118_recursive_bfs, _Q118_SQL,
              "hop-bounded BFS via WITH RECURSIVE — same SQL on both engines"),
    QuerySpec("q162_kcore", q162_kcore, _q162_sql(),
              "fixed-round k-core peel, chained-CTE unrolled oracle"),
    QuerySpec("q163_label_prop", q163_label_prop, _q163_sql(),
              "synchronous label propagation, deterministic argmax"),
]
