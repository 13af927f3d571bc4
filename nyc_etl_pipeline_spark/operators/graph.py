"""Iterative graph algorithms as DataFrame loops.

`pagerank_fixedpoint` runs weighted PageRank for a FIXED number of
iterations in scaled 64-bit integer arithmetic instead of doubles.
Rationale: floating-point summation order differs between engines (and
between Spark task schedules), so a double-typed rank can drift by
ulps and flip a rounded digit — integer sums are exactly associative,
making the result bit-identical across Spark, DuckDB, and plain
Python, and across reruns. That turns an "approximately verifiable"
iterative algorithm into a hash-matchable one.

Semantics (shared with the oracle generator `sql_pagerank_chain`):
  rank_0(v)   = SCALE // n_nodes
  contrib(e)  = rank_i(src) * weight // out_weight(src)     (floor div)
  rank_{i+1}(v) = (SCALE * (den-num) // den) // n_nodes
                  + num * sum(contrib into v) // den
with damping num/den (default 85/100). Floor-division truncation loses
≤ out_degree units of 1e-12 mass per node per round — far below any
reported digit. Dangling nodes (no out-edges) leak their mass rather
than redistributing it: identical formula in both engines, documented.

Scale shape: the rank table is node-cardinality — broadcast it; each
iteration is one broadcast-hash join edges⋈rank plus a partial+final
hash agg keyed dst. Edges are scanned n_iter times → persist them.
For billion-node graphs swap the broadcast for a shuffle hash join on
src; the iteration structure is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.hygiene import (
    release,
    scratch_checkpoint,
    scratch_persist,
)

PR_SCALE = 10**12


def pagerank_fixedpoint(
    edges: DataFrame,
    n_iter: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
) -> DataFrame:
    """-> (node, rank_scaled bigint). `edges` columns: src, dst,
    weight (positive integers). Node set = src ∪ dst."""
    e = scratch_persist(
        edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(weight).cast("bigint").alias("w"),
        )
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .transform(scratch_persist)
    )
    n_nodes = nodes.count()  # scalar: needed to seed rank_0; node-cardinality
    outw = e.groupBy("src").agg(F.sum("w").alias("ow"))
    ew = e.join(F.broadcast(outw), on="src").transform(scratch_persist)
    ew.count()  # materialize once; iterations reuse the cached edge table
    release(e)

    base = (PR_SCALE * (damping_den - damping_num) // damping_den) // n_nodes
    rank = nodes.select("node", F.lit(PR_SCALE // n_nodes).alias("rank_scaled"))
    for _ in range(n_iter):
        contrib = (
            ew.join(F.broadcast(rank), on=[ew.src == rank.node])
            .select("dst", F.expr("(rank_scaled * w) div ow").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        rank = nodes.join(contrib, on=[nodes.node == contrib.dst], how="left").select(
            "node",
            (
                F.lit(base)
                + F.expr(f"({damping_num} * coalesce(s, 0L)) div {damping_den}")
            ).alias("rank_scaled"),
        )
    return rank


def sql_pagerank_chain(
    edges_cte: str,
    n_iter: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
) -> str:
    """DuckDB SQL computing the identical fixed-point iteration as an
    unrolled CTE chain (pr0 .. pr{n}). `edges_cte` must be a SELECT
    producing (src, dst, w). Unrolling instead of WITH RECURSIVE keeps
    the per-round aggregation in plain SQL (recursive terms restrict
    grouping); n_iter is a small fixed constant by contract."""
    parts = [
        f"edges AS ({edges_cte})",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY 1)",
        f"pr0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) // (SELECT n FROM nn)"
        " AS r FROM nodes)",
    ]
    base = (
        f"(CAST({PR_SCALE} AS BIGINT) * {damping_den - damping_num} // {damping_den})"
        " // (SELECT n FROM nn)"
    )
    for i in range(1, n_iter + 1):
        parts.append(
            f"c{i} AS (SELECT e.dst AS node, sum((p.r * e.w) // o.ow) AS s"
            f" FROM edges e JOIN pr{i - 1} p ON e.src = p.node"
            f" JOIN outw o ON o.src = e.src GROUP BY 1)"
        )
        parts.append(
            f"pr{i} AS (SELECT n.node,"
            f" {base} + ({damping_num} * coalesce(c.s, 0)) // {damping_den} AS r"
            f" FROM nodes n LEFT JOIN c{i} c USING (node))"
        )
    return (
        "WITH " + ",\n".join(parts)
        # the // chain goes HUGEINT in DuckDB after the first sum();
        # HUGEINT lands in pandas as float64 while Spark emits int64 —
        # cast the terminal column so the driver's typed hash agrees.
        + f"\nSELECT node, CAST(r AS BIGINT) AS rank_scaled FROM pr{n_iter}"
    )


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle participation + local clustering coefficient
    over the undirected simple graph induced by `edges` (direction,
    weights, and self-loops dropped).

    Uses the degree-ordered compact-forward algorithm — the standard
    distributed formulation: orient every undirected edge from its
    lower-(degree, id) endpoint to the higher one, enumerate wedges
    from each node's out-neighborhood, and close them with a semi-ish
    join back to the oriented edge set. Orientation bounds a node's
    out-degree by O(sqrt(m)) on any graph (arboricity bound), so the
    wedge join never explodes on high-degree hubs the way the naive
    id-ordered join does — THE property that matters at 100 TB of
    edges. Output is orientation-invariant: each triangle is found
    exactly once, so per-node counts equal the naive algorithm's (the
    oracle uses the naive id-ordered form).

    Returns (node, degree, triangles, clustering) where clustering =
    2*triangles / (degree*(degree-1)), 0 for degree < 2, rounded
    floor-form at 6 dp.
    """
    from nyc_etl_pipeline_spark.functions import round_half_up

    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # total order for orientation: (degree, id)
    rank = deg.select("node", F.struct(F.col("degree"), F.col("node")).alias("r"))
    oriented = (
        und.join(rank.select(F.col("node").alias("a"), F.col("r").alias("ra")), "a")
        .join(rank.select(F.col("node").alias("b"), F.col("r").alias("rb")), "b")
        .select(
            F.when(F.col("ra") < F.col("rb"), F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(F.col("ra") < F.col("rb"), F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(F.col("ra") < F.col("rb"), F.col("rb")).otherwise(F.col("ra")).alias("rv"),
        )
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(e2, (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.rv") < F.col("e2.rv"))).select(
        F.col("e1.u").alias("x"), F.col("e1.v").alias("y"), F.col("e2.v").alias("z")
    )
    closing = oriented.select(F.col("u").alias("y"), F.col("v").alias("z"))
    tris = wedges.join(closing, ["y", "z"])  # inner: each wedge closes at most once
    per_node = (
        tris.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
            round_half_up(
                F.when(
                    F.col("degree") >= 2,
                    2.0
                    * F.coalesce(F.col("triangles"), F.lit(0))
                    / (F.col("degree") * (F.col("degree") - F.lit(1))),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering"),
        )
    )


def kcore_peel(
    edges: DataFrame,
    k: int,
    n_rounds: int,
    src: str = "src",
    dst: str = "dst",
    checkpoint: bool = True,
) -> DataFrame:
    """Fixed-round k-core peeling: run `n_rounds` rounds of "drop every
    node whose current degree < k, keep only edges between survivors"
    and return the surviving subgraph's (node, degree).

    `edges` must be a SYMMETRIC simple edge list — both directions
    present, no self-loops, no duplicate rows — so a node's degree is
    its row count as `src`. On any input whose peel sequence converges
    within `n_rounds`, the result IS the exact k-core (peeling is
    monotone: once a fixpoint is reached, further rounds are identity
    — the invariant test asserts round n_rounds+1 changes nothing).
    Fixing the round count rather than looping to convergence keeps
    the operator deterministic for the chained-CTE oracle
    (sql_kcore_chain), which unrolls the SAME recurrence.

    Scale shape — DELTA-BASED peeling: the edge list is scanned but
    NEVER rewritten. State is a node-sized (node, deg) table; each
    round removes the deg<k nodes, joins ONLY their incident edges
    out of the (persisted) static edge list, and decrements the
    survivors' degrees. Every edge is charged at most once across ALL
    rounds (when its first endpoint dies), so total work is O(m + r *
    node-table) — versus O(m * r) for the naive variant that filters
    and re-materializes the full edge set per round (measured 109.6 s
    -> 6.4 s at 20M directed edges / 1M nodes, examples/
    graph_scale_run.py). A surviving node's maintained degree equals
    its degree in the induced survivor subgraph (each removed
    neighbor decremented it exactly once), which is exactly what the
    unrolled oracle's terminal per-node count computes — identical
    output, converged or truncated. The node table localCheckpoints
    per round (it references itself through the decrement join — the
    round-6 deep-DAG lesson); fixpoint (no removals) exits early,
    which the fixed-round oracle mirrors as identity rounds.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if checkpoint:
        e = e.transform(scratch_persist)
    alive = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    if checkpoint:
        alive = scratch_checkpoint(alive)
    for _ in range(n_rounds):
        prev_alive = alive
        removed = alive.filter(F.col("deg") < k).select("node")
        # checkpoint=False keeps the full lazy plan — ONLY for
        # plan-shape tests (the self-referencing tree growth makes it
        # unusable beyond a couple of rounds); it also skips the
        # fixpoint probe, which needs an action.
        if checkpoint and removed.isEmpty():
            break
        dec = (
            e.join(removed, e.src == removed.node)
            .groupBy(F.col("dst").alias("dnode"))
            .agg(F.count(F.lit(1)).alias("dec"))
        )
        alive = (
            alive.filter(F.col("deg") >= k)
            .join(dec, alive.node == dec.dnode, "left")
            .select(
                "node",
                (F.col("deg") - F.coalesce(F.col("dec"), F.lit(0))).alias("deg"),
            )
        )
        if checkpoint:
            alive = scratch_checkpoint(alive)
            # the new eager checkpoint is materialized: the previous
            # round's node table is provably dead — drop its blocks now
            release(prev_alive)
    # the edge list fed only the rounds; the final node-table
    # checkpoint feeds the returned plan -> released by the epoch sweep
    release(e)
    # deg > 0: a truncated (non-converged) peel can leave a survivor
    # with every neighbor removed; the edge-list formulation (and the
    # oracle's terminal per-src count) has no row for it
    return alive.filter(F.col("deg") > 0).select(
        "node", F.col("deg").alias("degree")
    )


def sql_kcore_chain(e0_name: str, k_sql: str, n_rounds: int) -> str:
    """CTE-body fragment replaying kcore_peel's recurrence: chained
    MATERIALIZED (survivor-nodes, induced-edges) pairs — the q125
    fixed-iteration unroll pattern. `e0_name` is the symmetric edge
    CTE, `k_sql` a scalar SQL expression for k. Returns the fragment
    "n1 AS (...), e1 AS (...), ..., eN AS (...)"; the caller selects
    from e{n_rounds}."""
    parts = []
    prev = e0_name
    for r in range(1, n_rounds + 1):
        parts.append(
            f"n{r} AS MATERIALIZED (SELECT src AS node FROM {prev}"
            f" GROUP BY src HAVING count(*) >= ({k_sql}))"
        )
        parts.append(
            f"e{r} AS MATERIALIZED (SELECT e.src, e.dst FROM {prev} e"
            f" JOIN n{r} a ON e.src = a.node JOIN n{r} b ON e.dst = b.node)"
        )
        prev = f"e{r}"
    return ",\n".join(parts)


def label_propagation(
    edges: DataFrame,
    n_rounds: int,
    src: str = "src",
    dst: str = "dst",
    checkpoint: bool = True,
    n_partitions: int | None = None,
) -> DataFrame:
    """Synchronous label propagation (community detection), fixed
    `n_rounds`: every node starts labeled with its own id; each round
    ALL nodes simultaneously adopt the most frequent label among their
    neighbors, ties broken by smallest label. Fixed rounds is the
    standard formulation for the synchronous variant (GraphFrames'
    LPA maxIter does the same) because sync LPA can oscillate on
    bipartite-ish structure — the operator's contract is "labels
    after R rounds", which is exactly what the chained-CTE oracle
    (sql_label_propagation_chain) replays.

    `edges` must be a symmetric simple edge list. Deterministic
    argmax: min over (-count, label) structs — partial-aggregatable
    on both shuffle sides, no window needed. Returns (node, label).

    Scale shape: per round, one equi-join of the static edge list
    against the (nodes-sized) label table, one two-key partial-agg
    groupBy, one per-node min — all co-partitionable on the node key;
    localCheckpoint per round keeps the lineage flat across rounds.
    """
    # the static edge list is PRE-SHUFFLED on the join key: each round
    # joins e.src == labels.node, and a cached hash-partitioning on
    # src satisfies the join's required distribution, so only the
    # nodes-sized label table moves per round — a bare persist()
    # re-exchanged all |E| rows every round (200M-edge A/B in
    # BASELINE.md round 8). CAVEAT that makes n_partitions matter:
    # a join that consumes a cached distribution has no AQE shuffle
    # boundary left to right-size, so the session default (32) at
    # 200M edges means 6M-row sort-merge tasks — measured OOM where
    # the un-cached plan survived via AQE splitting. Size n_partitions
    # to the edge volume (~1M edge rows per partition) at scale.
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e = e.repartition(n_partitions, F.col("src")) if n_partitions else e.repartition(
        F.col("src")
    )
    if checkpoint:
        e = scratch_persist(e)
    labels = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(n_rounds):
        prev_labels = labels
        neigh = (
            e.join(labels, e.src == labels.node)
            .groupBy(F.col("dst").alias("nd"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            neigh.groupBy("nd")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"), F.col("label").alias("l")
                    )
                ).alias("m")
            )
            .select(F.col("nd").alias("node"), F.col("m.l").alias("label"))
        )
        # checkpoint=False (plan-shape tests only) keeps the lazy plan
        if checkpoint:
            labels = scratch_checkpoint(labels)
            # previous round's label checkpoint is superseded — the new
            # eager checkpoint no longer depends on it
            release(prev_labels)
    # final label checkpoint backs the returned plan -> epoch sweep
    release(e)
    return labels


def sql_label_propagation_chain(e0_name: str, n_rounds: int) -> str:
    """CTE-body fragment replaying label_propagation's recurrence:
    per round a neighbor-label count CTE and a deterministic-argmax
    CTE (row_number over cnt DESC, label ASC — identical choice to
    the Spark side's min(-cnt, label) struct). Caller selects
    node, label from l{n_rounds}."""
    parts = [
        f"l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label"
        f" FROM {e0_name})"
    ]
    for r in range(1, n_rounds + 1):
        parts.append(
            f"c{r} AS MATERIALIZED (SELECT e.dst AS node, l.label,"
            f" count(*) AS cnt FROM {e0_name} e JOIN l{r - 1} l"
            f" ON e.src = l.node GROUP BY 1, 2)"
        )
        parts.append(
            f"l{r} AS MATERIALIZED (SELECT node, label FROM ("
            f"SELECT node, label, row_number() OVER (PARTITION BY node"
            f" ORDER BY cnt DESC, label ASC) AS rn FROM c{r}) WHERE rn = 1)"
        )
    return ",\n".join(parts)


def adamic_adar_topk(
    edges: DataFrame,
    k: int = 20,
    max_degree: int | None = None,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Adamic-Adar link prediction over a SYMMETRIC simple edge list:
    for each non-adjacent pair (u, v), score = Σ_z 1/ln(deg(z)) over
    common neighbors z — the inverse-log weighting that discounts hub
    intermediaries (a shared celebrity follower means less than a
    shared niche contact). Returns the top-k pairs by score
    (u < v, score rounded 6, ties by (u, v)).

    Determinism: deg(z) is an exact integer, so 1/ln(deg) is the
    documented single-libm-call residual class; the per-pair sum is an
    index-ORDERED fold over neighbors z (the q113/q179 discipline), so
    merge order cannot move a digit. A common neighbor has degree >= 2
    by construction — ln(1)=0 division is unreachable.

    Scale shape: candidate pairs come from the wedge join
    (u—z)⋈(z—v), cost Σ_z deg(z)² — the classic hub blowup.
    `max_degree` drops intermediaries above the cap BEFORE the wedge
    join (the standard approximation: a node with a million neighbors
    contributes 1/ln(10⁶) ≈ 0.07 per pair but 10¹² wedges); None keeps
    it exact. Existing edges leave via one left-anti join.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("deg")).withColumnRenamed("u", "z")
    # deg >= 2: a degree-1 node cannot be a COMMON neighbor, and the
    # filter must precede the projection — under ANSI mode 1/ln(1)
    # raises DIVIDE_BY_ZERO even for rows the wedge join would drop
    mid = deg.filter(F.col("deg") >= 2)
    if max_degree is not None:
        mid = mid.filter(F.col("deg") <= max_degree)
    contrib = (F.lit(1.0) / F.log(F.col("deg"))).alias("w")
    # wedge: (u - z) x (z - v), u < v, z's contribution attached once
    wedges = (
        e.select(F.col("v").alias("z"), F.col("u").alias("a"))
        .join(e.select(F.col("u").alias("z"), F.col("v").alias("b")), on="z")
        .filter(F.col("a") < F.col("b"))
        .join(mid.select("z", contrib), on="z")
    )
    folded = F.aggregate(
        F.sort_array(F.collect_list(F.struct(F.col("z"), F.col("w")))),
        F.lit(0.0),
        lambda acc, x: acc + x["w"],
    )
    scored = wedges.groupBy("a", "b").agg(
        folded.alias("__s"), F.count(F.lit(1)).alias("n_common")
    )
    non_adjacent = scored.join(
        e.select(F.col("u").alias("a"), F.col("v").alias("b")),
        on=["a", "b"],
        how="left_anti",
    )
    from nyc_etl_pipeline_spark.functions import round_half_up

    return (
        non_adjacent.select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            F.col("n_common"),
            round_half_up(F.col("__s"), 6).alias("aa_score"),
        )
        .orderBy(F.desc("aa_score"), F.asc("u"), F.asc("v"))
        .limit(k)
    )
