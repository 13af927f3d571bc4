"""Graph-scale probe: the iterative graph operators at edge volume.

Synthesizes a skewed random graph entirely JVM-side (xxhash64 — no
storage, no Python loop, deterministic): src uniform over N nodes,
dst skewed toward small ids (dst = h1 % (h2 % N + 1) gives a
harmonic in-degree tail — measured ~10x median at the default size,
a log-factor skew, not a star). Then times
kcore_peel and label_propagation at that scale. Scale EVIDENCE, not
correctness (the oracle gate does correctness): each runtime is the
single-node bound a multi-executor cluster divides.

Usage: python examples/graph_scale_run.py [n_edges] [n_nodes]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")

from pyspark.sql import functions as F

from nyc_etl_pipeline_spark import get_spark, hygiene


def synth_edges(spark, n_edges: int, n_nodes: int):
    """Directed multigraph draws -> symmetric simple edge list (the
    input contract of kcore_peel / label_propagation)."""
    draws = spark.range(n_edges).select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_nodes)).alias("a"),
        # skew: dst falls in [0, h2 % N], so node 0 is in every range
        # and large ids in almost none -> harmonic in-degree tail
        F.pmod(
            F.xxhash64("id", F.lit(2)),
            F.pmod(F.xxhash64("id", F.lit(3)), F.lit(n_nodes)) + 1,
        ).alias("b"),
    )
    und = draws.filter(F.col("a") != F.col("b")).distinct()
    return und.select("a", "b").unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().select(F.col("a").alias("src"), F.col("b").alias("dst"))


def main() -> None:
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_nodes = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    spark = get_spark(
        app_name="graph-scale-probe",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    from nyc_etl_pipeline_spark.operators.graph import (
        kcore_peel,
        label_propagation,
    )

    edges = synth_edges(spark, n_edges, n_nodes).persist()
    t0 = time.perf_counter()
    m = edges.count()
    deg = edges.groupBy("src").count()
    stats = deg.agg(
        F.max("count").alias("mx"), F.expr("percentile_approx(count, 0.5)").alias("med")
    ).first()
    print(
        f"synth+persist: {m:,} directed edges, max degree {stats['mx']:,},"
        f" median {stats['med']} in {time.perf_counter() - t0:.1f}s"
    )

    def timed(label: str, fn):
        hygiene.new_epoch(label)  # release the case-before-last's scratch
        t = time.perf_counter()
        out = fn()
        print(f"{label}: {out} in {time.perf_counter() - t:.1f}s")

    timed(
        "kcore_peel k=5 (<=20 rounds, early exit)",
        lambda: f"{kcore_peel(edges, 5, 20).count():,} core nodes",
    )
    # ~1M edge rows per partition: the cached pre-shuffle has no AQE
    # boundary left for the per-round join, so partitions must be
    # sized to the data here, not the session default (graph.py note)
    lpa_parts = max(32, n_edges // 500_000)
    timed(
        f"label_propagation 3 rounds ({lpa_parts} edge partitions)",
        lambda: f"{label_propagation(edges, 3, n_partitions=lpa_parts).select('label').distinct().count():,} communities",
    )
    spark.stop()


if __name__ == "__main__":
    main()
