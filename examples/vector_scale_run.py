"""Vector-scale probe: distributed fixed-round k-means at real vector
volume (the gate fixture is 500 embeddings at every SF).

Synthesizes N dim-dimensional vectors JVM-side (xxhash64 components,
uniform in [-1, 1); deterministic, no storage) and times
kmeans_fixed. Scale EVIDENCE, not correctness — the q165 oracle does
correctness. Each round is one map-only assignment pass (literal
centroids, no shuffle — asserted by tests/test_plans.py) plus one
k-group aggregate of dim decimal sums; the interesting question at
volume is the cost of the exact-decimal centroid accumulation that
buys cross-engine determinism.

Usage: python examples/vector_scale_run.py [n_vecs] [k] [rounds]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")

from pyspark.sql import functions as F

from nyc_etl_pipeline_spark import get_spark

DIM = 64
DUP_EVERY = 50  # id % DUP_EVERY == 1 -> exact copy of id-1's vector


def synth_vectors(spark, n: int):
    base = F.when(
        F.col("id") % DUP_EVERY == 1, F.col("id") - 1
    ).otherwise(F.col("id"))
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(DIM)),
            lambda i: (
                F.pmod(F.xxhash64(base, i, F.lit(21)), 2_000_000)
                - F.lit(1_000_000)
            )
            / 1_000_000.0,
        ).alias("embedding"),
    )


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    spark = get_spark(
        app_name="vector-scale-probe",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    from nyc_etl_pipeline_spark.operators.similarity import kmeans_fixed

    vecs = synth_vectors(spark, n).persist()
    t0 = time.perf_counter()
    print(f"synth+persist: {vecs.count():,} x {DIM} vectors "
          f"in {time.perf_counter() - t0:.1f}s")

    t0 = time.perf_counter()
    out = kmeans_fixed(vecs, "embedding", dim=DIM, k=k, n_rounds=rounds)
    sizes = sorted(
        (r.cluster, r["count"])
        for r in out.groupBy("cluster").count().collect()
    )
    print(
        f"kmeans_fixed k={k} rounds={rounds}: cluster sizes {sizes} "
        f"in {time.perf_counter() - t0:.1f}s"
    )

    # the rest of the ANN family at vector volume ---------------------------
    from nyc_etl_pipeline_spark.operators.similarity import (
        ivf_topk,
        lsh_bucketed_pairs,
    )

    queries = vecs.filter(F.col("vec_id") < 5)
    t0 = time.perf_counter()
    nq = ivf_topk(
        vecs, queries, k=10, n_lists=64, n_probe=4,
        cache_key=("vector_scale_probe", n, 64),
    ).count()
    print(
        f"ivf_topk (64 lists, probe 4, cold fit): {nq:,} result rows "
        f"in {time.perf_counter() - t0:.1f}s"
    )

    t0 = time.perf_counter()
    npairs = lsh_bucketed_pairs(vecs, threshold=0.99, n_planes=16).count()
    print(
        f"lsh_bucketed_pairs thr=0.99 (planted {n // DUP_EVERY:,} dups): "
        f"{npairs:,} pairs in {time.perf_counter() - t0:.1f}s"
    )

    # write-time IVF layout: one-time partitioned materialization,
    # then every search reads only the probed cell directories
    import tempfile

    from nyc_etl_pipeline_spark.operators.similarity import (
        ivf_topk_indexed,
        ivf_write_index,
    )

    with tempfile.TemporaryDirectory() as td:
        path = f"{td}/ivf_index"
        t0 = time.perf_counter()
        centers = ivf_write_index(
            vecs, path, n_lists=64,
            cache_key=("vector_scale_probe", n, 64),
        )
        print(f"ivf_write_index (64 cells): {time.perf_counter() - t0:.1f}s one-time")
        t0 = time.perf_counter()
        nq = ivf_topk_indexed(
            spark, path, centers, queries, k=10, n_probe=4
        ).count()
        print(
            f"ivf_topk_indexed (partition-pruned, 4/64 cells): {nq:,} rows "
            f"in {time.perf_counter() - t0:.1f}s"
        )

    # PQ codes tier: encode once (BLAS path — 16 centroids x 64 dims
    # = 1024 terms, past the codegen cliff), then LUT-ADC search that
    # never touches a raw vector.
    from nyc_etl_pipeline_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_topk,
    )

    t0 = time.perf_counter()
    books = pq_codebooks(vecs, m=8, n_centroids=16, seed=7)
    print(f"pq_codebooks (m=8, k=16, 100k sample): {time.perf_counter() - t0:.1f}s")
    t0 = time.perf_counter()
    codes = pq_encode(vecs, books).persist()
    print(f"pq_encode: {codes.count():,} vectors coded in {time.perf_counter() - t0:.1f}s")
    t0 = time.perf_counter()
    nq = pq_topk(codes, queries, books, k=10).count()
    print(f"pq_topk (LUT ADC, full corpus): {nq:,} rows "
          f"in {time.perf_counter() - t0:.1f}s")
    codes.unpersist()

    # IVF-PQ: the coded corpus laid out by the same 64 cells, searched
    # by probing 4 of them
    from nyc_etl_pipeline_spark.operators.similarity import (
        ivfpq_topk_indexed,
        ivfpq_write_index,
    )

    with tempfile.TemporaryDirectory() as td:
        path = f"{td}/ivfpq_index"
        t0 = time.perf_counter()
        centers = ivfpq_write_index(
            vecs, path, books, n_lists=64,
            cache_key=("vector_scale_probe", n, 64),
        )
        print(f"ivfpq_write_index (64 cells): {time.perf_counter() - t0:.1f}s one-time")
        t0 = time.perf_counter()
        nq = ivfpq_topk_indexed(
            spark, path, centers, books, queries, k=10, n_probe=4
        ).count()
        print(
            f"ivfpq_topk_indexed (partition-pruned, 4/64 cells): {nq:,} rows "
            f"in {time.perf_counter() - t0:.1f}s"
        )
    spark.stop()


if __name__ == "__main__":
    main()
