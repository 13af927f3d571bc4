"""PQ codes + LUT-ADC search (pq_encode / pq_topk / pq_write_index /
ivfpq_topk_indexed) against an exact numpy replica written here.

All equality assertions run on the q101 dyadic fixture
(suite/vectors._clustered_vectors): every component is an exact
dyadic rational, so dots, norms and per-subspace LUT sums are exact
doubles — the literal-fold path, the BLAS encode path, the LUT search
and the replica's rebuild-then-score must agree BIT-IDENTICALLY there,
not just within tolerance. Float near-ties are the documented contract
exception (operators/similarity._pq_codes docstring); the dyadic
fixture has none.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.operators import similarity as SIM
from nyc_etl_pipeline_spark.suite.vectors import (
    PQ_CODEBOOK,
    PQ_M,
    PQ_N,
    PQ_QUERIES,
    PQ_TOPK,
    _clustered_vectors,
)


def _fixture(spark):
    v = _clustered_vectors(spark)
    queries = v.filter(F.col("vec_id") < PQ_QUERIES)
    books = SIM.pq_codebooks(v, m=PQ_M, n_centroids=PQ_CODEBOOK, seed=7)
    return v, queries, books


def _rows(df):
    return sorted(
        (r["query_id"], r["neighbor_id"], r["acosine"], r["rank"])
        for r in df.collect()
    )


def _round4(x: float) -> float:
    """Spark's round(double, 4): HALF_UP on the shortest decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))


def _cos(a, b) -> float:
    return float(a @ b) / (np.sqrt(a @ a) * np.sqrt(b @ b))


def _replica(v, codes, books, k, rerank=0, probed=None):
    """PQ search in numpy: rebuild each vector from its codes, score it
    against every query but itself, rank by cosine desc then id asc,
    round to 4. `rerank=r` re-scores the k*r shortlist exactly;
    `probed` ({query: cells}) keeps only rows of the query's cells and
    needs `codes` to carry `__cell`."""
    raw = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in v.collect()
    }
    rebuilt, cell_of = {}, {}
    for r in codes.collect():
        rebuilt[r["vec_id"]] = np.concatenate(
            [np.asarray(books[s][c], dtype=np.float64) for s, c in enumerate(r["codes"])]
        )
        if probed is not None:
            cell_of[r["vec_id"]] = r["__cell"]
    out = []
    for q in range(PQ_QUERIES):
        cand = [
            i for i in rebuilt
            if i != q and (probed is None or cell_of[i] in probed[q])
        ]
        ranked = sorted(cand, key=lambda i: (-_cos(raw[q], rebuilt[i]), i))
        scored = rebuilt
        if rerank:
            ranked = sorted(ranked[: k * rerank], key=lambda i: (-_cos(raw[q], raw[i]), i))
            scored = raw
        out += [
            (q, i, _round4(_cos(raw[q], scored[i])), rank)
            for rank, i in enumerate(ranked[:k], 1)
        ]
    return sorted(out)


def test_pq_topk_equals_numpy_replica(spark):
    v, queries, books = _fixture(spark)
    codes = SIM.pq_encode(v, books)
    got = _rows(SIM.pq_topk(codes, queries, books, k=PQ_TOPK))
    assert got == _replica(v, codes, books, PQ_TOPK)


def test_pq_topk_rerank_equals_numpy_replica(spark):
    v, queries, books = _fixture(spark)
    codes = SIM.pq_encode(v, books)
    got = _rows(SIM.pq_topk(codes, queries, books, k=PQ_TOPK, rerank=3, corpus=v))
    assert got == _replica(v, codes, books, PQ_TOPK, rerank=3)


def test_pq_encode_blas_path_matches_expr_path(spark, monkeypatch):
    """The Arrow/BLAS encode (used past the codegen cliff) must emit
    the same codes as the literal JVM folds on exact-arithmetic data."""
    v, _, books = _fixture(spark)
    expr = {r["vec_id"]: list(r["codes"]) for r in SIM.pq_encode(v, books).collect()}
    monkeypatch.setattr(SIM, "_NEAREST_EXPR_MAX_TERMS", 0)
    blas = {r["vec_id"]: list(r["codes"]) for r in SIM.pq_encode(v, books).collect()}
    assert expr == blas
    assert all(
        0 <= c < PQ_CODEBOOK for cs in expr.values() for c in cs
    ) and all(len(cs) == PQ_M for cs in expr.values())


def test_pq_write_index_roundtrip(spark, tmp_path):
    v, queries, books = _fixture(spark)
    path = str(tmp_path / "pq_index")
    SIM.pq_write_index(v, path, books)
    stored = spark.read.parquet(path)
    # m bytes of payload per vector: tinyint element type
    assert dict(stored.dtypes)["codes"] == "array<tinyint>"
    encoded = SIM.pq_encode(v, books)
    assert {r["vec_id"]: list(r["codes"]) for r in stored.collect()} == {
        r["vec_id"]: list(r["codes"]) for r in encoded.collect()
    }
    # the replica rebuilds from codes encoded apart from the stored table
    got = _rows(SIM.pq_topk(stored, queries, books, k=PQ_TOPK))
    assert got == _replica(v, encoded, books, PQ_TOPK)


def test_ivfpq_full_probe_equals_pq_topk(spark, tmp_path):
    """With n_probe = n_lists the IVF-PQ search degenerates to the
    full LUT-ADC scan — results must EQUAL pq_topk exactly
    (same scan math, same tie rules, membership mask all-true)."""
    v, queries, books = _fixture(spark)
    path = str(tmp_path / "ivfpq_index")
    centers = SIM.ivfpq_write_index(
        v, path, books, n_lists=4, cache_key=f"{path}-full"
    )
    via_index = SIM.ivfpq_topk_indexed(
        spark, path, centers, books, queries, k=PQ_TOPK, n_probe=4
    )
    full = SIM.pq_topk(SIM.pq_encode(v, books), queries, books, k=PQ_TOPK)
    assert _rows(via_index) == _rows(full)


def test_ivfpq_partial_probe_equals_replica_on_probed_cells(spark, tmp_path):
    """n_probe=2 of 8 cells: each query ranks exactly the rows of the
    two cells _ivf_probes picks for it. k covers the whole fixture, so
    every probed row comes back and none from an unprobed cell."""
    v, queries, books = _fixture(spark)
    path = str(tmp_path / "ivfpq_index")
    centers = SIM.ivfpq_write_index(
        v, path, books, n_lists=8, cache_key=f"{path}-partial"
    )
    got = _rows(
        SIM.ivfpq_topk_indexed(
            spark, path, centers, books, queries, k=PQ_N, n_probe=2
        )
    )
    probed: dict[int, set[int]] = {}
    for r in SIM._ivf_probes(queries, centers, 2).collect():
        probed.setdefault(r["query_id"], set()).add(r["__cell"])
    assert all(len(cells) == 2 for cells in probed.values())
    # codes encoded apart from the index; only each row's cell is read back
    cells = spark.read.parquet(path).select("vec_id", "__cell")
    coded = SIM.pq_encode(v, books).join(cells, "vec_id")
    want = _replica(v, coded, books, PQ_N, probed=probed)
    assert len(want) < PQ_QUERIES * (PQ_N - 1)  # the probe restriction bites
    assert got == want


def test_ivfpq_prunes_partitions_and_keeps_quality(spark, tmp_path):
    """n_probe < n_lists: the probed-cell filter must reach the scan
    as partition pruning, and on the well-separated fixture the
    reranked result still recovers the exact top-k."""
    from tests import plans as P

    v, queries, books = _fixture(spark)
    path = str(tmp_path / "ivfpq_index")
    centers = SIM.ivfpq_write_index(
        v, path, books, n_lists=8, cache_key=f"{path}-pruned"
    )
    # rerank=7 -> shortlist 35 > the 32-member cluster: PQ codes
    # collapse whole clusters to one ADC score, so a shortlist smaller
    # than the cluster cuts tied true neighbors by id before the
    # refine stage ever sees them (the documented PQ tie contract).
    res = SIM.ivfpq_topk_indexed(
        spark, path, centers, books, queries, k=PQ_TOPK, n_probe=4,
        rerank=7, corpus=v,
    )
    plan = P.explain_str(res, "formatted")
    assert "PartitionFilters" in plan
    seg = plan[plan.index("PartitionFilters"):]
    assert "__cell" in seg[: seg.index("\n")]

    exact = SIM.cosine_topk(v, queries, k=PQ_TOPK)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in res.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"IVF-PQ+refine recall {recall} on clustered fixture"


def test_pq_topk_query_bound(spark):
    v, queries, books = _fixture(spark)
    codes = SIM.pq_encode(v, books)
    try:
        SIM.pq_topk(codes, v, books, k=2, max_queries=10)
    except ValueError as e:
        assert "max_queries" in str(e)
    else:  # pragma: no cover
        raise AssertionError("expected the max_queries guard to fire")
