"""PQ codes + LUT-ADC search (pq_encode / pq_topk_codes /
pq_write_index) parity with the reconstruct-on-the-fly pq_topk.

All equality assertions run on the q101 dyadic fixture
(suite/vectors._clustered_vectors): every component is an exact
dyadic rational, so dots, norms and per-subspace LUT sums are exact
doubles — the literal-fold path, the BLAS encode path and the LUT
search must agree BIT-IDENTICALLY there, not just within tolerance.
Float near-ties are the documented contract exception (operators/
similarity.pq_encode docstring); the dyadic fixture has none.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.operators import similarity as SIM
from nyc_etl_pipeline_spark.suite.vectors import (
    PQ_CODEBOOK,
    PQ_M,
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


def test_pq_topk_codes_equals_pq_topk(spark):
    v, queries, books = _fixture(spark)
    codes = SIM.pq_encode(v, books)
    via_codes = SIM.pq_topk_codes(codes, queries, books, k=PQ_TOPK)
    via_recon = SIM.pq_topk(
        v, queries, k=PQ_TOPK, m=PQ_M, n_centroids=PQ_CODEBOOK, books=books
    )
    assert _rows(via_codes) == _rows(via_recon)


def test_pq_topk_codes_rerank_equals_pq_topk_rerank(spark):
    v, queries, books = _fixture(spark)
    codes = SIM.pq_encode(v, books)
    via_codes = SIM.pq_topk_codes(
        codes, queries, books, k=PQ_TOPK, rerank=3, corpus=v
    )
    via_recon = SIM.pq_topk(
        v, queries, k=PQ_TOPK, m=PQ_M, n_centroids=PQ_CODEBOOK, books=books, rerank=3
    )
    assert _rows(via_codes) == _rows(via_recon)


def test_pq_encode_blas_path_matches_expr_path(spark, monkeypatch):
    """The Arrow/BLAS encode (used past the codegen cliff) must emit
    the same codes as the literal JVM folds on exact-arithmetic data."""
    v, _, books = _fixture(spark)
    expr = {r["vec_id"]: list(r["codes"]) for r in SIM.pq_encode(v, books).collect()}
    monkeypatch.setattr(SIM, "_PQ_ENCODE_EXPR_MAX_TERMS", 0)
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
    via_stored = SIM.pq_topk_codes(stored, queries, books, k=PQ_TOPK)
    via_recon = SIM.pq_topk(
        v, queries, k=PQ_TOPK, m=PQ_M, n_centroids=PQ_CODEBOOK, books=books
    )
    assert _rows(via_stored) == _rows(via_recon)


def test_ivfpq_full_probe_equals_pq_topk_codes(spark, tmp_path):
    """With n_probe = n_lists the IVF-PQ search degenerates to the
    full LUT-ADC scan — results must EQUAL pq_topk_codes exactly
    (same scan math, same tie rules, membership mask all-true)."""
    v, queries, books = _fixture(spark)
    path = str(tmp_path / "ivfpq_index")
    centers = SIM.ivfpq_write_index(
        v, path, books, n_lists=4, cache_key=f"{path}-full"
    )
    via_index = SIM.ivfpq_topk_indexed(
        spark, path, centers, books, queries, k=PQ_TOPK, n_probe=4
    )
    full = SIM.pq_topk_codes(SIM.pq_encode(v, books), queries, books, k=PQ_TOPK)
    assert _rows(via_index) == _rows(full)


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


def test_pq_topk_codes_query_bound(spark):
    v, queries, books = _fixture(spark)
    codes = SIM.pq_encode(v, books)
    try:
        SIM.pq_topk_codes(codes, v, books, k=2, max_queries=10)
    except ValueError as e:
        assert "max_queries" in str(e)
    else:  # pragma: no cover
        raise AssertionError("expected the max_queries guard to fire")
