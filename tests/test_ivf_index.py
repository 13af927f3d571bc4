"""Write-time IVF layout: the stored index is partitioned by cell and
a search prunes to the probed cells at the SCAN (PartitionFilters),
returning exactly what the in-memory ivf_topk returns on the same
corpus and centers."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.io import read_testdata
from nyc_etl_pipeline_spark.operators.similarity import (
    ivf_topk,
    ivf_topk_indexed,
    ivf_write_index,
)
from tests import plans as P

N_LISTS = 8
N_PROBE = 3


def _rows(df):
    return sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine) for r in df.collect()
    )


def test_indexed_search_matches_in_memory_and_prunes(spark, sf_dir, tmp_path):
    emb = read_testdata(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ivf_index")
    centers = ivf_write_index(
        emb, path, n_lists=N_LISTS, cache_key=f"{sf_dir}/emb-idx-test"
    )

    # one directory per non-empty cell
    cells = [d for d in os.listdir(path) if d.startswith("__cell=")]
    assert 1 < len(cells) <= N_LISTS

    indexed = ivf_topk_indexed(
        spark, path, centers, queries, k=5, n_probe=N_PROBE
    )
    in_mem = ivf_topk(
        emb, queries, k=5, n_lists=N_LISTS, n_probe=N_PROBE,
        cache_key=f"{sf_dir}/emb-idx-test",
    )
    assert _rows(indexed) == _rows(in_mem)

    # the probed-cell filter must reach the SCAN as partition pruning:
    # a partitioned-read plan carries it in PartitionFilters, and no
    # full-table fallback Filter on __cell remains
    plan = P.explain_str(indexed, "formatted")
    assert "PartitionFilters" in plan
    seg = plan[plan.index("PartitionFilters"):]
    assert "__cell" in seg[: seg.index("\n")]


def test_probed_cells_bound_the_scan(spark, sf_dir, tmp_path):
    emb = read_testdata(spark, sf_dir, "embeddings")
    one_query = emb.filter(F.col("vec_id") == 0)
    path = str(tmp_path / "ivf_index2")
    centers = ivf_write_index(
        emb, path, n_lists=N_LISTS, cache_key=f"{sf_dir}/emb-idx-test2"
    )
    got = ivf_topk_indexed(
        spark, path, centers, one_query, k=3, n_probe=1
    )
    # with n_probe=1 every neighbor comes from the query's own cell
    cell_of = (
        spark.read.parquet(path)
        .select("vec_id", F.col("__cell").cast("int").alias("c"))
    )
    q_cell = cell_of.filter(F.col("vec_id") == 0).first()["c"]
    neigh = [r.neighbor_id for r in got.collect()]
    member_cells = {
        r["c"]
        for r in cell_of.filter(F.col("vec_id").isin(neigh)).collect()
    }
    assert member_cells == {q_cell}


def test_ivf_cell_expression_builds_from_one_literal(spark, monkeypatch):
    """The centers reach the plan as one folded literal: building q35's
    cell expression (8 centers x 64 dims) makes a handful of F.lit
    calls, not one per component."""
    from nyc_etl_pipeline_spark.operators import similarity as SIM

    calls = []
    real_lit = F.lit

    def counting_lit(*args):
        calls.append(args)
        return real_lit(*args)

    monkeypatch.setattr(F, "lit", counting_lit)
    centers = [[c + j / 64.0 for j in range(64)] for c in range(N_LISTS)]
    SIM._nearest_cell(F.col("embedding"), centers)
    assert len(calls) <= 4


def test_null_vector_gets_null_cell(spark, sf_dir, tmp_path):
    """ivf_write_index's expression-path assignment leaves a NULL
    vector's cell NULL (NULL distances never win the argmin)."""
    from nyc_etl_pipeline_spark.operators.similarity import ivf_centroids

    emb = read_testdata(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    key = f"{sf_dir}/emb-null-cell-test"
    ivf_centroids(emb, N_LISTS, cache_key=key)  # fit on the non-NULL rows
    null_row = spark.createDataFrame(
        [(-1,)], "vec_id long"
    ).select(
        F.col("vec_id").cast(emb.schema["vec_id"].dataType),
        F.lit(None).cast(emb.schema["embedding"].dataType).alias("embedding"),
    )
    path = str(tmp_path / "ivf_null")
    ivf_write_index(emb.unionByName(null_row), path, n_lists=N_LISTS, cache_key=key)
    cells = {
        r["vec_id"]: r["__cell"] for r in spark.read.parquet(path).collect()
    }
    assert cells[-1] is None
    assert all(c is not None for i, c in cells.items() if i != -1)


@pytest.mark.parametrize("max_terms", [512, 0], ids=["expr", "arrow"])
def test_ivf_cell_is_the_one_subspace_pq_code(spark, monkeypatch, max_terms):
    """On both the expression and the Arrow path, the IVF cell equals
    pq_encode's code for a one-subspace book of the same centers, and
    both equal numpy's first-minimum argmin (the dyadic q101 fixture
    keeps every distance exact, so the paths cannot split on a
    near-tie)."""
    from nyc_etl_pipeline_spark.operators import similarity as SIM
    from nyc_etl_pipeline_spark.suite.vectors import _clustered_vectors

    monkeypatch.setattr(SIM, "_NEAREST_EXPR_MAX_TERMS", max_terms)
    v = _clustered_vectors(spark)
    rows = {r["vec_id"]: r["embedding"] for r in v.collect()}
    centers = [list(rows[i]) for i in range(N_LISTS)]
    cells = {
        r["vec_id"]: r["cell"]
        for r in v.select(
            "vec_id", SIM._nearest_cell(F.col("embedding"), centers).alias("cell")
        ).collect()
    }
    codes = {
        r["vec_id"]: r["codes"][0] for r in SIM.pq_encode(v, [centers]).collect()
    }
    c = np.asarray(centers)
    expected = {
        i: int(np.argmin(((np.asarray(x) - c) ** 2).sum(axis=1)))
        for i, x in rows.items()
    }
    assert cells == codes == expected
