"""Write-time IVF layout: the stored index is partitioned by cell and
a search prunes to the probed cells at the SCAN (PartitionFilters),
returning exactly what the in-memory ivf_topk returns on the same
corpus and centers."""

import os

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
