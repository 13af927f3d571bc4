"""bench.py's SPARK_GRAFT_BENCH_ONLY subset: checked against the suite
before any session starts or query runs."""

from __future__ import annotations

import importlib

import pytest

from nyc_etl_pipeline_spark import suite


def _bench(monkeypatch):
    # importing bench defaults SPARK_GRAFT_DRIVER_MEM; keep that out of
    # the environment later sessions in this process read
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    return importlib.import_module("bench")


def test_bench_only_rejects_names_that_match_no_query(monkeypatch):
    bench = _bench(monkeypatch)
    names = [s.name for s in suite.all_specs()]
    assert bench._bench_only("", names) is None
    picked = bench._bench_only("q101_pq_clustered", names)
    assert picked == {"q101_pq_clustered", *bench.CANARIES}
    with pytest.raises(SystemExit) as e:
        bench._bench_only("q52,q101_pq_clustered,q36_grouped_map_zscore", names)
    assert str(e.value) == (
        "SPARK_GRAFT_BENCH_ONLY: no suite query named q36_grouped_map_zscore, q52"
    )
