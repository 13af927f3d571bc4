"""bench.py's SPARK_GRAFT_BENCH_ONLY subset: checked against the suite
before any session starts or query runs."""

from __future__ import annotations

import importlib
import os
import sys

import pytest

from nyc_etl_pipeline_spark import suite


def test_importing_bench_leaves_environment_unchanged(monkeypatch):
    # the host-sized driver heap is bench.main()'s session conf, not a
    # default exported to every later session in the importing process
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.delitem(sys.modules, "bench", raising=False)
    before = dict(os.environ)
    importlib.import_module("bench")
    assert dict(os.environ) == before


def test_bench_only_rejects_names_that_match_no_query():
    bench = importlib.import_module("bench")
    names = [s.name for s in suite.all_specs()]
    assert bench._bench_only("", names) is None
    picked = bench._bench_only("q101_pq_clustered", names)
    assert picked == {"q101_pq_clustered", *bench.CANARIES}
    with pytest.raises(SystemExit) as e:
        bench._bench_only("q52,q101_pq_clustered,q36_grouped_map_zscore", names)
    assert str(e.value) == (
        "SPARK_GRAFT_BENCH_ONLY: no suite query named q36_grouped_map_zscore, q52"
    )
