"""Replicates the driver's correctness gate locally: every suite query
vs its DuckDB oracle at sf0.001 (fast; the driver runs sf0.01)."""

import pytest

from tests import oracle_harness


def test_all_queries_match_oracle(spark, sf_dir):
    results = oracle_harness.run(sf_dir)
    failed = {k: v for k, v in results.items() if v}
    assert not failed, f"oracle mismatches: {failed}"


def test_queries_and_oracles_are_wired():
    import __spark_entry__ as entry

    qs = entry.queries()
    os_ = entry.oracle_sql()
    assert len(qs) >= 27
    assert set(os_) <= set(qs)
    # EVERY query has an oracle — the probabilistic chains
    # (MinHash/SimHash/vector-LSH) are md5-derived and replicated
    # exactly in DuckDB; sketch/IVF queries emit verifiable
    # error-bound contracts instead of raw estimates; and round 7
    # closed the last gap by unrolling q125's fixed-round BPE
    # training loop into chained CTEs. A query without an oracle is
    # a bug.
    no_oracle = set(qs) - set(os_)
    assert no_oracle == set(), no_oracle
    # queries() is keyed by name, so a duplicate spec name would
    # silently drop a query from the sweep
    from nyc_etl_pipeline_spark import suite

    names = [s.name for s in suite.all_specs()]
    assert len(names) == len(set(names)), "duplicate spec names"


# Spec groups that share one oracle string, each with the reason the
# second query earns its place. A shared oracle otherwise means a twin
# implementation of one contract, which should be deleted instead.
SHARED_ORACLE_GROUPS = {
    frozenset({"q176_maintained_neardup", "q200_band_compaction_lifecycle"}):
        "compaction lifecycle re-checks the maintained band index",
    frozenset({"q195_maintained_mart", "q197_mart_compaction_lifecycle"}):
        "compaction lifecycle re-checks the maintained mart",
    frozenset({"q124_cms_heavy_hitters", "q205_cms_compaction_lifecycle"}):
        "compaction lifecycle re-checks the maintained count-min sketch",
    frozenset({"q178_sparse_cosine", "q199_sparse_cosine_hugevocab"}):
        "broadcast plan is faster (0.39 s vs 1.38 s, BENCH_full_8c); only "
        "the window plan runs past broadcast limits (10M docs)",
}


def test_shared_oracles_are_allow_listed():
    from collections import defaultdict

    from nyc_etl_pipeline_spark import suite

    by_oracle = defaultdict(set)
    for s in suite.all_specs():
        if s.oracle is not None:
            by_oracle[s.oracle].add(s.name)
    shared = {frozenset(v) for v in by_oracle.values() if len(v) > 1}
    assert shared == set(SHARED_ORACLE_GROUPS), (
        shared ^ set(SHARED_ORACLE_GROUPS)
    )


def test_harness_is_dtype_strict():
    """The harness must replicate the driver's TYPED hash: int64 42 vs
    float64 42.0 is a driver hash mismatch even though str() compares
    equal — exactly how five uncast-HUGEINT oracles passed '132/132'
    local sweeps while three of them failed the round-5 driver gate
    (VERDICT r5 items 1-3). Self-test: a deliberately float-typed
    oracle against an int-typed result must FAIL the compare."""
    import pandas as pd

    from tests.oracle_harness import compare_pandas

    spark_like = pd.DataFrame({"k": ["a", "b"], "id_sum": pd.array([3, 7], dtype="int64")})
    oracle_like = pd.DataFrame({"k": ["a", "b"], "id_sum": [3.0, 7.0]})
    probs = compare_pandas("selftest", spark_like, oracle_like)
    assert probs and "dtype-family mismatch" in probs[0], probs
    # identical families still pass
    assert compare_pandas("selftest2", spark_like, spark_like.copy()) == []
    # bool vs int is also a typed-hash divergence
    b = pd.DataFrame({"f": [True, False]})
    i = pd.DataFrame({"f": [1, 0]})
    assert compare_pandas("selftest3", b, i)

