"""Epoch-based scratch-cache hygiene (nyc_etl_pipeline_spark.hygiene).

The r12 degradation probe traced unreleased persist()/localCheckpoint()
scratch accumulating across the 204-query bench (persistent-RDD count
climbing monotonically; CacheManager silently warming the second
best-of-2 run of every leaking query). These tests pin the release
contract the operators now rely on.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

import nyc_etl_pipeline_spark
from nyc_etl_pipeline_spark import hygiene as H


def _npersistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@pytest.fixture(autouse=True)
def _clean_registry(spark):
    H.release_all()
    yield
    H.release_all()


def test_persist_released_after_keep_epochs(spark):
    # other test files legitimately leave persistent RDDs in the shared
    # session (e.g. the retrieval tf slot) -> assert DELTAS, not totals
    base = _npersistent(spark)
    H.new_epoch("qa")
    df = H.scratch_persist(spark.range(100).selectExpr("id", "id * 2 AS y"))
    _noop(df)
    assert _npersistent(spark) >= base + 1
    H.new_epoch("qb")
    assert _npersistent(spark) >= base + 1  # within KEEP_EPOCHS: still aided
    H.new_epoch("qc")
    assert _npersistent(spark) == base  # epoch distance 2: released
    # releasing a persist is value-safe: the frame recomputes
    assert df.count() == 100


def test_same_tag_shares_epoch(spark):
    """Back-to-back rebuilds of the SAME declared query (bench
    best-of-2) must not advance the epoch — run 2 keeps run 1's
    scratch (the disclosed warm-second-run semantics)."""
    base = _npersistent(spark)
    e1 = H.new_epoch("qx")
    df = H.scratch_persist(spark.range(50))
    _noop(df)
    assert H.new_epoch("qx") == e1
    assert _npersistent(spark) >= base + 1
    H.new_epoch("qy")
    H.new_epoch("qz")
    assert _npersistent(spark) == base


def _cached_partitions(spark, ck) -> int:
    """Materialized blocks of a checkpointed frame's RDD."""
    rid = ck._jdf.queryExecution().analyzed().rdd().id()
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(infos[i].numCachedPartitions() for i in range(len(infos)) if infos[i].id() == rid)


def test_checkpoint_is_eager_and_swept(spark):
    """scratch_checkpoint's blocks exist before any action, so the
    sweep KEEP_EPOCHS epochs later drops them even if no action ever
    ran; past that, the result fails instead of recomputing."""
    base = _npersistent(spark)
    H.new_epoch("q1")
    ck = H.scratch_checkpoint(spark.range(100, numPartitions=2).selectExpr("id * 3 AS z"))
    assert _cached_partitions(spark, ck) == 2
    assert _npersistent(spark) == base + 1
    H.new_epoch("q2")
    assert _npersistent(spark) == base + 1
    H.new_epoch("q3")
    assert (H.registered_count(), _npersistent(spark)) == (0, base)
    with pytest.raises(Exception, match="(?i)checkpoint block"):
        ck.count()


def test_release_drops_one_registered_frame_now(spark):
    base = _npersistent(spark)
    persisted = H.scratch_persist(spark.range(40).selectExpr("id AS p"))
    _noop(persisted)
    ck = H.scratch_checkpoint(spark.range(64).selectExpr("id AS n"))
    assert (H.registered_count(), _npersistent(spark)) == (2, base + 2)
    H.release(persisted)
    assert (H.registered_count(), _npersistent(spark)) == (1, base + 1)
    H.release(ck)
    assert (H.registered_count(), _npersistent(spark)) == (0, base)
    # a frame this module did not register: release leaves it alone
    H.release(spark.range(3))
    H.release(persisted)  # already released
    assert (H.registered_count(), _npersistent(spark)) == (0, base)
    assert persisted.count() == 40  # a released persist recomputes


def test_caller_cache_survives_scratch_persist_and_sweeps(spark):
    """A frame the caller cached is not the registry's to drop:
    scratch_persist hands it back unregistered, so neither release nor
    the epoch sweep evicts it."""
    cached = spark.range(30).selectExpr("id AS c")
    cached.persist()
    try:
        _noop(cached)
        base = _npersistent(spark)
        H.new_epoch("qcache")
        assert H.scratch_persist(cached) is cached
        # a plan-equal frame built separately is the same cache entry
        twin = H.scratch_persist(spark.range(30).selectExpr("id AS c"))
        assert H.registered_count() == 0
        H.release(cached)
        H.release(twin)
        H.new_epoch("qcache_next1")
        H.new_epoch("qcache_next2")
        assert cached.storageLevel.useMemory or cached.storageLevel.useDisk
        assert _npersistent(spark) == base
    finally:
        cached.unpersist()


def test_only_hygiene_persists_or_checkpoints():
    """Scratch lifetime has one owner: no package module but hygiene
    calls persist/unpersist/localCheckpoint/cache directly."""
    pkg = Path(nyc_etl_pipeline_spark.__file__).parent
    banned = {"persist", "unpersist", "localCheckpoint"}
    found = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "hygiene.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            name = node.func.attr
            if name in banned or (name == "cache" and not node.args and not node.keywords):
                found.append(f"{path.relative_to(pkg)}:{node.lineno} .{name}(")
    assert found == [], "route these through nyc_etl_pipeline_spark.hygiene: " + ", ".join(found)


def test_iterative_operators_bound_inflight_checkpoints(spark, sf_dir):
    """kcore/label-prop/CC loops release round N-1's checkpoint as soon
    as round N's is materialized: after the caller's action plus two
    epochs, nothing lingers."""
    from nyc_etl_pipeline_spark.operators.graph import label_propagation

    H.release_all()
    edges = spark.createDataFrame(
        [(a, b) for a, b in [(1, 2), (2, 1), (2, 3), (3, 2), (4, 5), (5, 4)]],
        "src long, dst long",
    )
    # count only the RDDs this test creates: earlier tests' RDDs may
    # still be dropped while it runs, which would move a plain size()
    before = _persistent_ids(spark)
    H.new_epoch("qlp")
    out = label_propagation(edges, n_rounds=3)
    _noop(out)
    assert out.count() == 5  # still re-executable within its epoch
    # in-flight state is bounded: final checkpoint + the persisted
    # edge table at most (edge persist is unpersisted by the operator)
    assert len(_persistent_ids(spark) - before) <= 2
    H.new_epoch("qnext1")
    H.new_epoch("qnext2")
    assert _persistent_ids(spark) - before == set()


def test_suite_builders_advance_epochs(spark, sf_dir):
    """The suite registry wraps every declared query's builder with a
    tagged epoch advance."""
    from nyc_etl_pipeline_spark import suite

    specs = {s.name: s for s in suite.all_specs()}
    before = H.new_epoch(None)
    specs["q17_exact_dedup"].fn(spark, sf_dir)
    specs["q17_exact_dedup"].fn(spark, sf_dir)  # same tag: one epoch
    mid = H.new_epoch(None)
    assert mid == before + 2  # exactly one epoch between the sentinels
