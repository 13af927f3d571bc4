"""kmeans_fixed invariants beyond the q165 oracle gate: exact replay
of the recurrence in plain Python (quantize -> smallest-id init ->
argmin assign with low-cluster ties -> exact-sum centroids with
empty-cluster carry), plus the two contract edges the oracle's data
never exercises (an emptied cluster, an exact distance tie)."""

import math
import random
from fractions import Fraction

from pyspark.sql import types as T


def _q6(x: float) -> float:
    return math.floor(x * 1000000.0 + 0.5) / 1000000.0


def _replay(vecs: dict[int, list[float]], k: int, rounds: int):
    """Bit-exact Python replay of kmeans_fixed: quantized components
    are exact 1e-6 multiples, so centroid sums replay as integer
    arithmetic and Fraction->float reproduces the engine's
    correctly-rounded DECIMAL->DOUBLE cast."""
    q = {i: [_q6(x) for x in v] for i, v in vecs.items()}
    ids = sorted(q)
    cents = {j: list(q[ids[j]]) for j in range(k)}

    def assign():
        out = {}
        for i in ids:
            best = None
            for j in range(k):
                d = 0.0
                for a, b in zip(q[i], cents[j]):
                    diff = a - b
                    d = d + diff * diff
                if best is None or (d, j) < best[:2]:
                    best = (d, j)
            out[i] = (best[1], best[0])
        return out

    a = assign()
    for _ in range(rounds - 1):
        groups: dict[int, list[int]] = {}
        for i, (c, _d) in a.items():
            groups.setdefault(c, []).append(i)
        for j, members in groups.items():
            dim = len(q[members[0]])
            cents[j] = [
                float(
                    Fraction(
                        sum(round(q[i][p] * 1000000) for i in members), 10**6
                    )
                )
                / len(members)
                for p in range(dim)
            ]
        a = assign()
    return a


def _run(spark, vecs, k, rounds, dim):
    from nyc_etl_pipeline_spark.operators.similarity import kmeans_fixed

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    df = spark.createDataFrame(
        [(i, v) for i, v in sorted(vecs.items())], schema
    )
    rows = kmeans_fixed(
        df, "embedding", dim=dim, k=k, n_rounds=rounds
    ).collect()
    return {r.vec_id: (r.cluster, r.dist2) for r in rows}


def test_kmeans_matches_exact_python_replay(spark):
    rng = random.Random(165)
    vecs = {
        i: [rng.uniform(-1, 1) for _ in range(6)] for i in range(40)
    }
    got = _run(spark, vecs, k=3, rounds=3, dim=6)
    want = _replay(vecs, k=3, rounds=3)
    assert {i: c for i, (c, _) in got.items()} == {
        i: c for i, (c, _) in want.items()
    }
    for i in vecs:
        assert got[i][1] == want[i][1], i


def test_kmeans_empty_cluster_carries_and_ties_break_low(spark):
    # ids 0,1 coincide -> init makes clusters 0 and 1 identical; every
    # point ties between them and must pick cluster 0, leaving cluster
    # 1 empty from round 1 on (the carry keeps its centroid defined so
    # later rounds stay total instead of raising).
    vecs = {
        0: [0.0, 0.0],
        1: [0.0, 0.0],
        2: [10.0, 10.0],
        3: [10.2, 10.2],
    }
    got = _run(spark, vecs, k=3, rounds=3, dim=2)
    assert got[0] == (0, 0.0)
    assert got[1] == (0, 0.0)
    assert got[2][0] == 2 and got[3][0] == 2
    # round 2+ centroid of cluster 2 is the midpoint; both members
    # share its squared distance
    assert got[2][1] == got[3][1]


def test_kmeans_more_clusters_than_vectors(spark):
    got = _run(spark, {0: [0.0, 0.0], 1: [4.0, 4.0]}, k=5, rounds=2, dim=2)
    assert got == {0: (0, 0.0), 1: (1, 0.0)}


def test_arrow_assignment_path_bitwise_equals_jvm(spark, monkeypatch):
    """The vectorized assignment twin must produce BITWISE-identical
    (cluster, dist2) to the JVM fold path — same float64 operation
    sequence per row — so the oracle contract holds on either path."""
    import random as _r

    from nyc_etl_pipeline_spark.operators import similarity as SIM

    rng = _r.Random(99)
    vecs = {i: [rng.uniform(-2, 2) for _ in range(8)] for i in range(60)}
    jvm = _run(spark, vecs, k=3, rounds=3, dim=8)
    monkeypatch.setattr(SIM, "_KMEANS_JVM_MAX_TERMS", 0)
    arrow = _run(spark, vecs, k=3, rounds=3, dim=8)
    assert arrow == jvm  # exact doubles, not approx


def test_cluster_representatives_picks_central_points(spark):
    """Two planted blobs: the reps of each cluster must be the points
    nearest its center, quota respected, ranks 1..N per cluster."""
    from pyspark.sql import Row

    from nyc_etl_pipeline_spark.operators.similarity import cluster_representatives

    rows = []
    for i in range(10):  # blob A around (0,0): ids 0..9, radius grows with id
        rows.append(Row(vec_id=i, embedding=[0.0 + i * 0.1, 0.0]))
    for i in range(10):  # blob B around (10,10)
        rows.append(Row(vec_id=100 + i, embedding=[10.0 + i * 0.1, 10.0]))
    df = spark.createDataFrame(rows)
    got = cluster_representatives(df, dim=2, k=2, n_rounds=3, per_cluster=3).collect()
    by_cluster = {}
    for r in got:
        by_cluster.setdefault(r["cluster"], []).append((r["rk"], r["vec_id"]))
    assert len(by_cluster) == 2
    for cluster, members in by_cluster.items():
        ids = {v for _, v in members}
        assert sorted(r for r, _ in members) == [1, 2, 3]
        # all three reps from the same blob
        assert ids <= set(range(10)) or ids <= set(range(100, 110))
