"""Deterministic sampling/splitting invariants."""

import pytest
from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.io import read_testdata
from nyc_etl_pipeline_spark.operators import sampling as S


def test_sample_is_deterministic_and_proportional(spark, sf_dir):
    o = read_testdata(spark, sf_dir, "orders")
    a = S.sample(o, ["o_orderkey"], 0.2)
    b = S.sample(o, ["o_orderkey"], 0.2)
    n, total = a.count(), o.count()
    assert n == b.count()
    assert abs(n / total - 0.2) < 0.03
    # same keys both runs
    assert a.select("o_orderkey").subtract(b.select("o_orderkey")).count() == 0


def test_sample_keeps_referential_integrity(spark, sf_dir):
    """Sampling orders and lineitem by the SAME key keeps every
    sampled lineitem's order in the sample."""
    o = read_testdata(spark, sf_dir, "orders")
    li = read_testdata(spark, sf_dir, "lineitem")
    so = S.sample(o, ["o_orderkey"], 0.1)
    sli = S.sample(li.withColumnRenamed("l_orderkey", "o_orderkey"), ["o_orderkey"], 0.1)
    orphans = sli.select("o_orderkey").distinct().join(
        so.select("o_orderkey"), on="o_orderkey", how="left_anti"
    )
    assert orphans.count() == 0


def test_split_is_disjoint_and_exhaustive(spark, sf_dir):
    d = read_testdata(spark, sf_dir, "documents")
    parts = S.split(d, ["doc_id"], {"train": 0.8, "val": 0.1, "test": 0.1})
    n = d.count()
    counts = {k: v.count() for k, v in parts.items()}
    assert sum(counts.values()) == n  # exhaustive
    # pairwise disjoint
    tr = parts["train"].select("doc_id")
    assert tr.intersect(parts["val"].select("doc_id")).count() == 0
    assert tr.intersect(parts["test"].select("doc_id")).count() == 0
    assert counts["train"] / n == pytest.approx(0.8, abs=0.05)


def test_split_assignment_stable_under_growth(spark, sf_dir):
    """Keys must not move between splits when the dataset grows."""
    d = read_testdata(spark, sf_dir, "documents")
    half = d.filter(F.col("doc_id") < 250)
    full_parts = S.split(d, ["doc_id"], {"train": 0.5, "test": 0.5})
    half_parts = S.split(half, ["doc_id"], {"train": 0.5, "test": 0.5})
    full_train = {r["doc_id"] for r in full_parts["train"].select("doc_id").collect()}
    half_train = {r["doc_id"] for r in half_parts["train"].select("doc_id").collect()}
    assert half_train == {k for k in full_train if k < 250}


def test_split_weight_validation(spark, sf_dir):
    d = read_testdata(spark, sf_dir, "documents")
    with pytest.raises(ValueError):
        S.split(d, ["doc_id"], {"a": 0.5, "b": 0.6})
    with pytest.raises(ValueError):
        S.sample(d, ["doc_id"], 1.5)


def test_per_key_topn_deterministic_and_bounded(spark, sf_dir):
    from nyc_etl_pipeline_spark.io import read_testdata
    from nyc_etl_pipeline_spark.operators.sampling import per_key_topn_sample

    docs = read_testdata(spark, sf_dir, "documents").select("doc_id", "source")
    a = per_key_topn_sample(docs, ["source"], 3, ["doc_id"])
    b = per_key_topn_sample(docs, ["source"], 3, ["doc_id"])
    ra = sorted(map(tuple, a.collect()))
    assert ra == sorted(map(tuple, b.collect()))  # deterministic
    from pyspark.sql import functions as F

    per_key = a.groupBy("source").count().collect()
    assert all(r["count"] <= 3 for r in per_key)
    # changing the salt changes the selection (it is a real sample,
    # not a fixed head)
    c = per_key_topn_sample(docs, ["source"], 3, ["doc_id"], salt="v2")
    assert ra != sorted(map(tuple, c.collect()))


def test_mixture_sample_respects_weights_and_never_upsamples(spark, sf_dir):
    from nyc_etl_pipeline_spark.operators.sampling import (
        mixture_fractions,
        mixture_sample,
    )

    docs = read_testdata(spark, sf_dir, "documents")
    weights = {"src0": 4.0, "src1": 2.0, "src2": 1.0}
    kept = mixture_sample(docs, "source", weights, 60, ["doc_id"], salt="t")
    by_src = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # unlisted sources are dropped entirely
    assert set(by_src) <= set(weights)
    # target shares: src0 ~ 60*4/7 > per-source population (25) -> capped
    thr = {
        r["source"]: r["threshold"]
        for r in mixture_fractions(docs, "source", weights, 60).collect()
    }
    assert thr["src0"] == 1_000_000  # capped at keep-everything
    assert thr["src1"] < 1_000_000 and thr["src2"] < thr["src1"]
    assert by_src["src0"] == 25  # never upsampled beyond population
    # determinism: same salt -> identical kept set
    again = mixture_sample(docs, "source", weights, 60, ["doc_id"], salt="t")
    assert sorted(r["doc_id"] for r in kept.select("doc_id").collect()) == sorted(
        r["doc_id"] for r in again.select("doc_id").collect()
    )


def test_mixture_sample_rejects_bad_weights(spark, sf_dir):
    import pytest
    from nyc_etl_pipeline_spark.operators.sampling import mixture_sample

    docs = read_testdata(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="sum to a positive"):
        mixture_sample(docs, "source", {}, 10, ["doc_id"])
    with pytest.raises(ValueError, match="must be >= 0"):
        mixture_sample(docs, "source", {"src0": -1.0}, 10, ["doc_id"])


def test_token_budget_sample_contracts(spark, sf_dir):
    """Token-budget downsample invariants the oracle doesn't check:
    dropped sources absent, no source upsampled (kept subset of
    input), an over-budget source lands near its token budget, a
    source given overwhelming weight keeps everything, determinism."""
    from nyc_etl_pipeline_spark.operators.text import whitespace_token_count

    docs = read_testdata(spark, sf_dir, "documents").withColumn(
        "n_tokens", whitespace_token_count(F.col("text"))
    )
    weights = {"src0": 1.0, "src1": 1.0}
    total = 5000
    kept = S.token_budget_sample(
        docs, "source", "n_tokens", weights, total, ["doc_id"]
    )
    by_src = {
        r["source"]: (r["n"], r["tok"])
        for r in kept.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_tokens").alias("tok"))
        .collect()
    }
    assert set(by_src) <= {"src0", "src1"}  # unlisted sources dropped
    in_toks = {
        r["source"]: r["tok"]
        for r in docs.groupBy("source").agg(F.sum("n_tokens").alias("tok")).collect()
    }
    max_doc = docs.agg(F.max("n_tokens")).first()[0]
    for src, (_, tok) in by_src.items():
        budget = total * weights[src] / sum(weights.values())
        if in_toks[src] > budget:
            # downsampled: realized tokens within sampling noise of the
            # budget (doc-level decisions -> generous band, but it must
            # not keep everything and not collapse to ~0)
            assert tok < in_toks[src]
            assert 0.3 * budget - max_doc <= tok <= 3.0 * budget + max_doc, (
                src, tok, budget
            )
    # overwhelming weight -> under budget -> keeps everything
    all_kept = S.token_budget_sample(
        docs, "source", "n_tokens", {"src0": 1.0}, 10**9, ["doc_id"]
    )
    assert all_kept.count() == docs.filter(F.col("source") == "src0").count()
    # determinism
    again = S.token_budget_sample(
        docs, "source", "n_tokens", weights, total, ["doc_id"]
    )
    assert sorted(r["doc_id"] for r in kept.select("doc_id").collect()) == sorted(
        r["doc_id"] for r in again.select("doc_id").collect()
    )


def test_token_budget_zero_token_source_keeps_all(spark):
    """A weighted source whose tokens sum to 0 (all-empty documents)
    must keep everything — it consumes no budget — instead of raising
    DIVIDE_BY_ZERO under ANSI mode (round-6 review finding)."""
    df = spark.createDataFrame(
        [(1, "s0", 0), (2, "s0", 0), (3, "s1", 10), (4, "s1", 10)],
        "doc_id long, source string, n_tokens long",
    )
    kept = S.token_budget_sample(
        df, "source", "n_tokens", {"s0": 1.0, "s1": 1.0}, 5, ["doc_id"],
    )
    rows = {(r["doc_id"], r["source"]) for r in kept.collect()}
    assert {(1, "s0"), (2, "s0")} <= rows  # zero-token source fully kept


# ---------------------------------------------------------------------------
# assign_split / leakage_safe_assign / split_leakage_audit
# ---------------------------------------------------------------------------

def test_assign_split_agrees_with_split(spark, sf_dir):
    """The column form and the filtered-frames form are the SAME
    assignment, row for row (shared _split_bounds)."""
    d = read_testdata(spark, sf_dir, "documents")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    assigned = S.assign_split(d, ["doc_id"], w, salt="agree")
    parts = S.split(d, ["doc_id"], w, salt="agree")
    for name, part in parts.items():
        got = {r["doc_id"] for r in assigned.filter(F.col("split") == name)
               .select("doc_id").collect()}
        want = {r["doc_id"] for r in part.select("doc_id").collect()}
        assert got == want, name
    # exhaustive: no NULL split
    assert assigned.filter(F.col("split").isNull()).count() == 0


def _toy_clusters(spark):
    """6 docs, two 2-doc near-dup clusters {0,1} and {4,5}."""
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(0, 1), (4, 5)], "a_id long, b_id long")
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 2), (3, 3), (4, 4), (5, 4)],
        "doc_id long, cluster_rep long",
    )
    return docs, pairs, clusters


def test_leakage_safe_assign_keeps_clusters_together(spark):
    docs, pairs, clusters = _toy_clusters(spark)
    w = {"train": 0.5, "test": 0.5}
    # whatever the salt, cluster members must share a split
    for salt in ("a", "b", "c", "d"):
        assigned = S.leakage_safe_assign(docs, clusters, w, salt=salt)
        per_cluster = (
            assigned.groupBy("cluster_rep")
            .agg(F.countDistinct("split").alias("n_splits"))
            .collect()
        )
        assert all(r["n_splits"] == 1 for r in per_cluster), salt
        # exhaustive: no doc is left without a split
        assert assigned.filter(F.col("split").isNull()).count() == 0
        assert S.split_leakage_audit(pairs, assigned).count() == 0


def test_leakage_safe_assign_treats_missing_docs_as_singletons(spark):
    docs, _, clusters = _toy_clusters(spark)
    partial = clusters.filter(F.col("doc_id") < 2)  # only cluster {0,1} mapped
    assigned = S.leakage_safe_assign(docs, partial, {"train": 0.5, "test": 0.5})
    rows = {r["doc_id"]: r["cluster_rep"] for r in assigned.collect()}
    assert rows == {0: 0, 1: 0, 2: 2, 3: 3, 4: 4, 5: 5}


def test_split_leakage_audit_catches_naive_straddle(spark):
    """Force a straddle: assign endpoint docs of a pair to different
    splits and check the audit reports exactly that pair."""
    _, pairs, _ = _toy_clusters(spark)
    assigned = spark.createDataFrame(
        [(0, "train"), (1, "test"), (4, "train"), (5, "train")],
        "doc_id long, split string",
    )
    leaked = S.split_leakage_audit(pairs, assigned).collect()
    assert [(r["a_id"], r["b_id"]) for r in leaked] == [(0, 1)]


def test_naive_split_leaks_on_real_corpus_and_safe_does_not(spark, sf_dir):
    """End-to-end on the documents table: the per-doc hash split
    strands near-dup pairs across splits; the cluster-aware split
    never does (q167/q168 semantics)."""
    from nyc_etl_pipeline_spark.operators import dedup as D
    from nyc_etl_pipeline_spark.suite.textops import JACCARD_THRESHOLD, NGRAM_N
    from nyc_etl_pipeline_spark.suite.training import LS_SALT, SPLIT_SALT, SPLIT_WEIGHTS

    docs = read_testdata(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(
        docs, n=NGRAM_N, threshold=JACCARD_THRESHOLD
    ).localCheckpoint()
    naive = S.assign_split(
        docs.select("doc_id"), ["doc_id"], SPLIT_WEIGHTS,
        salt=SPLIT_SALT,
    )
    clusters = D.neardup_clusters(docs, pairs)
    safe = S.leakage_safe_assign(
        docs.select("doc_id"), clusters, SPLIT_WEIGHTS,
        salt=LS_SALT,
    )
    assert S.split_leakage_audit(pairs, naive).count() > 0
    assert S.split_leakage_audit(pairs, safe).count() == 0


# ---- largest-remainder mixture planning -------------------------------------

def test_largest_remainder_quotas_sum_to_budget_exactly(spark):
    from nyc_etl_pipeline_spark.operators.sampling import largest_remainder_plan

    avail = spark.createDataFrame(
        [("a", 100, 3), ("b", 50, 3), ("c", 10, 1)],
        "source string, avail_tokens long, weight int",
    )
    for budget in (0, 1, 7, 100, 12345):
        rows = largest_remainder_plan(avail, budget).collect()
        assert sum(r["quota_tokens"] for r in rows) == budget, budget
        # proportionality: quota within 1 token of the exact share
        w_total = 7
        for r in rows:
            exact = budget * r["weight"] / w_total
            assert abs(r["quota_tokens"] - exact) < 1.0, (budget, r)


def test_largest_remainder_epochs_and_tie_break(spark):
    from nyc_etl_pipeline_spark.operators.sampling import largest_remainder_plan

    # equal weights, budget 10 over 3 sources: remainders tie, extra
    # tokens go to the alphabetically-first sources
    avail = spark.createDataFrame(
        [("x", 5, 1), ("y", 5, 1), ("z", 5, 1)],
        "source string, avail_tokens long, weight int",
    )
    got = {r["source"]: r for r in largest_remainder_plan(avail, 10).collect()}
    assert [got[s]["quota_tokens"] for s in ("x", "y", "z")] == [4, 3, 3]
    assert got["x"]["epochs"] == 0.8  # 4/5 -> multi-epoch factor < 1
    # zero-avail source: quota still allocated, epochs NULL (caller
    # must re-weight or drop; silently dividing would hide the gap)
    avail2 = spark.createDataFrame(
        [("a", 0, 1), ("b", 10, 1)], "source string, avail_tokens long, weight int"
    )
    got2 = {r["source"]: r for r in largest_remainder_plan(avail2, 6).collect()}
    assert got2["a"]["epochs"] is None and got2["a"]["quota_tokens"] == 3
