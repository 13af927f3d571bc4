"""Model-eval metrics: rank-statistic ROC-AUC (exact tie handling)
and calibration bins + ECE, against closed-form and brute-force
ground truth."""

from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.operators.evalmetrics import calibration_report, roc_auc


def _auc(spark, rows):
    df = spark.createDataFrame(rows, "s double, y int")
    return roc_auc(df, "s", "y").collect()[0]


def test_auc_closed_forms(spark):
    # perfect separation
    assert _auc(spark, [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)])["auc"] == 1.0
    # perfectly wrong
    assert _auc(spark, [(0.1, 1), (0.2, 1), (0.8, 0), (0.9, 0)])["auc"] == 0.0
    # all scores tied -> 0.5 exactly (average ranks)
    assert _auc(spark, [(0.5, 1), (0.5, 0), (0.5, 1), (0.5, 0)])["auc"] == 0.5
    # single-class group -> NULL
    assert _auc(spark, [(0.3, 1), (0.7, 1)])["auc"] is None


def test_auc_matches_pairwise_bruteforce(spark):
    import random

    rng = random.Random(3)
    rows = [(round(rng.random(), 1), rng.randint(0, 1)) for _ in range(200)]
    rows.append((rows[0][0], 1 - rows[0][1]))  # guarantee both classes
    pos = [s for s, y in rows if y == 1]
    neg = [s for s, y in rows if y == 0]
    wins = sum((p > n_) + 0.5 * (p == n_) for p in pos for n_ in neg)
    import math

    want = math.floor(wins / (len(pos) * len(neg)) * 1e6 + 0.5) / 1e6
    assert _auc(spark, rows)["auc"] == want


def test_auc_per_group_independence(spark):
    rows = [("a", 0.9, 1), ("a", 0.1, 0), ("b", 0.1, 1), ("b", 0.9, 0)]
    df = spark.createDataFrame(rows, "g string, s double, y int")
    got = {r["g"]: r["auc"] for r in roc_auc(df, "s", "y", ["g"]).collect()}
    assert got == {"a": 1.0, "b": 0.0}


def test_auc_ungrouped_two_pass_equals_grouped_constant_key(spark, monkeypatch):
    # the ungrouped path (range-bucketed two-pass global rank) must be
    # bit-identical to the grouped per-key window with one constant key
    import random

    from nyc_etl_pipeline_spark.operators import evalmetrics

    rng = random.Random(11)
    rows = [(round(rng.random(), 2), rng.randint(0, 1)) for _ in range(500)]
    rows.append((rows[0][0], 1 - rows[0][1]))
    df = spark.createDataFrame(rows, "s double, y int")
    monkeypatch.setattr(evalmetrics, "_BUCKETS", 7)
    ung = roc_auc(df, "s", "y").collect()[0]
    grp = (
        roc_auc(df.withColumn("g", F.lit("k")), "s", "y", ["g"])
        .collect()[0]
    )
    assert (ung["n_pos"], ung["n_neg"], ung["auc"]) == (
        grp["n_pos"], grp["n_neg"], grp["auc"],
    )
    # degenerate bucket counts (1 bucket == no boundaries) still exact
    monkeypatch.setattr(evalmetrics, "_BUCKETS", 1)
    one = roc_auc(df, "s", "y").collect()[0]
    assert one["auc"] == ung["auc"]


def test_quantile_bounds_independent_of_shuffle_partitions(spark):
    # bounds only balance the two-pass running sum, so their count is
    # the module constant, not the session's shuffle setting
    from nyc_etl_pipeline_spark.operators import evalmetrics

    df = spark.range(1000).select((F.col("id") / 1000.0).alias("v"))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    got = []
    try:
        for n in ("3", "50"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            got.append(evalmetrics._quantile_bounds(df, "v"))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert got[0] == got[1]
    assert len(got[0]) == evalmetrics._BUCKETS - 1


def test_auc_grouped_with_dominant_group(spark):
    # one group holds ~99% of rows (the documented per-group skew
    # bound): result must still be exact for both groups
    import random

    rng = random.Random(5)
    big = [("big", round(rng.random(), 1), rng.randint(0, 1)) for _ in range(990)]
    small = [("small", 0.9, 1), ("small", 0.1, 0)]
    df = spark.createDataFrame(big + small, "g string, s double, y int")
    got = {r["g"]: r for r in roc_auc(df, "s", "y", ["g"]).collect()}
    assert got["small"]["auc"] == 1.0
    pos = [s for _, s, y in big if y == 1]
    neg = [s for _, s, y in big if y == 0]
    import math

    wins = sum((p > n_) + 0.5 * (p == n_) for p in pos for n_ in neg)
    want = math.floor(wins / (len(pos) * len(neg)) * 1e6 + 0.5) / 1e6
    assert got["big"]["auc"] == want


def test_calibration_hand_case(spark):
    # bin 9: two rows conf (0.9+0.95)/2=0.925, acc 1.0
    # bin 0: two rows conf (0.05+0.05)/2=0.05, acc 0.5
    rows = [(0.9, 1), (0.95, 1), (0.05, 1), (0.05, 0), (1.0, 1)]  # 1.0 clamps to bin 9
    df = spark.createDataFrame(rows, "s double, y int")
    got = {r["bin"]: r for r in calibration_report(df, "s", "y", n_bins=10).collect()}
    assert set(got) == {0, 9}
    assert got[9]["n"] == 3 and got[9]["acc"] == 1.0
    assert got[0]["n"] == 2 and got[0]["acc"] == 0.5 and got[0]["conf"] == 0.05
    # ECE = (3/5)*|1 - 0.95| + (2/5)*|0.5 - 0.05| = 0.03 + 0.18 = 0.21
    assert abs(got[0]["ece"] - 0.21) < 1e-9 and got[0]["ece"] == got[9]["ece"]


def test_retrieval_eval_hand_case(spark):
    import math

    from nyc_etl_pipeline_spark.operators.evalmetrics import retrieval_eval

    ranked = spark.createDataFrame(
        # q1: relevant docs at ranks 2 and 5 (and one outside top-3)
        [("q1", 10, 1), ("q1", 11, 2), ("q1", 12, 3), ("q1", 13, 4)]
        # q2: nothing relevant retrieved
        + [("q2", 20, 1), ("q2", 21, 2)]
        # q3: no relevant docs exist at all
        + [("q3", 30, 1)],
        "query_id string, doc_id long, rank long",
    )
    relevant = spark.createDataFrame(
        [("q1", 11), ("q1", 13), ("q1", 99), ("q2", 77)],
        "query_id string, doc_id long",
    )
    got = {r["query_id"]: r for r in retrieval_eval(ranked, relevant, k=3).collect()}
    r6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6  # noqa: E731
    q1 = got["q1"]
    assert q1["n_rel"] == 3 and q1["hits_at_k"] == 1
    assert q1["mrr"] == 0.5  # first hit at rank 2
    assert q1["recall_at_k"] == r6(1 / 3)
    ideal = 1 / math.log2(2) + 1 / math.log2(3) + 1 / math.log2(4)
    assert q1["ndcg_at_k"] == r6((1 / math.log2(3)) / ideal)
    q2 = got["q2"]
    assert (q2["hits_at_k"], q2["mrr"], q2["recall_at_k"], q2["ndcg_at_k"]) == (0, 0.0, 0.0, 0.0)
    q3 = got["q3"]
    assert q3["n_rel"] == 0 and q3["recall_at_k"] is None and q3["ndcg_at_k"] is None


def test_retrieval_eval_duplicate_tolerance(spark):
    # duplicate truth rows and a doc at two ranks must NOT double-count:
    # recall@k and ndcg@k stay <= 1.0 and equal the clean-input values
    from nyc_etl_pipeline_spark.operators.evalmetrics import retrieval_eval

    clean_ranked = spark.createDataFrame(
        [("q1", 11, 1), ("q1", 12, 2)], "query_id string, doc_id long, rank long"
    )
    dirty_ranked = spark.createDataFrame(
        [("q1", 11, 1), ("q1", 12, 2), ("q1", 11, 3)],
        "query_id string, doc_id long, rank long",
    )
    clean_rel = spark.createDataFrame(
        [("q1", 11)], "query_id string, doc_id long"
    )
    dirty_rel = spark.createDataFrame(
        [("q1", 11), ("q1", 11)], "query_id string, doc_id long"
    )
    want = retrieval_eval(clean_ranked, clean_rel, k=3).collect()[0]
    got = retrieval_eval(dirty_ranked, dirty_rel, k=3).collect()[0]
    assert want["recall_at_k"] == 1.0 and want["ndcg_at_k"] == 1.0
    for c in ("n_rel", "hits_at_k", "mrr", "recall_at_k", "ndcg_at_k"):
        assert got[c] == want[c], c


# --------------------------------------------------------------------------
# roc_curve
# --------------------------------------------------------------------------

def test_roc_curve_closed_form(spark):
    from nyc_etl_pipeline_spark.operators.evalmetrics import roc_curve

    df = spark.createDataFrame(
        [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)], "s double, y int"
    )
    pts = {r["score"]: (r["tpr"], r["fpr"]) for r in roc_curve(df, "s", "y").collect()}
    assert pts == {
        0.9: (0.5, 0.0), 0.8: (1.0, 0.0), 0.2: (1.0, 0.5), 0.1: (1.0, 1.0)
    }
    # ties enter one operating point together
    tied = spark.createDataFrame(
        [(0.5, 1), (0.5, 0), (0.5, 1), (0.5, 0)], "s double, y int"
    )
    got = roc_curve(tied, "s", "y").collect()
    assert len(got) == 1 and (got[0]["tpr"], got[0]["fpr"]) == (1.0, 1.0)
    # single-class input: the undefined coordinate is NULL
    onec = spark.createDataFrame([(0.3, 1), (0.7, 1)], "s double, y int")
    for r in roc_curve(onec, "s", "y").collect():
        assert r["fpr"] is None and r["tpr"] is not None


def test_roc_curve_step_area_equals_roc_auc(spark):
    """The step curve through the (fpr, tpr) points, integrated by the
    trapezoid rule (ties form one step, so trapezoids == tie-averaged
    ranks), must reproduce roc_auc's Mann-Whitney value."""
    import math
    import random

    from nyc_etl_pipeline_spark.operators.evalmetrics import roc_curve

    rng = random.Random(13)
    rows = [(round(rng.random(), 1), rng.randint(0, 1)) for _ in range(400)]
    rows.append((rows[0][0], 1 - rows[0][1]))
    df = spark.createDataFrame(rows, "s double, y int")
    pts = sorted(
        (r["fpr"], r["tpr"]) for r in roc_curve(df, "s", "y").collect()
    )
    area = 0.0
    last_f, last_t = 0.0, 0.0
    for f, t in pts:
        area += (f - last_f) * (t + last_t) / 2.0
        last_f, last_t = f, t
    want = _auc(spark, rows)["auc"]
    assert abs(area - want) < 5e-6  # 6-dp rounded coordinates


def test_roc_curve_ungrouped_two_pass_equals_grouped_constant_key(spark, monkeypatch):
    import random

    from nyc_etl_pipeline_spark.operators import evalmetrics
    from nyc_etl_pipeline_spark.operators.evalmetrics import roc_curve

    rng = random.Random(19)
    rows = [(round(rng.random(), 2), rng.randint(0, 1)) for _ in range(600)]
    rows += [(None, 1), (None, 0)]  # NULL scores: desc NULLS-LAST contract
    df = spark.createDataFrame(rows, "s double, y int")
    def key(t):  # None-safe sort (the NULL-score row)
        return tuple((v is None, v) for v in t)

    monkeypatch.setattr(evalmetrics, "_BUCKETS", 7)
    ung = sorted(map(tuple, roc_curve(df, "s", "y").collect()), key=key)
    grp = sorted(
        (
            tuple(r)[1:]  # strip the constant key
            for r in roc_curve(
                df.withColumn("g", F.lit("k")), "s", "y", ["g"]
            ).collect()
        ),
        key=key,
    )
    assert ung == grp


def test_roc_curve_grouped_registers_no_scratch(spark):
    # grouped, running sums and group totals come from one window, so
    # the per-score table has one consumer and is not checkpointed
    from nyc_etl_pipeline_spark import hygiene
    from nyc_etl_pipeline_spark.operators.evalmetrics import roc_curve

    df = spark.createDataFrame(
        [("a", 0.9, 1), ("a", 0.1, 0), ("b", 0.5, 1), ("b", 0.5, 0)],
        "g string, s double, y int",
    )
    before = hygiene.registered_count()
    out = roc_curve(df, "s", "y", ["g"])
    assert hygiene.registered_count() == before
    got = {(r["g"], r["score"]): (r["n_pos"], r["n_neg"], r["tpr"], r["fpr"])
           for r in out.collect()}
    assert got == {
        ("a", 0.9): (1, 1, 1.0, 0.0),
        ("a", 0.1): (1, 1, 1.0, 1.0),
        ("b", 0.5): (1, 1, 1.0, 1.0),
    }


# --------------------------------------------------------------------------
# average_precision
# --------------------------------------------------------------------------

def _ap_ref(rows):
    """Brute-force tie-grouped step AP: one curve step per distinct
    score descending; AP = (1/n_pos) sum pos(s) * cumTP(s)/cumN(s)."""
    from collections import defaultdict

    per = defaultdict(lambda: [0, 0])
    for s, y in rows:
        per[s][0] += 1
        per[s][1] += y
    cn = cp = 0
    terms = []
    for s in sorted(per, reverse=True):
        t, p = per[s]
        cn += t
        cp += p
        if p > 0:
            terms.append(p * cp / cn)
    n_pos = sum(p for _, p in per.values())
    if n_pos == 0:
        return None
    acc = 0.0
    for x in terms:  # same left-fold order as the operator
        acc += x
    import math

    return math.floor(acc / n_pos * 1e6 + 0.5) / 1e6


def _ap(spark, rows):
    from nyc_etl_pipeline_spark.operators.evalmetrics import average_precision

    df = spark.createDataFrame(rows, "s double, y int")
    return average_precision(df, "s", "y").collect()[0]


def test_ap_closed_forms(spark):
    # perfect ranking: AP = 1
    assert _ap(spark, [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)])["ap"] == 1.0
    # all positives ranked last: AP = mean of k/(n_neg+k)
    got = _ap(spark, [(0.9, 0), (0.8, 0), (0.2, 1), (0.1, 1)])
    assert got["ap"] == round((1 / 3 + 2 / 4) / 2, 6)
    # all scores tied -> one step, AP = prevalence
    assert _ap(spark, [(0.5, 1), (0.5, 0), (0.5, 1), (0.5, 0)])["ap"] == 0.5
    # no positives -> NULL
    assert _ap(spark, [(0.3, 0), (0.7, 0)])["ap"] is None


def test_ap_matches_bruteforce(spark):
    import random

    rng = random.Random(7)
    rows = [(round(rng.random(), 1), rng.randint(0, 1)) for _ in range(300)]
    rows.append((rows[0][0], 1))  # guarantee a positive
    got = _ap(spark, rows)
    assert got["ap"] == _ap_ref(rows)
    assert got["n_pos"] == sum(y for _, y in rows)
    assert got["n_neg"] == len(rows) - got["n_pos"]


def test_ap_ungrouped_two_pass_equals_grouped_constant_key(spark):
    """The ungrouped path (descending two-pass bucketed cum + bucket-
    ordered term fold) must agree BIT-EXACTLY with the grouped path
    under a constant key — the fold sees the identical desc-sorted
    term sequence, so not even a last ulp may differ."""
    import random

    from pyspark.sql import functions as F

    from nyc_etl_pipeline_spark.operators.evalmetrics import average_precision

    rng = random.Random(29)
    rows = [(round(rng.random(), 2), rng.randint(0, 1)) for _ in range(800)]
    df = spark.createDataFrame(rows, "s double, y int")
    ung = average_precision(df, "s", "y").collect()[0]
    grp = average_precision(
        df.withColumn("g", F.lit("k")), "s", "y", ["g"]
    ).collect()[0]
    assert (ung["n_pos"], ung["n_neg"], ung["ap"]) == (
        grp["n_pos"], grp["n_neg"], grp["ap"],
    )
    assert ung["ap"] is not None
    # persisted input (the roc_auc cache mis-bind trigger, r10)
    cached = df.persist()
    try:
        cached.count()
        got = average_precision(cached, "s", "y").collect()[0]
        assert (got["n_pos"], got["n_neg"], got["ap"]) == (
            ung["n_pos"], ung["n_neg"], ung["ap"],
        )
    finally:
        cached.unpersist()
    # degenerate bucket structure: constant score (single distinct
    # value, one bucket) and no-positive corpus (empty fold -> NULL)
    one = spark.createDataFrame(
        [(0.5, 1), (0.5, 0)], "s double, y int"
    )
    assert average_precision(one, "s", "y").collect()[0]["ap"] == 0.5
    nopos = spark.createDataFrame(
        [(0.3, 0), (0.7, 0)], "s double, y int"
    )
    assert average_precision(nopos, "s", "y").collect()[0]["ap"] is None
    # NULL scores (ADVICE r11): Spark's desc sort/window orders NULLS
    # LAST, so the descending bucketed path must route NULL to the
    # FINAL bucket — before the fix it landed in bucket 0, processed
    # first, and every non-NULL term's cumN/cumP absorbed the NULL
    # rows' counts
    nrows = rows[:200] + [(None, 1), (None, 0), (None, 0)]
    ndf = spark.createDataFrame(nrows, "s double, y int")
    nung = average_precision(ndf, "s", "y").collect()[0]
    ngrp = average_precision(
        ndf.withColumn("g", F.lit("k")), "s", "y", ["g"]
    ).collect()[0]
    assert (nung["n_pos"], nung["n_neg"], nung["ap"]) == (
        ngrp["n_pos"], ngrp["n_neg"], ngrp["ap"],
    )
    assert nung["ap"] is not None


def test_ap_per_group_independence(spark):
    from nyc_etl_pipeline_spark.operators.evalmetrics import average_precision

    rows = [("a", 0.9, 1), ("a", 0.1, 0), ("b", 0.1, 1), ("b", 0.9, 0)]
    df = spark.createDataFrame(rows, "g string, s double, y int")
    got = {r["g"]: r["ap"] for r in average_precision(df, "s", "y", ["g"]).collect()}
    assert got == {"a": 1.0, "b": 0.5}


def test_retrieval_eval_graded_hand_case(spark):
    """Graded nDCG closed forms: a perfect gain-descending ranking
    scores 1.0; swapping the top two grades gives the hand-computed
    ratio; zero-gain truth rows are dropped (judged-but-irrelevant);
    duplicate truth rows collapse to MAX gain."""
    import math

    from nyc_etl_pipeline_spark.operators.evalmetrics import (
        retrieval_eval_graded,
    )

    ranked = spark.createDataFrame(
        [
            # qa: ranks gains 2,1 in ideal order -> ndcg 1
            ("qa", "d1", 1), ("qa", "d2", 2), ("qa", "d3", 3),
            # qb: gain-1 doc above gain-2 doc -> hand-computed ndcg
            ("qb", "e1", 1), ("qb", "e2", 2), ("qb", "e3", 3),
        ],
        "query_id string, doc_id string, rank int",
    )
    relevant = spark.createDataFrame(
        [
            ("qa", "d1", 2.0), ("qa", "d2", 1.0), ("qa", "d3", 0.0),
            ("qb", "e1", 1.0), ("qb", "e2", 2.0),
            ("qb", "e2", 1.0),  # duplicate judgment: max gain wins
        ],
        "query_id string, doc_id string, gain double",
    )
    got = {
        r["query_id"]: r
        for r in retrieval_eval_graded(ranked, relevant, k=3).collect()
    }
    assert got["qa"]["n_rel"] == 2  # zero-gain d3 dropped
    assert got["qa"]["ndcg_at_k"] == 1.0
    assert got["qa"]["mrr"] == 1.0 and got["qa"]["recall_at_k"] == 1.0
    dcg_b = 1.0 / math.log2(2.0) + 2.0 / math.log2(3.0)
    idcg_b = 2.0 / math.log2(2.0) + 1.0 / math.log2(3.0)
    want = math.floor(dcg_b / idcg_b * 1e6 + 0.5) / 1e6
    assert got["qb"]["ndcg_at_k"] == want
    assert got["qb"]["n_rel"] == 2 and got["qb"]["hits_at_k"] == 2


# --------------------------------------------------------------------------
# spearman_corr
# --------------------------------------------------------------------------

def _rho_ref(rows):
    """Brute-force Spearman: Pearson on average ranks."""
    import math

    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j + 1 < len(order) and vals[order[j + 1]] == vals[order[i]]:
                j += 1
            r = (i + j) / 2 + 1
            for k in range(i, j + 1):
                ranks[order[k]] = r
            i = j + 1
        return ranks

    xs, ys = [r[0] for r in rows], [r[1] for r in rows]
    rx, ry = avg_ranks(xs), avg_ranks(ys)
    n = len(rows)
    sx, sy = sum(rx), sum(ry)
    sxx = sum(v * v for v in rx)
    syy = sum(v * v for v in ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    vx, vy = n * sxx - sx * sx, n * syy - sy * sy
    if vx <= 0 or vy <= 0:
        return None
    rho = (n * sxy - sx * sy) / (math.sqrt(vx) * math.sqrt(vy))
    return math.floor(rho * 1e6 + 0.5) / 1e6


def _rho(spark, rows):
    from nyc_etl_pipeline_spark.operators.evalmetrics import spearman_corr

    df = spark.createDataFrame(rows, "x double, y double")
    return spearman_corr(df, "x", "y").collect()[0]


def test_spearman_closed_forms(spark):
    # any monotone relationship -> exactly 1 (rank metric, not linear)
    assert _rho(spark, [(1.0, 10.0), (2.0, 100.0), (3.0, 100000.0)])["rho"] == 1.0
    # reversed -> exactly -1
    assert _rho(spark, [(1.0, 3.0), (2.0, 2.0), (3.0, 1.0)])["rho"] == -1.0
    # constant variable -> NULL (undefined)
    assert _rho(spark, [(1.0, 5.0), (2.0, 5.0), (3.0, 5.0)])["rho"] is None


def test_spearman_matches_bruteforce_with_ties(spark):
    import random

    rng = random.Random(11)
    rows = [
        (round(rng.random(), 1), round(rng.random(), 1)) for _ in range(400)
    ]
    got = _rho(spark, rows)
    assert got["rho"] == _rho_ref(rows)
    assert got["n"] == 400


def test_spearman_per_group_independence(spark):
    from nyc_etl_pipeline_spark.operators.evalmetrics import spearman_corr

    rows = [("a", 1.0, 1.0), ("a", 2.0, 2.0), ("b", 1.0, 2.0), ("b", 2.0, 1.0)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r["g"]: r["rho"] for r in spearman_corr(df, "x", "y", ["g"]).collect()}
    assert got == {"a": 1.0, "b": -1.0}


def test_auc_ungrouped_two_pass_on_persisted_input(spark):
    """Regression: the two-pass bucketed rank must work when the input
    is a PERSISTED relation — the original higher-order-function
    bucket expression mis-bound through the cache
    (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND in the offsets window; found
    by the r10 10M evalmetrics probe), and the pytest inputs happened
    to be uncached. Values must be bit-equal cached vs uncached."""
    from pyspark.sql import functions as F

    from nyc_etl_pipeline_spark.operators.evalmetrics import roc_auc

    base = spark.range(20_000).select(
        F.round(
            (F.pmod(F.xxhash64("id", F.lit(23)), F.lit(1000)) / 1000.0).cast(
                "double"
            ),
            3,
        ).alias("score"),
        (F.pmod(F.xxhash64("id", F.lit(17)), F.lit(100)) < 40)
        .cast("int")
        .alias("y"),
    )
    cached = base.persist()
    try:
        cached.count()
        got_cached = roc_auc(cached, "score", "y").collect()
        got_plain = roc_auc(base, "score", "y").collect()
        assert got_cached == got_plain
        assert got_cached[0]["auc"] is not None
    finally:
        cached.unpersist()


def test_spearman_ungrouped_two_pass_equals_grouped_constant_key(spark):
    """The ungrouped path (two-pass bucketed global rank) must agree
    BIT-EXACTLY with the grouped path under a constant key — same
    integer rank moments, same final float combination."""
    import random

    from pyspark.sql import functions as F

    from nyc_etl_pipeline_spark.operators.evalmetrics import spearman_corr

    rng = random.Random(19)
    rows = [
        (round(rng.random(), 1), round(rng.random(), 1)) for _ in range(500)
    ]
    df = spark.createDataFrame(rows, "x double, y double")
    ung = spearman_corr(df, "x", "y").collect()[0]
    grp = spearman_corr(
        df.withColumn("g", F.lit("k")), "x", "y", ["g"]
    ).collect()[0]
    assert (ung["n"], ung["rho"]) == (grp["n"], grp["rho"])
    # persisted input (the roc_auc regression trigger) must also work
    cached = df.persist()
    try:
        cached.count()
        got = spearman_corr(cached, "x", "y").collect()[0]
        assert (got["n"], got["rho"]) == (ung["n"], ung["rho"])
    finally:
        cached.unpersist()


def test_spearman_null_rows_excluded(spark):
    """Rows with NULL in either variable are dropped up front: n and
    rho must equal the computation on the explicitly-filtered subset
    (documented contract — a rank for NULL is undefined)."""
    from nyc_etl_pipeline_spark.operators.evalmetrics import spearman_corr

    rows = [
        (1.0, 3.0), (2.0, 2.0), (3.0, 1.0),
        (None, 9.0), (4.0, None), (None, None),
    ]
    df = spark.createDataFrame(rows, "x double, y double")
    got = spearman_corr(df, "x", "y").collect()[0]
    clean = spark.createDataFrame(rows[:3], "x double, y double")
    want = spearman_corr(clean, "x", "y").collect()[0]
    assert got["n"] == 3
    assert (got["n"], got["rho"]) == (want["n"], want["rho"])


def test_spearman_moment_products_exact_past_bigint(spark):
    """Regression (ADVICE r10 medium): the per-row moment product
    cnt·(2r)² must be computed in decimal, not bigint — with 3M rows
    in 2 tie groups the bigint product wraps (cnt≈1.5e6, (2r)²≈2e13,
    product ≈ 3e19 > int64 max) and silently corrupts rho. x == y
    here, so the exact answer is rho = 1.0."""
    from pyspark.sql import functions as F

    from nyc_etl_pipeline_spark.operators.evalmetrics import spearman_corr

    df = spark.range(3_000_000).select(
        (F.col("id") % 2).cast("double").alias("x"),
        (F.col("id") % 2).cast("double").alias("y"),
    )
    got = spearman_corr(df, "x", "y").collect()[0]
    assert got["n"] == 3_000_000
    assert got["rho"] == 1.0


# --------------------------------------------------------------------------
# topk_calibration
# --------------------------------------------------------------------------


def test_topk_calibration_closed_form(spark):
    from nyc_etl_pipeline_spark.operators.evalmetrics import topk_calibration

    df = spark.createDataFrame(
        [(0.9, 1), (0.8, 0), (0.7, 1), (0.6, 1)], "s double, y int"
    )
    got = {
        r["k"]: r
        for r in topk_calibration(df, "s", "y", ks=[1, 2, 3, 10]).collect()
    }
    # k=10: 4 rows < 10 -> no row (at-least-k has no cut)
    assert set(got) == {1, 2, 3}
    assert (got[1]["threshold"], got[1]["n"], got[1]["n_pos"]) == (0.9, 1, 1)
    assert (got[1]["conf"], got[1]["precision"], got[1]["gap"]) == (
        0.9,
        1.0,
        -0.1,
    )
    assert (got[2]["n"], got[2]["conf"], got[2]["precision"]) == (2, 0.85, 0.5)
    assert got[2]["gap"] == 0.35
    assert (got[3]["n"], got[3]["n_pos"], got[3]["threshold"]) == (3, 2, 0.7)
    assert (got[3]["conf"], got[3]["precision"], got[3]["gap"]) == (
        0.8,
        0.666667,
        0.133333,
    )


def test_topk_calibration_boundary_tie_group_enters_whole(spark):
    from nyc_etl_pipeline_spark.operators.evalmetrics import topk_calibration

    df = spark.createDataFrame(
        [(0.9, 1), (0.5, 1), (0.5, 1), (0.5, 0), (0.5, 0)], "s double, y int"
    )
    [r] = topk_calibration(df, "s", "y", ks=[2]).collect()
    # the cut covering k=2 lands inside the 0.5 tie group -> all 4 enter
    assert (r["threshold"], r["n"], r["n_pos"]) == (0.5, 5, 3)
    assert (r["conf"], r["precision"]) == (0.58, 0.6)


def test_topk_calibration_grouped_and_small_groups(spark):
    from nyc_etl_pipeline_spark.operators.evalmetrics import topk_calibration

    rows = [("a", 0.1 * i, i % 2) for i in range(1, 9)]  # 8 rows
    rows += [("b", 0.7, 1), ("b", 0.3, 0)]  # 2 rows
    df = spark.createDataFrame(rows, "g string, s double, y int")
    got = topk_calibration(df, "s", "y", ks=[2, 5], group_cols=["g"]).collect()
    keys = {(r["g"], r["k"]) for r in got}
    # group b has only 2 rows -> no k=5 row
    assert keys == {("a", 2), ("a", 5), ("b", 2)}
    by = {(r["g"], r["k"]): r for r in got}
    assert by[("b", 2)]["n"] == 2 and by[("b", 2)]["precision"] == 0.5
    assert by[("a", 5)]["n"] == 5  # distinct scores, no ties
    assert by[("a", 5)]["threshold"] == 0.4


def test_topk_calibration_ungrouped_two_pass_equals_grouped_constant_key(spark, monkeypatch):
    import random

    from nyc_etl_pipeline_spark.operators import evalmetrics
    from nyc_etl_pipeline_spark.operators.evalmetrics import topk_calibration

    rng = random.Random(23)
    rows = [(round(rng.random(), 2), rng.randint(0, 1)) for _ in range(600)]
    rows += [(None, 1), (None, 0)]  # NULL scores: dropped by contract
    df = spark.createDataFrame(rows, "s double, y int")
    ks = [1, 7, 50, 300, 600]
    monkeypatch.setattr(evalmetrics, "_BUCKETS", 7)
    ung = sorted(map(tuple, topk_calibration(df, "s", "y", ks=ks).collect()))
    grp = sorted(
        tuple(r)[1:]  # strip the constant key
        for r in topk_calibration(
            df.withColumn("g", F.lit("k")), "s", "y", ks=ks, group_cols=["g"]
        ).collect()
    )
    assert ung == grp
    # 602 raw rows but 2 NULL scores dropped -> k=600 still lands
    assert {t[0] for t in ung} == set(ks)


def test_topk_calibration_rejects_bad_ks(spark):
    import pytest as _pytest

    from nyc_etl_pipeline_spark.operators.evalmetrics import topk_calibration

    df = spark.createDataFrame([(0.5, 1)], "s double, y int")
    with _pytest.raises(ValueError):
        topk_calibration(df, "s", "y", ks=[])
    with _pytest.raises(ValueError):
        topk_calibration(df, "s", "y", ks=[0, 3])


# --------------------------------------------------------------------------
# multiclass_eval + cohen_kappa
# --------------------------------------------------------------------------


def test_multiclass_eval_hand_case(spark):
    from nyc_etl_pipeline_spark.operators.evalmetrics import multiclass_eval

    # true: a a a b b c ; pred: a a b b c c
    rows = [
        ("a", "a"), ("a", "a"), ("a", "b"),
        ("b", "b"), ("b", "c"), ("c", "c"),
    ]
    df = spark.createDataFrame(rows, "t string, p string")
    out = {r["class"]: r for r in multiclass_eval(df, "p", "t").collect()}
    assert set(out) == {"a", "b", "c"}
    a, b, c = out["a"], out["b"], out["c"]
    assert (a["n_true"], a["n_pred"], a["tp"]) == (3, 2, 2)
    assert a["precision"] == 1.0 and a["recall"] == round(2 / 3, 6)
    assert a["f1"] == 0.8  # 2*2/(3+2)
    assert (b["n_true"], b["n_pred"], b["tp"]) == (2, 2, 1)
    assert b["precision"] == 0.5 and b["recall"] == 0.5 and b["f1"] == 0.5
    assert (c["n_true"], c["n_pred"], c["tp"]) == (1, 2, 1)
    assert c["precision"] == 0.5 and c["recall"] == 1.0
    assert c["f1"] == round(2 / 3, 6)


def test_multiclass_eval_union_classes_and_nulls(spark):
    from nyc_etl_pipeline_spark.operators.evalmetrics import multiclass_eval

    rows = [
        ("a", "a"), ("a", "hallucinated"),  # predicted-only class
        ("never_predicted", "a"),           # true-only class
        (None, "a"), ("a", None),           # dropped up front
    ]
    df = spark.createDataFrame(rows, "t string, p string")
    out = {r["class"]: r for r in multiclass_eval(df, "p", "t").collect()}
    assert set(out) == {"a", "hallucinated", "never_predicted"}
    h = out["hallucinated"]
    assert (h["n_true"], h["n_pred"], h["tp"]) == (0, 1, 0)
    assert h["precision"] == 0.0 and h["recall"] is None and h["f1"] == 0.0
    n = out["never_predicted"]
    assert (n["n_true"], n["n_pred"], n["tp"]) == (1, 0, 0)
    assert n["precision"] is None and n["recall"] == 0.0 and n["f1"] == 0.0


def test_multiclass_eval_grouped_independence(spark):
    from nyc_etl_pipeline_spark.operators.evalmetrics import multiclass_eval

    rows = [("g1", "a", "a"), ("g1", "a", "b"), ("g2", "a", "a")]
    df = spark.createDataFrame(rows, "g string, t string, p string")
    out = multiclass_eval(df, "p", "t", ["g"]).collect()
    g2 = [r for r in out if r["g"] == "g2"]
    assert len(g2) == 1 and g2[0]["f1"] == 1.0
    g1a = [r for r in out if r["g"] == "g1" and r["class"] == "a"][0]
    assert (g1a["n_true"], g1a["n_pred"], g1a["tp"]) == (2, 1, 1)


def _kappa(spark, rows, schema="a string, b string"):
    from nyc_etl_pipeline_spark.operators.evalmetrics import cohen_kappa

    return cohen_kappa(spark.createDataFrame(rows, schema), "a", "b").collect()[0]


def test_cohen_kappa_closed_forms(spark):
    # perfect agreement over 2 balanced classes: po=1, pe=0.5, kappa=1
    r = _kappa(spark, [("x", "x"), ("y", "y")] * 5)
    assert (r["po"], r["pe"], r["kappa"]) == (1.0, 0.5, 1.0)
    # chance-level: every combination once -> po=0.5, pe=0.5, kappa=0
    r = _kappa(spark, [("x", "x"), ("x", "y"), ("y", "x"), ("y", "y")])
    assert (r["po"], r["pe"], r["kappa"]) == (0.5, 0.5, 0.0)
    # both raters constant and identical -> pe=1 -> kappa NULL (0/0)
    r = _kappa(spark, [("x", "x")] * 4)
    assert r["po"] == 1.0 and r["pe"] == 1.0 and r["kappa"] is None
    # textbook 2x2: 20 yes-yes, 5 yes-no, 10 no-yes, 15 no-no
    rows = (
        [("y", "y")] * 20 + [("y", "n")] * 5
        + [("n", "y")] * 10 + [("n", "n")] * 15
    )
    r = _kappa(spark, rows)
    # po = 35/50 = .7 ; pe = (25*30 + 25*20)/2500 = .5 ; kappa = .4
    assert (r["po"], r["pe"], r["kappa"]) == (0.7, 0.5, 0.4)


def test_cohen_kappa_nulls_and_groups(spark):
    from nyc_etl_pipeline_spark.operators.evalmetrics import cohen_kappa

    rows = [
        ("g1", "x", "x"), ("g1", "x", "y"), ("g1", None, "x"),
        ("g2", "x", "x"), ("g2", "y", None),
    ]
    df = spark.createDataFrame(rows, "g string, a string, b string")
    out = {r["g"]: r for r in cohen_kappa(df, "a", "b", ["g"]).collect()}
    assert out["g1"]["n"] == 2  # NULL row dropped
    assert out["g2"]["n"] == 1 and out["g2"]["kappa"] is None


def test_cohen_kappa_disjoint_label_sets(spark):
    # raters never use the same class: pe_num has NO shared class rows
    # (inner marginal join is empty) -> pe = 0, kappa = po = 0
    r = _kappa(spark, [("x", "p"), ("y", "q")])
    assert (r["po"], r["pe"], r["kappa"]) == (0.0, 0.0, 0.0)


# --------------------------------------------------------------------------
# kendall_tau — distributed Knight decomposition
# --------------------------------------------------------------------------


def _brute_kendall(rows):
    import itertools
    import math

    C = D = tx = ty = 0
    n = len(rows)
    for (x1, y1), (x2, y2) in itertools.combinations(rows, 2):
        if x1 == x2:
            tx += 1
        if y1 == y2:
            ty += 1
        if x1 != x2 and y1 != y2:
            if (x1 < x2) == (y1 < y2):
                C += 1
            else:
                D += 1
    n0 = n * (n - 1) // 2
    fx, fy = n0 - tx, n0 - ty
    tau = (
        math.floor((C - D) / math.sqrt(fx * fy) * 1e6 + 0.5) / 1e6
        if fx > 0 and fy > 0
        else None
    )
    return C, D, tau


def test_kendall_matches_bruteforce_with_ties(spark):
    import random

    from nyc_etl_pipeline_spark.operators.evalmetrics import kendall_tau

    rng = random.Random(11)
    # 1-dp rounding forces heavy tie structure in BOTH axes
    rows = [
        (round(rng.random(), 1), round(rng.random(), 1)) for _ in range(400)
    ]
    C, D, tau = _brute_kendall(rows)
    df = spark.createDataFrame(rows, "x double, y double")
    r = kendall_tau(df, "x", "y").collect()[0]
    assert (int(r["concordant"]), int(r["discordant"]), r["tau"]) == (C, D, tau)
    assert r["n"] == len(rows)


def test_kendall_grouped_independence(spark):
    import random

    from nyc_etl_pipeline_spark.operators.evalmetrics import kendall_tau

    rng = random.Random(13)
    rows = [
        (
            "g" + str(rng.randint(0, 2)),
            round(rng.random(), 1),
            round(rng.random(), 1),
        )
        for _ in range(250)
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {r["g"]: r for r in kendall_tau(df, "x", "y", ["g"]).collect()}
    for g in {r[0] for r in rows}:
        sub = [(x, y) for gg, x, y in rows if gg == g]
        C, D, tau = _brute_kendall(sub)
        r = out[g]
        assert (int(r["concordant"]), int(r["discordant"]), r["tau"]) == (
            C,
            D,
            tau,
        ), g


def test_kendall_closed_forms(spark):
    from nyc_etl_pipeline_spark.operators.evalmetrics import kendall_tau

    def one(rows):
        df = spark.createDataFrame(rows, "x double, y double")
        return kendall_tau(df, "x", "y").collect()[0]

    # perfect agreement
    r = one([(1.0, 10.0), (2.0, 20.0), (3.0, 30.0), (4.0, 40.0)])
    assert (int(r["concordant"]), int(r["discordant"]), r["tau"]) == (6, 0, 1.0)
    # perfect reversal
    r = one([(1.0, 40.0), (2.0, 30.0), (3.0, 20.0), (4.0, 10.0)])
    assert (int(r["concordant"]), int(r["discordant"]), r["tau"]) == (0, 6, -1.0)
    # constant x -> no orderable pairs -> NULL tau
    r = one([(5.0, 1.0), (5.0, 2.0), (5.0, 3.0)])
    assert r["tau"] is None and int(r["concordant"]) == 0
    # NULL rows dropped up front (spearman exclusion contract)
    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 2.0), (None, 9.0), (3.0, None)],
        "x double, y double",
    )
    r = kendall_tau(df, "x", "y").collect()[0]
    assert r["n"] == 2 and r["tau"] == 1.0


def test_kendall_group_column_needs_quoting(spark):
    # the cumulative pass is a SQL string: a group column named with a
    # space must be quoted there like any other identifier
    import random

    from nyc_etl_pipeline_spark.operators.evalmetrics import kendall_tau

    rng = random.Random(19)
    rows = [
        ("g" + str(rng.randint(0, 1)), round(rng.random(), 1), round(rng.random(), 1))
        for _ in range(120)
    ]
    df = spark.createDataFrame(rows, "`my group` string, x double, y double")
    out = {r["my group"]: r for r in kendall_tau(df, "x", "y", ["my group"]).collect()}
    assert set(out) == {r[0] for r in rows}
    for g, r in out.items():
        C, D, tau = _brute_kendall([(x, y) for gg, x, y in rows if gg == g])
        assert (int(r["concordant"]), int(r["discordant"]), r["tau"]) == (C, D, tau), g


def test_kendall_infinite_x(spark):
    # +Inf lands among the literal x-bucket bounds, which the bucket
    # expression renders as SQL
    import math
    import random

    from nyc_etl_pipeline_spark.operators.evalmetrics import kendall_tau

    rng = random.Random(23)
    rows = [
        (math.inf if i % 3 == 0 else round(rng.random(), 1), round(rng.random(), 1))
        for i in range(150)
    ]
    C, D, tau = _brute_kendall(rows)
    df = spark.createDataFrame(rows, "x double, y double")
    r = kendall_tau(df, "x", "y").collect()[0]
    assert (int(r["concordant"]), int(r["discordant"]), r["tau"]) == (C, D, tau)
    assert r["n"] == len(rows)


def test_kendall_ungrouped_equals_grouped_constant_key(spark):
    import random

    from pyspark.sql import functions as F

    from nyc_etl_pipeline_spark.operators.evalmetrics import kendall_tau

    rng = random.Random(17)
    rows = [
        (round(rng.random(), 1), round(rng.random(), 1)) for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "x double, y double")
    ung = kendall_tau(df, "x", "y").collect()[0]
    grp = (
        kendall_tau(df.withColumn("k", F.lit("all")), "x", "y", ["k"])
        .collect()[0]
    )
    assert (
        ung["n"],
        int(ung["concordant"]),
        int(ung["discordant"]),
        ung["tau"],
    ) == (grp["n"], int(grp["concordant"]), int(grp["discordant"]), grp["tau"])


def test_kendall_duplicate_heavy_cells(spark):
    # many duplicate rows: cell collapse must weight pairs by count
    # products, and the within-bucket kernel must mix tied-x queries
    # with BIT updates correctly
    from nyc_etl_pipeline_spark.operators.evalmetrics import kendall_tau

    rows = (
        [(1.0, 1.0)] * 30 + [(1.0, 2.0)] * 20 + [(2.0, 1.0)] * 10
        + [(2.0, 2.0)] * 40
    )
    C, D, tau = _brute_kendall(rows)
    df = spark.createDataFrame(rows, "x double, y double")
    r = kendall_tau(df, "x", "y").collect()[0]
    assert (int(r["concordant"]), int(r["discordant"]), r["tau"]) == (C, D, tau)
