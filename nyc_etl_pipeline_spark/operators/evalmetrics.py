"""Model-evaluation metrics over (score, label) columns — the
measurement half of the classifier/retrieval stack (classify.py
trains, retrieval ranks; this scores the scorer).

Both metrics are formulated so the expensive part is integer
arithmetic and the single final division is the only float op:

  * ROC-AUC via the Mann-Whitney rank statistic with AVERAGE ranks
    for ties — bigint sums, exact for any tie structure;
  * calibration bins + ECE from exact counts and decimal-accumulated
    confidence sums.

Scale shape: scores are pre-aggregated to (group, score) before any
window, so the rank window's input is DISTINCT SCORES per group, not
rows; one group aggregate each — nothing pairwise (the naive AUC is
the all-pairs P(score_pos > score_neg); the rank identity removes
the quadratic join).

Skew bound (grouped path): the cumulative-count window is
single-partition PER GROUP — balanced groups parallelize, but one
group holding 99% of rows serializes its distinct-score scan through
one task (same contract as capped_sessionize's per-key window). The
pre-aggregation caps that task at |distinct scores in the group|;
if one group dominates AND its score is near-continuous, compute it
alone via the ungrouped two-pass path below, which range-buckets the
score axis instead of partitioning by group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.hygiene import scratch_checkpoint

from nyc_etl_pipeline_spark.functions import dec_sum, round_half_up, sql_double

# Range buckets of the ungrouped two-pass running sum (and of
# kendall_tau's x axis). Bounds only balance the per-bucket windows —
# every choice gives the same values — so the count is fixed here, not
# read from the session.
_BUCKETS = 32


def _quantile_bounds(df: DataFrame, col: str) -> list[float]:
    """approxQuantile bucket boundaries for the two-pass running sum —
    a bounded driver-side list (<= _BUCKETS-1 floats). Exact for ANY
    boundary choice — boundaries only affect balance."""
    probe = df.select(F.col(col).cast("double").alias("__sd"))
    qs = [i / _BUCKETS for i in range(1, _BUCKETS)]
    return sorted(set(probe.approxQuantile("__sd", qs, 0.001))) if qs else []


def _bucket_sql(col: str, bounds: list[float], descending: bool = False) -> str:
    """SQL range bucket of `col` under literal `bounds`: a flat sum of
    literal comparisons, NOT a lambda over an array literal — the
    higher-order-function form mis-binds when the input is a persisted
    relation (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND inside the offsets
    window, cached input only). A pure expression, so
    independent recomputes of two subtrees cannot disagree; built as
    one string because nested Columns cost ~6-10 py4j round-trips per
    bound (the _minhash_signature_cols lesson).

    Ascending needs no special case: NULL lands in bucket 0 and NaN in
    the last, Spark's asc order (NULLS FIRST, NaN greatest).
    Descending keeps NaN in bucket 0 (every `value < bound` is false),
    matching the NaN-first desc order, and routes NULL to a dedicated
    FINAL bucket, matching desc's NULLS LAST (parking NULL in bucket
    0, processed FIRST, made ungrouped desc running sums diverge from
    the grouped desc window whenever NULLs were present)."""
    v = f"CAST({col} AS DOUBLE)"
    op = "<" if descending else ">"
    bucket = " + ".join(
        f"(CASE WHEN {v} {op} {sql_double(b)} THEN 1 ELSE 0 END)" for b in bounds
    ) or "0"
    if descending:
        return f"CASE WHEN {col} IS NULL THEN {len(bounds) + 1} ELSE {bucket} END"
    return bucket


def _bucketed_global_cum(
    per_value: DataFrame,
    value_col: str,
    sum_cols: list[str],
    bounds: list[float],
    descending: bool = False,
) -> DataFrame:
    """TWO-PASS range-bucketed GLOBAL running sums over distinct
    values — never a single-partition window: each distinct value maps
    to a bucket `__b` via `_bucket_sql` (processing order: bucket 0
    first), local prefix sums run per bucket in parallel, and the
    <= |buckets|-row table of bucket offsets and totals broadcasts
    back. Adds `__cum_<c>` (inclusive running sum in `value_col` order)
    and `__tot_<c>` (the whole table's sum) per `sum_cols` column."""
    order = f"{value_col} {'DESC' if descending else 'ASC'}"
    bucketed = per_value.selectExpr(
        "*", f"{_bucket_sql(value_col, bounds, descending)} AS __b"
    )
    local = bucketed.selectExpr(
        "*",
        *[
            f"sum({c}) OVER (PARTITION BY __b ORDER BY {order} ROWS BETWEEN"
            f" UNBOUNDED PRECEDING AND CURRENT ROW) AS __loc_{c}"
            for c in sum_cols
        ],
    )
    # bucket prefix offsets and totals: <= |buckets| rows, so the
    # no-partition window here is bounded by construction
    w_off = "ORDER BY __b ASC ROWS BETWEEN UNBOUNDED PRECEDING AND"
    offsets = bucketed.groupBy("__b").agg(
        *[F.expr(f"sum({c}) AS __bt_{c}") for c in sum_cols]
    ).selectExpr(
        "__b",
        *[
            f"coalesce(sum(__bt_{c}) OVER ({w_off} 1 PRECEDING), 0) AS __off_{c}"
            for c in sum_cols
        ],
        *[
            f"sum(__bt_{c}) OVER ({w_off} UNBOUNDED FOLLOWING) AS __tot_{c}"
            for c in sum_cols
        ],
    )
    return (
        local.join(F.broadcast(offsets), "__b")
        .selectExpr("*", *[f"__loc_{c} + __off_{c} AS __cum_{c}" for c in sum_cols])
        .drop(*[f"__loc_{c}" for c in sum_cols], *[f"__off_{c}" for c in sum_cols])
    )


def _running_sums(
    per_value: DataFrame,
    gcols: list[str],
    order_col: str,
    sum_cols: list[str],
    descending: bool = False,
) -> DataFrame:
    """The one running-sum path of every rank metric. `per_value` has
    one row per distinct (group..., `order_col`) value; each
    `sum_cols` column gains its inclusive running sum `__cum_<c>` in
    `order_col` order (ascending, or descending with
    `descending=True`) and its group total `__tot_<c>`.

      * grouped — ONE window partitioned by the group columns (the
        running and the whole-partition frame share its sort), so
        totals need no second aggregate or join back. Single-partition
        PER GROUP: see the module docstring's skew bound;
      * ungrouped (`gcols` empty) — the table is checkpointed (the
        quantile probe, the local pass and the offsets all read it, and
        Catalyst plans are trees: each reference would otherwise carry
        and recompute the whole upstream lineage — the kendall_tau
        lesson), bounds are probed on its DISTINCT values, the balance
        the local windows need, and `_bucketed_global_cum` runs. The
        bucket id `__b` is kept for bucket-ordered recombination.

    Window and sum expressions are SQL strings: a group column is
    quoted, the internal value and sum columns need no quoting."""
    if gcols:
        part = ", ".join("`" + c.replace("`", "``") + "`" for c in gcols)
        spec = (
            f"PARTITION BY {part} ORDER BY {order_col}"
            f" {'DESC' if descending else 'ASC'} ROWS BETWEEN UNBOUNDED PRECEDING AND"
        )
        return per_value.selectExpr(
            "*",
            *[f"sum({c}) OVER ({spec} CURRENT ROW) AS __cum_{c}" for c in sum_cols],
            *[
                f"sum({c}) OVER ({spec} UNBOUNDED FOLLOWING) AS __tot_{c}"
                for c in sum_cols
            ],
        )
    per_value = per_value.transform(scratch_checkpoint)
    bounds = _quantile_bounds(per_value, order_col)
    return _bucketed_global_cum(per_value, order_col, sum_cols, bounds, descending)


def _join_groups(
    left: DataFrame, right: DataFrame, gcols: list[str], how: str = "inner"
) -> DataFrame:
    """`right`, one row per group, onto `left`'s rows: an equi-join on
    the group columns (the strategy left to AQE in case of huge group
    counts), or — ungrouped, where `right` is one global row — a
    broadcast cross join."""
    if gcols:
        return left.join(right, on=gcols, how=how)
    return left.crossJoin(F.broadcast(right))


def roc_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-group ROC-AUC = P(score of a random positive > score of a
    random negative) + ½·P(equal), computed by the Mann-Whitney rank
    identity:

        AUC = (Σ_pos avgrank - n⁺(n⁺+1)/2) / (n⁺ n⁻)

    Ties get AVERAGE ranks — avgrank = rank_min + (tie_size - 1)/2 —
    kept in integers by doubling: 2·Σ avgrank = Σ (2·rank_min +
    tie_size - 1). Everything up to the last division is bigint, so
    the value is exact for any tie structure and any partitioning;
    groups with no positives or no negatives get NULL (AUC undefined).

    Rows first collapse to (group, score) → (tie_count, pos_count),
    so rank arithmetic runs over distinct scores, and rmin(s) =
    cum_count(s) - tie(s) + 1 where cum_count is the running row
    count in ascending score order, from `_running_sums`: one window
    per group, or ungrouped (`group_cols=None`) a TWO-PASS
    range-bucketed global rank — never a single-partition window
    (approxQuantile bucket bounds, parallel per-bucket prefix sums, a
    broadcast ≤ _BUCKETS-row offset table). Exact for any boundary
    choice; boundaries only affect balance.

    Returns (group..., n_pos, n_neg, auc rounded 6).
    """
    gcols = group_cols or []
    lab = F.col(label_col).cast("bigint")
    per_score = df.groupBy(*gcols, F.col(score_col).alias("__s")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__tie"),
        F.sum(lab).cast("bigint").alias("__pos"),
    )
    cum = _running_sums(per_score, gcols, "__s", ["__tie"])
    stats = cum.select(
        *gcols,
        "__tie",
        "__pos",
        (F.col("__cum___tie") - F.col("__tie") + 1).alias("__rmin"),
    )
    agg = stats.groupBy(*gcols).agg(
        F.sum("__pos").alias("n_pos"),
        (F.sum("__tie") - F.sum("__pos")).alias("n_neg"),
        F.sum(
            F.col("__pos") * (2 * F.col("__rmin") + F.col("__tie") - 1)
        ).alias("__2sumrank"),
    )
    auc = (
        F.col("__2sumrank") - F.col("n_pos") * (F.col("n_pos") + 1)
    ) / (2.0 * F.col("n_pos") * F.col("n_neg"))
    return agg.select(
        *gcols,
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("n_neg").cast("bigint").alias("n_neg"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0), round_half_up(auc, 6)
        ).alias("auc"),
    )


def roc_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-group ROC curve POINTS — the curve `roc_auc` integrates:
    one row per distinct score (threshold), descending, with

        tpr(s) = |positives with score >= s| / n⁺
        fpr(s) = |negatives with score >= s| / n⁻

    (the ">= threshold s" operating point — each distinct score is a
    deployable cutoff, ties enter together, so the point set is
    well-defined for any tie structure and the step curve through the
    points has area exactly equal to `roc_auc`'s tie-averaged value).

    Exactness: rows collapse to (group, score) → (tie_count,
    pos_count) first, cumulative TP and N and the group's totals come
    from ONE `_running_sums` pass over distinct scores in descending
    order (cumFP = cumN − cumTP), and the only float ops are the two
    final divisions by those totals — order-free, rounded half-up to 6 dp,
    fully oracle-replicable. Groups lacking positives (tpr undefined)
    or negatives (fpr undefined) yield NULL for that coordinate,
    mirroring roc_auc's NULL contract.

    Scale shape / skew bound: same contract as `roc_auc` — grouped,
    the cumulative window serializes |distinct scores in the group|
    through one task (bounded by score resolution, not corpus size);
    UNGROUPED (`group_cols=None`), the cumulative pass is the shared
    two-pass range-bucketed running sum (descending — NULL scores
    route to the final bucket, the NULLS-LAST placement), so no stage
    is single-partition. Output volume is |distinct scores|
    per group — resolution-bounded by the same argument.

    Returns (group..., score, n_pos, n_neg, tpr, fpr), descending
    points implied by score order.
    """
    gcols = group_cols or []
    lab = F.col(label_col).cast("bigint")
    per_score = df.groupBy(*gcols, F.col(score_col).alias("score")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__tie"),
        F.sum(lab).cast("bigint").alias("__pos"),
    )
    cum = _running_sums(
        per_score, gcols, "score", ["__tie", "__pos"], descending=True
    )
    n_pos = F.col("__tot___pos")
    n_neg = F.col("__tot___tie") - F.col("__tot___pos")
    return cum.select(
        *gcols,
        "score",
        n_pos.cast("bigint").alias("n_pos"),
        n_neg.cast("bigint").alias("n_neg"),
        F.when(
            n_pos > 0, round_half_up(F.col("__cum___pos") / n_pos, 6)
        ).alias("tpr"),
        F.when(
            n_neg > 0,
            round_half_up((F.col("__cum___tie") - F.col("__cum___pos")) / n_neg, 6),
        ).alias("fpr"),
    )


def average_precision(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-group average precision — the area under the step-
    interpolated precision-recall curve, the imbalanced-class
    companion of `roc_auc` (AUC is prevalence-invariant; AP is the
    metric that moves when positives are rare):

        AP = Σ_i (R_i - R_{i-1}) · P_i
           = (1/n⁺) Σ_{distinct scores s, desc} pos(s) · cumTP(s) / cumN(s)

    where ties form ONE curve step (all rows at an equal score enter
    together — the precision_recall_curve convention, so the value is
    well-defined for any tie structure rather than depending on a
    within-tie order).

    Exactness: rows collapse to (group, score) → (tie, pos) first;
    cumTP/cumN come from one cumulative window over DISTINCT scores;
    each term pos·cumTP/cumN is one bigint product and one double
    division (both order-free), and the term sum is a score-DESC
    ordered fold (the q113 discipline) so merge order cannot move a
    last ulp. Groups with no positives get NULL (AP undefined).

    Scale shape / skew bound: GROUPED, the cumulative window AND the
    ordered fold serialize |distinct scores in the group| through one
    task — same contract as grouped `roc_auc` (module docstring). The
    pre-aggregation caps that at the score's resolution (a 6-dp score
    bounds it at ~10⁶ rows regardless of corpus size); feed
    near-continuous scores through a rounding first if a group's
    distinct count is unbounded. UNGROUPED (`group_cols=None`), both
    passes are two-pass range-bucketed: cumN, cumTP and the totals
    ride ONE descending `_running_sums` pass (parallel per-bucket
    prefix sums + broadcast offsets), and the ordered fold becomes per-bucket
    DESC-sorted term ARRAYS concatenated in bucket order and folded
    once — the fold sees the identical term sequence as the grouped
    form (same sort key, same left-to-right association), so
    ungrouped == grouped-constant-key stays BIT-EQUAL while only the
    final linear fold (bounded by score resolution) is serialized —
    never the shuffle, sort, or cumulative pass.

    Returns (group..., n_pos, n_neg, ap rounded 6).
    """
    gcols = group_cols or []
    lab = F.col(label_col).cast("bigint")
    per_score = df.groupBy(*gcols, F.col(score_col).alias("__s")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__tie"),
        F.sum(lab).cast("bigint").alias("__pos"),
    )
    cum = _running_sums(
        per_score, gcols, "__s", ["__tie", "__pos"], descending=True
    )
    term = (F.col("__pos") * F.col("__cum___pos")).cast("double") / F.col(
        "__cum___tie"
    ).cast("double")
    step = F.when(F.col("__pos") > 0, F.struct(F.col("__s"), term.alias("__t")))

    def fold(terms: F.Column) -> F.Column:
        return F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x.getField("__t"))

    if gcols:
        agg = cum.groupBy(*gcols).agg(
            F.sum("__pos").cast("bigint").alias("n_pos"),
            (F.sum("__tie") - F.sum("__pos")).cast("bigint").alias("n_neg"),
            fold(F.sort_array(F.collect_list(step), asc=False)).alias("__apsum"),
        )
    else:
        # per-bucket DESC-sorted term arrays (parallel), then ONE
        # bucket-ordered concatenation folded left-to-right — the exact
        # term sequence of the grouped sort_array fold. Totals are the
        # running-sum pass's own (constant per row).
        per_bucket = cum.groupBy("__b").agg(
            F.max("__tot___pos").alias("__tp"),
            F.max("__tot___tie").alias("__tn"),
            F.sort_array(F.collect_list(step), asc=False).alias("__arr"),
        )
        agg = per_bucket.agg(
            F.max("__tp").cast("bigint").alias("n_pos"),
            (F.max("__tn") - F.max("__tp")).cast("bigint").alias("n_neg"),
            fold(
                F.flatten(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("__b"), F.col("__arr"))),
                        asc=True,
                    ).getField("__arr")
                )
            ).alias("__apsum"),
        )
    return agg.select(
        *gcols,
        "n_pos",
        "n_neg",
        F.when(
            F.col("n_pos") > 0,
            round_half_up(F.col("__apsum") / F.col("n_pos"), 6),
        ).alias("ap"),
    )


def calibration_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Fixed-width calibration bins over a [0, 1] score: per bin the
    count, mean confidence (decimal-accumulated), and empirical
    accuracy; every row also carries the expected calibration error

        ECE = Σ_b (n_b / N) · |acc_b - conf_b|

    (the weighted reliability-diagram gap). Scores land in bin
    min(floor(score·B), B-1); counts and label sums are exact
    integers, confidences are DECIMAL(28,6) sums, so the only float
    division is per finalized bin.

    With `group_cols` the whole report is PER GROUP (per-domain
    reliability — each group gets its own bins, N, and ECE): the bin
    aggregate keys on (group..., bin) and the ECE totals on the group,
    so both stay ordinary hash aggregates — no windows, no skew cliff.
    Returns one row per non-empty bin: (group..., bin, n, conf, acc,
    ece), conf/acc/ece rounded 6.
    """
    gcols = group_cols or []
    lab = F.col(label_col).cast("bigint")
    bin_col = F.least(
        F.floor(F.col(score_col) * n_bins).cast("int"), F.lit(n_bins - 1)
    )
    per_bin = (
        df.select(
            *gcols, bin_col.alias("bin"), F.col(score_col).alias("__s"), lab.alias("__y")
        )
        .groupBy(*gcols, "bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            dec_sum("__s").alias("__s_sum"),
            F.sum("__y").cast("bigint").alias("__n_pos"),
        )
        .select(
            *gcols,
            "bin",
            "n",
            (F.col("__s_sum") / F.col("n")).alias("__conf"),
            (F.col("__n_pos") / F.col("n")).alias("__acc"),
        )
    )
    totals = per_bin.groupBy(*gcols).agg(
        F.sum("n").alias("__N"),
        # Σ n_b·|acc-conf| accumulated in decimal so bin order can't
        # move the last ulp of the final division
        dec_sum(F.col("n") * F.abs(F.col("__acc") - F.col("__conf"))).alias("__gap"),
    )
    return _join_groups(per_bin, totals, gcols).select(
        *gcols,
        F.col("bin").cast("bigint").alias("bin"),
        "n",
        round_half_up(F.col("__conf"), 6).alias("conf"),
        round_half_up(F.col("__acc"), 6).alias("acc"),
        round_half_up(F.col("__gap") / F.col("__N"), 6).alias("ece"),
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-group Spearman rank correlation between two score columns
    (do two quality signals agree on the ORDER of documents?) —
    Pearson's formula applied to average ranks, with exact tie
    handling via the roc_auc doubling trick (2·avgrank = 2·cum − tie
    + 1 stays integer for any tie structure).

    Exactness: every moment is an integer accumulated exactly —
    rows collapse to distinct (x, y) pairs with counts, marginal
    ranks come from one cumulative window per variable over DISTINCT
    values, and Σ cnt·2rx·2ry / Σ cnt·(2rx)² / … are DECIMAL
    products of DECIMAL(19,0)-cast factors (cnt·(2r)² reaches 4n³,
    which overflows bigint at ~1.3M rows/group — with rounded-score
    tie groups the per-row bigint PRODUCT would wrap around ~3e7
    rows/group, so each factor is cast to decimal BEFORE the
    multiply; the decimal(38,0) product and sum stay exact to
    ~3e12 rows/group). The final Pearson combination is the only
    float arithmetic, a fixed expression over exact integers —
    deterministic and oracle-replicable (DuckDB multiplies and sums
    the same integers in HUGEINT). The constant factor 2 cancels in
    the ratio.

    NULL handling: rows where either variable is NULL are dropped
    up front (a rank for NULL is undefined) — `n` counts only
    fully-observed pairs. This differs from roc_auc /
    average_precision, which treat a NULL score as one more
    distinct value group; for a rank CORRELATION there is no
    defensible place in the order to put NULL, so exclusion is the
    contract.

    Scale shape / skew bound: two distinct-value rank passes + three
    hash aggregates per group, each rank pass the shared
    `_running_sums`. Grouped, each rank window serializes |distinct
    values of one variable in the group| through one task (same
    contract as grouped roc_auc — bounded by score resolution, not
    corpus size); UNGROUPED, both marginals use the two-pass
    range-bucketed global rank — never a single-partition window. Groups
    where either variable is constant get NULL (undefined).

    Returns (group..., n, rho rounded 6).
    """
    gcols = group_cols or []
    df = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())

    def _marg(col: str, alias: str) -> DataFrame:
        v = f"__v_{alias}"
        per = df.groupBy(*gcols, F.col(col).alias(v)).agg(
            F.count(F.lit(1)).cast("bigint").alias("__t")
        )
        return _running_sums(per, gcols, v, ["__t"]).select(
            *gcols,
            v,
            (2 * F.col("__cum___t") - F.col("__t") + 1).alias(f"__2r_{alias}"),
        )

    joint = df.groupBy(
        *gcols, F.col(x_col).alias("__v_x"), F.col(y_col).alias("__v_y")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    ranked = joint.join(_marg(x_col, "x"), on=[*gcols, "__v_x"]).join(
        _marg(y_col, "y"), on=[*gcols, "__v_y"]
    )
    # Cast each FACTOR to decimal before multiplying: a bigint product
    # cnt·(2r)² wraps silently (non-ANSI) around ~3e7 rows/group with
    # tie-heavy scores; decimal(19,0)·decimal(19,0)·decimal(19,0)
    # stays exact in decimal(38,0) to ~3e12 rows/group.
    d2 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    sums = ranked.groupBy(*gcols).agg(
        F.sum("__c").cast("bigint").alias("n"),
        F.sum(d2("__c") * d2("__2r_x")).alias("__sx"),
        F.sum(d2("__c") * d2("__2r_y")).alias("__sy"),
        F.sum(d2("__c") * d2("__2r_x") * d2("__2r_x")).alias("__sxx"),
        F.sum(d2("__c") * d2("__2r_y") * d2("__2r_y")).alias("__syy"),
        F.sum(d2("__c") * d2("__2r_x") * d2("__2r_y")).alias("__sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    var_x = nd * F.col("__sxx").cast("double") - sx * sx
    var_y = nd * F.col("__syy").cast("double") - sy * sy
    cov = nd * F.col("__sxy").cast("double") - sx * sy
    return sums.select(
        *gcols,
        "n",
        F.when(
            (var_x > 0) & (var_y > 0),
            round_half_up(cov / (F.sqrt(var_x) * F.sqrt(var_y)), 6),
        ).alias("rho"),
    )


def retrieval_eval(
    ranked: DataFrame,
    relevant: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Ranked-retrieval quality per query: MRR, recall@k, nDCG@k —
    the retrieval counterpart of roc_auc (which scores pointwise
    scorers). `ranked` is (query, doc, rank) from any ranker
    (BM25, ANN, hybrid RRF); `relevant` is the (query, doc) ground
    truth.

        MRR    = 1 / rank of the first relevant hit (0 if none in top-k)
        recall = |relevant ∩ top-k| / |relevant|
        nDCG@k = Σ_hits 1/log2(rank+1)  /  Σ_{i=1..min(|rel|,k)} 1/log2(i+1)

    Determinism: counts and first-hit ranks are integers; the DCG and
    ideal-DCG sums are rank-ORDERED folds (the q113 discipline), so
    the single log2 per term is the documented 1-ulp libm residual
    and merge order cannot move a digit. Queries with no relevant
    docs get NULL recall/ndcg (undefined, not zero).

    Scale shape: one equi-join of the top-k slice against the truth
    set, two query-keyed aggregates; per-query fold size <= k.

    Duplicate tolerance: the truth set is deduplicated on (query,
    doc) and a doc appearing at several ranks in the top-k slice
    collapses to its FIRST (minimum) rank — otherwise repeated rows
    double-count hits_at_k and the DCG fold, letting recall@k and
    nDCG@k exceed 1.0. Both reductions are no-ops on clean input.
    Returns (query, n_rel, hits_at_k, mrr, recall_at_k, ndcg_at_k),
    metrics rounded 6.
    """
    q, d, r = query_col, id_col, rank_col
    topk = (
        ranked.filter(F.col(r) <= k)
        .groupBy(q, d)
        .agg(F.min(r).alias(r))
    )
    rel = relevant.select(q, d).dropDuplicates([q, d])
    rel_n = rel.groupBy(q).agg(F.count(F.lit(1)).cast("bigint").alias("n_rel"))
    hit_aggs = (
        topk.join(rel, on=[q, d])
        .groupBy(q)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("hits_at_k"),
            F.min(r).cast("bigint").alias("__first"),
            F.aggregate(
                F.sort_array(F.collect_list(F.col(r).cast("bigint"))),
                F.lit(0.0),
                lambda acc, rk: acc + (F.lit(1.0) / F.log2(rk.cast("double") + 1.0)),
            ).alias("__dcg"),
        )
    )
    m = F.least(F.col("n_rel"), F.lit(k)).cast("int")
    idcg = F.aggregate(
        F.sequence(F.lit(1), m),
        F.lit(0.0),
        lambda acc, i: acc + (F.lit(1.0) / F.log2(i.cast("double") + 1.0)),
    )
    base = ranked.select(q).dropDuplicates().join(rel_n, on=q, how="left").join(
        hit_aggs, on=q, how="left"
    )
    return base.select(
        q,
        F.coalesce("n_rel", F.lit(0)).cast("bigint").alias("n_rel"),
        F.coalesce("hits_at_k", F.lit(0)).cast("bigint").alias("hits_at_k"),
        round_half_up(
            F.when(F.col("__first").isNotNull(), F.lit(1.0) / F.col("__first"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("mrr"),
        F.when(
            F.coalesce("n_rel", F.lit(0)) > 0,
            round_half_up(F.coalesce("hits_at_k", F.lit(0)) / F.col("n_rel"), 6),
        ).alias("recall_at_k"),
        F.when(
            F.coalesce("n_rel", F.lit(0)) > 0,
            round_half_up(F.coalesce("__dcg", F.lit(0.0)) / idcg, 6),
        ).alias("ndcg_at_k"),
    )


def retrieval_eval_graded(
    ranked: DataFrame,
    relevant: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    gain_col: str = "gain",
) -> DataFrame:
    """`retrieval_eval` with GRADED relevance — `relevant` carries a
    per-(query, doc) gain (e.g. 2 = exact answer, 1 = partial) and
    nDCG weights each hit by its gain:

        DCG@k  = Σ_{hits, rank asc}  gain / log2(rank+1)
        IDCG@k = Σ_{i=1..min(|rel|,k)}  gain_(i) / log2(i+1)
                 (gain_(i) = i-th LARGEST gain in the truth set)

    MRR and recall@k stay binary over the gain > 0 truth rows — the
    standard graded-eval convention (a judged-but-irrelevant doc is
    not a "hit"); rows with gain <= 0 or NULL are dropped up front
    (they would contribute nothing to any metric).

    Determinism: both folds are ORDERED (the q113 discipline) — DCG
    by ascending rank, IDCG by descending gain (equal gains are
    interchangeable terms, so tie order cannot move a digit); each
    term is one division and one log2 (the bounded 1-ulp libm class).

    Scale shape: same joins and per-query aggregates as
    `retrieval_eval`, except IDCG's fold state is min(|rel|, k) gains
    AFTER a per-query sort of the |rel| truth gains — per-query truth
    sets are assumed bounded (they are human/LLM judgments, not the
    corpus). Duplicate tolerance: (query, doc) truth rows collapse to
    their MAX gain; repeated top-k ranks collapse to the first.
    Returns (query, n_rel, hits_at_k, mrr, recall_at_k, ndcg_at_k),
    metrics rounded 6.
    """
    q, d, r, g = query_col, id_col, rank_col, gain_col
    topk = ranked.filter(F.col(r) <= k).groupBy(q, d).agg(F.min(r).alias(r))
    rel = (
        relevant.filter(F.col(g) > 0)
        .groupBy(q, d)
        .agg(F.max(F.col(g).cast("double")).alias(g))
    )
    rel_aggs = rel.groupBy(q).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rel"),
        F.sort_array(F.collect_list(F.col(g)), asc=False).alias("__gains"),
    )
    hit_aggs = (
        topk.join(rel, on=[q, d])
        .groupBy(q)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("hits_at_k"),
            F.min(r).cast("bigint").alias("__first"),
            F.aggregate(
                F.sort_array(
                    F.collect_list(
                        F.struct(F.col(r).cast("bigint").alias("__r"), F.col(g).alias("__g"))
                    )
                ),
                F.lit(0.0),
                lambda acc, x: acc
                + (
                    x.getField("__g")
                    / F.log2(x.getField("__r").cast("double") + 1.0)
                ),
            ).alias("__dcg"),
        )
    )
    m = F.least(F.col("n_rel"), F.lit(k)).cast("int")
    idcg = F.aggregate(
        F.zip_with(
            F.slice(F.col("__gains"), 1, m),
            F.sequence(F.lit(1), m),
            lambda gv, i: gv / F.log2(i.cast("double") + 1.0),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    base = (
        ranked.select(q)
        .dropDuplicates()
        .join(rel_aggs, on=q, how="left")
        .join(hit_aggs, on=q, how="left")
    )
    return base.select(
        q,
        F.coalesce("n_rel", F.lit(0)).cast("bigint").alias("n_rel"),
        F.coalesce("hits_at_k", F.lit(0)).cast("bigint").alias("hits_at_k"),
        round_half_up(
            F.when(F.col("__first").isNotNull(), F.lit(1.0) / F.col("__first"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("mrr"),
        F.when(
            F.coalesce("n_rel", F.lit(0)) > 0,
            round_half_up(F.coalesce("hits_at_k", F.lit(0)) / F.col("n_rel"), 6),
        ).alias("recall_at_k"),
        F.when(
            F.coalesce("n_rel", F.lit(0)) > 0,
            round_half_up(F.coalesce("__dcg", F.lit(0.0)) / idcg, 6),
        ).alias("ndcg_at_k"),
    )


def topk_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    ks: list[int],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Head-of-ranking calibration: for each requested k, over the
    top-k highest-scored rows per group, the mean confidence vs the
    empirical precision and their gap — "is the model calibrated where
    it is most confident", the region q185/q189's fixed-width bins
    average away (a scorer can carry near-zero ECE overall yet be
    badly over-confident in its head, which is exactly the slice a
    selection pipeline keeps).

    Top-k under ties is "AT LEAST k": the cut is the shortest
    descending distinct-score prefix whose cumulative row count
    reaches k — the boundary tie group enters WHOLE, so the selection
    is deterministic for any tie structure (no within-tie row order
    exists on either engine) and the reported n is the actual prefix
    size (>= k). Groups with fewer than k rows emit NO row for that k
    (there is no top-k); NULL scores are dropped up front (a NULL
    cannot be ranked "top" — the spearman exclusion contract, not
    roc_auc's distinct-value-group one).

    Exactness: rows collapse to (group, score) -> (tie_count,
    pos_count, decimal score mass) first; cumulative rows/positives/
    mass ride ONE `_running_sums` pass over distinct scores descending;
    the boundary row per (group, k) is the min-cum qualifying row
    (cum is strictly increasing over a group's distinct scores, so
    min_by is unambiguous); conf/precision/gap are the only float
    divisions, over exact decimal/bigint prefixes, rounded half-up 6.

    Scale shape / skew bound: the grouped cumulative window
    serializes |distinct scores in the group| through one task
    (resolution-bounded — the roc_auc contract); ungrouped uses the
    shared two-pass range-bucketed running sum (descending), so no
    stage is single-partition. The k list is a
    bounded literal relation broadcast into a nested-loop prefix
    probe (|distinct scores| x |ks| candidate rows, collapsed by one
    hash aggregate) — ks is driver-provided and small by contract.

    Returns (group..., k, threshold, n, n_pos, conf, precision, gap),
    one row per (group, k) with group size >= k; `threshold` is the
    boundary score (the cutoff that admits the prefix).
    """
    if not ks:
        raise ValueError("topk_calibration: ks must be non-empty")
    ks_int = sorted({int(k) for k in ks})
    if ks_int[0] <= 0:
        raise ValueError(f"topk_calibration: ks must be positive, got {ks}")
    gcols = group_cols or []
    lab = F.col(label_col).cast("bigint")
    per_score = (
        df.filter(F.col(score_col).isNotNull())
        .groupBy(*gcols, F.col(score_col).alias("__s"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__tie"),
            F.sum(lab).cast("bigint").alias("__pos"),
        )
        # decimal score mass of the tie group: one double->decimal
        # value cast per DISTINCT score (Spark and DuckDB agree on
        # that cast — the dec_sum contract), times the exact count
        .withColumn(
            "__mass", F.col("__s").cast("decimal(28,6)") * F.col("__tie")
        )
    )
    cum = _running_sums(
        per_score, gcols, "__s", ["__tie", "__pos", "__mass"], descending=True
    ).select(
        *gcols,
        "__s",
        F.col("__cum___tie").alias("__cn"),
        F.col("__cum___pos").alias("__cp"),
        F.col("__cum___mass").alias("__cs"),
    )
    ks_df = df.sparkSession.createDataFrame(
        [(k,) for k in ks_int], "k bigint"
    )
    # bounded nested-loop prefix probe: every distinct score that
    # covers k rows qualifies; the hash aggregate keeps the shortest
    sel = (
        cum.join(F.broadcast(ks_df), F.col("__cn") >= F.col("k"))
        .groupBy(*gcols, "k")
        .agg(
            F.min_by("__s", "__cn").alias("threshold"),
            F.min("__cn").alias("n"),
            F.min_by("__cp", "__cn").alias("__cp"),
            F.min_by("__cs", "__cn").alias("__cs"),
        )
    )
    conf = F.col("__cs").cast("double") / F.col("n")
    prec = F.col("__cp") / F.col("n")
    return sel.select(
        *gcols,
        "k",
        "threshold",
        F.col("n").cast("bigint").alias("n"),
        F.col("__cp").cast("bigint").alias("n_pos"),
        round_half_up(conf, 6).alias("conf"),
        round_half_up(prec, 6).alias("precision"),
        round_half_up(conf - prec, 6).alias("gap"),
    )


def multiclass_eval(
    df: DataFrame,
    pred_col: str,
    label_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-class confusion summary for a multiclass classifier:
    support, predicted count, true positives, precision, recall, F1 —
    the table q190's softmax (or any argmax scorer) is actually judged
    by. One row per (group, class) over the UNION of observed true and
    predicted classes, so a class the model never predicts (recall
    hole) and a class it hallucinates (precision hole) both appear.

    Exactness: everything is bigint counts off ONE hash aggregate of
    (group, label, pred) cells; the three final divisions are the only
    float ops. precision is NULL when the class is never predicted and
    recall is NULL when it has no true rows (no 0-division convention
    smuggled in); F1 uses the 2*tp/(n_true+n_pred) identity, which is
    always defined on the union class set and equals the harmonic mean
    whenever both marginals are positive. Rows with a NULL label or
    prediction are dropped up front (the spearman_corr exclusion
    contract — NULL is "unlabeled", not a class).

    Scale shape: one shuffle to (group, label, pred) cells — at most
    K^2 rows per group regardless of input rows (map-side partial
    aggregation does the data-sized work) — then two K-bounded
    re-aggregations and a K-bounded outer join. Nothing downstream of
    the first aggregate is data-sized, so the plan survives any row
    count; skew rides the hash aggregate, not a window. The cell
    table is checkpointed: it feeds two branches, and
    without lineage truncation each would re-analyze and re-shuffle
    the corpus (the kendall_tau lesson).
    """
    gcols = group_cols or []
    cells = (
        df.filter(F.col(pred_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(
            *gcols,
            F.col(label_col).alias("__t"),
            F.col(pred_col).alias("__p"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
        .transform(scratch_checkpoint)
    )
    by_true = cells.groupBy(*gcols, F.col("__t").alias("class")).agg(
        F.sum("__n").alias("__n_true"),
        F.sum(F.when(F.col("__p") == F.col("__t"), F.col("__n"))).alias("__tp"),
    )
    by_pred = cells.groupBy(*gcols, F.col("__p").alias("class")).agg(
        F.sum("__n").alias("__n_pred")
    )
    joined = by_true.join(by_pred, [*gcols, "class"], "full_outer")
    n_true = F.coalesce(F.col("__n_true"), F.lit(0)).cast("bigint")
    n_pred = F.coalesce(F.col("__n_pred"), F.lit(0)).cast("bigint")
    tp = F.coalesce(F.col("__tp"), F.lit(0)).cast("bigint")
    return joined.select(
        *gcols,
        "class",
        n_true.alias("n_true"),
        n_pred.alias("n_pred"),
        tp.alias("tp"),
        F.when(
            n_pred > 0, round_half_up(tp / n_pred, 6)
        ).alias("precision"),
        F.when(n_true > 0, round_half_up(tp / n_true, 6)).alias("recall"),
        round_half_up(tp * 2 / (n_true + n_pred), 6).alias("f1"),
    )


def cohen_kappa(
    df: DataFrame,
    col_a: str,
    col_b: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Cohen's kappa between two categorical columns — raw agreement
    corrected for the agreement two independent raters with the same
    marginals would reach by chance. The honesty check multiclass_eval
    lacks: a majority-class predictor scores high accuracy but kappa
    ~0. Returns one row per group: (group..., n, po, pe, kappa).

    Exactness: kappa = (n*agree - pe_num) / (n*n - pe_num) with
    pe_num = sum_c n_a(c)*n_b(c) — a single integer-arithmetic
    identity, so the one float division IS the metric (po/pe are
    reported as separately-rounded diagnostics, not inputs to kappa).
    Marginal products are decimal(38,0) via decimal(19,0) factor casts
    — bigint products wrap silently past ~3e9 rows per group (the
    spearman_corr moment-product lesson, applied at birth rather than
    patched later). kappa is NULL when pe = 1 (both raters constant
    and identical — the 0/0 case, reported rather than invented).
    Rows where either column is NULL are dropped up front (NULL is
    "unrated", not a category — the multiclass_eval contract).

    Scale shape: ONE data-sized shuffle — rows collapse to
    (group, a, b) cells (<= K^2 per group), and totals, both
    marginals, and the pe sum are all K-bounded re-aggregations of
    that one cell table. The cell table is checkpointed: it feeds
    three branches, and Catalyst plans are trees — without
    lineage truncation each branch would re-analyze AND re-shuffle
    the corpus (the kendall_tau lesson; here it also turns three
    corpus-scale aggregates into one).
    """
    gcols = group_cols or []
    base = df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
    cells = (
        base.groupBy(*gcols, F.col(col_a).alias("__a"), F.col(col_b).alias("__b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("__cn"))
        .transform(scratch_checkpoint)
    )
    totals = cells.groupBy(*gcols).agg(
        F.sum("__cn").cast("bigint").alias("__n"),
        F.coalesce(
            F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__cn"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("__agree"),
    )
    m_a = cells.groupBy(*gcols, F.col("__a").alias("__c")).agg(
        F.sum("__cn").cast("decimal(19,0)").alias("__na")
    )
    m_b = cells.groupBy(*gcols, F.col("__b").alias("__c")).agg(
        F.sum("__cn").cast("decimal(19,0)").alias("__nb")
    )
    pe_num = (
        m_a.join(m_b, [*gcols, "__c"])
        .groupBy(*gcols)
        .agg(
            F.sum(
                (F.col("__na") * F.col("__nb")).cast("decimal(38,0)")
            ).alias("__pe_num")
        )
    )
    fin = _join_groups(totals, pe_num, gcols, "left")
    # inner-join marginals can only drop the pe contribution of classes
    # one side never uses (product 0); a missing row means NO class was
    # shared, so pe_num is 0, not NULL
    pe_n = F.coalesce(F.col("__pe_num"), F.lit(0).cast("decimal(38,0)"))
    n_dec = F.col("__n").cast("decimal(19,0)")
    denom = (n_dec * n_dec).cast("decimal(38,0)") - pe_n
    numer = (n_dec * F.col("__agree").cast("decimal(19,0)")).cast(
        "decimal(38,0)"
    ) - pe_n
    return fin.select(
        *gcols,
        F.col("__n").alias("n"),
        round_half_up(F.col("__agree") / F.col("__n"), 6).alias("po"),
        round_half_up(
            pe_n.cast("double") / (n_dec * n_dec).cast("double"), 6
        ).alias("pe"),
        F.when(
            denom != 0,
            round_half_up(numer.cast("double") / denom.cast("double"), 6),
        ).alias("kappa"),
    )


def kendall_tau(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Exact Kendall's tau-b between two numeric columns — the
    concordance companion of spearman_corr (Spearman moves with any
    monotone displacement; Kendall counts pairwise order agreements,
    so it is the metric behind pairwise-preference evals). Returns one
    row per group: (group..., n, concordant, discordant, tau).

    The naive definition is an all-pairs join; the classical exact
    algorithm (Knight 1966) is a merge sort — sequential. This is the
    DISTRIBUTED decomposition of Knight's algorithm:

      1. rows collapse to distinct (x, y) CELLS with bigint counts
         (resolution-bounded, the roc_auc pre-aggregation contract) —
         every later stage is cell-sized, not row-sized; tie terms
         (t_x, t_y, both) fall out of three marginal aggregates;
      2. the x axis is range-bucketed by literal quantile bounds
         (equal x never splits, so cross-bucket implies strict x
         order). CROSS-bucket concordance/discordance needs, per cell,
         the mass strictly below/above its y among all lower x-buckets
         — computed from one per-(group, y) row of B bucket masses,
         one ascending cumulative pass over distinct y (shared with
         the tie-count window), and a bounded prefix fold over the
         first q buckets (F.slice + F.aggregate over a B-length
         array). Nothing here is pairwise and nothing exceeds
         |distinct y| x B cells;
      3. WITHIN-bucket pairs ride an Arrow-batched per-(group, bucket)
         kernel: weighted inversion counting over a Fenwick tree in
         Python-int arithmetic (exact past int64 — counts multiply up
         to n^2), O(k log k) per bucket, parallel across buckets.
         This is the one genuinely order-statistic step no built-in
         expression covers (the spearman/AP folds are 1-D; this is
         2-D dominance), so it earns the repo's UDF exception the way
         the BLAS mapInPandas does — the kernel sees only DISTINCT
         cells of one bucket, never rows.

    tau-b = (C - D) / sqrt((n0 - t_x)(n0 - t_y)), all terms exact
    decimal(38,0); the sqrt and one division are the only float ops.
    NULL when either tie factor is 0 (a constant column has no order
    to agree with). Rows with NULL in either column are dropped up
    front (the spearman_corr exclusion contract).

    Skew contract: the grouped cumulative pass serializes |distinct y
    in the group| through one task and the kernel serializes
    |cells in one (group, x-bucket)| — both resolution-bounded;
    quantile bucketing keeps kernel inputs balanced unless one x value
    dominates (then its bucket's kernel is the bottleneck, same cliff
    as capped_sessionize's per-key window).
    """
    from decimal import Decimal

    import pandas as pd

    gcols = group_cols or []
    base = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    # cells feed ~7 downstream branches (tie marginals, totals, the
    # bucket-mass table twice, the dominance join, the kernel input).
    # Catalyst plans are TREES, not DAGs: each reference would carry
    # its own copy of the full upstream lineage — re-ANALYZED on the
    # driver (measured 12+ s of pure plan time on a wide composite
    # input) and re-COMPUTED per branch. A checkpoint truncates the
    # lineage at the resolution-bounded cell table: one compute, and
    # every branch then reads the stored blocks. Its blocks back the
    # returned plan, so the hygiene epoch sweep releases them
    # KEEP_EPOCHS declared-query builds later (re-executing the result
    # after that fails rather than recomputes — see hygiene).
    cells = (
        base.groupBy(
            *gcols,
            F.col(x_col).cast("double").alias("__x"),
            F.col(y_col).cast("double").alias("__y"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
        .transform(scratch_checkpoint)
    )

    def _pairs(c: F.Column) -> F.Column:
        d = c.cast("decimal(19,0)")
        return ((d * (d - 1)).cast("decimal(38,0)") / 2).cast("decimal(38,0)")

    tie_x = cells.groupBy(*gcols, "__x").agg(F.sum("__n").alias("__nx"))
    tie_y = cells.groupBy(*gcols, "__y").agg(F.sum("__n").alias("__ny"))
    totals = _join_groups(
        _join_groups(
            cells.groupBy(*gcols).agg(
                F.sum("__n").alias("n"),
                F.sum(_pairs(F.col("__n"))).alias("__t_both"),
            ),
            tie_x.groupBy(*gcols).agg(F.sum(_pairs(F.col("__nx"))).alias("__t_x")),
            gcols,
        ),
        tie_y.groupBy(*gcols).agg(F.sum(_pairs(F.col("__ny"))).alias("__t_y")),
        gcols,
    )

    # --- x-range buckets (literal bounds; equal x never splits) -----
    # bucket/mass expressions build as parsed SQL strings — the
    # nested-Column comprehensions cost ~6-10 py4j round-trips per
    # bucket per site (~0.7 s of driver time per plan build at 32
    # buckets); same operators, value-identical (the
    # _minhash_signature_cols lesson)
    bounds = _quantile_bounds(cells, "__x")
    n_b = len(bounds) + 1
    cells_q = cells.selectExpr("*", f"{_bucket_sql('__x', bounds)} AS __q")

    # --- cross-bucket dominance via per-(group, y) bucket masses ----
    mass_cols = [f"__m{i}" for i in range(n_b)]
    per_y = cells_q.groupBy(*gcols, "__y").agg(
        *[
            F.expr(
                f"CAST(coalesce(sum(CASE WHEN __q = {i} THEN __n END), 0)"
                " AS BIGINT)"
            ).alias(mass_cols[i])
            for i in range(n_b)
        ]
    )
    cum = _running_sums(per_y, gcols, "__y", mass_cols)
    # per distinct y: arrays over buckets of (mass strictly above y,
    # mass strictly below y); the cell's prefix over buckets < q is a
    # bounded fold
    gt_arr = F.expr(
        "array("
        + ", ".join(f"CAST(__tot_{c} - __cum_{c} AS BIGINT)" for c in mass_cols)
        + ")"
    )
    lt_arr = F.expr(
        "array("
        + ", ".join(f"CAST(__cum_{c} - {c} AS BIGINT)" for c in mass_cols)
        + ")"
    )
    y_rows = cum.select(
        *gcols, "__y", gt_arr.alias("__gt"), lt_arr.alias("__lt")
    )
    joined = cells_q.join(y_rows, [*gcols, "__y"])
    zero = F.lit(0).cast("bigint")

    def _prefix(arr_col: str) -> F.Column:
        return F.when(
            F.col("__q") > 0,
            F.aggregate(
                F.slice(F.col(arr_col), F.lit(1), F.col("__q")),
                zero,
                lambda acc, v: acc + v,
            ),
        ).otherwise(zero)

    nd = F.col("__n").cast("decimal(19,0)")
    cross = joined.select(
        *gcols,
        (nd * _prefix("__gt").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("__d_term"),
        (nd * _prefix("__lt").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("__c_term"),
    ).groupBy(*gcols).agg(
        F.sum("__d_term").alias("__d_cross"),
        F.sum("__c_term").alias("__c_cross"),
    )

    # --- within-bucket pairs: weighted inversion kernel -------------
    # kernel output carries group keys with their ORIGINAL types
    # (schema lifted from the cell table), so the re-join below is
    # type-exact
    from pyspark.sql.types import DecimalType, StructField, StructType

    in_schema = {f.name: f.dataType for f in cells_q.schema.fields}
    kernel_schema = StructType(
        [StructField(c, in_schema[c]) for c in gcols]
        + [
            StructField("__c_in", DecimalType(38, 0)),
            StructField("__d_in", DecimalType(38, 0)),
        ]
    )

    def _inversions(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["__x", "__y"], kind="mergesort")
        ys = pdf["__y"].to_numpy()
        ns = pdf["__n"].to_numpy()
        xs = pdf["__x"].to_numpy()
        import numpy as np

        order = np.unique(ys)
        rank = {v: i + 1 for i, v in enumerate(order)}
        size = len(order)
        tree = [0] * (size + 1)  # Python ints: exact past int64

        def bit_add(i: int, v: int) -> None:
            while i <= size:
                tree[i] += v
                i += i & (-i)

        def bit_sum(i: int) -> int:
            s = 0
            while i > 0:
                s += tree[i]
                i -= i & (-i)
            return s

        c_in = 0
        d_in = 0
        total_prev = 0
        i = 0
        k = len(pdf)
        while i < k:
            j = i
            while j < k and xs[j] == xs[i]:
                j += 1
            for t in range(i, j):  # same-x cells: query only
                r = rank[ys[t]]
                less = bit_sum(r - 1)
                less_eq = bit_sum(r)
                nb = int(ns[t])
                c_in += nb * less
                d_in += nb * (total_prev - less_eq)
            for t in range(i, j):
                bit_add(rank[ys[t]], int(ns[t]))
                total_prev += int(ns[t])
            i = j
        row = {}
        for c in gcols:
            row[c] = pdf[c].iloc[0]
        row["__c_in"] = Decimal(c_in)
        row["__d_in"] = Decimal(d_in)
        return pd.DataFrame([row])

    within_raw = cells_q.groupBy(*gcols, "__q").applyInPandas(
        _inversions, schema=kernel_schema
    )
    within = within_raw.groupBy(*gcols).agg(
        F.sum("__c_in").alias("__c_in"),
        F.sum("__d_in").alias("__d_in"),
    )
    fin = _join_groups(
        _join_groups(totals, cross, gcols, "left"), within, gcols, "left"
    )

    dz = F.lit(0).cast("decimal(38,0)")
    c_all = F.coalesce(F.col("__c_cross"), dz) + F.coalesce(
        F.col("__c_in"), dz
    )
    d_all = F.coalesce(F.col("__d_cross"), dz) + F.coalesce(
        F.col("__d_in"), dz
    )
    n_dec = F.col("n").cast("decimal(19,0)")
    n0 = ((n_dec * (n_dec - 1)).cast("decimal(38,0)") / 2).cast(
        "decimal(38,0)"
    )
    fx = (n0 - F.col("__t_x")).cast("double")
    fy = (n0 - F.col("__t_y")).cast("double")
    tau = (c_all - d_all).cast("double") / F.sqrt(fx * fy)
    return fin.select(
        *gcols,
        F.col("n").cast("bigint").alias("n"),
        c_all.cast("decimal(38,0)").alias("concordant"),
        d_all.cast("decimal(38,0)").alias("discordant"),
        F.when((fx > 0) & (fy > 0), round_half_up(tau, 6)).alias("tau"),
    )
