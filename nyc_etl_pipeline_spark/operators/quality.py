"""Data-quality profiling: per-column null/distinct statistics — the
cheap pre-flight a pipeline runs before committing a batch (deequ-style
checks, DataFrame-only).

One aggregate job per profile (all columns in a single pass via one
wide agg, reshaped to long) — NOT one job per column; at 100 TB a
per-column loop of scans is the difference between minutes and hours.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def profile(df: DataFrame) -> DataFrame:
    """-> (column, n_rows, n_nulls, n_distinct) per column, with exact
    distinct counts."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in df.columns:
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nulls_{c}"))
        aggs.append(F.countDistinct(c).alias(f"__dist_{c}"))
    wide = df.agg(*aggs)
    stacked = wide.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("column"),
                    F.col("__n").alias("n_rows"),
                    F.col(f"__nulls_{c}").cast("bigint").alias("n_nulls"),
                    F.col(f"__dist_{c}").cast("bigint").alias("n_distinct"),
                )
                for c in df.columns
            ])
        ).alias("s")
    )
    return stacked.select("s.column", "s.n_rows", "s.n_nulls", "s.n_distinct")


def quantile_bucket(
    df: DataFrame,
    score_col: str,
    n_buckets: int = 10,
    tie_cols: list[str] | None = None,
    exact: bool = True,
) -> DataFrame:
    """Append `bucket` (1..n_buckets) — equal-COUNT score buckets, the
    quality-percentile gate ("drop the bottom 3 deciles") of a curation
    pipeline.

    exact=True uses ntile() under a single global window sort: the
    assignment is exactly balanced and (with `tie_cols` completing a
    total order) deterministic — but a global sort is the wrong tool
    past ~10^9 rows. exact=False is the 100 TB path: bucket edges from
    approx_percentile on the score (one partial+final agg, no sort),
    assignment as a pure projection; buckets are then approximately
    equal-count and ties land together. The correctness gate runs the
    exact form; the approx form is property-tested (monotone in score,
    same buckets for same score).
    """
    from pyspark.sql import Window as W

    if exact:
        order = [F.col(score_col).asc()] + [F.col(c).asc() for c in (tie_cols or [])]
        # single-partition BY DESIGN: exact=True exists only as the
        # oracle-gate formulation (bit-exact ntile vs DuckDB); its
        # WindowExec "No Partition Defined" warning is the documented
        # cost of exactness. Production callers use exact=False below —
        # no sort, no single partition, approximate edges.
        w = W.orderBy(*order)
        return df.withColumn("bucket", F.ntile(n_buckets).over(w))
    edges = df.agg(
        F.percentile_approx(
            score_col, [i / n_buckets for i in range(1, n_buckets)], 100_000
        ).alias("__edges")
    )
    out = df.join(F.broadcast(edges))
    # bucket = 1 + number of edges strictly below the score
    bucket = F.lit(1) + F.size(
        F.filter(F.col("__edges"), lambda e: e < F.col(score_col))
    )
    return out.withColumn("bucket", bucket.cast("int")).drop("__edges")


def pct_col_name(p: float) -> str:
    """Output-column name `exact_percentiles_sorted` emits for
    percentile p (p_25, p_5, p_99, ...) — shared so callers never
    re-derive the munging."""
    return f"p_{str(p).replace('0.', '').replace('.', '_')}"


def exact_percentiles_sorted(
    df: DataFrame, group_col: str, value_col: str, percentiles: list[float]
) -> DataFrame:
    """EXACT linear-interpolation percentiles via distributed sort —
    the 100 TB formulation of `F.percentile`.

    Spark's exact `percentile` aggregate buffers EVERY group value in
    an in-memory counts map inside the aggregation buffer; with few
    groups and huge data that buffer is the dataset — it cannot spill
    and OOMs long before cluster scale. This form shuffles once on the
    group key and computes rank positions under a window sort, which
    uses Spark's EXTERNAL (spillable) sorter: memory per task is
    bounded regardless of group size. Two window passes + one tiny
    aggregate; identical values to the percentile aggregate (same
    1 + (n-1)*p position, same lower+(pos-lo)*(higher-lower)
    interpolation).

    Returns one row per group: (group_col, p_<pct> double ...), column
    names like p_25 / p_99 (dots stripped).
    """
    wo = W.partitionBy(group_col).orderBy(value_col)
    wn = W.partitionBy(group_col)
    ranked = df.select(group_col, value_col).select(
        group_col,
        F.col(value_col).cast("double").alias("__v"),
        F.row_number().over(wo).alias("__rn"),
        F.count(F.lit(1)).over(wn).alias("__n"),
    )
    # keep only rows that are a lower/upper neighbor of some requested
    # percentile position — the aggregate then runs over ~2*|ps| rows
    # per group, not the full data
    keep = F.lit(False)
    for p in percentiles:
        pos = 1 + (F.col("__n") - 1) * F.lit(p)
        keep = keep | (F.col("__rn") == F.floor(pos)) | (F.col("__rn") == F.ceil(pos))
    picked = ranked.filter(keep)
    aggs = []
    for p in percentiles:
        pos = 1 + (F.col("__n") - 1) * F.lit(p)
        lo = F.max(F.when(F.col("__rn") == F.floor(pos), F.col("__v")))
        hi = F.max(F.when(F.col("__rn") == F.ceil(pos), F.col("__v")))
        frac = F.max(F.when(F.col("__rn") == F.floor(pos), pos - F.floor(pos)))
        aggs.append((lo + frac * (hi - lo)).alias(pct_col_name(p)))
    return picked.groupBy(group_col).agg(*aggs)


def observed_write(
    df: DataFrame,
    write_fn,
    metrics: dict[str, Column],
    name: str = "write_metrics",
) -> dict:
    """Collect data-quality metrics DURING a write, via Spark's
    Observation API — zero extra scan.

    At 100 TB the naive pattern (write, then re-read or re-compute
    counts for the audit log) doubles the job's I/O; observe() attaches
    accumulator-backed aggregates to the plan itself, so the metrics
    fall out of the same pass that wrote the data. Returns the metric
    dict after the write action completes.

    `metrics` values are aggregate Columns (count/sum/min/max/avg and
    friends — observe() rejects non-aggregates and distinct forms).
    `write_fn` is any action on the observed frame, e.g.
    ``lambda d: warehouse.overwrite(d, "tbl")``.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    observed = df.observe(obs, *[c.alias(k) for k, c in metrics.items()])
    write_fn(observed)
    return obs.get


def expectations(
    df: DataFrame,
    not_null: list[str] | None = None,
    unique: list[list[str]] | None = None,
    ranges: dict[str, tuple[float, float]] | None = None,
    accepted: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Declarative data-quality checks (the dbt-test / Deequ
    constraint surface): each rule yields one (rule, column,
    n_violations) row; a clean table is all zeros. Integer-only
    output.

    Scale shape: every not_null / range / accepted rule folds into ONE
    conditional-sum pass over the table (a single partial+final agg,
    no per-rule scan); each uniqueness rule is its own group-by
    (distinct key sets need their own shuffles by nature). Violations
    are COUNTED, not materialized — the report is O(rules), never
    O(rows); chase individual offenders with a filter once a count is
    non-zero.
    """
    import functools
    import operator as _op

    conds: list[tuple[str, str, F.Column]] = []
    for c in not_null or []:
        conds.append(("not_null", c, F.col(c).isNull()))
    for c, (lo, hi) in (ranges or {}).items():
        conds.append(
            ("range", c, ~F.col(c).between(lo, hi) | F.col(c).isNull())
        )
    for c, vals in (accepted or {}).items():
        conds.append(("accepted_values", c, ~F.col(c).isin(vals) | F.col(c).isNull()))

    parts: list[DataFrame] = []
    if conds:
        aggs = [
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"__{i}")
            for i, (_, _, cond) in enumerate(conds)
        ]
        one_pass = df.agg(*aggs)
        rows = [
            one_pass.select(
                F.lit(rule).alias("rule"),
                F.lit(col).alias("column"),
                F.col(f"__{i}").alias("n_violations"),
            )
            for i, (rule, col, _) in enumerate(conds)
        ]
        parts.append(functools.reduce(lambda a, b: a.unionByName(b), rows))
    for key in unique or []:
        dup = (
            df.groupBy(*key)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .agg(F.coalesce(F.sum(F.col("__n") - 1), F.lit(0)).cast("long").alias("n_violations"))
            .select(
                F.lit("unique").alias("rule"),
                F.lit(",".join(key)).alias("column"),
                "n_violations",
            )
        )
        parts.append(dup)
    if not parts:
        raise ValueError("no expectation rules given")
    return functools.reduce(lambda a, b: a.unionByName(b), parts)


def referential_integrity(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
) -> DataFrame:
    """Orphan count: child rows whose key has no parent — a left-anti
    join reduced to a single count row, same (rule, column,
    n_violations) shape as `expectations` for unioning into one
    report. NULL child keys are not orphans (SQL FK semantics)."""
    orphans = (
        child.filter(F.col(child_key).isNotNull())
        .join(parent, F.col(child_key) == parent[parent_key], "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
    )
    return orphans.select(
        F.lit("ref_integrity").alias("rule"),
        F.lit(child_key).alias("column"),
        "n_violations",
    )


def mad_outlier_report(
    df: DataFrame, group_col: str, value_col: str, k: float = 3.0
) -> DataFrame:
    """Per-group ROBUST outlier report: median + MAD (median absolute
    deviation), outlier = |x - median| > k * MAD.

    The z-score bands (q84) break down under contamination — one huge
    outlier inflates the stddev enough to hide the others (masking).
    Median/MAD tolerate up to 50% contamination, which is why curation
    pipelines gate on them for heavy-tailed signals (doc lengths,
    perplexities, event values).

    Scale shape: two `exact_percentiles_sorted` passes (spillable
    distributed sort — no in-memory per-group buffer) + broadcasts of
    the group-cardinality-bounded median/MAD tables; the final count
    is one partial+final hash agg over the same shuffle key. The
    `dev > k*MAD` comparison is the documented threshold-comparison
    class (both engines compare the same doubles; nothing rounds).

    Returns (group, med, mad, n, n_outliers, outlier_rate) with
    med/mad rounded to 6, rate to 4.

    Caveat (standard MAD degeneracy): if more than half of a group's
    values are identical, MAD = 0 and EVERY value off the median gets
    flagged — gate on `mad > 0` or fall back to IQR for near-constant
    groups.
    """
    from nyc_etl_pipeline_spark.functions import round_half_up

    med = exact_percentiles_sorted(df, group_col, value_col, [0.5]).select(
        group_col, F.col("p_5").alias("__med")
    )
    dev = (
        df.select(group_col, F.col(value_col).cast("double").alias("__v"))
        .join(F.broadcast(med), group_col)
        .withColumn("__dev", F.abs(F.col("__v") - F.col("__med")))
    )
    mad = exact_percentiles_sorted(dev, group_col, "__dev", [0.5]).select(
        group_col, F.col("p_5").alias("__mad")
    )
    out = F.count(F.when(F.col("__dev") > F.lit(k) * F.col("__mad"), F.lit(1)))
    return (
        dev.join(F.broadcast(mad), group_col)
        .groupBy(group_col)
        .agg(
            round_half_up(F.min("__med"), 6).alias("med"),
            round_half_up(F.min("__mad"), 6).alias("mad"),
            F.count(F.lit(1)).alias("n"),
            out.alias("n_outliers"),
            round_half_up(out / F.count(F.lit(1)), 4).alias("outlier_rate"),
        )
    )


def weighted_median(
    df: DataFrame, group_col: str, value_col: str, weight_col: str
) -> DataFrame:
    """Per-group LOWER weighted median: the smallest value v whose
    cumulative weight (in ascending value order) reaches half the
    group's total weight. With integer weights the entire computation
    is integer arithmetic — `2*cum >= total` — so there is no float
    boundary to diverge on, cross-engine or cross-partitioning.

    Shape: pre-aggregate weight per (group, value) — ties collapse
    BEFORE the window, so the cumulative sum is over distinct values
    and the running state is bounded by value cardinality, not row
    count — then one ordered window pass and a min-reduction.

    NULL values are dropped (the hist_build/benford/ks_vs_global null
    contract): a NULL value would sort FIRST in Spark's window but
    LAST in a DuckDB ORDER BY, shifting every cumulative weight.

    Returns (group, w_median, total_weight).
    """
    per_v = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.sum(weight_col).alias("__w"))
    )
    wcum = (
        W.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wtot = W.partitionBy(group_col)
    flagged = per_v.select(
        group_col,
        F.col(value_col),
        F.sum("__w").over(wcum).alias("__cum"),
        F.sum("__w").over(wtot).alias("__tot"),
    )
    return (
        flagged.filter(F.lit(2) * F.col("__cum") >= F.col("__tot"))
        .groupBy(group_col)
        .agg(
            F.min(value_col).alias("w_median"),
            F.min("__tot").alias("total_weight"),
        )
    )


def winsorize_report(
    df: DataFrame,
    group_col: str,
    value_col: str,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
) -> DataFrame:
    """Winsorized statistics per group: clamp values at the exact
    [p_lo, p_hi] percentiles and report how the mean moves — the
    heavy-tail taming step before ratio/mean features feed a model
    (trimming DROPS tail rows and shifts counts; winsorizing keeps
    them at the boundary).

    Scale shape: one spillable exact-percentile pass for both edges,
    edges broadcast back (group-cardinality-bounded), clamp is a pure
    projection, and both means are decimal-accumulated so partial-
    merge order can't move the rounded output. The clamp comparisons
    are the documented threshold class.

    Returns (group, n, n_low, n_high, mean_raw, mean_winsor).
    """
    from nyc_etl_pipeline_spark.functions import dec_avg, round_half_up

    names = [pct_col_name(p) for p in (p_lo, p_hi)]
    edges = exact_percentiles_sorted(df, group_col, value_col, [p_lo, p_hi]).select(
        group_col,
        F.col(names[0]).alias("__lo"),
        F.col(names[1]).alias("__hi"),
    )
    v = F.col("__v")
    clamped = (
        df.select(group_col, F.col(value_col).cast("double").alias("__v"))
        .join(F.broadcast(edges), group_col)
        .withColumn(
            "__w",
            F.when(v < F.col("__lo"), F.col("__lo"))
            .when(v > F.col("__hi"), F.col("__hi"))
            .otherwise(v),
        )
    )
    return clamped.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(v < F.col("__lo"), 1)).alias("n_low"),
        F.count(F.when(v > F.col("__hi"), 1)).alias("n_high"),
        round_half_up(dec_avg("__v"), 6).alias("mean_raw"),
        round_half_up(dec_avg("__w"), 6).alias("mean_winsor"),
    )


# Benford expected first-digit probabilities, embedded as literals on
# BOTH engines (no ln() in the query - the constants are the contract).
BENFORD_P = [0.0] + [
    0.3010299956639812, 0.17609125905568124, 0.12493873660829993,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514,
]


def benford_report(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """First-significant-digit distribution vs Benford's law per
    group, with a chi-square statistic — the classic fabricated-data /
    unit-mixup smoke test for positive heavy-ranged measures.

    Digit extraction avoids log10 entirely (a 1-ulp log10 boundary
    would flip the leading digit): values scale to exact integers
    (floor(v * 1e6), bigint) and the first digit is the first
    character of the INTEGER's string form — integer formatting is
    identical on every engine. chi2 sums its 9 terms in a fixed
    written-out order (one conditional-count agg, then a chained
    expression), so there is no merge-order variance; Benford p's are
    shared literals.

    Returns (group, n, d1..d9 counts, chi2 rounded 6).
    """
    from nyc_etl_pipeline_spark.functions import round_half_up

    scaled = df.select(
        group_col,
        F.floor(F.col(value_col).cast("double") * 1e6).cast("bigint").alias("__s"),
    ).filter(F.col("__s") > 0)
    digit = F.substring(F.col("__s").cast("string"), 1, 1).cast("int")
    counts = scaled.withColumn("__d", digit).groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        *[F.count(F.when(F.col("__d") == d, 1)).alias(f"d{d}") for d in range(1, 10)],
    )
    chi2 = None
    for d in range(1, 10):
        exp = F.col("n") * F.lit(BENFORD_P[d])
        term = (F.col(f"d{d}") - exp) * (F.col(f"d{d}") - exp) / exp
        chi2 = term if chi2 is None else chi2 + term
    return counts.select(
        group_col,
        "n",
        *[f"d{d}" for d in range(1, 10)],
        round_half_up(chi2, 6).alias("chi2"),
    )


def ks_vs_global(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic of each group's
    value distribution against the pooled corpus — the
    distribution-drift test that, unlike binned PSI, needs no bin
    width and detects shape changes binning washes out.

    INTEGER-EXACT formulation: at every pooled distinct value v,
    D_num(v) = |cumA(v) * n_total - cumG(v) * n_A| over the common
    denominator n_A * n_total; the max runs over exact integers and
    ONE final division produces KS — no float accumulates anywhere,
    so there is no merge-order or ulp surface at all (bounds: counts
    <= 1e9 keep every product under 2^63).

    Scale shape: two hash aggs (per-group and pooled value counts), a
    groups x distinct-values grid joined from the pooled side (prune
    or quantize values first if distinct cardinality ~ rows at 100 TB
    — thresholds subsampled to ~1e4 bound the KS error by 1/1e4), a
    spillable per-group window, and a max-reduction.

    NULL values are dropped (same null contract as hist_build and
    benford_report): a NULL __v would otherwise form its own grid
    point, and Spark windows order NULLs FIRST while the DuckDB
    oracle orders them LAST — shifting every cumulative count.

    Returns (group, n_a, d_num, ks) with ks rounded to 6.
    """
    from nyc_etl_pipeline_spark.functions import round_half_up

    vals = df.select(
        group_col, F.col(value_col).cast("double").alias("__v")
    ).where(F.col("__v").isNotNull())
    ac = vals.groupBy(group_col, "__v").agg(F.count(F.lit(1)).alias("__a"))
    gc = vals.groupBy("__v").agg(F.count(F.lit(1)).alias("__g"))
    types = vals.select(group_col).distinct()
    grid = (
        types.crossJoin(gc)
        .join(ac, [group_col, "__v"], "left")
        .select(group_col, "__v", "__g", F.coalesce("__a", F.lit(0)).alias("__a"))
    )
    w = (
        W.partitionBy(group_col)
        .orderBy("__v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = grid.select(
        group_col,
        F.sum("__a").over(w).alias("__ca"),
        F.sum("__g").over(w).alias("__cg"),
    )
    na = grid.groupBy(group_col).agg(F.sum("__a").alias("__na"))
    ng = vals.agg(F.count(F.lit(1)).alias("__ng"))
    d = (
        cum.join(F.broadcast(na), group_col)
        .crossJoin(F.broadcast(ng))
        .groupBy(group_col, "__na", "__ng")
        .agg(
            F.max(
                F.abs(F.col("__ca") * F.col("__ng") - F.col("__cg") * F.col("__na"))
            ).alias("__d")
        )
    )
    return d.select(
        group_col,
        F.col("__na").alias("n_a"),
        F.col("__d").alias("d_num"),
        round_half_up(F.col("__d") / (F.col("__na") * F.col("__ng")), 6).alias("ks"),
    )
