"""Volume probe for the model-eval metrics family (roc_auc,
average_precision, spearman_corr, calibration_report) at 10M scored
rows — the operators' gates run on the 5k-doc fixture, so this is the
first reading where the scale design (pre-aggregation to DISTINCT
scores before any window; two-pass range-bucketed global rank for the
ungrouped path) actually carries weight.

Scores are 4-dp rounded, so each group's window/fold input is capped
at ~10k distinct scores no matter how many rows feed it — the
documented skew contract. The dominant-group stage (99% of rows in
one group) exercises exactly that bound: if the pre-aggregation were
missing, one task would sort 9.9M rows; with it, the task sees <=10k.

Usage: python examples/evalmetrics_scale_run.py [n_rows]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pyspark.sql import functions as F

from nyc_etl_pipeline_spark import get_spark, hygiene
from nyc_etl_pipeline_spark.operators.evalmetrics import (
    average_precision,
    calibration_report,
    kendall_tau,
    roc_auc,
    spearman_corr,
)

N_SOURCES = 20


def synth_scores(spark, n_rows: int, dominant: bool = False):
    """JVM-side (score, score2, label, source) rows: scores are
    4-dp-rounded hash mixes correlated with the label, so every metric
    is non-vacuous AND ties are guaranteed (the tie paths are what the
    operators' exactness claims hang on)."""
    base = spark.range(n_rows)
    h = F.xxhash64(F.col("id"), F.lit(17))
    y = (F.pmod(h, F.lit(100)) < 40).cast("int")
    noise = F.pmod(F.xxhash64(F.col("id"), F.lit(23)), F.lit(10000)) / 10000.0
    s = F.round((noise * 0.7 + y * 0.3).cast("double"), 4)
    s2 = F.round((noise * 0.5 + y * 0.2 + 0.15).cast("double"), 4)
    src = (
        F.when(F.pmod(h, F.lit(100)) < 99, F.lit("src_big")).otherwise(
            F.concat(F.lit("src"), F.pmod(h, F.lit(N_SOURCES - 1)))
        )
        if dominant
        else F.concat(F.lit("src"), F.pmod(h, F.lit(N_SOURCES)))
    )
    return base.select(
        s.alias("score"), s2.alias("score2"), y.alias("y"), src.alias("source")
    )


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    spark = get_spark(
        app_name="evalmetrics-scale-probe",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    df = synth_scores(spark, n_rows).persist()
    t0 = time.perf_counter()
    print(f"synth+persist: {df.count():,} rows in {time.perf_counter() - t0:.1f}s")

    def timed(label, fn):
        hygiene.new_epoch(label)  # release the case-before-last's scratch
        t = time.perf_counter()
        out = fn()
        print(f"{label}: {out} in {time.perf_counter() - t:.1f}s", flush=True)

    timed(
        "roc_auc grouped (20 sources)",
        lambda: f"{roc_auc(df, 'score', 'y', ['source']).count():,} groups",
    )
    timed(
        "roc_auc ungrouped (two-pass range-bucketed rank)",
        lambda: "auc %.4f" % roc_auc(df, "score", "y").first()["auc"],
    )
    timed(
        "average_precision grouped",
        lambda: f"{average_precision(df, 'score', 'y', ['source']).count():,} groups",
    )
    # r11 rework under load: descending two-pass bucketed cumulative
    # counts + per-bucket DESC-sorted term arrays concatenated in
    # bucket order — the only serialized stage is the final fold over
    # <=10k terms (score resolution), never the shuffle/sort/cum pass
    timed(
        "average_precision ungrouped (two-pass desc bucketed)",
        lambda: "ap %.4f" % average_precision(df, "score", "y").first()["ap"],
    )
    timed(
        "spearman ungrouped (decimal-factor moments)",
        lambda: "rho %.4f" % spearman_corr(df, "score", "score2").first()["rho"],
    )
    timed(
        "spearman grouped (score vs score2)",
        lambda: f"{spearman_corr(df, 'score', 'score2', ['source']).count():,} groups",
    )
    timed(
        "calibration_report grouped",
        lambda: f"{calibration_report(df, 'score', 'y', group_cols=['source']).count():,} bins",
    )
    # r12: distributed Knight kendall — cell collapse bounds every
    # stage at distinct (score, score2) cells; within-bucket Fenwick
    # kernels are the only Python stage and see cells, not rows
    timed(
        "kendall_tau ungrouped (bucketed dominance + Fenwick kernels)",
        lambda: "tau %.4f"
        % kendall_tau(df, "score", "score2").first()["tau"],
    )
    timed(
        "kendall_tau grouped (score vs score2)",
        lambda: f"{kendall_tau(df, 'score', 'score2', ['source']).count():,} groups",
    )
    df.unpersist()

    dom = synth_scores(spark, n_rows, dominant=True).persist()
    dom.count()
    timed(
        "roc_auc with a 99%-dominant group (skew-contract check)",
        lambda: f"{roc_auc(dom, 'score', 'y', ['source']).count():,} groups",
    )
    timed(
        "average_precision with a 99%-dominant group",
        lambda: f"{average_precision(dom, 'score', 'y', ['source']).count():,} groups",
    )
    # the documented escape hatch for that skew: compute the dominant
    # group ALONE through the ungrouped two-pass path (module
    # docstring's contract — range-buckets the score axis instead of
    # partitioning by group)
    timed(
        "average_precision ungrouped over the dominant group alone",
        lambda: "ap %.4f"
        % average_precision(
            dom.filter(F.col("source") == "src_big"), "score", "y"
        ).first()["ap"],
    )
    timed(
        "kendall_tau ungrouped over the dominant group alone",
        lambda: "tau %.4f"
        % kendall_tau(
            dom.filter(F.col("source") == "src_big"), "score", "score2"
        ).first()["tau"],
    )
    dom.unpersist()


if __name__ == "__main__":
    main()
