"""Arrow-batched Python operator surface: grouped-map (applyInArrow
for the z-score, applyInPandas for the sessionizer and the Holt
recurrence), cogrouped applyInPandas, and grouped-aggregate
(pandas_udf) — the slow path, used only where per-group Python
semantics are genuinely wanted. Each gated example is paired with a
DuckDB oracle that verifies the Arrow round-trip end-to-end.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def zscore_per_group(
    df: DataFrame, group_col: str, value_col: str, id_col: str
) -> DataFrame:
    """Grouped-map z-score of value_col within each group (ddof=1,
    rounded half-up to 4 dp; NULL for singleton and zero-stddev
    groups), via Spark 4's applyInArrow: the batch arrives as a
    pyarrow.Table and the math runs on zero-copy numpy views of the
    Arrow buffers — no pandas Block consolidation on either side of
    the exchange. At scale prefer the window-function formulation
    (same semantics, no Python) unless the per-group logic can't be
    expressed in SQL.

    Per-group Python overhead dominates when groups are tiny (measured
    24s for 15k ten-row groups at sf0.1 with one applyInPandas call
    per group), so the Spark grouping key is a HASH BUCKET of the real
    key — each batch holds many groups, segmented by one stable
    argsort + reduceat. An applyInPandas form of this bucketed
    function measured 0.96 s against this one's 0.67 s (q57, sf0.1,
    4 cores, bench.py median of 8)."""
    import pyarrow as pa

    def _z(tbl: pa.Table) -> pa.Table:
        ids = tbl.column(id_col).to_numpy()
        g = tbl.column(group_col).to_numpy()
        v = tbl.column(value_col).to_numpy().astype(np.float64)
        order = np.argsort(g, kind="stable")
        gs, vs = g[order], v[order]
        # segment boundaries of equal-group runs
        starts = np.flatnonzero(np.r_[True, gs[1:] != gs[:-1]])
        counts = np.diff(np.r_[starts, len(gs)])
        sums = np.add.reduceat(vs, starts)
        means = sums / counts
        sq = np.add.reduceat((vs - np.repeat(means, counts)) ** 2, starts)
        with np.errstate(invalid="ignore", divide="ignore"):
            std = np.sqrt(sq / np.maximum(counts - 1, 1))
        std = np.where(counts > 1, std, np.nan)
        z_sorted = (vs - np.repeat(means, counts)) / np.repeat(std, counts)
        z_sorted = np.where(np.repeat(std > 0, counts), z_sorted, np.nan)
        z = np.empty_like(z_sorted)
        z[order] = np.floor(z_sorted * 10000.0 + 0.5) / 10000.0
        # NaN must become an Arrow NULL explicitly (pandas does this
        # implicitly on conversion; a raw numpy array would keep NaN)
        return pa.table(
            {id_col: ids, group_col: g, "zscore": pa.array(z, mask=np.isnan(z))}
        )

    out_schema = f"{id_col} long, {group_col} long, zscore double"
    bucketed = df.withColumn("__bucket", F.pmod(F.xxhash64(group_col), F.lit(256)))
    return bucketed.groupBy("__bucket").applyInArrow(_z, schema=out_schema)


def geometric_mean_agg(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Grouped-agg pandas_udf: geometric mean of positive values per
    group — exp(mean(ln x)) computed in numpy over Arrow batches."""

    @F.pandas_udf("double")
    def _gmean(v: pd.Series) -> float:
        arr = v.to_numpy(dtype="float64")
        arr = arr[arr > 0]
        if len(arr) == 0:
            return float("nan")
        return float(np.exp(np.log(arr).mean()))

    return df.groupBy(group_col).agg(
        _gmean(F.col(value_col)).alias("geo_mean_raw")
    )


def cogrouped_asof_merge(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    right_value_col: str,
) -> DataFrame:
    """Cogrouped applyInPandas: both sides shuffle on `key` once, and
    each key's (left, right) pair arrives as two pandas frames —
    pd.merge_asof does the backward-inclusive as-of match in-batch.

    This is the API surface for per-key two-table Python logic that
    built-ins can't express (custom interpolation, model scoring over
    aligned series). For plain as-of semantics PREFER the JVM
    formulation (operators/joins.asof_join_backward — the q28 path, no
    Python in the loop); the parity test pins this cogrouped form to
    that exact result so the two can never drift.
    """

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        lpdf = lpdf.sort_values(ts, kind="mergesort")
        if rpdf.empty:
            out = lpdf.copy()
            out["asof_ts"] = pd.NaT
            out["asof_value"] = np.nan
            return out
        rpdf = rpdf[[ts, right_value_col]].sort_values(ts, kind="mergesort")
        rpdf = rpdf.rename(columns={ts: "asof_ts", right_value_col: "asof_value"})
        merged = pd.merge_asof(
            lpdf, rpdf, left_on=ts, right_on="asof_ts", direction="backward"
        )
        return merged

    lcols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in left.schema.fields)
    out_schema = f"{lcols}, asof_ts timestamp, asof_value double"
    return (
        left.groupBy(key)
        .cogroup(right.groupBy(key))
        .applyInPandas(merge, schema=out_schema)
    )


def capped_sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    tie_col: str,
    gap_us: int,
    cap_us: int,
    n_buckets: int = 64,
) -> DataFrame:
    """Sessionize with an inactivity gap AND a hard session-duration
    cap (the GA4 rule: a session ends after 30 idle minutes OR when
    it has lasted N hours since its first event).

    The cap makes assignment inherently SEQUENTIAL: whether row i
    opens a new session depends on the current session's start, which
    depends on every earlier split — no lag/window/gaps-and-islands
    composition expresses it (the plain-gap form is one `sum over
    lag`, q15). This is the documented custom-operator tier (b):
    applyInPandas runs the linear scan; state is one (start, prev)
    pair per user. The per-row Python loop is honest — the recurrence
    has a loop-carried dependency, so there is nothing to vectorize.

    Memory contract: the Spark grouping key is a HASH BUCKET of the
    user, so applyInPandas materializes ~n_rows/n_buckets rows as ONE
    in-memory pandas DataFrame per task — NOT a user-sized group. At
    the default 64 buckets that is fine to the 10M-event probe
    (~156k rows/group); for larger inputs size n_buckets to ~200k
    rows/group (n_rows/2e5 — measured at 100M events: the default's
    1.5M-row groups ran 210-336 s with heavy memory-pressure
    variance, 500 buckets 30-74 s, identical output). Bucketing
    by user hash rather than user is deliberate: per-group pandas
    overhead dominates tiny groups (the zscore_per_group lesson,
    24s -> ~1s) — each Arrow batch carries many users and the scan
    walks user boundaries inside the batch.

    Returns (user_col, ts_col, tie_col, session_idx) with 1-based
    session numbering per user. Integer-microsecond comparisons only.
    """
    src = df.select(
        F.col(user_col),
        F.col(ts_col),
        F.col(tie_col),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__us"),
        F.pmod(F.xxhash64(F.col(user_col)), F.lit(n_buckets)).alias("__b"),
    )

    def assign(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([user_col, "__us", tie_col]).reset_index(drop=True)
        us = pdf["__us"].to_numpy()
        users = pdf[user_col].to_numpy()
        out = np.ones(len(us), dtype=np.int64)
        i = 0
        while i < len(us):
            j = i + 1
            while j < len(us) and users[j] == users[i]:
                j += 1
            sess, start = 1, us[i]
            for k in range(i + 1, j):
                if us[k] - us[k - 1] > gap_us or us[k] - start > cap_us:
                    sess += 1
                    start = us[k]
                out[k] = sess
            i = j
        pdf["session_idx"] = out
        return pdf.drop(columns=["__us", "__b"])

    out_schema = src.drop("__us", "__b").schema.add("session_idx", "long")
    return src.groupBy("__b").applyInPandas(assign, out_schema)


def holt_winters_level_trend(
    df: DataFrame,
    key_cols: list[str],
    time_col: str,
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.25,
) -> DataFrame:
    """Per-key Holt double exponential smoothing (level + trend) over
    a time-ordered series — the forecasting primitive behind capacity
    and drift dashboards:

        s_1 = x_1,              b_1 = x_2 - x_1   (classical init)
        s_t = alpha*x_t + (1-alpha)*(s_{t-1} + b_{t-1})
        b_t = beta*(s_t - s_{t-1}) + (1-beta)*b_{t-1}

    Returns one row per key: (key..., n, level, trend, forecast_1)
    with level/trend/one-step forecast rounded to 6 dp; keys with a
    single observation get trend 0.0. Ties on time_col are broken by
    value to keep the scan order deterministic.

    Scale shape: the recurrence is inherently sequential PER KEY but
    embarrassingly parallel ACROSS keys — applyInPandas groups by
    key; per-group state is one (n,) float64 pass (same contract as
    capped_sessionize: group size is the per-key series length, so
    callers bucket ultra-long series upstream if a single key's
    history outgrows a worker). Float ops are plain numpy float64 in
    recurrence order — a pure-Python replay performs the identical
    double sequence (pinned in tests/test_training_ops.py).
    """
    import numpy as np
    import pandas as pd

    if not 0.0 < alpha <= 1.0 or not 0.0 <= beta <= 1.0:
        raise ValueError("alpha in (0,1], beta in [0,1] required")

    out_fields = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in key_cols
    )
    schema = f"{out_fields}, n long, level double, trend double, forecast_1 double"

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [time_col, value_col], kind="mergesort"
        ).reset_index(drop=True)
        x = pdf[value_col].to_numpy(dtype=np.float64)
        n = len(x)
        s = x[0]
        b = (x[1] - x[0]) if n > 1 else 0.0
        for t in range(1, n):
            prev_s = s
            s = alpha * x[t] + (1.0 - alpha) * (s + b)
            b = beta * (s - prev_s) + (1.0 - beta) * b

        def r6(v: float) -> float:
            import math

            return math.floor(v * 1000000.0 + 0.5) / 1000000.0

        row = {c: [pdf[c].iloc[0]] for c in key_cols}
        row.update(
            n=[n], level=[r6(float(s))], trend=[r6(float(b))],
            forecast_1=[r6(float(s + b))],
        )
        return pd.DataFrame(row)

    return (
        df.select(*key_cols, time_col, value_col)
        .groupBy(*key_cols)
        .applyInPandas(smooth, schema=schema)
    )
