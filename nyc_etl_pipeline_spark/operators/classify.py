"""Fixed-round distributed logistic regression: the quality-classifier
stage of a curation pipeline (CCNet / GPT-3 style "does this look like
reference text" filtering), trained Spark-first instead of imported.

The reference has no ML surface; this follows the engine's
fixed-iteration oracle pattern (q125 BPE / q162 k-core / q165 k-means):
a FIXED number of full-batch gradient-descent rounds from a
deterministic zero init, every round bit-exact across engines, so the
whole training run replays as chained MATERIALIZED CTEs
(`sql_logreg_chain`) under the DuckDB correctness gate.

Cross-engine determinism, component by component:
- features are hashed term frequencies quantized ONCE to 6 dp with the
  shared floor-form round (boundary-safe for the later DECIMAL casts —
  see kmeans_fixed's quantization note);
- the margin z = w·x is an index-ORDERED left fold (aggregate() with
  0.0 init == list_reduce — exact, 0.0 + x == x);
- sigmoid costs one exp(): the bounded 1-ulp libm class the suite
  already carries (q113/q121/q151); per-component gradient
  contributions are quantized to 6 dp BEFORE the exact DECIMAL(28,6)
  sum, so a 1-ulp sigmoid wiggle would need ~1e9x amplification to
  flip a quantization boundary;
- the weight update w + lr·g is evaluated in the same association
  order on both engines (and in the driver's Python replay), then
  re-quantized to 6 dp, keeping every round's weights short exact
  decimals.

Scale shape: per round ONE corpus-wide aggregate — dim exact sums
with map-side partial combine, no shuffle of the corpus; the current
weights ride a ONE-ROW broadcast relation (not inlined literals — the
round-invariant-codegen decision, see _sql_stage_softmax); only `dim`
doubles ever reach the driver per round. Scoring is map-only (scores)
or map + one-row broadcast (softmax). Feature extraction is one
explode + one hash-grouped count, the same shape as every other text
operator here.
"""

from __future__ import annotations

import math
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.functions import (
    md5_long,
    round_half_up,
    sql_md5_long,
)
from nyc_etl_pipeline_spark.hygiene import release, scratch_persist
from nyc_etl_pipeline_spark.operators.text import tokens


def py_round6(x: float) -> float:
    """Driver-side replica of the 6 dp floor-form round — Python floats
    are IEEE doubles, so this is the identical operation sequence."""
    return math.floor(x * 1000000.0 + 0.5) / 1000000.0


def hashed_tf_features(
    docs: DataFrame,
    n_buckets: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    label: Column | None = None,
    binary: bool = False,
) -> DataFrame:
    """(id, [y,] x) with x = the n_buckets hashed term features
    (md5_long(term) mod n_buckets) plus a trailing bias component 1.0
    — dim = n_buckets + 1. binary=False: normalized term frequency
    tf/dl quantized to 6 dp (scale-invariant, the quality-classifier
    default); binary=True: exact 0/1 bucket presence (larger, exact
    gradients — what the learnability pytest trains on).

    explode_outer keeps empty documents (all-zero features, bias only),
    so the gradient sums range over the WHOLE corpus on both engines.
    """
    # Count-then-pivot-then-join, each stage shaped by a measured
    # trap (1M docs / 39M tokens / 64 buckets, idle):
    # - the token-scale pass is a NARROW (doc, bucket) count keyed by
    #   the id ALONE. A direct n_buckets-wide sum(when) over the
    #   exploded table measured 52 s vs 2.0 s (wide per-row agg
    #   update cost); carrying dl/y through the explode measured
    #   69 s vs 5.9 s — the generator's sibling expressions are
    #   re-evaluated per exploded row (the _shingle_table 14x
    #   lesson), so per-doc metadata must NOT ride the explode.
    # - the n_buckets-wide pivot then runs over the counted rows
    #   (~|docs| * min(buckets, dl)), and per-doc (dl, y) join back
    #   at |docs| scale: 2.3 s end-to-end vs 96.8 s for the
    #   single-aggregate form. Same integer counts either way.
    # Empty docs: explode_outer emits one NULL-token row -> NULL
    # bucket -> every conditional sums to 0; the join stays total.
    bt = docs.select(
        F.col(id_col).alias("__id"),
        F.explode_outer(tokens(F.col(text_col))).alias("__t"),
    )
    bucket = F.pmod(md5_long("__t"), F.lit(n_buckets))
    cnt = bt.groupBy("__id", bucket.alias("__b")).agg(
        F.count(F.lit(1)).alias("__tc")
    )
    piv = cnt.groupBy("__id").agg(
        *[
            F.sum(F.when(F.col("__b") == j, F.col("__tc")).otherwise(0)).alias(
                f"__c{j}"
            )
            for j in range(n_buckets)
        ]
    )
    meta_cols = [
        F.col(id_col).alias("__id"),
        F.size(tokens(F.col(text_col))).cast("double").alias("__dl"),
    ]
    if label is not None:
        meta_cols.append(label.cast("double").alias("y"))
    g = docs.select(*meta_cols).join(piv, "__id")
    if binary:
        comps = [
            F.when(F.col(f"__c{j}") > 0, 1.0).otherwise(0.0)
            for j in range(n_buckets)
        ]
    else:
        comps = [
            F.when(F.col("__dl") == 0.0, 0.0).otherwise(
                round_half_up(F.col(f"__c{j}") / F.col("__dl"), 6)
            )
            for j in range(n_buckets)
        ]
    comps = comps + [F.lit(1.0)]
    out = [F.col("__id").alias(id_col)]
    if label is not None:
        out.append(F.col("y"))
    return g.select(*out, F.array(*comps).alias("x"))


#: above this many components the margin uses the higher-order fold
#: (flat expression trees collapse at width — see similarity's
#: _NEAREST_EXPR_MAX_TERMS); below it, a flat left-to-right chain stays inside
#: whole-stage codegen (the fold is interpreted). Both are the SAME
#: double-addition sequence (0.0 + a == a), so bit-identical.
_MARGIN_FLAT_MAX_TERMS = 256


def _margin(x_col: Column, weights: list[float]) -> Column:
    """Index-ordered w·x with the weights baked in as literals (no
    join, no broadcast — the plan is map-only). Flat codegen chain
    for typical dims, higher-order fold above _MARGIN_FLAT_MAX_TERMS;
    identical association order either way."""
    if len(weights) <= _MARGIN_FLAT_MAX_TERMS:
        out = None
        for i, v in enumerate(weights, start=1):
            term = F.element_at(x_col, i) * F.lit(v)
            out = term if out is None else out + term
        return out

    warr = F.array(*[F.lit(v) for v in weights])

    def step(acc, i):
        return acc + F.element_at(x_col, i) * F.element_at(warr, i)

    return F.aggregate(
        F.sequence(F.lit(1), F.lit(len(weights))), F.lit(0.0), step
    )


def _sigmoid(z: Column) -> Column:
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


@contextmanager
def _jit_safe_codegen(spark):
    """Scope spark.sql.codegen.hugeMethodLimit down to HotSpot's
    -XX:DontCompileHugeMethods ceiling (8000 bytecode bytes) for the
    duration of a training loop.

    Why: whole-stage codegen fuses the staging projection + the
    dim-wide (or K*dim-wide) gradient aggregate into ONE generated
    method whose bytecode size grows with expression count. Spark only
    abandons codegen past hugeMethodLimit (default 65535 — the JVM's
    hard classfile limit), but HotSpot refuses to JIT any method past
    ~8000 bytes — so there is a width VALLEY (generated method in
    8k..64k) where the hot loop runs as INTERPRETED BYTECODE. Measured
    at 10M docs x dim 65 (r12 codegen probe, isolated process,
    burned-in best-of-2): logreg 1-round 35.8 s with codegen on vs
    3.1 s with it off — 11.5x — while softmax (5x wider) reads 10.8
    vs 9.0 s (its subtree already splits/falls back). Lowering
    hugeMethodLimit to the JIT ceiling makes Spark itself deactivate
    codegen exactly for the subtrees the JVM would never JIT —
    per-subtree (concurrent narrow queries keep codegen), and
    value-identical (same expressions, interpreted-expression path).
    """
    key = "spark.sql.codegen.hugeMethodLimit"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, "8000")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def logreg_train_fixed(
    feats: DataFrame,
    dim: int,
    n_rounds: int = 3,
    lr: float = 0.5,
    label_col: str = "y",
    x_col: str = "x",
    exact_decimal: bool = False,
) -> list[float]:
    """Full-batch GD from w = 0 for exactly n_rounds rounds; returns
    the final weights (a dim-list of 6 dp-quantized doubles). Each
    round is one corpus aggregate of dim order-independent exact sums
    over 6 dp-quantized per-doc contributions, normalized to the
    MEAN gradient in-engine (sum-to-double / count-to-double, the
    kmeans centroid pattern — the raw sum diverges at any corpus-
    independent learning rate).

    Accumulation paths, value-identical in range: the default sums
    the quantized contributions as BIGINT micro-units (floor-form
    round then *1e6 as one floor().cast(bigint)) — measured 5.1 s vs
    14.1 s per round at 1M docs x dim 65 (the per-row double->DECIMAL
    conversion is the wide agg's real cost). (long sum)->double/1e6
    equals the DECIMAL(28,6)->double cast exactly while the unscaled
    sum stays under 2^53 ≈ 9e15 micro-units — ~9e9 docs at max-
    magnitude contributions (|x_i * err| <= 1). Past that, pass
    exact_decimal=True for the DECIMAL path the q171 oracle mirrors
    at any magnitude (both paths' equality is pinned in
    tests/test_classify.py)."""
    if dim < 1:
        raise ValueError("dim must be >= 1")
    if n_rounds < 1:
        raise ValueError("n_rounds must be >= 1")

    # Same per-round cost levers as softmax_train_fixed: weights as a
    # one-row broadcast relation (round-invariant codegen — literal
    # weights recompile the dim-wide gradient aggregate every round)
    # and SQL-string expressions (one JVM-side parse, not ~dim py4j
    # Column round-trips). Float ops bit-identical to the former
    # Column form (D-suffixed double literals, same association).
    w = [0.0] * dim
    spark = feats.sparkSession
    feats = scratch_persist(feats)  # a caller's cache stays the caller's
    base = feats.select(
        F.col(x_col).alias("__x"), F.col(label_col).alias("__y")
    )
    err = f"(__y - (1.0D / (1.0D + exp(-({_sql_margin('__x', '__wt', dim)})))))"
    g_strs = [
        f"{_sql_grad_acc(f'element_at(__x, {i}) * __e', exact_decimal)}"
        f" / cast(count(1) as double) AS g{i}"
        for i in range(1, dim + 1)
    ]
    try:
        with _jit_safe_codegen(spark):
            for _ in range(n_rounds):
                wdf = spark.createDataFrame(
                    [([float(v) for v in w],)], schema="__wt array<double>"
                )
                scored = base.crossJoin(F.broadcast(wdf)).selectExpr(
                    "__x", f"{err} AS __e"
                )
                grads = scored.selectExpr(*g_strs).collect()[0]
                w = [
                    py_round6(w[i - 1] + lr * grads[f"g{i}"])
                    for i in range(1, dim + 1)
                ]
    finally:
        release(feats)
    return w


def logreg_score(
    feats: DataFrame,
    weights: list[float],
    id_col: str = "doc_id",
    x_col: str = "x",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Map-only sigmoid scores under fixed weights, rounded to 6 dp:
    (id, [extra_cols...,] score)."""
    return feats.select(
        F.col(id_col),
        *[F.col(c) for c in (extra_cols or [])],
        round_half_up(_sigmoid(_margin(F.col(x_col), weights)), 6).alias("score"),
    )


def _reserved_softmax_names(n_classes: int) -> set[str]:
    ks = range(n_classes)
    return (
        {f"__z{k}" for k in ks} | {f"__e{k}" for k in ks}
        | {f"__p{k}" for k in ks} | {"__m", "__d"}
    )


def _sql_margin(x_name: str, w_name: str, dim: int) -> str:
    """w·x as a SQL string with the weights read from array column
    `w_name`: flat left-associative chain within codegen width,
    aggregate() fold above it — the string twin of `_margin`, same
    association order, weights as attributes (see _sql_stage_softmax
    for why literals are a per-round Janino recompile)."""
    x = f"`{x_name}`"
    if dim <= _MARGIN_FLAT_MAX_TERMS:
        return " + ".join(
            f"element_at({x}, {i}) * element_at({w_name}, {i})"
            for i in range(1, dim + 1)
        )
    return (
        f"aggregate(sequence(1, {dim}), 0.0D, (acc, i) -> "
        f"acc + element_at({x}, i) * element_at({w_name}, i))"
    )


def _sql_grad_acc(contrib: str, exact_decimal: bool) -> str:
    """The gradient accumulator as a SQL string — value-identical to
    the former Column forms: bigint micro-units by default (floor-form
    6 dp round then exact long sum), DECIMAL(28,6) via exact_decimal
    (the dec_sum path). `D` suffixes keep every literal a double."""
    if exact_decimal:
        return (
            f"cast(sum(cast(floor(({contrib}) * 1000000.0D + 0.5D)"
            f" / 1000000.0D as decimal(28,6))) as double)"
        )
    return (
        f"cast(sum(cast(floor(({contrib}) * 1000000.0D + 0.5D)"
        f" as bigint)) as double) / 1000000.0D"
    )


def _sql_stage_softmax(
    df: DataFrame, x_name: str, wt_names: list[str], dim: int
) -> DataFrame:
    """Softmax probabilities as LAYERED projections — margins __z{k},
    the max stabilizer __m (exact max of doubles), per-class exps
    __e{k} (the bounded 1-ulp libm class), the LEFT-TO-RIGHT
    denominator __d (== DuckDB list_reduce association), then
    probabilities __p{k}. Each layer references the previous layer's
    COLUMNS, so the plan tree stays linear in K·dim instead of
    ~K²·dim per probability (the r10 q190 audit measured ~6.7 s of
    pure driver-side plan cost at 5000 docs from a re-inlined
    single-expression form). Two further cost decisions: (a) weights
    arrive as array COLUMNS (`wt_names`, one per class — a one-row
    broadcast relation) instead of baked-in literals, and (b) every
    layer is built as ONE selectExpr of SQL strings instead of ~K·dim
    py4j Column objects.

    (a) is round-invariant CODEGEN: literals are inlined into the
    generated Java source, so each GD round's new weights forced a
    fresh Janino compile of the staging + gradient aggregate —
    measured as q190's entire per-round residual (~3 s/round at ANY
    data size, VERDICT r10 item 3). As attributes the weights are
    DATA: the source is identical across rounds and the codegen cache
    serves rounds 2..n. (A foldable array literal would NOT work:
    ConstantFolding collapses element_at(literal_array, i) straight
    back to a scalar literal.)

    (b) is driver-side cost: building the ~K·dim expression trees
    through py4j Column calls measured 1.9 s/round at dim 17 x K=5 —
    ~1 ms per JVM round-trip, thousands of them, ALL constant
    overhead independent of data. String expressions parse JVM-side
    in one call.

    Float-literal discipline: `1.0D`/`0.0D` double literals — a bare
    `1.0` parses as DECIMAL and would change the arithmetic type
    chain. `+` chains are left-associative in margin/denominator
    order — the same association as `_margin`'s Column fold (above
    _MARGIN_FLAT_MAX_TERMS components the margin is the same
    aggregate() higher-order fold, identical association).

    Caller columns that collide with the staging's internal names
    (__z{k}, __m, __e{k}, __d, __p{k}) raise a ValueError NAMING the
    clash — with them present, the layered select('*', alias) would
    produce duplicate attributes and an ambiguous-reference
    AnalysisException (ADVICE r10); silently dropping them instead
    lost caller data whenever such a column was also requested
    downstream, e.g. via softmax_score's extra_cols (ADVICE r11)."""
    K = len(wt_names)
    clash = sorted(c for c in df.columns if c in _reserved_softmax_names(K))
    if clash:
        raise ValueError(
            f"input columns collide with softmax staging names: {clash};"
            " rename them before scoring/training"
        )
    margins = [_sql_margin(x_name, w, dim) for w in wt_names]
    out = df.selectExpr(
        "*", *[f"({m}) AS __z{k}" for k, m in enumerate(margins)]
    )
    zlist = ", ".join(f"__z{k}" for k in range(K))
    out = out.selectExpr(
        "*", (f"greatest({zlist})" if K > 1 else "__z0") + " AS __m"
    )
    out = out.selectExpr(
        "*", *[f"exp(__z{k} - __m) AS __e{k}" for k in range(K)]
    )
    den = " + ".join(f"__e{k}" for k in range(K))
    out = out.selectExpr("*", f"({den}) AS __d")
    return out.selectExpr(
        "*", *[f"__e{k} / __d AS __p{k}" for k in range(K)]
    )


def softmax_train_fixed(
    feats: DataFrame,
    dim: int,
    n_classes: int,
    n_rounds: int = 2,
    lr: float = 0.5,
    label_col: str = "y",
    x_col: str = "x",
    exact_decimal: bool = False,
) -> list[list[float]]:
    """Multiclass head on the q171 scaffolding: full-batch softmax
    cross-entropy GD from W = 0 for exactly n_rounds rounds; labels
    are integer class ids 0..n_classes-1; returns the n_classes x dim
    weight matrix (6 dp-quantized doubles).

    Same determinism contract as logreg_train_fixed — per-component
    contributions x_i·(1{y=k} − p_k) quantized to 6 dp BEFORE the
    exact accumulation (bigint micro-units by default, DECIMAL(28,6)
    via exact_decimal — see logreg's range note), weights re-quantized
    after each update, so the whole run replays as chained CTEs
    (`sql_softmax_chain`). Probabilities are staged as a PROJECTION
    before the gradient aggregate, so each of the n_classes·dim agg
    expressions stays a two-term product (not a re-inlined K-margin
    softmax — the codegen width lesson of _MARGIN_FLAT_MAX_TERMS).

    Round-invariant codegen: the current weights enter the plan as a
    ONE-ROW broadcast relation of K array<double> columns, not as
    ~K·dim scalar literals — literals are inlined into the generated
    Java source, so every round's new weights forced a fresh Janino
    compile of the staging + 85-expression gradient aggregate
    (measured as q190's entire per-round residual, ~3 s/round at ANY
    data size; VERDICT r10 item 3). As attributes the weights are
    DATA: the generated source is identical across rounds and the
    codegen cache serves rounds 2..n. The one-row broadcast
    nested-loop join is O(1) per task and adds no shuffle. (A
    foldable array literal would NOT work: ConstantFolding collapses
    element_at(literal_array, i) straight back to a scalar literal.)

    Scale shape: per round one corpus aggregate of n_classes·dim
    mergeable sums (map-side combine; only K·dim doubles reach the
    driver per round) over a map-only probability projection — the
    same one-pass-per-round shape as logreg, K times wider."""
    if dim < 1:
        raise ValueError("dim must be >= 1")
    if n_classes < 2:
        raise ValueError("n_classes must be >= 2")
    if n_rounds < 1:
        raise ValueError("n_rounds must be >= 1")

    W = [[0.0] * dim for _ in range(n_classes)]
    spark = feats.sparkSession
    feats = scratch_persist(feats)  # a caller's cache stays the caller's
    base = feats.select(
        F.col(x_col).alias("__x"), F.col(label_col).alias("__y")
    )
    # gradient aggregate as SQL strings — one selectExpr, JVM-side
    # parse (the py4j note in _sql_stage_softmax); float ops identical
    # to the former Column form: double literals (D suffix), same
    # parenthesization, same cast chain.
    g_strs = []
    for k in range(n_classes):
        err_k = f"((case when __y = {k} then 1.0D else 0.0D end) - __p{k})"
        for i in range(1, dim + 1):
            contrib = f"element_at(__x, {i}) * {err_k}"
            g_strs.append(
                f"{_sql_grad_acc(contrib, exact_decimal)}"
                f" / cast(count(1) as double) AS g_{k}_{i}"
            )
    try:
        with _jit_safe_codegen(spark):
            for _ in range(n_rounds):
                # one-row weight relation: K array columns, broadcast —
                # round-invariant codegen (see _sql_stage_softmax).
                wdf = spark.createDataFrame(
                    [
                        tuple(
                            [float(v) for v in W[k]]
                            for k in range(n_classes)
                        )
                    ],
                    schema=", ".join(
                        f"__wt{k} array<double>" for k in range(n_classes)
                    ),
                )
                scored = _sql_stage_softmax(
                    base.crossJoin(F.broadcast(wdf)),
                    "__x",
                    [f"__wt{k}" for k in range(n_classes)],
                    dim,
                )
                row = scored.selectExpr(*g_strs).collect()[0]
                W = [
                    [
                        py_round6(W[k][i - 1] + lr * row[f"g_{k}_{i}"])
                        for i in range(1, dim + 1)
                    ]
                    for k in range(n_classes)
                ]
    finally:
        release(feats)
    return W


def softmax_score(
    feats: DataFrame,
    weights: list[list[float]],
    id_col: str = "doc_id",
    x_col: str = "x",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Multiclass scores under fixed weights: (id, [extra_cols...,]
    p0..p{K-1} rounded 6, pred). pred is the argmax class, FIRST
    index on exact float ties (array_position semantics — identical
    to the oracle's list_position).

    The weights ride the same one-row broadcast relation as training
    (`_sql_stage_softmax`): no shuffle — each task streams its rows
    past the single broadcast row — and the generated source is
    weight-invariant, so rescoring with updated weights never
    recompiles. Caller columns named __wt{k} raise a ValueError
    (reserved, same contract as the staging's __-names — silently
    dropping lost data when such a column was also in extra_cols,
    ADVICE r11)."""
    K = len(weights)
    wt_names = [f"__wt{k}" for k in range(K)]
    clash = sorted(c for c in feats.columns if c in set(wt_names))
    if clash:
        raise ValueError(
            f"input columns collide with reserved weight names: {clash};"
            " rename them before scoring"
        )
    wdf = feats.sparkSession.createDataFrame(
        [tuple([float(v) for v in weights[k]] for k in range(K))],
        schema=", ".join(f"{w} array<double>" for w in wt_names),
    )
    staged = _sql_stage_softmax(
        feats.crossJoin(F.broadcast(wdf)), x_col, wt_names, len(weights[0])
    )
    ps = [F.col(f"__p{k}") for k in range(len(weights))]
    parr = F.array(*ps)
    pred = (F.array_position(parr, F.array_max(parr)) - 1).cast("int")
    return staged.select(
        F.col(id_col),
        *[F.col(c) for c in (extra_cols or [])],
        *[round_half_up(p, 6).alias(f"p{k}") for k, p in enumerate(ps)],
        pred.alias("pred"),
    )


def sql_hashed_tf_features(
    n_buckets: int,
    label_sql: str,
    tok_expr: str = "string_split_regex(trim(text), '\\s+')",
    table: str = "documents",
    id_col: str = "doc_id",
    binary: bool = False,
) -> str:
    """CTE fragment producing feats(id, y, x DOUBLE[]) — the DuckDB
    replay of hashed_tf_features. Returns "tokb AS (...), feats AS
    (...)"; y is `label_sql` evaluated on the base table."""
    bucket = f"{sql_md5_long('t.term')} % {n_buckets}"
    cnts = ", ".join(
        f"sum(CASE WHEN {bucket} = {j} THEN 1 ELSE 0 END) AS c{j}"
        for j in range(n_buckets)
    )
    if binary:
        comps = ", ".join(
            f"CASE WHEN c{j} > 0 THEN 1.0 ELSE 0.0 END"
            for j in range(n_buckets)
        )
    else:
        comps = ", ".join(
            "CASE WHEN dl = 0.0 THEN 0.0 ELSE"
            f" floor((c{j} / dl) * 1000000.0 + 0.5) / 1000000.0 END"
            for j in range(n_buckets)
        )
    return f"""
tokb AS MATERIALIZED (
  SELECT d.{id_col} AS id,
         CASE WHEN trim(d.text) = '' THEN 0.0
              ELSE CAST(len({tok_expr}) AS DOUBLE) END AS dl,
         CAST({label_sql} AS DOUBLE) AS y,
         {cnts}
  FROM {table} d LEFT JOIN (
    SELECT {id_col} AS tid, unnest({tok_expr}) AS term
    FROM {table} WHERE trim(text) <> ''
  ) t ON d.{id_col} = t.tid
  GROUP BY 1, 2, 3
),
feats AS MATERIALIZED (
  SELECT id, y, list_value({comps}, 1.0) AS x FROM tokb
)"""


def sql_softmax_chain(
    feats_name: str, dim: int, n_classes: int, n_rounds: int, lr: float
) -> str:
    """CTE fragment replaying softmax_train_fixed's recurrence.
    `feats_name` must expose (id, y, x DOUBLE[] of length dim, 6 dp-
    quantized). Weights live as ONE flattened list of length
    n_classes*dim — w[k*dim + i] is class k's (0-based) component i
    (1-based) — so each round stays a single-row CTE like the logreg
    chain. The per-row softmax mirrors _softmax_probs step for step:
    exact max stabilizer, one exp per class, left-to-right denominator
    (list_reduce starts at the first element — the same association as
    the engine's flat chain)."""
    zeros = ", ".join("0.0" for _ in range(dim * n_classes))
    zs = (
        f"list_transform(range(0, {n_classes}), k -> "
        f"list_reduce(list_transform(range(1, {dim + 1}),"
        " i -> b.x[i] * w.w[k * %d + i]), (a, b) -> a + b))" % dim
    )
    parts = [
        f"w0 AS MATERIALIZED (SELECT list_value({zeros}) AS w)",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n"
        f" FROM {feats_name})",
    ]
    for r in range(1, n_rounds + 1):
        parts.append(
            f"p{r} AS MATERIALIZED (SELECT id, y, x,"
            " list_transform(es, e -> e / list_reduce(es, (a, b) -> a + b)) AS ps"
            " FROM (SELECT id, y, x,"
            " list_transform(zs, z -> exp(z - list_aggregate(zs, 'max'))) AS es"
            f" FROM (SELECT b.id, b.y, b.x, {zs} AS zs"
            f" FROM {feats_name} b CROSS JOIN w{r - 1} w)))"
        )
        parts.append(
            f"g{r} AS MATERIALIZED (SELECT c.k, r.i,"
            " CAST(sum(CAST(floor(t.x[r.i] *"
            " ((CASE WHEN t.y = c.k THEN 1.0 ELSE 0.0 END) - t.ps[c.k + 1])"
            " * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(28,6))) AS DOUBLE)"
            " / nn.n AS g"
            f" FROM p{r} t CROSS JOIN range(0, {n_classes}) c(k)"
            f" CROSS JOIN range(1, {dim + 1}) r(i) CROSS JOIN nn"
            " GROUP BY c.k, r.i, nn.n)"
        )
        parts.append(
            f"w{r} AS MATERIALIZED (SELECT list("
            f"floor((w.w[g.k * {dim} + g.i] + {lr!r} * g.g) * 1000000.0 + 0.5)"
            " / 1000000.0 ORDER BY g.k, g.i) AS w"
            f" FROM g{r} g CROSS JOIN w{r - 1} w)"
        )
    return ",\n".join(parts)


def sql_logreg_chain(
    feats_name: str, dim: int, n_rounds: int, lr: float
) -> str:
    """CTE fragment replaying logreg_train_fixed's recurrence.
    `feats_name` must expose (id, y, x DOUBLE[] of length dim, already
    6 dp-quantized). Returns "w0 AS (...), ..., w{R} AS (...)"; the
    caller reads the final weights list from w{n_rounds}.w."""
    zeros = ", ".join("0.0" for _ in range(dim))
    margin = (
        f"list_reduce(list_transform(range(1, {dim + 1}),"
        " i -> t.x[i] * w.w[i]), (a, b) -> a + b)"
    )
    parts = [
        f"w0 AS MATERIALIZED (SELECT list_value({zeros}) AS w)",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n"
        f" FROM {feats_name})",
    ]
    for r in range(1, n_rounds + 1):
        parts.append(
            f"p{r} AS MATERIALIZED (SELECT t.id, t.y, t.x,"
            f" 1.0 / (1.0 + exp(-({margin}))) AS s"
            f" FROM {feats_name} t CROSS JOIN w{r - 1} w)"
        )
        parts.append(
            f"g{r} AS MATERIALIZED (SELECT i,"
            " CAST(sum(CAST(floor(t.x[i] * (t.y - t.s) * 1000000.0 + 0.5)"
            " / 1000000.0 AS DECIMAL(28,6))) AS DOUBLE) / nn.n AS g"
            f" FROM p{r} t CROSS JOIN range(1, {dim + 1}) r(i)"
            " CROSS JOIN nn GROUP BY i, nn.n)"
        )
        parts.append(
            f"w{r} AS MATERIALIZED (SELECT list("
            f"floor((w.w[g.i] + {lr!r} * g.g) * 1000000.0 + 0.5) / 1000000.0"
            f" ORDER BY g.i) AS w FROM g{r} g CROSS JOIN w{r - 1} w)"
        )
    return ",\n".join(parts)
