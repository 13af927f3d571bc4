"""Corpus language-model scoring: per-document negative log-likelihood
under an add-k-smoothed unigram model fit on the corpus itself — the
perplexity-proxy quality filter of a CCNet-style curation pipeline
(documents far from the corpus distribution score high and get cut).

Scale design: the corpus reduces to per-(doc, term) frequencies first
(one shuffle keyed by (doc, term), map-side combinable), so the join
with the vocabulary counts moves tf rows — not raw tokens. Vocabulary
counts shuffle on term (a vocabulary is millions of rows at worst, far
below corpus size; broadcast is deliberately NOT assumed). Corpus
totals (token count, vocab size) are a 1-row broadcast. No UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.functions import round_half_up
from nyc_etl_pipeline_spark.operators.text import tokens


def unigram_nll_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus
    unigram model with add-alpha smoothing:

        P(t) = (c_t + alpha) / (C + alpha * V)
        nll(d) = - Σ_t tf_{d,t} * ln P(t) / Σ_t tf_{d,t}

    where c_t is the corpus count of t, C total tokens, V distinct
    tokens. Smoothing keeps the score finite for any future document
    scored against a frozen model. Empty documents are dropped (no
    tokens to score). Rounded floor-form at 6 dp.
    """
    post = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    tf = post.groupBy("doc", "term").agg(F.count(F.lit(1)).cast("double").alias("tf"))
    counts = tf.groupBy("term").agg(F.sum("tf").alias("c"))
    totals = counts.agg(
        F.sum("c").alias("corpus_tokens"),
        F.count(F.lit(1)).cast("double").alias("vocab"),
    )
    logp = F.log(
        (F.col("c") + F.lit(alpha))
        / (F.col("corpus_tokens") + F.lit(alpha) * F.col("vocab"))
    )
    # Term-ordered left fold for the transcendental numerator (same
    # merge-order hardening as bm25_topk / q121; the tf denominator is
    # an exact integer-valued sum and stays F.sum). Per-doc fold size
    # = distinct terms in the doc — bounded by document length, the
    # same rows this group-by already moves. Measured cost of the fold
    # vs F.sum: 10.7 -> 12.3 s at 300k synth docs (~15%), linear to
    # 1M (47 s) — no cliff, accepted for the determinism.
    folded = F.aggregate(
        F.sort_array(
            F.collect_list(F.struct(F.col("term"), (F.col("tf") * logp).alias("contrib")))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x["contrib"],
    )
    return (
        tf.join(counts, "term")
        .crossJoin(F.broadcast(totals))
        .groupBy(F.col("doc").alias(id_col))
        .agg(
            round_half_up(-folded / F.sum("tf"), 6).alias("nll"),
            F.sum("tf").cast("long").alias("n_tokens"),
        )
    )


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    top_k: int = 25,
) -> DataFrame:
    """Collocation (phrase) detection by pointwise mutual information
    over adjacent word pairs — the statistic a tokenizer-vocabulary or
    phrase-merging pass ranks candidate merges by:

        pmi(a,b) = ln( (c_ab / B) / ((c_a / T) * (c_b / T)) )

    with c_ab the bigram count, c_a/c_b unigram counts, B total
    bigrams, T total tokens. min_count filters the unstable low-count
    tail BEFORE the unigram joins, so only candidate phrases (a tiny
    fraction of the bigram vocabulary) ever join — the unigram tables
    shuffle once on the word key. Top-k by rounded PMI with bigram
    tie-break via TakeOrderedAndProject.
    """
    from nyc_etl_pipeline_spark.functions import round_half_up
    from nyc_etl_pipeline_spark.operators.text import ngrams_from_tokens, tokens

    toks = docs.select(F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("toks"))
    uni = (
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    totals = uni.agg(F.sum("c").alias("t_tokens"))
    big = (
        toks.select(F.explode(ngrams_from_tokens(F.col("toks"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("double").alias("c_ab"))
    )
    btot = big.agg(F.sum("c_ab").alias("t_bigrams"))
    cand = big.filter(F.col("c_ab") >= min_count).select(
        "bigram",
        "c_ab",
        F.split(F.col("bigram"), " ").getItem(0).alias("w1"),
        F.split(F.col("bigram"), " ").getItem(1).alias("w2"),
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b"))
    pmi = F.log(
        (F.col("c_ab") / F.col("t_bigrams"))
        / ((F.col("c_a") / F.col("t_tokens")) * (F.col("c_b") / F.col("t_tokens")))
    )
    return (
        cand.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(btot))
        .select(
            "bigram",
            F.col("c_ab").cast("long").alias("n_pair"),
            round_half_up(pmi, 6).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("bigram"))
        .limit(top_k)
    )


def dsir_importance(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 1024,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"): score every raw document by how much more likely its
    hashed n-gram bag is under the TARGET distribution than under the
    RAW distribution —

        logw(d) = Σ_b tf_{d,b} * [ ln((ct_b + a) / (Tt + a*B))
                                 - ln((cq_b + a) / (Tq + a*B)) ]

    with features = unigrams + adjacent bigrams hashed into B buckets
    (md5_long % B — the engine's oracle-expressible hash), ct/cq the
    target/raw bucket counts, Tt/Tq their totals, add-a smoothing.
    High logw = looks like the target; feed the weights to
    `sampling.weighted_sample` for the resampling step.

    Scale shape: each corpus reduces to (doc, bucket) counts in one
    map-side-combinable shuffle; both model tables are <= B rows —
    broadcast — so scoring 100 TB of raw text is one scan + one
    bounded-size broadcast join, no per-doc vocabulary join. The
    transcendental per-doc sum folds in bucket order (the q113/q121
    float-determinism hardening). Returns (id_col, logw 6dp,
    n_feats) for every raw doc with at least one token.
    """
    from nyc_etl_pipeline_spark.functions import md5_long
    from nyc_etl_pipeline_spark.operators.text import ngrams_from_tokens, tokens

    def bucketed(df: DataFrame) -> DataFrame:
        toks = df.select(
            F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("toks")
        )
        feats = toks.select(
            "doc",
            F.explode(
                F.concat(F.col("toks"), ngrams_from_tokens(F.col("toks"), 2))
            ).alias("feat"),
        )
        return feats.select(
            "doc", F.pmod(md5_long(F.col("feat")), F.lit(n_buckets)).alias("b")
        )

    ct = (
        bucketed(target)
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("double").alias("ct"))
    )
    rawb = bucketed(raw)
    cq = rawb.groupBy("b").agg(F.count(F.lit(1)).cast("double").alias("cq"))
    tt = ct.agg(F.sum("ct").alias("tt"))
    tq = cq.agg(F.sum("cq").alias("tq"))
    # every bucket any raw doc contains is present in cq (it counted
    # itself), so the raw-side model left-joins the target counts
    ratio = (
        cq.join(ct, "b", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tq))
        .select(
            "b",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0.0)) + F.lit(alpha))
                    / (F.col("tt") + F.lit(alpha * n_buckets))
                )
                - F.log(
                    (F.col("cq") + F.lit(alpha))
                    / (F.col("tq") + F.lit(alpha * n_buckets))
                )
            ).alias("r"),
        )
    )
    tfd = rawb.groupBy("doc", "b").agg(F.count(F.lit(1)).cast("double").alias("tf"))
    folded = F.aggregate(
        F.sort_array(
            F.collect_list(F.struct(F.col("b"), (F.col("tf") * F.col("r")).alias("contrib")))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x["contrib"],
    )
    return (
        tfd.join(F.broadcast(ratio), "b")
        .groupBy(F.col("doc").alias(id_col))
        .agg(
            round_half_up(folded, 6).alias("logw"),
            F.sum("tf").cast("long").alias("n_feats"),
        )
    )


def bigram_nll_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.75,
    alpha: float = 0.5,
) -> DataFrame:
    """Per-document mean NLL under an INTERPOLATED bigram LM — the
    KenLM-shaped perplexity filter a pretraining pipeline runs after
    the unigram proxy (unigram_nll_scores) starts passing fluent-
    looking junk:

        P(w | v) = lam * c(v,w)/c_prefix(v)
                 + (1-lam) * (c_w + alpha) / (C + alpha*V)
        nll(d)   = - Σ_pos ln P(w_i | w_{i-1}) / (T_d - 1)

    c_prefix(v) counts v's occurrences as a bigram PREFIX (derived
    from the bigram table itself, so the conditional sums to 1 over
    the observed vocabulary); the unigram back-off term keeps unseen
    bigrams finite. lam/1-lam default to exact dyadic 0.75/0.25 so the
    literal matches cross-engine bit-for-bit. Documents with fewer
    than 2 tokens are dropped (no bigram positions to score).

    Scale shape: bigram STRINGS shuffle exactly once (the vocabulary
    distinct); everything per-position or per-doc moves on the 60-bit
    md5 bigram key — per-doc counts groupBy (doc, bh), the stats join
    lands on bh, and the q113 ordered per-doc fold (merge-order-proof)
    orders by bh, which the oracle reproduces with the same md5
    expression. A first cut shuffled the raw bigram strings through
    all three stages and measured 206 s at 1M docs / 59M bigrams; the
    hash-keyed form is the _shingle_table lesson applied to LM scoring
    (collision caveat shared with it: 60-bit keys, a cross-bigram
    collision needs ~2^60 vocabulary). Rounded floor-form at 6 dp.
    Returns (id, nll, n_bigrams).
    """
    from nyc_etl_pipeline_spark.functions import md5_long
    from nyc_etl_pipeline_spark.operators.text import ngrams_from_tokens

    toks = docs.select(F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("toks"))
    pos = toks.select(
        "doc", F.explode(ngrams_from_tokens(F.col("toks"), 2)).alias("bigram")
    )
    dbig = (
        pos.select("doc", md5_long("bigram").alias("bh"))
        .groupBy("doc", "bh")
        .agg(F.count(F.lit(1)).cast("double").alias("bf"))
    )
    vocab = pos.select("bigram").dropDuplicates().select(
        md5_long("bigram").alias("bh"),
        F.split(F.col("bigram"), " ").getItem(0).alias("w1"),
        F.split(F.col("bigram"), " ").getItem(1).alias("w2"),
    )
    big = dbig.groupBy("bh").agg(F.sum("bf").alias("c_ab"))
    sb = big.join(vocab, "bh")
    prefix = sb.groupBy("w1").agg(F.sum("c_ab").alias("c_prefix"))
    uni = (
        toks.select(F.explode("toks").alias("w2"))
        .groupBy("w2")
        .agg(F.count(F.lit(1)).cast("double").alias("c_w"))
    )
    totals = uni.agg(
        F.sum("c_w").alias("corpus_tokens"),
        F.count(F.lit(1)).cast("double").alias("vocab"),
    )
    p = F.lit(lam) * (F.col("c_ab") / F.col("c_prefix")) + F.lit(1.0 - lam) * (
        (F.col("c_w") + F.lit(alpha))
        / (F.col("corpus_tokens") + F.lit(alpha) * F.col("vocab"))
    )
    stats = (
        sb.join(prefix, "w1")
        .join(uni, "w2")
        .crossJoin(F.broadcast(totals))
        .select("bh", F.log(p).alias("lnp"))
    )
    folded = F.aggregate(
        F.sort_array(
            F.collect_list(F.struct(F.col("bh"), (F.col("bf") * F.col("lnp")).alias("contrib")))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x["contrib"],
    )
    return (
        dbig.join(stats, "bh")
        .groupBy(F.col("doc").alias(id_col))
        .agg(
            round_half_up(-folded / F.sum("bf"), 6).alias("nll"),
            F.sum("bf").cast("long").alias("n_bigrams"),
        )
    )
