"""Training-data-pipeline suite: deterministic split assignment,
benchmark decontamination, text normalization, PII redaction, event
funnels.

These are the curation steps a 100 TB pretraining pipeline runs after
the dedup family (q17/q18/q23/q24/q41): assign train/val/test,
decontaminate against eval benchmarks, normalize before hashing,
strip PII, measure behavioral funnels. Oracles are generated from the
SAME constants as the operators so the two cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.hygiene import scratch_checkpoint

from nyc_etl_pipeline_spark.functions import round_half_up as R
from nyc_etl_pipeline_spark.functions import sql_round_half_up
from nyc_etl_pipeline_spark.io import read_testdata
from nyc_etl_pipeline_spark.operators import dedup as D
from nyc_etl_pipeline_spark.operators import incremental as INC
from nyc_etl_pipeline_spark.operators import packing
from nyc_etl_pipeline_spark.operators import sampling
from nyc_etl_pipeline_spark.operators import text as TX
from nyc_etl_pipeline_spark.suite import QuerySpec
from nyc_etl_pipeline_spark.suite.curation import CC_CTES
from nyc_etl_pipeline_spark.suite.textops import _SHINGLES, _TOKS, JACCARD_THRESHOLD, NGRAM_N

SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
SPLIT_SALT = "r3"
BENCH_MOD = 17  # doc_id % 17 == 0 plays the "benchmark corpus"
CONTAM_THRESHOLD = 0.5


# --------------------------------------------------------------------------
# q50 — deterministic train/val/test split (portable hash)
# --------------------------------------------------------------------------

def q50_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-keyed split assignment over documents: stable under
    retries, dataset growth, and engine changes (keyed md5 bucket).
    Output is per-split membership stats — count + id checksum."""
    docs = read_testdata(spark, sf_dir, "documents")
    parts = sampling.split(docs, ["doc_id"], SPLIT_WEIGHTS, salt=SPLIT_SALT)
    tagged = None
    for name, part in parts.items():
        t = part.select(F.lit(name).alias("split"), "doc_id")
        tagged = t if tagged is None else tagged.unionByName(t)
    return tagged.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("doc_id").alias("id_sum")
    )


def _q50_sql() -> str:
    bucket = sampling.sql_bucket(["doc_id"], SPLIT_SALT)
    # identical cumulative [lo, hi) bounds as sampling.split — both
    # sides now render from sampling._split_bounds via sql_split_case
    case = sampling.sql_split_case("bkt", SPLIT_WEIGHTS)
    return f"""
WITH b AS (SELECT doc_id, {bucket} AS bkt FROM documents)
SELECT {case} AS split, count(*) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM b GROUP BY 1
"""


# --------------------------------------------------------------------------
# q51 — benchmark decontamination (n-gram overlap vs a held-out set)
# --------------------------------------------------------------------------

def q51_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_testdata(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % BENCH_MOD == 0)
    cand = docs.filter(F.col("doc_id") % BENCH_MOD != 0)
    return D.contamination_scores(
        cand, bench, n=NGRAM_N, threshold=CONTAM_THRESHOLD
    )


_Q51_SQL = f"""
WITH bench AS (SELECT * FROM documents WHERE doc_id % {BENCH_MOD} = 0),
cand AS (SELECT * FROM documents WHERE doc_id % {BENCH_MOD} <> 0),
btoks AS (SELECT {_TOKS} AS t FROM bench),
bsh AS (SELECT DISTINCT unnest({_SHINGLES}) AS s FROM btoks),
ctoks AS (SELECT doc_id, {_TOKS} AS t FROM cand),
csh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM ctoks),
sizes AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
hits AS (
  SELECT doc_id, count(*) AS h FROM csh
  WHERE s IN (SELECT s FROM bsh)
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(sz.n, 0) AS BIGINT) AS n_shingles,
       CAST(coalesce(ht.h, 0) AS BIGINT) AS n_hit,
       CASE WHEN sz.n IS NULL THEN 0.0
            ELSE {sql_round_half_up('coalesce(ht.h, 0) * 1.0 / sz.n', 3)} END AS contamination,
       CASE WHEN sz.n IS NULL THEN FALSE
            ELSE coalesce(ht.h, 0) * 1.0 / sz.n >= {CONTAM_THRESHOLD} END AS is_contaminated
FROM cand d
LEFT JOIN sizes sz USING (doc_id)
LEFT JOIN hits ht USING (doc_id)
"""


# --------------------------------------------------------------------------
# q177 — Bloom-filter decontamination (bounded-size benchmark artifact)
# --------------------------------------------------------------------------

BLOOM_M_BITS = 1 << 16
BLOOM_K = 4


def q177_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q51's decision through a Bloom filter: the benchmark's shingles
    are folded into an m_bits-bounded bit table (the artifact that
    stays broadcastable however many eval suites it absorbs); hits
    require all k salted md5 positions set, so false positives are
    deterministic and the oracle reproduces them bit-for-bit —
    contamination can only be over-estimated, never missed."""
    docs = read_testdata(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % BENCH_MOD == 0)
    cand = docs.filter(F.col("doc_id") % BENCH_MOD != 0)
    return D.bloom_contamination_scores(
        cand, bench, n=NGRAM_N, m_bits=BLOOM_M_BITS, k_hashes=BLOOM_K,
        threshold=CONTAM_THRESHOLD,
    )


def _q177_sql() -> str:
    from nyc_etl_pipeline_spark.functions import sql_md5_long

    pos = sql_md5_long("s || '|' || CAST(j AS VARCHAR)") + f" % {BLOOM_M_BITS}"
    return f"""
WITH bench AS (SELECT * FROM documents WHERE doc_id % {BENCH_MOD} = 0),
cand AS (SELECT * FROM documents WHERE doc_id % {BENCH_MOD} <> 0),
btoks AS (SELECT {_TOKS} AS t FROM bench),
bsh AS (SELECT DISTINCT unnest({_SHINGLES}) AS s FROM btoks),
bits AS (
  SELECT DISTINCT {pos} AS bit
  FROM bsh CROSS JOIN range(0, {BLOOM_K}) t(j)
),
ctoks AS (SELECT doc_id, {_TOKS} AS t FROM cand),
csh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM ctoks),
sh_dict AS (SELECT DISTINCT s FROM csh),
probes AS (
  SELECT s, j, {pos} AS bit
  FROM sh_dict CROSS JOIN range(0, {BLOOM_K}) t(j)
),
hitsh AS (
  SELECT s FROM probes JOIN bits USING (bit)
  GROUP BY s HAVING count(*) = {BLOOM_K}
),
sizes AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
hits AS (
  SELECT doc_id, count(*) AS h FROM csh
  WHERE s IN (SELECT s FROM hitsh)
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(sz.n, 0) AS BIGINT) AS n_shingles,
       CAST(coalesce(ht.h, 0) AS BIGINT) AS n_hit,
       CASE WHEN sz.n IS NULL THEN 0.0
            ELSE {sql_round_half_up('coalesce(ht.h, 0) * 1.0 / sz.n', 3)} END AS contamination,
       CASE WHEN sz.n IS NULL THEN FALSE
            ELSE coalesce(ht.h, 0) * 1.0 / sz.n >= {CONTAM_THRESHOLD} END AS is_contaminated
FROM cand d
LEFT JOIN sizes sz USING (doc_id)
LEFT JOIN hits ht USING (doc_id)
"""


# --------------------------------------------------------------------------
# q183 — largest-remainder token-budget allocation (mixture planning)
# --------------------------------------------------------------------------

MIX_BUDGET_TOKENS = 100_000


def q183_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton (largest-remainder) allocation of a token budget
    across sources under integer mixture weights — the planning step
    that decides per-source quotas and epoch factors BEFORE
    token_budget_sample executes them. Quotas sum exactly to the
    budget; everything but the final epoch ratio is bigint
    arithmetic, so the plan is engine-independent bit-for-bit."""
    from nyc_etl_pipeline_spark.operators.text import whitespace_token_count

    docs = read_testdata(spark, sf_dir, "documents")
    avail = docs.groupBy("source").agg(
        F.sum(whitespace_token_count(F.col("text"))).alias("avail_tokens")
    ).withColumn(
        "weight", F.lit(1) + F.pmod(F.substring("source", 4, 16).cast("int"), F.lit(4))
    )
    return sampling.largest_remainder_plan(avail, MIX_BUDGET_TOKENS)


_Q183_SQL = f"""
WITH avail AS (
  SELECT source,
         sum(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END) AS avail_tokens,
         1 + (CAST(substr(source, 4) AS INT) % 4) AS weight
  FROM documents GROUP BY source
),
tot AS (SELECT sum(weight) AS w_total FROM avail),
base AS (
  SELECT source, avail_tokens, weight,
         ({MIX_BUDGET_TOKENS} * weight) // w_total AS base_q,
         ({MIX_BUDGET_TOKENS} * weight) % w_total AS rem
  FROM avail CROSS JOIN tot
),
leftover AS (SELECT {MIX_BUDGET_TOKENS} - sum(base_q) AS l FROM base),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC) AS rk
  FROM base
)
SELECT source,
       CAST(avail_tokens AS BIGINT) AS avail_tokens,
       CAST(weight AS BIGINT) AS weight,
       CAST(base_q + CASE WHEN rk <= (SELECT l FROM leftover) THEN 1 ELSE 0 END AS BIGINT)
         AS quota_tokens,
       CASE WHEN avail_tokens > 0 THEN
         floor((CAST(base_q + CASE WHEN rk <= (SELECT l FROM leftover) THEN 1 ELSE 0 END AS DOUBLE)
                / avail_tokens) * 1000000.0 + 0.5) / 1000000.0
       ELSE NULL END AS epochs
FROM ranked
"""


# --------------------------------------------------------------------------
# q53 — text normalization (the hash-prep step of normalized dedup)
# --------------------------------------------------------------------------

def q53_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_testdata(spark, sf_dir, "documents")
    norm = TX.normalize_text(F.col("text"))
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.md5(norm).alias("norm_hash"),
        F.length(norm).cast("bigint").alias("norm_len"),
    )


_Q53_SQL = """
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                             '\\s+', ' ', 'g')) AS norm_text
  FROM documents
)
SELECT doc_id, norm_text, md5(norm_text) AS norm_hash,
       CAST(length(norm_text) AS BIGINT) AS norm_len
FROM n
"""


# --------------------------------------------------------------------------
# q54 — PII detection + redaction
# --------------------------------------------------------------------------

def _inject_pii(doc_id: F.Column, text: F.Column) -> F.Column:
    """Deterministically splice synthetic PII into a third of the docs
    (the driver's documents table carries none) — BOTH engines build
    the identical input, so the redaction regexes are genuinely
    exercised end to end."""
    return (
        F.when(doc_id % 7 == 0, F.concat(text, F.lit(" contact user"), doc_id, F.lit("@example.com now")))
        .when(doc_id % 7 == 1, F.concat(text, F.lit(" call 555-867-5309 today")))
        .when(doc_id % 7 == 2, F.concat(text, F.lit(" ssn 123-45-6789 leaked")))
        .otherwise(text)
    )


def q54_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_testdata(spark, sf_dir, "documents")
    injected = _inject_pii(F.col("doc_id"), F.col("text"))
    counts = TX.pii_counts(injected)
    return docs.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_phones"].alias("n_phones"),
        counts["n_ssns"].alias("n_ssns"),
        F.md5(TX.redact_pii(injected)).alias("redacted_hash"),
    )


_Q54_SQL = f"""
WITH inj AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
              WHEN doc_id % 7 = 1 THEN text || ' call 555-867-5309 today'
              WHEN doc_id % 7 = 2 THEN text || ' ssn 123-45-6789 leaked'
              ELSE text END AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{TX.PII_EMAIL_REGEX}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{TX.PII_PHONE_REGEX}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(t, '{TX.PII_SSN_REGEX}')) AS BIGINT) AS n_ssns,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
             '{TX.PII_SSN_REGEX}', '<SSN>', 'g'),
             '{TX.PII_PHONE_REGEX}', '<PHONE>', 'g'),
             '{TX.PII_EMAIL_REGEX}', '<EMAIL>', 'g')) AS redacted_hash
FROM inj
"""


# --------------------------------------------------------------------------
# q55 — event funnel (click -> purchase within 1 hour)
# --------------------------------------------------------------------------

def q55_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel over the event stream: users whose first
    click is followed by a purchase within one hour. One groupBy for
    first-clicks (150 users -> broadcastable), one probe join over
    events, two tiny aggregates."""
    ev = read_testdata(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(clicks), on="user_id")
        .filter(
            (F.col("ts") > F.col("first_click"))
            & (F.col("ts") <= F.col("first_click") + F.expr("INTERVAL 1 HOUR"))
        )
        .select("user_id")
        .distinct()
    )
    n_clicked = clicks.agg(F.count(F.lit(1)).alias("n_clicked"))
    n_conv = conv.agg(F.count(F.lit(1)).alias("n_converted"))
    return n_clicked.crossJoin(n_conv).select(
        "n_clicked",
        "n_converted",
        R(F.col("n_converted") / F.col("n_clicked"), 4).alias("conv_rate"),
    )


_Q55_SQL = f"""
WITH c AS (
  SELECT user_id, min(ts) AS first_click FROM events
  WHERE event_type = 'click' GROUP BY 1
),
conv AS (
  SELECT DISTINCT e.user_id
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts > c.first_click
    AND e.ts <= c.first_click + INTERVAL 1 HOUR
)
SELECT (SELECT count(*) FROM c) AS n_clicked,
       (SELECT count(*) FROM conv) AS n_converted,
       {sql_round_half_up('(SELECT count(*) FROM conv) * 1.0 / (SELECT count(*) FROM c)', 4)} AS conv_rate
"""


# --------------------------------------------------------------------------
# q60 — weekly cohort retention
# --------------------------------------------------------------------------

def q60_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention over the event stream: users grouped by
    first-seen ISO week; for each (cohort, week-offset), how many of
    the cohort were active. Two aggregates over one scan lineage —
    the first-seen table is user-cardinality (broadcastable), the
    activity table shuffles once on user_id. Week arithmetic stays in
    exact integer days/7 (date_trunc('week') aligns to Monday in both
    engines; offsets are exact multiples of 7 days)."""
    ev = read_testdata(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("__cw")
    )
    activity = ev.select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("__aw")
    ).dropDuplicates()
    cohort_sizes = first_seen.groupBy("__cw").agg(F.count(F.lit(1)).alias("__size"))
    joined = activity.join(F.broadcast(first_seen), on="user_id")
    ret = (
        joined.groupBy("__cw", (F.datediff("__aw", "__cw") / 7).cast("int").alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(F.broadcast(cohort_sizes), on="__cw")
    )
    return ret.select(
        F.date_format("__cw", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
        "n_active",
        F.col("__size").cast("bigint").alias("cohort_size"),
        R(F.col("n_active") / F.col("__size"), 4).alias("retention"),
    )


_Q60_SQL = f"""
WITH first_seen AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cw
  FROM events GROUP BY 1
),
activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS aw
  FROM events
),
sizes AS (SELECT cw, count(*) AS size FROM first_seen GROUP BY 1),
ret AS (
  SELECT f.cw, CAST((a.aw - f.cw) / 7 AS INTEGER) AS week_offset,
         count(*) AS n_active
  FROM activity a JOIN first_seen f ON a.user_id = f.user_id
  GROUP BY 1, 2
)
SELECT strftime(r.cw, '%Y-%m-%d') AS cohort_week,
       r.week_offset,
       r.n_active,
       CAST(s.size AS BIGINT) AS cohort_size,
       {sql_round_half_up('r.n_active * 1.0 / s.size', 4)} AS retention
FROM ret r JOIN sizes s ON r.cw = s.cw
"""


# --------------------------------------------------------------------------
# q65 — sequence packing (token-budget bin packing, shard-parallel greedy)
# --------------------------------------------------------------------------

PACK_BUDGET = 96
PACK_SHARDS = 16
PACK_SALT = "pack-v1"


def q65_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into PACK_BUDGET-token training sequences.
    Shard-parallel exact greedy (operators/packing.py); only
    (id, n_tokens) ships into the Python stage, never text."""
    docs = read_testdata(spark, sf_dir, "documents")
    return packing.pack_greedy(
        docs,
        id_col="doc_id",
        tokens_col=TX.whitespace_token_count(F.col("text")),
        budget=PACK_BUDGET,
        n_shards=PACK_SHARDS,
        salt=PACK_SALT,
    )


def _q65_sql() -> str:
    # The greedy recurrence is sequential within a shard; the oracle
    # replays it with a recursive CTE that advances every shard one
    # row per iteration.
    shard = f"CAST({sampling.sql_keyed_hash(['doc_id'], PACK_SALT)} % {PACK_SHARDS} AS INTEGER)"
    return f"""
WITH RECURSIVE ordered AS (
  SELECT doc_id,
         {shard} AS shard,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY {shard} ORDER BY doc_id) AS rn
  FROM documents
), pack AS (
  SELECT shard, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS seq_id,
         CAST(0 AS BIGINT) AS seq_offset,
         n_tokens AS fill
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
         CASE WHEN p.fill + o.n_tokens <= {PACK_BUDGET} THEN p.seq_id ELSE p.seq_id + 1 END,
         CASE WHEN p.fill + o.n_tokens <= {PACK_BUDGET} THEN p.fill ELSE CAST(0 AS BIGINT) END,
         CASE WHEN p.fill + o.n_tokens <= {PACK_BUDGET} THEN p.fill + o.n_tokens ELSE o.n_tokens END
  FROM pack p JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1
)
SELECT doc_id, shard, n_tokens, seq_id, seq_offset,
       n_tokens > {PACK_BUDGET} AS oversized
FROM pack
"""


# --------------------------------------------------------------------------
# q66 — stratified rebalancing sample (downsample overrepresented langs)
# --------------------------------------------------------------------------

REBALANCE_FRACTIONS = {"en": 0.4, "fr": 0.9}
REBALANCE_DEFAULT = 1.0
REBALANCE_SALT = "rebal-r3"


def q66_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing: keep 40% of English, 90% of French, all
    other languages in full — deterministic per-doc hash decision, no
    shuffle (pure projection+filter; the only exchange is the final
    stats group-by, which a real pipeline wouldn't run)."""
    docs = read_testdata(spark, sf_dir, "documents")
    kept = sampling.stratified_sample(
        docs,
        strata_col="lang",
        fractions=REBALANCE_FRACTIONS,
        key_cols=["doc_id"],
        default_fraction=REBALANCE_DEFAULT,
        salt=REBALANCE_SALT,
    )
    return kept.select("doc_id", "lang", "source")


def _q66_sql() -> str:
    bucket = sampling.sql_bucket(["doc_id"], REBALANCE_SALT)
    thresh = sampling.sql_stratified_threshold("lang", REBALANCE_FRACTIONS, REBALANCE_DEFAULT)
    return f"""
SELECT doc_id, lang, source
FROM documents
WHERE {bucket} < {thresh}
"""


# --------------------------------------------------------------------------
# q67 — Gopher-style repetition stats (top-token / duplicate-bigram fracs)
# --------------------------------------------------------------------------

REP_NGRAM_N = 2


def q67_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals per document (the Gopher filter
    family): distinct-token fraction, most-frequent-token fraction,
    duplicate-bigram fraction, and the composite repetitive flag.
    Per-row array stats are zero-shuffle JVM ops over staged token /
    gram projections; the token mode is explode -> (id, token) ->
    (id) hash aggs — see operators/text.repetition_stats."""
    docs = read_testdata(spark, sf_dir, "documents")
    return TX.repetition_stats(docs, id_col="doc_id", text_col="text", n=REP_NGRAM_N)


def _q67_sql() -> str:
    uniq = "CASE WHEN n_tokens > 0 THEN n_uniq * 1.0 / n_tokens ELSE 0.0 END"
    topf = "CASE WHEN n_tokens > 0 THEN coalesce(top_c, 0) * 1.0 / n_tokens ELSE 0.0 END"
    dupf = "CASE WHEN n_grams > 0 THEN (n_grams - n_uniq_grams) * 1.0 / n_grams ELSE 0.0 END"
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
grams AS (
  SELECT doc_id, t,
         list_transform(range(greatest(len(t) - {REP_NGRAM_N - 1}, 0)),
                        i -> t[i+1] || ' ' || t[i+2]) AS g
  FROM toks
),
base AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(t)) AS BIGINT) AS n_uniq,
         CAST(len(g) AS BIGINT) AS n_grams,
         CAST(len(list_distinct(g)) AS BIGINT) AS n_uniq_grams
  FROM grams
),
top AS (
  SELECT doc_id, max(c) AS top_c
  FROM (
    SELECT doc_id, tok, count(*) AS c
    FROM (SELECT doc_id, unnest(t) AS tok FROM toks) u
    GROUP BY 1, 2
  ) counted
  GROUP BY 1
)
SELECT b.doc_id,
       b.n_tokens,
       {sql_round_half_up(uniq, 3)} AS uniq_token_frac,
       {sql_round_half_up(topf, 3)} AS top_token_frac,
       {sql_round_half_up(dupf, 3)} AS dup_ngram_frac,
       (coalesce(top_c, 0) > 1 AND ({topf}) > {TX.TOP_TOKEN_REPETITIVE})
         OR ({dupf}) > {TX.DUP_NGRAM_REPETITIVE}
         AS is_repetitive
FROM base b LEFT JOIN top USING (doc_id)
"""


# --------------------------------------------------------------------------
# q68 — deterministic shard shuffle (training-example global ordering)
# --------------------------------------------------------------------------

SHUFFLE_SHARDS = 64
SHUFFLE_SALT = "shuf-r3"


def q68_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salt-keyed global example ordering: every doc gets a (shard,
    pos) that is stable across runs and retries — orderBy(rand())
    without the non-determinism, and without a global sort (the only
    exchange is the hash partition on shard; ordering is per-shard)."""
    docs = read_testdata(spark, sf_dir, "documents")
    out = sampling.shard_shuffle(
        docs, ["doc_id"], SHUFFLE_SHARDS, salt=SHUFFLE_SALT
    )
    return out.select("doc_id", "shard", "pos")


def _q68_sql() -> str:
    bucket = sampling.sql_bucket(["doc_id"], SHUFFLE_SALT)
    return f"""
WITH b AS (SELECT doc_id, {bucket} AS bkt FROM documents)
SELECT doc_id,
       CAST(bkt % {SHUFFLE_SHARDS} AS INTEGER) AS shard,
       CAST(row_number() OVER (PARTITION BY bkt % {SHUFFLE_SHARDS}
                               ORDER BY bkt, doc_id) AS BIGINT) AS pos
FROM b
"""


# --------------------------------------------------------------------------
# q120 — incremental mart maintenance (mergeable partial aggregates)
# --------------------------------------------------------------------------

MART_CUTOFF = "1997-01-01"  # base batch < cutoff, delta batch >= cutoff
MART_MEASURES = ["l_quantity", "l_extendedprice"]


def q120_incremental_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly mart maintained INCREMENTALLY: lineitem is split at
    MART_CUTOFF into an already-loaded base and an arriving delta;
    each side produces mergeable per-(month, returnflag) partial
    states (sum/cnt/min/max) which are merged and finalized. The
    oracle aggregates the full table directly — hash equality proves
    merge(partial(base), partial(delta)) == recompute(base ∪ delta),
    the identity a 100 TB mart relies on to pay delta-sized cost."""
    li = read_testdata(spark, sf_dir, "lineitem").withColumn(
        "ship_month", F.date_trunc("month", F.col("l_shipdate"))
    )
    keys = ["ship_month", "l_returnflag"]
    cutoff = F.lit(MART_CUTOFF).cast("timestamp")
    parts = [
        INC.partial_aggregate(li.filter(F.col("l_shipdate") < cutoff), keys, MART_MEASURES),
        INC.partial_aggregate(li.filter(F.col("l_shipdate") >= cutoff), keys, MART_MEASURES),
    ]
    return INC.finalize(INC.merge_partials(parts, keys, MART_MEASURES), MART_MEASURES)


def _q120_sql() -> str:
    per_measure = ",\n       ".join(
        f"""{sql_round_half_up(f'CAST(sum(CAST({m} AS DECIMAL(28,6))) AS DOUBLE)')} AS sum_{m},
       CAST(count({m}) AS BIGINT) AS cnt_{m},
       min({m}) AS min_{m},
       max({m}) AS max_{m},
       {sql_round_half_up(f'CAST(sum(CAST({m} AS DECIMAL(28,6))) AS DOUBLE) / count({m})')} AS avg_{m}"""
        for m in MART_MEASURES
    )
    return f"""
SELECT date_trunc('month', l_shipdate) AS ship_month,
       l_returnflag,
       count(*) AS n_rows,
       {per_measure}
FROM lineitem
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q156 — incremental JOIN maintenance (delta-join algebra)
# --------------------------------------------------------------------------

JOIN_SPLIT_MOD = 7  # key % MOD == 0 rows form each side's delta batch


def q156_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer maintained incrementally: both tables split
    deterministically into (old, delta); the Spark side materializes
    old_join ∪ Δ(A⋈B) via the IVM algebra (A_old⋈ΔB ∪ ΔA⋈B_old ∪
    ΔA⋈ΔB) and aggregates; the oracle joins the COMPLETE tables and
    aggregates the same way — hash equality proves the delta algebra
    drops and duplicates nothing."""
    from nyc_etl_pipeline_spark.functions import dec_sum
    from nyc_etl_pipeline_spark.operators.incremental import maintained_join

    o = read_testdata(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderkey"
    )
    c = read_testdata(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = o.withColumnRenamed("o_custkey", "c_custkey")
    o_old = o.filter(F.col("o_orderkey") % JOIN_SPLIT_MOD != 0)
    o_new = o.filter(F.col("o_orderkey") % JOIN_SPLIT_MOD == 0)
    c_old = c.filter(F.col("c_custkey") % JOIN_SPLIT_MOD != 0)
    c_new = c.filter(F.col("c_custkey") % JOIN_SPLIT_MOD == 0)
    old_join = o_old.join(c_old, "c_custkey")
    full = maintained_join(old_join, o_old, o_new, c_old, c_new, ["c_custkey"])
    return full.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        R(dec_sum("o_totalprice"), 3).alias("total_price"),
    )


_Q156_SQL = """
SELECT c.c_nationkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       floor((CAST(sum(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE)) * 1000.0 + 0.5) / 1000.0 AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
"""


# --------------------------------------------------------------------------
# q121 — week-over-week PSI distribution drift (pipeline monitoring)
# --------------------------------------------------------------------------

PSI_BIN_WIDTH = 50.0
PSI_EPS = 1e-6


def q121_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift of the `value` distribution,
    week over week, per event_type — the monitoring signal a data
    pipeline uses to catch upstream distribution shifts before they
    poison a training set. Bins are fixed-width (value/50), PSI is
    sum over bins of (p - q) * ln((p+eps)/(q+eps)) with epsilon
    smoothing for bins present in only one week.

    Scale shape: two hash aggregations (bin counts, week totals) and
    one full-outer equi-join of consecutive-week distributions on
    (event_type, bin) — all key-partitioned; the distributions
    themselves are O(types x bins), tiny regardless of input rows."""
    ev = read_testdata(spark, sf_dir, "events")
    # week key = Monday-aligned week-START DATE, not weekofyear: a bare
    # week number pools same-numbered weeks from different years and is
    # blind to the 52 -> 1 rollover; consecutive weeks differ by
    # exactly 7 days in both engines (the q60 cohort convention).
    binned = ev.select(
        "event_type",
        F.date_trunc("week", F.col("ts")).alias("wk"),
        F.floor(F.col("value") / PSI_BIN_WIDTH).cast("int").alias("bin"),
    )
    cnt = binned.groupBy("event_type", "wk", "bin").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("event_type", "wk").agg(F.sum("c").alias("t"))
    dist = cnt.join(tot, ["event_type", "wk"]).select(
        "event_type", "wk", "bin", (F.col("c") / F.col("t")).alias("p")
    )
    # Weeks eligible for a comparison: those whose predecessor week
    # also appears for the same event_type (inner join of week sets).
    weeks = dist.select("event_type", "wk").distinct()
    valid = weeks.join(
        weeks.select("event_type", (F.col("wk") + F.expr("INTERVAL 7 DAYS")).alias("wk")),
        ["event_type", "wk"],
    )
    cur = dist.join(valid, ["event_type", "wk"], "left_semi")
    prev = dist.select(
        "event_type", (F.col("wk") + F.expr("INTERVAL 7 DAYS")).alias("wk"), "bin", F.col("p").alias("q")
    ).join(valid, ["event_type", "wk"], "left_semi")
    j = cur.join(prev, ["event_type", "wk", "bin"], "full")
    p = F.coalesce(F.col("p"), F.lit(0.0))
    q = F.coalesce(F.col("q"), F.lit(0.0))
    contrib = (p - q) * F.log((p + PSI_EPS) / (q + PSI_EPS))
    # Transcendental-chain hardening (VERDICT r5 item 6): fold the
    # contributions in BIN ORDER instead of F.sum — a double sum's
    # value depends on partition-merge order, which varies with thread
    # scheduling AND differs from DuckDB's order; the bin-sorted
    # left fold performs the identical double-addition sequence on
    # both engines, so merge-order divergence is eliminated exactly.
    # (dec_sum is wrong here: decimal-quantizing each ln() output
    # would put every contribution on a 1e-6 grid whose boundaries a
    # 1-ulp libm difference crosses ~1e-5 of the time — denser
    # boundaries than one final 4-dp rounding.) Residual risk is the
    # per-bin ln() 1-ulp class only: measured ~1.2% of arguments
    # differ between JVM and DuckDB libm, but a flip needs the folded
    # total within ~n_bins ulps of a 0.00005 rounding boundary —
    # ~1e-12 per output row. Bins per group are O(value_range / 50),
    # so the collect_list stays bounded at any data scale.
    folded = F.aggregate(
        F.sort_array(F.collect_list(F.struct(F.col("bin"), contrib.alias("contrib")))),
        F.lit(0.0),
        lambda acc, x: acc + x["contrib"],
    )
    return (
        j.groupBy("event_type", "wk")
        .agg(folded.alias("__psi"))
        .select("event_type", "wk", R(F.col("__psi"), 4).alias("psi"))
    )


_Q121_SQL = f"""
WITH binned AS (
  SELECT event_type, date_trunc('week', ts) AS wk,
         CAST(floor(value / {PSI_BIN_WIDTH}) AS INTEGER) AS bin
  FROM events
),
cnt AS (SELECT event_type, wk, bin, count(*) AS c FROM binned GROUP BY 1, 2, 3),
tot AS (SELECT event_type, wk, sum(c) AS t FROM cnt GROUP BY 1, 2),
dist AS (
  SELECT c.event_type, c.wk, c.bin, c.c * 1.0 / t.t AS p
  FROM cnt c JOIN tot t ON c.event_type = t.event_type AND c.wk = t.wk
),
weeks AS (SELECT DISTINCT event_type, wk FROM dist),
valid AS (
  SELECT a.event_type, a.wk FROM weeks a
  JOIN weeks b ON a.event_type = b.event_type AND a.wk = b.wk + INTERVAL 7 DAY
),
cur AS (SELECT d.* FROM dist d SEMI JOIN valid v ON d.event_type = v.event_type AND d.wk = v.wk),
prev AS (
  SELECT d.event_type, d.wk + INTERVAL 7 DAY AS wk, d.bin, d.p AS q FROM dist d
  WHERE EXISTS (SELECT 1 FROM valid v WHERE v.event_type = d.event_type
                AND v.wk = d.wk + INTERVAL 7 DAY)
),
j AS (
  SELECT coalesce(cur.event_type, prev.event_type) AS event_type,
         coalesce(cur.wk, prev.wk) AS wk,
         coalesce(cur.bin, prev.bin) AS bin,
         coalesce(cur.p, 0.0) AS p, coalesce(prev.q, 0.0) AS q
  FROM cur FULL JOIN prev
    ON cur.event_type = prev.event_type AND cur.wk = prev.wk AND cur.bin = prev.bin
)
SELECT event_type, wk,
       {sql_round_half_up(
           'list_reduce(list_prepend(CAST(0.0 AS DOUBLE), '
           f'list(CAST((p - q) * ln((p + {PSI_EPS}) / (q + {PSI_EPS})) AS DOUBLE)'
           ' ORDER BY bin)), (acc, x) -> acc + x)', 4)} AS psi
FROM j
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q126 — training-mixture downsample (target source weights)
# --------------------------------------------------------------------------

MIX_WEIGHTS = {"src0": 4.0, "src1": 2.0, "src2": 1.0, "src3": 1.0, "src4": 0.5}
MIX_TOTAL = 120
MIX_SALT = "mix-r5"


def q126_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source membership report of a mixture-weighted downsample:
    sources get examples proportional to their target weights (src0
    oversampled 4x vs src2), unlisted sources drop entirely, and no
    source is ever upsampled. The keep decision is the keyed md5
    bucket, so the oracle replicates the exact kept set — counts AND
    id checksum are gated."""
    docs = read_testdata(spark, sf_dir, "documents")
    kept = sampling.mixture_sample(
        docs, "source", MIX_WEIGHTS, MIX_TOTAL, ["doc_id"],
        salt=MIX_SALT,
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"), F.sum("doc_id").alias("id_sum")
    )


def _q126_sql() -> str:
    wsum = float(sum(MIX_WEIGHTS.values()))
    wcase = (
        "CASE "
        + " ".join(
            f"WHEN source = '{name}' THEN {float(wt)}"
            for name, wt in sorted(MIX_WEIGHTS.items())
        )
        + " ELSE 0.0 END"
    )
    bucket = sampling.sql_bucket(["doc_id"], MIX_SALT)
    # identical float expression ORDER as mixture_fractions:
    # ((total * w) / wsum) / n_src * BUCKETS, then floor -> bigint
    return f"""
WITH counts AS (SELECT source, count(*) AS n_src FROM documents GROUP BY 1),
thr AS (
  SELECT source,
         least(1000000, CAST(floor({float(MIX_TOTAL)} * {wcase} / {wsum}
               / n_src * 1000000.0) AS BIGINT)) AS threshold
  FROM counts
),
kept AS (
  SELECT d.doc_id, d.source
  FROM documents d JOIN thr t ON d.source = t.source
  WHERE {bucket} < t.threshold
)
SELECT source, count(*) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM kept GROUP BY 1
"""


# --------------------------------------------------------------------------
# q138 — TOKEN-budget mixture downsample (training mixes are specified
# in tokens, not documents; a source of long documents keeps fewer)
# --------------------------------------------------------------------------

TB_WEIGHTS = {"src0": 2.0, "src1": 1.0, "src2": 1.0, "src3": 0.5}  # src4 dropped
TB_TOTAL_TOKENS = 60_000
TB_SALT = "tokbudget-r6"

# DuckDB twin of operators/text.whitespace_token_count
_SQL_NTOK = (
    "CASE WHEN trim(text) = '' THEN 0 "
    "ELSE len(string_split_regex(trim(text), '\\s+')) END"
)


def q138_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source report of a token-budget downsample
    (operators/sampling.token_budget_sample): each source's keep
    fraction is its token budget (total * w / wsum) over its current
    token count, so the kept corpus realizes the target token mix in
    expectation while the kept SET is exactly deterministic (keyed
    md5 keep decision — counts, kept tokens, and id checksum all
    value-hash gated)."""
    docs = read_testdata(spark, sf_dir, "documents").withColumn(
        "n_tokens", TX.whitespace_token_count(F.col("text"))
    )
    kept = sampling.token_budget_sample(
        docs, "source", "n_tokens", TB_WEIGHTS, TB_TOTAL_TOKENS, ["doc_id"],
        salt=TB_SALT,
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").alias("tokens_kept"),
        F.sum("doc_id").alias("id_sum"),
    )


def _q138_sql() -> str:
    wsum = float(sum(TB_WEIGHTS.values()))
    wcase = (
        "CASE "
        + " ".join(
            f"WHEN source = '{name}' THEN {float(wt)}"
            for name, wt in sorted(TB_WEIGHTS.items())
        )
        + " ELSE 0.0 END"
    )
    bucket = sampling.sql_bucket(["doc_id"], TB_SALT)
    # identical float expression ORDER as token_budget_fractions:
    # (total * w / wsum) / tok_src * BUCKETS, then floor -> bigint
    return f"""
WITH d AS (SELECT doc_id, source, CAST({_SQL_NTOK} AS BIGINT) AS n_tokens FROM documents),
toks AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tok_src FROM d GROUP BY 1),
thr AS (
  SELECT source,
         CASE WHEN tok_src = 0 THEN 1000000
              ELSE least(1000000, CAST(floor({float(TB_TOTAL_TOKENS)} * {wcase} / {wsum}
                   / tok_src * 1000000.0) AS BIGINT)) END AS threshold
  FROM toks
),
kept AS (
  SELECT d.doc_id, d.source, d.n_tokens
  FROM d JOIN thr t ON d.source = t.source
  WHERE {bucket} < t.threshold
)
SELECT source, count(*) AS n_kept,
       CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM kept GROUP BY 1
"""


SPECS = [
    QuerySpec("q50_split_assign", q50_split_assign, _q50_sql(),
              "deterministic portable train/val/test split"),
    QuerySpec("q51_contamination", q51_contamination, _Q51_SQL,
              "benchmark decontamination via n-gram overlap"),
    QuerySpec("q177_bloom_contamination", q177_bloom_contamination, _q177_sql(),
              "decontamination via an m-bounded Bloom filter (FPs oracle-replicated)"),
    QuerySpec("q183_mixture_plan", q183_mixture_plan, _Q183_SQL,
              "largest-remainder token-budget allocation (integer-exact quotas)"),
    QuerySpec("q53_text_normalize", q53_text_normalize, _Q53_SQL,
              "canonical text normalization"),
    QuerySpec("q54_pii_redact", q54_pii_redact, _Q54_SQL,
              "PII detection + redaction (email/phone/SSN)"),
    QuerySpec("q55_funnel", q55_funnel, _Q55_SQL,
              "click->purchase conversion funnel within 1 hour"),
    QuerySpec("q60_cohort_retention", q60_cohort_retention, _Q60_SQL,
              "weekly cohort retention over the event stream"),
    QuerySpec("q65_sequence_pack", q65_sequence_pack, _q65_sql(),
              "token-budget sequence packing (shard-parallel greedy)"),
    QuerySpec("q66_stratified_sample", q66_stratified_sample, _q66_sql(),
              "stratified rebalancing sample (per-lang keep fractions)"),
    QuerySpec("q67_repetition_stats", q67_repetition_stats, _q67_sql(),
              "Gopher-style repetition signals (top-token / dup-bigram)"),
    QuerySpec("q68_shard_shuffle", q68_shard_shuffle, _q68_sql(),
              "deterministic shard shuffle for training-example order"),
    QuerySpec("q156_join_maintenance", q156_join_maintenance, _Q156_SQL,
              "incremental join maintenance (IVM delta algebra; oracle = full join)"),
    QuerySpec("q120_incremental_mart", q120_incremental_mart, _q120_sql(),
              "incremental mart via mergeable partial aggregates (merge == recompute)"),
    QuerySpec("q121_psi_drift", q121_psi_drift, _Q121_SQL,
              "week-over-week PSI distribution drift per event type"),
    QuerySpec("q126_mixture_sample", q126_mixture_sample, _q126_sql(),
              "mixture-weighted deterministic downsample (target source weights)"),
    QuerySpec("q138_token_budget", q138_token_budget, _q138_sql(),
              "token-budget mixture downsample (token-denominated training mix)"),
]


# q164 — DSIR-style data selection: importance weights for every
# non-target document under a hashed unigram+bigram bag model of the
# `src0` slice vs the rest of the corpus (operators/lm.dsir_importance;
# the resampling step itself is the already-gated weighted_sample /
# q111 machinery). Transcendental per-doc sums fold in bucket order on
# both engines.
DSIR_BUCKETS = 1024
DSIR_ALPHA = 1.0
DSIR_TARGET = "src0"


def q164_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_etl_pipeline_spark.operators.lm import dsir_importance

    docs = read_testdata(spark, sf_dir, "documents")
    raw = docs.filter(F.col("source") != DSIR_TARGET)
    target = docs.filter(F.col("source") == DSIR_TARGET)
    return dsir_importance(
        raw, target, n_buckets=DSIR_BUCKETS, alpha=DSIR_ALPHA
    )


def _q164_sql() -> str:
    from nyc_etl_pipeline_spark.functions import sql_md5_long

    b_expr = sql_md5_long("feat") + f" % {DSIR_BUCKETS}"
    a = DSIR_ALPHA
    ab = DSIR_ALPHA * DSIR_BUCKETS
    fold = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        " list(CAST(tf * r AS DOUBLE) ORDER BY b)), (acc, x) -> acc + x)"
    )
    return f"""
WITH rawtoks AS MATERIALIZED (
  SELECT doc_id, {_TOKS} AS toks FROM documents
  WHERE source <> '{DSIR_TARGET}' AND trim(text) <> ''
),
tgttoks AS MATERIALIZED (
  SELECT doc_id, {_TOKS} AS toks FROM documents
  WHERE source = '{DSIR_TARGET}' AND trim(text) <> ''
),
rawfeat AS MATERIALIZED (
  SELECT doc_id, {b_expr} AS b FROM (
    SELECT doc_id, unnest(toks) AS feat FROM rawtoks
    UNION ALL
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS feat
    FROM rawtoks
  )
),
tgtfeat AS MATERIALIZED (
  SELECT doc_id, {b_expr} AS b FROM (
    SELECT doc_id, unnest(toks) AS feat FROM tgttoks
    UNION ALL
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i + 1])) AS feat
    FROM tgttoks
  )
),
ct AS (SELECT b, CAST(count(*) AS DOUBLE) AS ct FROM tgtfeat GROUP BY 1),
cq AS (SELECT b, CAST(count(*) AS DOUBLE) AS cq FROM rawfeat GROUP BY 1),
tt AS (SELECT sum(ct) AS tt FROM ct),
tq AS (SELECT sum(cq) AS tq FROM cq),
ratio AS (
  SELECT cq.b,
         ln((coalesce(ct.ct, CAST(0.0 AS DOUBLE)) + {a}) / (tt + {ab}))
         - ln((cq.cq + {a}) / (tq + {ab})) AS r
  FROM cq LEFT JOIN ct USING (b) CROSS JOIN tt CROSS JOIN tq
),
tfd AS (
  SELECT doc_id, b, CAST(count(*) AS DOUBLE) AS tf FROM rawfeat GROUP BY 1, 2
)
SELECT doc_id,
       {sql_round_half_up(f"CAST({fold} AS DOUBLE)", 6)} AS logw,
       CAST(sum(tf) AS BIGINT) AS n_feats
FROM tfd JOIN ratio USING (b)
GROUP BY doc_id
"""


SPECS.append(
    QuerySpec("q164_dsir_importance", q164_dsir_importance, _q164_sql(),
              "DSIR hashed-ngram importance weights (target vs raw)")
)


# --------------------------------------------------------------------------
# q167 — leakage-safe split: assign whole near-dup CLUSTERS to
# train/val/test, so near-copies of a document can never straddle a
# split boundary (per-doc hashing — q50 — leaks memorized duplicates
# across train/test whenever a cluster straddles a cut).
# --------------------------------------------------------------------------

LS_SALT = "leak-r8"


def q167_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware split membership report: connected components
    over the exact n-gram-Jaccard pair graph (q18/q41), then the
    keyed md5 bucket of the CLUSTER REPRESENTATIVE decides the
    split for every member. Gated on per-split doc count, distinct
    cluster count, and id checksum."""
    docs = read_testdata(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, n=NGRAM_N, threshold=JACCARD_THRESHOLD)
    clusters = D.neardup_clusters(docs, pairs)
    assigned = sampling.leakage_safe_assign(
        docs.select("doc_id"), clusters, SPLIT_WEIGHTS,
        salt=LS_SALT,
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster_rep").alias("n_clusters"),
        F.sum("doc_id").alias("id_sum"),
    )


def _q167_sql() -> str:
    bucket = sampling.sql_bucket(["cluster_rep"], LS_SALT)
    case = sampling.sql_split_case("bkt", SPLIT_WEIGHTS)
    return f"""
WITH RECURSIVE {CC_CTES},
cl AS (
  SELECT node AS doc_id, CAST(min(root) AS BIGINT) AS cluster_rep
  FROM reach GROUP BY node
),
b AS (SELECT doc_id, cluster_rep, {bucket} AS bkt FROM cl),
a AS (SELECT doc_id, cluster_rep, {case} AS split FROM b)
SELECT split, count(*) AS n_docs,
       count(DISTINCT cluster_rep) AS n_clusters,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM a GROUP BY 1
"""


# --------------------------------------------------------------------------
# q168 — split-leakage audit: count near-dup pairs straddling a split
# boundary under (a) the naive per-doc hash split and (b) the
# cluster-aware split. The leakage-safe count is structurally zero —
# and the oracle PROVES both engines agree it is zero, rather than
# asserting it.
# --------------------------------------------------------------------------

def q168_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row audit: total near-dup pairs, pairs leaked across splits
    by the per-doc split (q50's salt/weights), pairs leaked by the
    cluster-aware split (q167's) — the before/after evidence a split
    strategy review asks for."""
    docs = read_testdata(spark, sf_dir, "documents").select("doc_id")
    pairs = D.ngram_jaccard_pairs(
        read_testdata(spark, sf_dir, "documents"),
        n=NGRAM_N, threshold=JACCARD_THRESHOLD,
    ).transform(scratch_checkpoint)  # feeds both CC and the audit joins: materialize once
    naive = sampling.assign_split(
        docs, ["doc_id"], SPLIT_WEIGHTS, salt=SPLIT_SALT
    )
    clusters = D.neardup_clusters(docs, pairs, id_col="doc_id")
    safe = sampling.leakage_safe_assign(
        docs, clusters, SPLIT_WEIGHTS, salt=LS_SALT
    )

    def side(assigned: DataFrame, id_alias: str, out: str) -> DataFrame:
        return assigned.select(
            F.col("doc_id").alias(id_alias), F.col("split").alias(out)
        )

    audit = (
        pairs.select("a_id", "b_id")
        .join(side(naive, "a_id", "naive_a"), on="a_id")
        .join(side(naive, "b_id", "naive_b"), on="b_id")
        .join(side(safe, "a_id", "safe_a"), on="a_id")
        .join(side(safe, "b_id", "safe_b"), on="b_id")
    )
    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")
    return audit.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.coalesce(
            F.sum(F.when(F.col("naive_a") != F.col("naive_b"), one).otherwise(zero)),
            zero,
        ).alias("n_leaked_naive"),
        F.coalesce(
            F.sum(F.when(F.col("safe_a") != F.col("safe_b"), one).otherwise(zero)),
            zero,
        ).alias("n_leaked_safe"),
    )


def _q168_sql() -> str:
    nb = sampling.sql_bucket(["doc_id"], SPLIT_SALT)
    ncase = sampling.sql_split_case(nb, SPLIT_WEIGHTS)
    sb = sampling.sql_bucket(["cluster_rep"], LS_SALT)
    scase = sampling.sql_split_case("bkt", SPLIT_WEIGHTS)
    return f"""
WITH RECURSIVE {CC_CTES},
cl AS (
  SELECT node AS doc_id, CAST(min(root) AS BIGINT) AS cluster_rep
  FROM reach GROUP BY node
),
sbk AS (SELECT doc_id, cluster_rep, {sb} AS bkt FROM cl),
safe AS (SELECT doc_id, {scase} AS split FROM sbk),
naive AS (SELECT doc_id, {ncase} AS split FROM documents),
audit AS (
  SELECT p.a_id, p.b_id,
         na.split AS naive_a, nb2.split AS naive_b,
         sa.split AS safe_a, sb2.split AS safe_b
  FROM pairs p
  JOIN naive na ON p.a_id = na.doc_id
  JOIN naive nb2 ON p.b_id = nb2.doc_id
  JOIN safe sa ON p.a_id = sa.doc_id
  JOIN safe sb2 ON p.b_id = sb2.doc_id
)
SELECT count(*) AS n_pairs,
       CAST(coalesce(sum(CASE WHEN naive_a <> naive_b THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_leaked_naive,
       CAST(coalesce(sum(CASE WHEN safe_a <> safe_b THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_leaked_safe
FROM audit
"""


SPECS.append(
    QuerySpec("q167_leakage_safe_split", q167_leakage_safe_split, _q167_sql(),
              "cluster-aware train/val/test split (no near-dup straddle)")
)
SPECS.append(
    QuerySpec("q168_split_leakage_audit", q168_split_leakage_audit, _q168_sql(),
              "near-dup pairs straddling splits: naive vs cluster-aware")
)


# -- q171: fixed-round logistic-regression quality classifier ---------
# Train a hashed-bag-of-words logistic regression (LOGREG_ROUNDS
# full-batch mean-gradient rounds from zero init,
# operators/classify.py), then score the corpus map-only and return
# the top-LOGREG_TOPK docs. The whole training run replays as chained
# MATERIALIZED CTEs in the oracle — the q125/q162/q165
# fixed-iteration pattern, extended to a transcendental recurrence
# (sigmoid's exp is the suite's bounded 1-ulp libm class; per-component
# gradient contributions quantize to 6 dp BEFORE the exact DECIMAL
# sum). The label is TOKEN-derived (document mentions LOGREG_MARKER):
# the synthetic corpus draws every doc's text from one shared
# vocabulary regardless of lang/source (measured: training on those
# labels converges to the base rate), so a metadata label would gate a
# recurrence that never moves off zero signal. Learnability itself is
# pinned in pytest on a planted separable corpus
# (tests/test_classify.py); this gate pins the recurrence.
LOGREG_BUCKETS = 16
LOGREG_DIM = LOGREG_BUCKETS + 1  # + bias
LOGREG_ROUNDS = 3
LOGREG_LR = 4.0
LOGREG_TOPK = 20
LOGREG_MARKER = "join"


def q171_quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_etl_pipeline_spark.operators import classify as C
    from nyc_etl_pipeline_spark.operators.text import tokens

    docs = read_testdata(spark, sf_dir, "documents")
    feats = C.hashed_tf_features(
        docs, n_buckets=LOGREG_BUCKETS,
        label=F.array_contains(tokens(F.col("text")), LOGREG_MARKER).cast("int"),
    )
    w = C.logreg_train_fixed(
        feats, dim=LOGREG_DIM, n_rounds=LOGREG_ROUNDS, lr=LOGREG_LR
    )
    scored = C.logreg_score(feats, w, extra_cols=["y"])
    return (
        scored.select(
            "doc_id", F.col("y").cast("int").alias("has_marker"), "score"
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(LOGREG_TOPK)
    )


def _q171_sql() -> str:
    from nyc_etl_pipeline_spark.operators.classify import (
        sql_hashed_tf_features,
        sql_logreg_chain,
    )

    feats = sql_hashed_tf_features(
        LOGREG_BUCKETS,
        "CASE WHEN list_contains(string_split_regex(trim(text), '\\s+'),"
        f" '{LOGREG_MARKER}') THEN 1 ELSE 0 END",
    )
    chain = sql_logreg_chain("feats", LOGREG_DIM, LOGREG_ROUNDS, LOGREG_LR)
    margin = (
        f"list_reduce(list_transform(range(1, {LOGREG_DIM + 1}),"
        " i -> t.x[i] * w.w[i]), (a, b) -> a + b)"
    )
    return f"""
WITH {feats},
{chain}
SELECT t.id AS doc_id, CAST(t.y AS INTEGER) AS has_marker,
       floor((1.0 / (1.0 + exp(-({margin})))) * 1000000.0 + 0.5)
         / 1000000.0 AS score
FROM feats t CROSS JOIN w{LOGREG_ROUNDS} w
ORDER BY score DESC, doc_id ASC
LIMIT {LOGREG_TOPK}
"""


SPECS.append(
    QuerySpec("q171_quality_logreg", q171_quality_logreg, _q171_sql(),
              "fixed-round logistic-regression quality classifier (GD)")
)


# -- q190: fixed-round softmax multiclass language classifier ----------
# The multiclass head on q171's scaffolding (VERDICT r8/r9 stretch):
# 5-way language id trained as SOFTMAX_ROUNDS full-batch softmax
# cross-entropy GD rounds over the same hashed-TF features, every
# round replayed as chained CTEs (sql_softmax_chain) — weights live as
# one flattened K*dim list on the SQL side. Labels are the lang
# column mapped to fixed class ids (a literal CASE on both engines).
# The gate output is the per-doc probability row + argmax class for
# EVERY doc, so the softmax (max stabilizer, per-class exp,
# left-to-right denominator) is hash-checked at full width.

SOFTMAX_BUCKETS = 16
SOFTMAX_DIM = SOFTMAX_BUCKETS + 1  # + bias
SOFTMAX_CLASSES = 5
SOFTMAX_ROUNDS = 2
SOFTMAX_LR = 2.0
_SOFTMAX_LANGS = ["en", "de", "es", "fr", "zh"]


def q190_softmax_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_etl_pipeline_spark.operators import classify as C

    docs = read_testdata(spark, sf_dir, "documents")
    cls = F.lit(None)
    label = None
    for k, lang in enumerate(_SOFTMAX_LANGS[:-1]):
        step = F.when(F.col("lang") == lang, k)
        label = step if label is None else label.when(F.col("lang") == lang, k)
    label = label.otherwise(SOFTMAX_CLASSES - 1)
    del cls
    feats = C.hashed_tf_features(docs, n_buckets=SOFTMAX_BUCKETS, label=label)
    w = C.softmax_train_fixed(
        feats, dim=SOFTMAX_DIM, n_classes=SOFTMAX_CLASSES,
        n_rounds=SOFTMAX_ROUNDS, lr=SOFTMAX_LR,
    )
    scored = C.softmax_score(feats, w, extra_cols=["y"])
    return scored.select(
        "doc_id",
        F.col("y").cast("int").alias("y_class"),
        *[f"p{k}" for k in range(SOFTMAX_CLASSES)],
        "pred",
    )


def _q190_sql() -> str:
    from nyc_etl_pipeline_spark.operators.classify import (
        sql_hashed_tf_features,
        sql_softmax_chain,
    )

    label_sql = "CASE " + " ".join(
        f"WHEN lang = '{lang}' THEN {k}"
        for k, lang in enumerate(_SOFTMAX_LANGS[:-1])
    ) + f" ELSE {SOFTMAX_CLASSES - 1} END"
    feats = sql_hashed_tf_features(SOFTMAX_BUCKETS, label_sql)
    chain = sql_softmax_chain(
        "feats", SOFTMAX_DIM, SOFTMAX_CLASSES, SOFTMAX_ROUNDS, SOFTMAX_LR
    )
    zs = (
        f"list_transform(range(0, {SOFTMAX_CLASSES}), k -> "
        f"list_reduce(list_transform(range(1, {SOFTMAX_DIM + 1}),"
        f" i -> b.x[i] * w.w[k * {SOFTMAX_DIM} + i]), (a, b) -> a + b))"
    )
    p_cols = ", ".join(
        f"floor(ps[{k + 1}] * 1000000.0 + 0.5) / 1000000.0 AS p{k}"
        for k in range(SOFTMAX_CLASSES)
    )
    return f"""
WITH {feats},
{chain}
SELECT id AS doc_id, CAST(y AS INTEGER) AS y_class, {p_cols},
       CAST(list_position(ps, list_aggregate(ps, 'max')) - 1 AS INTEGER) AS pred
FROM (
  SELECT id, y,
         list_transform(es, e -> e / list_reduce(es, (a, b) -> a + b)) AS ps
  FROM (
    SELECT id, y, list_transform(zs, z -> exp(z - list_aggregate(zs, 'max'))) AS es
    FROM (
      SELECT b.id, b.y, b.x, {zs} AS zs
      FROM feats b CROSS JOIN w{SOFTMAX_ROUNDS} w
    )
  )
)
"""


SPECS.append(
    QuerySpec("q190_softmax_langid", q190_softmax_langid, _q190_sql(),
              "fixed-round softmax multiclass language classifier (GD)")
)
