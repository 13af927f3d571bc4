"""Text-analysis / dedup operator suite over `documents`, with DuckDB
oracles generated from the SAME constants as the Spark operators
(operators/text.py, operators/dedup.py) so the two can't drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.io import read_testdata
from nyc_etl_pipeline_spark.operators import dedup as D
from nyc_etl_pipeline_spark.operators import text as TX
from nyc_etl_pipeline_spark.functions import round_half_up as R
from nyc_etl_pipeline_spark.functions import sql_md5_long, sql_round_half_up
from nyc_etl_pipeline_spark.suite import QuerySpec
from nyc_etl_pipeline_spark.suite.maintained import grow

NGRAM_N = 3
JACCARD_THRESHOLD = 0.5

# DuckDB expression fragments mirroring operators/text.py ------------------

_TOKS = "string_split_regex(trim(text), '\\s+')"
_SHINGLES = (
    "list_distinct(list_transform(range(greatest(len({t}) - 2, 0)), "
    "i -> {t}[i+1] || ' ' || {t}[i+2] || ' ' || {t}[i+3]))"
).format(t="t")


def _sql_in_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


# --------------------------------------------------------------------------
# q17 — exact dedup (hash group-by on md5 digest)
# --------------------------------------------------------------------------

def q17_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(read_testdata(spark, sf_dir, "documents"))


_Q17_SQL = """
SELECT md5(text) AS text_hash,
       min(doc_id) AS canonical_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
"""


# --------------------------------------------------------------------------
# q18 — n-gram Jaccard near-dup pairs (exact, inverted shingle index)
# --------------------------------------------------------------------------

def q18_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(
        read_testdata(spark, sf_dir, "documents"),
        n=NGRAM_N,
        threshold=JACCARD_THRESHOLD,
    )


_Q18_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM toks),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
ov AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS ov
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id,
       floor((ov * 1.0 / (sa.n + sb.n - ov)) * 1000.0 + 0.5) / 1000.0 AS jaccard
FROM ov
JOIN sizes sa ON a_id = sa.doc_id
JOIN sizes sb ON b_id = sb.doc_id
WHERE ov * 1.0 / (sa.n + sb.n - ov) >= {JACCARD_THRESHOLD}
"""


# --------------------------------------------------------------------------
# q19 — text quality features (tokens, bpe tokens, ratios, score)
# --------------------------------------------------------------------------

def q19_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenization runs ONCE into an array column; every feature
    derives from it (the naive per-feature formulation re-evaluated
    the split ~6x — higher-order expressions are not CSE'd by
    Catalyst; measured 2x faster single-pass)."""
    d = read_testdata(spark, sf_dir, "documents")
    sw = F.array(*[F.lit(s) for s in TX.STOPWORDS_EN])
    base = d.select(
        "doc_id",
        "text",
        TX.tokens(F.col("text")).alias("__toks"),
        F.size(F.regexp_extract_all("text", F.lit(TX.PUNCT_REGEX), F.lit(0)))
        .cast("bigint")
        .alias("__n_punct"),
    ).select(
        "doc_id",
        "text",
        "__toks",
        "__n_punct",
        F.size("__toks").cast("bigint").alias("__n_tok"),
        F.size(F.filter("__toks", lambda t: F.array_contains(sw, F.lower(t))))
        .cast("bigint")
        .alias("__n_sw"),
        F.aggregate("__toks", F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)).alias(
            "__len_sum"
        ),
    )
    n_tok = F.col("__n_tok")
    sw_ratio = F.when(n_tok > 0, F.col("__n_sw").cast("double") / n_tok).otherwise(0.0)
    p_ratio = F.when(
        F.length("text") > 0, F.col("__n_punct").cast("double") / F.length("text")
    ).otherwise(0.0)
    len_sat = F.least(n_tok.cast("double") / 100.0, F.lit(1.0))
    avg_len = F.when(n_tok > 0, F.col("__len_sum").cast("double") / F.col("__n_tok")).otherwise(0.0)
    return base.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        TX.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
        R(avg_len, 4).alias("avg_token_len"),
        R(sw_ratio, 4).alias("stopword_ratio"),
        R(p_ratio, 4).alias("punct_ratio"),
        R(0.4 * sw_ratio + 0.3 * len_sat + 0.3 * (1.0 - p_ratio), 4).alias("quality_score"),
    )


_Q19_SQL = f"""
WITH base AS (
  SELECT doc_id, text, {_TOKS} AS toks,
         len({_TOKS}) AS n_tok,
         len(regexp_extract_all(text, '{TX.PUNCT_REGEX}')) AS n_punct
  FROM documents
)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '{TX.BPE_REGEX}')) AS BIGINT) AS n_bpe_tokens,
       floor((CASE WHEN n_tok > 0
             THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / n_tok
             ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS avg_token_len,
       floor((CASE WHEN n_tok > 0
             THEN CAST(len(list_filter(toks, x -> list_contains({_sql_in_list(TX.STOPWORDS_EN)}, lower(x)))) AS DOUBLE) / n_tok
             ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS stopword_ratio,
       floor((CASE WHEN length(text) > 0
             THEN CAST(n_punct AS DOUBLE) / length(text) ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS punct_ratio,
       floor((0.4 * (CASE WHEN n_tok > 0
                    THEN CAST(len(list_filter(toks, x -> list_contains({_sql_in_list(TX.STOPWORDS_EN)}, lower(x)))) AS DOUBLE) / n_tok
                    ELSE 0.0 END)
           + 0.3 * least(CAST(n_tok AS DOUBLE) / 100.0, 1.0)
           + 0.3 * (1.0 - (CASE WHEN length(text) > 0
                           THEN CAST(n_punct AS DOUBLE) / length(text) ELSE 0.0 END))) * 10000.0 + 0.5) / 10000.0
             AS quality_score
FROM base
"""


# --------------------------------------------------------------------------
# q20 — language ID (marker argmax, deterministic precedence)
# --------------------------------------------------------------------------

def q20_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass: tokenize once, then the marker-count argmax chain
    over the shared token array (same rationale as q19 — higher-order
    expressions are not CSE'd)."""
    d = read_testdata(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        TX.tokens(F.col("text")).alias("__toks"),
    )
    counts = {}
    for lang, markers in TX.LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        counts[lang] = F.size(
            F.filter("__toks", lambda t: F.array_contains(arr, F.lower(t)))
        )
    best = F.greatest(*counts.values())
    expr = F.lit("und")
    for lang in reversed(list(TX.LANG_MARKERS)):
        expr = F.when((counts[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return base.select("doc_id", "lang_declared", expr.alias("lang_pred"))


def _lang_id_sql() -> str:
    counts = {
        lang: f"len(list_filter(toks, x -> list_contains({_sql_in_list(m)}, lower(x))))"
        for lang, m in TX.LANG_MARKERS.items()
    }
    greatest = "greatest(" + ", ".join(f"c_{lang}" for lang in TX.LANG_MARKERS) + ")"
    chain = "CASE "
    for lang in TX.LANG_MARKERS:  # precedence: declaration order
        chain += f"WHEN c_{lang} = best AND best > 0 THEN '{lang}' "
    chain += "ELSE 'und' END"
    selects = ", ".join(f"{expr} AS c_{lang}" for lang, expr in counts.items())
    return f"""
WITH base AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
cnt AS (SELECT doc_id, lang, {selects} FROM base),
scored AS (SELECT doc_id, lang, {greatest} AS best, * FROM cnt)
SELECT doc_id, lang AS lang_declared, {chain} AS lang_pred FROM scored
"""


# --------------------------------------------------------------------------
# q21 — document fingerprints (rolling hash + md5)
# --------------------------------------------------------------------------

def q21_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_testdata(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.fingerprint_rolling(F.col("text")).alias("fp_rolling"),
        TX.fingerprint_md5(F.col("text")).alias("fp_md5"),
    )


_Q21_SQL = f"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      list_transform(regexp_extract_all(text, '.'),
                                     c -> CAST(ascii(c) AS BIGINT))),
         (a, b) -> (a * 31 + b) % {TX.FINGERPRINT_MOD}) AS fp_rolling,
       md5(text) AS fp_md5
FROM documents
"""


# --------------------------------------------------------------------------
# q22 — multimodal plumbing: opaque binary column + typed metadata
# --------------------------------------------------------------------------

def q22_multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treat the text payload as an opaque binary asset (the pattern
    for image/audio blobs): byte length + content digest, computed
    without leaving the JVM. Decode/feature-extraction UDF plumbing is
    in operators/multimodal.py (stubbed — no codec libs here)."""
    d = read_testdata(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(blob).cast("bigint").alias("n_bytes"),
        F.sha2(F.col("text"), 256).alias("sha256_hex"),
        F.col("source").alias("source"),
    )


_Q22_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256_hex,
       source
FROM documents
"""


# --------------------------------------------------------------------------
# q23 / q24 — probabilistic near-dup (MinHash LSH / SimHash). Every
# hash in the chain (shingle key, MinHash bases, band key, SimHash token
# bits) is md5-derived (functions.md5_long), so the DuckDB oracle
# regenerates the IDENTICAL signatures, bands, and candidate sets — the
# banding recall itself is under the correctness gate, not just the
# verified precision. Recall is additionally asserted against q18's
# exact output in pytest.
# --------------------------------------------------------------------------

MINHASH_NUM = 128
MINHASH_BANDS = 32


def q23_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(
        read_testdata(spark, sf_dir, "documents"),
        n=NGRAM_N,
        num_hashes=MINHASH_NUM,
        bands=MINHASH_BANDS,
        threshold=JACCARD_THRESHOLD,
    )


def _q23_sql() -> str:
    """DuckDB replica of minhash_lsh_pairs: same shingle hash, same
    (a_i, b_i) minhash constants (imported from operators/dedup so the
    two can't drift), same band keys, same exact-Jaccard verification
    over hashed shingle sets."""
    p = D.MERSENNE31
    rows = MINHASH_NUM // MINHASH_BANDS
    mh_exprs = []
    for i in range(MINHASH_NUM):
        a, b = D.minhash_base_coeffs(i)
        mh_exprs.append(f"min(({a} * hm + {b}) % {p}) AS mh_{i}")
    band_rows = "\nUNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, CAST('0x' || substr(md5({cat}), 1, 15) AS BIGINT) AS band_key FROM sig".format(
            b=b, cat=" || ',' || ".join(f"mh_{b * rows + r}" for r in range(rows))
        )
        for b in range(MINHASH_BANDS)
    )
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh0 AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM toks),
sh AS (SELECT doc_id, {sql_md5_long("s")} AS h FROM sh0),
hm_t AS (SELECT doc_id, h, h % {p} AS hm FROM sh),
sig AS (SELECT doc_id, {", ".join(mh_exprs)} FROM hm_t GROUP BY doc_id),
bands_t AS ({band_rows}),
cands AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands_t a
  JOIN bands_t b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
ov AS (
  SELECT c.a_id, c.b_id, count(*) AS ov
  FROM cands c
  JOIN sh a ON a.doc_id = c.a_id
  JOIN sh b ON b.doc_id = c.b_id AND a.h = b.h
  GROUP BY 1, 2
)
SELECT a_id, b_id,
       floor((ov * 1.0 / (sa.n + sb.n - ov)) * 1000.0 + 0.5) / 1000.0 AS jaccard
FROM ov
JOIN sizes sa ON a_id = sa.doc_id
JOIN sizes sb ON b_id = sb.doc_id
WHERE ov * 1.0 / (sa.n + sb.n - ov) >= {JACCARD_THRESHOLD}
"""


DF_CAP = 50  # drop shingles shared by more than this many docs


def q47_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE configuration of q18: shingles appearing in more than
    DF_CAP documents are dropped before the self-join (hot-shingle
    cap — bounds the quadratic blowup at web-corpus sizes). Jaccard is
    then computed over the surviving shingle sets; the oracle
    replicates the cap exactly, so the approximation itself is under
    the correctness gate."""
    return D.ngram_jaccard_pairs(
        read_testdata(spark, sf_dir, "documents"),
        n=NGRAM_N,
        threshold=JACCARD_THRESHOLD,
        max_doc_freq=DF_CAP,
    )


_Q47_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh_all AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM toks),
freq AS (SELECT s, count(*) AS df FROM sh_all GROUP BY 1),
sh AS (SELECT doc_id, s FROM sh_all JOIN freq USING (s) WHERE df <= {DF_CAP}),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
ov AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS ov
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id,
       floor((ov * 1.0 / (sa.n + sb.n - ov)) * 1000.0 + 0.5) / 1000.0 AS jaccard
FROM ov
JOIN sizes sa ON a_id = sa.doc_id
JOIN sizes sb ON b_id = sb.doc_id
WHERE ov * 1.0 / (sa.n + sb.n - ov) >= {JACCARD_THRESHOLD}
"""


SIMHASH_MAX_HAMMING = 7
SIMHASH_BLOCKS = 8


def q24_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_near_pairs(
        read_testdata(spark, sf_dir, "documents"),
        max_hamming=SIMHASH_MAX_HAMMING,
        n_blocks=SIMHASH_BLOCKS,
    )


def _q24_sql() -> str:
    """DuckDB replica of simhash_near_pairs: identical token-bit votes
    (md5 lo/hi 32-bit halves), identical block keys, identical
    XOR-popcount hamming verification."""
    width = 64 // SIMHASH_BLOCKS
    votes = ",\n       ".join(
        "sum(CASE WHEN (({h} >> {s}) & 1) = 1 THEN 1 ELSE -1 END) AS v{j}".format(
            h="h_lo" if j < 32 else "h_hi", s=j % 32, j=j
        )
        for j in range(64)
    )
    blks = ",\n       ".join(
        "("
        + " + ".join(
            f"CASE WHEN v{b * width + i} > 0 THEN {1 << i} ELSE 0 END" for i in range(width)
        )
        + f") AS blk{b}"
        for b in range(SIMHASH_BLOCKS)
    )
    all_blks = ", ".join(f"blk{x}" for x in range(SIMHASH_BLOCKS))
    unions = "\nUNION ALL ".join(
        f"SELECT doc_id, {b} AS blk_idx, blk{b} AS blk_key, {all_blks} FROM sig"
        for b in range(SIMHASH_BLOCKS)
    )
    hamming = " + ".join(
        f"bit_count(xor(CAST(a.blk{b} AS BIGINT), CAST(b.blk{b} AS BIGINT)))"
        for b in range(SIMHASH_BLOCKS)
    )
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
tok AS (SELECT doc_id, unnest(t) AS tk FROM toks),
h AS (SELECT doc_id, {sql_md5_long("tk", 1, 8)} AS h_lo, {sql_md5_long("tk", 9, 8)} AS h_hi FROM tok),
votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, {blks} FROM votes),
blocks AS ({unions})
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST({hamming} AS INTEGER) AS hamming
FROM blocks a
JOIN blocks b ON a.blk_idx = b.blk_idx AND a.blk_key = b.blk_key AND a.doc_id < b.doc_id
WHERE {hamming} <= {SIMHASH_MAX_HAMMING}
"""


# --------------------------------------------------------------------------
# q119 — passage-level exact duplicate detection (k-token windows)
# --------------------------------------------------------------------------

PASSAGE_K = 8


def q119_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-passage stats: the fraction of k-token
    windows whose exact content also occurs in another document (the
    sub-document dedup signal of Lee et al. 2021, window-granular)."""
    return D.duplicated_passage_stats(
        read_testdata(spark, sf_dir, "documents"), k=PASSAGE_K
    )


_Q119_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
pos AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - {PASSAGE_K - 1})) AS i
  FROM toks WHERE len(t) >= {PASSAGE_K}
),
wins AS (
  SELECT doc_id,
         {sql_md5_long(f"array_to_string(list_slice(t, i, i + {PASSAGE_K - 1}), ' ')")} AS h
  FROM pos
),
dup AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
SELECT w.doc_id,
       count(*) AS n_windows,
       CAST(sum(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
       {sql_round_half_up("sum(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*)", 4)} AS dup_frac
FROM wins w LEFT JOIN dup d ON w.h = d.h
GROUP BY 1
"""


# --------------------------------------------------------------------------
# q188 — exact substring dedup (suffix-array-style covered spans)
# --------------------------------------------------------------------------

SUBSTR_L = 8


def q188_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document EXACT duplicated-substring report: maximal covered
    runs of l-token windows occurring >= 2 times anywhere in the
    corpus (intra-doc repeats included — the suffix-array semantics of
    Lee et al. 2021, join-shaped instead of SA construction). The
    interval-merge (gaps-and-islands) step is fully replicated in the
    oracle, so span boundaries — not just counts — are hash-checked."""
    return D.substring_dedup_report(
        read_testdata(spark, sf_dir, "documents"), l_tokens=SUBSTR_L
    )


def _q188_sql() -> str:
    h = sql_md5_long(f"array_to_string(list_slice(t, i, i + {SUBSTR_L - 1}), ' ')")
    return f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE {_TOKS} END AS t
  FROM documents
),
pos AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - {SUBSTR_L - 1})) AS i
  FROM toks WHERE len(t) >= {SUBSTR_L}
),
wins AS (SELECT doc_id, i, {h} AS h FROM pos),
dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) >= 2),
hits AS (SELECT w.doc_id, w.i FROM wins w JOIN dup USING (h)),
isl AS (
  SELECT doc_id, i,
         CASE WHEN i - lag(i, 1, -1099511627776) OVER (
           PARTITION BY doc_id ORDER BY i) > {SUBSTR_L} THEN 1 ELSE 0 END AS nw
  FROM hits
),
isl2 AS (
  SELECT doc_id, i,
         sum(nw) OVER (PARTITION BY doc_id ORDER BY i) AS g
  FROM isl
),
spans AS (
  SELECT doc_id, g, min(i) AS s, max(i) + {SUBSTR_L} AS e
  FROM isl2 GROUP BY 1, 2
),
per_doc_spans AS (
  SELECT doc_id, count(*) AS n_spans, sum(e - s) AS dup_tokens,
         max(e - s) AS longest_run
  FROM spans GROUP BY 1
),
per_doc_wins AS (SELECT doc_id, count(*) AS n_windows FROM wins GROUP BY 1),
per_doc_hits AS (SELECT doc_id, count(*) AS n_dup_windows FROM hits GROUP BY 1)
SELECT tk.doc_id,
       CAST(len(tk.t) AS BIGINT) AS n_tokens,
       CAST(coalesce(w.n_windows, 0) AS BIGINT) AS n_windows,
       CAST(coalesce(ht.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       CAST(coalesce(sp.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(sp.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(coalesce(sp.longest_run, 0) AS BIGINT) AS longest_run,
       CASE WHEN len(tk.t) > 0 THEN
         {sql_round_half_up('coalesce(sp.dup_tokens, 0) * 1.0 / len(tk.t)', 4)}
       ELSE 0.0 END AS dup_ratio
FROM toks tk
LEFT JOIN per_doc_wins w USING (doc_id)
LEFT JOIN per_doc_hits ht USING (doc_id)
LEFT JOIN per_doc_spans sp USING (doc_id)
"""


def q191_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of q188: every token inside a covered run is
    dropped and the survivors rejoin with single spaces — the cleaned
    TEXT ITSELF is hash-checked against the oracle's string_agg
    reconstruction, so the higher-order token filter (1-based span
    arithmetic, left-exclusive end) is pinned end to end."""
    return D.exact_substring_dedup(
        read_testdata(spark, sf_dir, "documents"), l_tokens=SUBSTR_L
    )


def _q191_sql() -> str:
    h = sql_md5_long(f"array_to_string(list_slice(t, i, i + {SUBSTR_L - 1}), ' ')")
    return f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[]) ELSE {_TOKS} END AS t
  FROM documents
),
pos AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - {SUBSTR_L - 1})) AS i
  FROM toks WHERE len(t) >= {SUBSTR_L}
),
wins AS (SELECT doc_id, i, {h} AS h FROM pos),
dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) >= 2),
hits AS (SELECT w.doc_id, w.i FROM wins w JOIN dup USING (h)),
isl AS (
  SELECT doc_id, i,
         CASE WHEN i - lag(i, 1, -1099511627776) OVER (
           PARTITION BY doc_id ORDER BY i) > {SUBSTR_L} THEN 1 ELSE 0 END AS nw
  FROM hits
),
isl2 AS (
  SELECT doc_id, i, sum(nw) OVER (PARTITION BY doc_id ORDER BY i) AS g
  FROM isl
),
spans AS (
  SELECT doc_id, g, min(i) AS s, max(i) + {SUBSTR_L} AS e
  FROM isl2 GROUP BY 1, 2
),
tokpos AS (
  SELECT doc_id, t[i] AS tok, i
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
        FROM toks WHERE len(t) > 0)
),
kept AS (
  SELECT tp.doc_id, tp.tok, tp.i
  FROM tokpos tp
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = tp.doc_id AND tp.i >= s.s AND tp.i < s.e
  )
),
rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text_dedup,
         count(*) AS n_kept
  FROM kept GROUP BY 1
)
SELECT tk.doc_id,
       coalesce(r.text_dedup, '') AS text_dedup,
       CAST(len(tk.t) - coalesce(r.n_kept, 0) AS BIGINT) AS removed_tokens
FROM toks tk LEFT JOIN rebuilt r USING (doc_id)
"""


def q48_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus dedup: docs with id >= 250 are the arriving
    batch, id < 250 the loaded corpus; survivors are batch docs whose
    content is new to BOTH the corpus and the batch (first id wins)."""
    d = read_testdata(spark, sf_dir, "documents")
    new_docs = d.filter(F.col("doc_id") >= 250)
    corpus = d.filter(F.col("doc_id") < 250)
    return D.incremental_exact_dedup(new_docs, corpus).select("doc_id", "lang", "source")


_Q48_SQL = """
WITH corpus AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 250),
new_docs AS (SELECT doc_id, lang, source, md5(text) AS h FROM documents WHERE doc_id >= 250),
survivors AS (
  SELECT n.* FROM new_docs n LEFT JOIN corpus c USING (h) WHERE c.h IS NULL
),
first_ids AS (SELECT h, min(doc_id) AS doc_id FROM survivors GROUP BY 1)
SELECT s.doc_id, s.lang, s.source
FROM survivors s JOIN first_ids f ON s.h = f.h AND s.doc_id = f.doc_id
"""


# --------------------------------------------------------------------------
# q128 — asymmetric n-gram containment pairs (quote/subset detection)
# --------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.8


def q128_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional near-dup: containment(A in B) = |A∩B|/|A| catches a
    short document quoted inside a longer one where Jaccard's union
    dilutes the score below any useful threshold."""
    return D.ngram_containment_pairs(
        read_testdata(spark, sf_dir, "documents"),
        n=NGRAM_N,
        threshold=CONTAINMENT_THRESHOLD,
    )


_Q128_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM toks),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
ov AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS ov
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id,
       {sql_round_half_up('ov * 1.0 / sa.n', 3)} AS cont_a_in_b,
       {sql_round_half_up('ov * 1.0 / sb.n', 3)} AS cont_b_in_a
FROM ov
JOIN sizes sa ON a_id = sa.doc_id
JOIN sizes sb ON b_id = sb.doc_id
WHERE ov * 1.0 / sa.n >= {CONTAINMENT_THRESHOLD}
   OR ov * 1.0 / sb.n >= {CONTAINMENT_THRESHOLD}
"""


# --------------------------------------------------------------------------
# q127 — incremental NEAR-dup dedup (batch vs corpus band index)
# --------------------------------------------------------------------------

INCR_SPLIT = 250  # doc_id < INCR_SPLIT plays the loaded corpus (as q48)


def q127_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q48's near-dup companion: arriving docs (id >= 250) survive
    only if no verified-Jaccard near-dup exists in the corpus
    (id < 250) or earlier in the batch. The whole MinHash chain —
    shingle hash, signature constants, band keys, exact verification
    — is replicated in the oracle, so the incremental accept/reject
    decision itself is under the gate. The corpus band index is built
    inline here; q176/q200 serve the same decision from a maintained
    one."""
    d = read_testdata(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") < INCR_SPLIT)
    survivors = D.incremental_neardup_dedup(
        d.filter(F.col("doc_id") >= INCR_SPLIT),
        corpus,
        D.minhash_band_table(
            corpus, n=NGRAM_N, num_hashes=MINHASH_NUM, bands=MINHASH_BANDS
        ),
        n=NGRAM_N,
        num_hashes=MINHASH_NUM,
        bands=MINHASH_BANDS,
        threshold=JACCARD_THRESHOLD,
    )
    return survivors.select("doc_id", "lang", "source")


def _q127_sql(num_hashes: int = MINHASH_NUM, bands: int = MINHASH_BANDS) -> str:
    p = D.MERSENNE31
    rows = num_hashes // bands
    mh_exprs = []
    for i in range(num_hashes):
        a, b = D.minhash_base_coeffs(i)
        mh_exprs.append(f"min(({a} * hm + {b}) % {p}) AS mh_{i}")
    band_rows = "\nUNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, CAST('0x' || substr(md5({cat}), 1, 15) AS BIGINT) AS band_key FROM sig".format(
            b=b, cat=" || ',' || ".join(f"mh_{b * rows + r}" for r in range(rows))
        )
        for b in range(bands)
    )
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh0 AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM toks),
sh AS (SELECT doc_id, {sql_md5_long("s")} AS h FROM sh0),
hm_t AS (SELECT doc_id, h, h % {p} AS hm FROM sh),
sig AS (SELECT doc_id, {", ".join(mh_exprs)} FROM hm_t GROUP BY doc_id),
bands_t AS ({band_rows}),
cands AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS other_id
  FROM bands_t n
  JOIN bands_t o ON n.band_idx = o.band_idx AND n.band_key = o.band_key
  WHERE n.doc_id >= {INCR_SPLIT}
    AND (o.doc_id < {INCR_SPLIT} OR (o.doc_id >= {INCR_SPLIT} AND o.doc_id < n.doc_id))
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
ov AS (
  SELECT c.new_id, c.other_id, count(*) AS ov
  FROM cands c
  JOIN sh a ON a.doc_id = c.new_id
  JOIN sh b ON b.doc_id = c.other_id AND a.h = b.h
  GROUP BY 1, 2
),
dropped AS (
  SELECT DISTINCT ov.new_id
  FROM ov
  JOIN sizes sa ON ov.new_id = sa.doc_id
  JOIN sizes sb ON ov.other_id = sb.doc_id
  WHERE ov.ov * 1.0 / (sa.n + sb.n - ov.ov) >= {JACCARD_THRESHOLD}
)
SELECT d.doc_id, d.lang, d.source
FROM documents d
WHERE d.doc_id >= {INCR_SPLIT}
  AND d.doc_id NOT IN (SELECT new_id FROM dropped)
"""


# --------------------------------------------------------------------------
# q176 — incremental near-dup against the MAINTAINED band index
# --------------------------------------------------------------------------


# 64 hashes / 16 bands (4-row bands, same candidate-probability curve
# family as q127's 128/32): q176 re-proves the MACHINERY (maintained
# index == batch decisions), and the half-width signature halves the
# gate's dominant cost — the 128-expression signature aggregate is a
# ~10 s codegen compile PER DISTINCT PLAN (ROUND_NOTES r8), and q176
# at 128/32 measured 24.0 s of the sf0.1 suite run.
MAINT_NEARDUP_HASHES, MAINT_NEARDUP_BANDS = 64, 16

def _band_index_writer(wh):
    from nyc_etl_pipeline_spark.streaming.sinks import band_index_maintainer

    return band_index_maintainer(
        wh, "band_index", n=NGRAM_N,
        num_hashes=MAINT_NEARDUP_HASHES, bands=MAINT_NEARDUP_BANDS,
    )


def _serve_band_index(wh, batch: DataFrame, corpus: DataFrame) -> DataFrame:
    survivors = D.incremental_neardup_dedup(
        batch,
        corpus_docs=corpus,
        corpus_index=wh.read("band_index"),
        n=NGRAM_N,
        num_hashes=MAINT_NEARDUP_HASHES,
        bands=MAINT_NEARDUP_BANDS,
        threshold=JACCARD_THRESHOLD,
    )
    return survivors.select("doc_id", "lang", "source")


def q176_maintained_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q127's decision, but the corpus band index comes from the
    STREAMING maintainer: the corpus (id < 250) arrives as two
    micro-batches through `band_index_maintainer` (one replayed, to
    pin exactly-once-by-idempotence inside the gate), and the arriving
    batch joins its bands against the STORED table via
    `incremental_neardup_dedup` — corpus text is touched only for
    candidate ids. Same full-chain oracle family as q127: the
    accept/reject decision must be byte-identical whichever way the
    index was built."""
    d = read_testdata(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") < INCR_SPLIT)
    batch = d.filter(F.col("doc_id") >= INCR_SPLIT)
    half = INCR_SPLIT // 2
    wh = grow(
        spark, sf_dir, "maintained_band", _band_index_writer,
        lambda b: corpus.filter(
            F.col("doc_id") < half if b == 0 else F.col("doc_id") >= half
        ),
        2,
    )
    return _serve_band_index(wh, batch, corpus)


# --------------------------------------------------------------------------
# q200 — band-index COMPACTION lifecycle: maintain -> compact ->
# continue maintaining -> replay -> serving decisions unchanged
# --------------------------------------------------------------------------
# q197 gates the mart's compaction lifecycle; the MinHash band index
# (q176's substrate) is the other maintained table that grows
# corpus-shaped at 100 TB and therefore the one most likely to need
# periodic small-file folding (VERDICT r11 item 4). Same interleave:
# batches, compact mid-history (must preserve the batch_id partition
# dirs the exactly-once replay contract rides on), more batches, then
# a replay of one post-compaction AND one pre-compaction batch — and
# the serving join against the compacted index must make decisions
# byte-identical to the never-compacted q176/q127 chain (same oracle).

BAND_LIFECYCLE_BATCHES = 4


def q200_band_compaction_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q176's incremental near-dup decision, but with a small-file
    compaction folded into the middle of the stored band index's batch
    history: maintain -> compact -> maintain -> replay, then serve."""
    d = read_testdata(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") < INCR_SPLIT)
    batch = d.filter(F.col("doc_id") >= INCR_SPLIT)
    nb = BAND_LIFECYCLE_BATCHES
    wh = grow(
        spark, sf_dir, "band_lifecycle", _band_index_writer,
        lambda b: corpus.filter(F.pmod(F.col("doc_id"), F.lit(nb)) == b),
        nb, compact_table="band_index",
    )
    return _serve_band_index(wh, batch, corpus)


# --------------------------------------------------------------------------
# q155 — feature hashing (hashing-trick vectorizer) bucket profile
# --------------------------------------------------------------------------

HASH_BUCKETS = 64


def q155_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick token vectorizer: every token maps to
    md5_long(token) % B — no vocabulary table, no fit step, bounded
    width, the standard way to featurize unbounded token streams at
    scale (collisions are the accepted trade). Gate output is the
    corpus bucket profile: per bucket, total token mass and document
    frequency — all integers, derivation shared with the oracle."""
    from nyc_etl_pipeline_spark.functions import md5_long
    from nyc_etl_pipeline_spark.operators.text import tokens as _tokens

    d = read_testdata(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("term")
    ).withColumn("bucket", F.pmod(md5_long("term"), F.lit(HASH_BUCKETS)))
    return tok.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("total_count"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct("term").alias("n_terms"),
    )


def _q155_sql() -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS}) AS term
  FROM documents WHERE trim(text) <> ''
),
b AS (
  SELECT doc_id, term, {sql_md5_long('term')} % {HASH_BUCKETS} AS bucket FROM tok
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS total_count,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT term) AS BIGINT) AS n_terms
FROM b GROUP BY bucket
"""


# --------------------------------------------------------------------------
# q160 — source-level content-overlap matrix (corpus composition)
# --------------------------------------------------------------------------

def q160_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise shingle-set Jaccard between SOURCES (not documents) —
    the corpus-composition report that tells a training-mix designer
    which sources are near-copies of each other before weighting them
    as if independent. Same inverted-index shape as q18 one level up:
    distinct (source, shingle) rows are the index; the self-join is
    over source-level sets so its output is |sources|^2-bounded."""
    d = read_testdata(spark, sf_dir, "documents")
    sh = D._shingle_table(d, "source", "text", NGRAM_N).distinct()
    sizes = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    a = sh.select(F.col("__id").alias("a_source"), "__sh")
    b = sh.select(F.col("__id").alias("b_source"), "__sh")
    ov = (
        a.join(b, "__sh")
        .filter(F.col("a_source") < F.col("b_source"))
        .groupBy("a_source", "b_source")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    sa = sizes.select(F.col("__id").alias("a_source"), F.col("__n").alias("__na"))
    sb = sizes.select(F.col("__id").alias("b_source"), F.col("__n").alias("__nb"))
    jac = F.col("overlap") / (F.col("__na") + F.col("__nb") - F.col("overlap"))
    return (
        ov.join(sa, "a_source")
        .join(sb, "b_source")
        .select("a_source", "b_source", "overlap", F.round(jac, 3).alias("jaccard"))
    )


_Q160_SQL = f"""
WITH toks AS (SELECT source, {_TOKS} AS t FROM documents),
sh AS (SELECT DISTINCT source, unnest({_SHINGLES}) AS s FROM toks),
sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
ov AS (
  SELECT a.source AS a_source, b.source AS b_source,
         CAST(count(*) AS BIGINT) AS overlap
  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
  GROUP BY 1, 2
)
SELECT a_source, b_source, overlap,
       floor((overlap * 1.0 / (sa.n + sb.n - overlap)) * 1000.0 + 0.5) / 1000.0 AS jaccard
FROM ov
JOIN sizes sa ON a_source = sa.source
JOIN sizes sb ON b_source = sb.source
"""


# --------------------------------------------------------------------------
# q141 — exact Jaccard pairs via LOSSLESS prefix filtering (ppjoin)
# --------------------------------------------------------------------------

# 0.6 keeps prefixes ~40% of each doc: measured 5.9 s (t=0.35) ->
# 4.8 s (t=0.6) best-of-2 at sf0.1. The residual cost is stage-count
# overhead on the 500-doc fixture (freq join + rank window + verify
# joins), NOT data volume - the prefix machinery pays at corpus scale
# (1M-doc probe: exact pairs in ~60 s, the same magnitude as
# approximate MinHash-LSH). Higher t also differentiates this gate
# from q18's t=0.5 output.
PREFIX_JACCARD_THRESHOLD = 0.6


def q141_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same exact-output contract as q18 at a lower threshold; the
    oracle is the NAIVE full inverted-index SQL — hash equality proves
    the prefix filter drops no qualifying pair (lossless, unlike q47's
    max_doc_freq recall trade)."""
    return D.jaccard_prefix_filter_pairs(
        read_testdata(spark, sf_dir, "documents"),
        n=NGRAM_N,
        threshold=PREFIX_JACCARD_THRESHOLD,
    )


_Q141_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM toks),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
ov AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS ov
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id,
       floor((ov * 1.0 / (sa.n + sb.n - ov)) * 1000.0 + 0.5) / 1000.0 AS jaccard
FROM ov
JOIN sizes sa ON a_id = sa.doc_id
JOIN sizes sb ON b_id = sb.doc_id
WHERE ov * 1.0 / (sa.n + sb.n - ov) >= {PREFIX_JACCARD_THRESHOLD}
"""


# --------------------------------------------------------------------------
# q184/q185 — model-eval metrics: rank-statistic ROC-AUC + calibration
# --------------------------------------------------------------------------

CALIB_BINS = 10


def q184_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ROC-AUC of the stopword-ratio score against the
    'is English' label — the Mann-Whitney rank identity with exact
    average-rank tie handling (the 4-dp-rounded score guarantees ties,
    so the tie path is under the gate, not just the happy path).
    English stopword counting genuinely separates the classes, so the
    AUCs are non-vacuous."""
    from nyc_etl_pipeline_spark.operators.evalmetrics import roc_auc

    docs = read_testdata(spark, sf_dir, "documents")
    scored = q19_text_quality(spark, sf_dir).select("doc_id", "stopword_ratio")
    base = docs.select(
        "doc_id", "source", (F.col("lang") == "en").cast("int").alias("y")
    ).join(scored, "doc_id")
    return roc_auc(base, "stopword_ratio", "y", ["source"])


_Q184_SQL = f"""
WITH q19 AS ({_Q19_SQL}),
s AS (
  SELECT d.source, q.stopword_ratio AS sc,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM q19 q JOIN documents d USING (doc_id)
),
r AS (
  SELECT source, y,
         rank() OVER (PARTITION BY source ORDER BY sc ASC) AS rmin,
         count(*) OVER (PARTITION BY source, sc) AS tie
  FROM s
),
agg AS (
  SELECT source, sum(y) AS n_pos, count(*) - sum(y) AS n_neg,
         sum(CASE WHEN y = 1 THEN 2 * rmin + tie - 1 ELSE 0 END) AS s2
  FROM r GROUP BY 1
)
SELECT source,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_neg AS BIGINT) AS n_neg,
       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         {sql_round_half_up('(s2 - n_pos * (n_pos + 1)) / (2.0 * n_pos * n_neg)', 6)}
       ELSE NULL END AS auc
FROM agg
"""


def q201_roc_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ROC curve q184 integrates: per-source (threshold, tpr, fpr)
    points of the stopword-ratio score against the 'is English' label,
    one row per distinct score descending — ties enter an operating
    point together, so the point set is exact for any tie structure
    and the step-curve area equals q184's tie-averaged AUC. Cumulative
    TP/N ride one desc window over DISTINCT scores per source
    (resolution-bounded, the roc_auc skew contract); the only float
    ops are the two final divisions by per-source totals."""
    from nyc_etl_pipeline_spark.operators.evalmetrics import roc_curve

    docs = read_testdata(spark, sf_dir, "documents")
    scored = q19_text_quality(spark, sf_dir).select("doc_id", "stopword_ratio")
    base = docs.select(
        "doc_id", "source", (F.col("lang") == "en").cast("int").alias("y")
    ).join(scored, "doc_id")
    return roc_curve(base, "stopword_ratio", "y", ["source"])


_Q201_SQL = f"""
WITH q19 AS ({_Q19_SQL}),
s AS (
  SELECT d.source, q.stopword_ratio AS sc,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM q19 q JOIN documents d USING (doc_id)
),
per AS (
  SELECT source, sc, count(*) AS tie, sum(y) AS pos FROM s GROUP BY 1, 2
),
cum AS (
  SELECT source, sc,
         sum(tie) OVER (PARTITION BY source ORDER BY sc DESC) AS cn,
         sum(pos) OVER (PARTITION BY source ORDER BY sc DESC) AS cp
  FROM per
),
tot AS (
  SELECT source, sum(pos) AS n_pos, sum(tie) - sum(pos) AS n_neg
  FROM per GROUP BY 1
)
SELECT c.source, c.sc AS score,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_neg AS BIGINT) AS n_neg,
       CASE WHEN n_pos > 0 THEN
         {sql_round_half_up('CAST(cp AS DOUBLE) / n_pos', 6)}
       ELSE NULL END AS tpr,
       CASE WHEN n_neg > 0 THEN
         {sql_round_half_up('CAST(cn - cp AS DOUBLE) / n_neg', 6)}
       ELSE NULL END AS fpr
FROM cum c JOIN tot USING (source)
"""


def q185_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins + ECE for the heuristic quality score
    read as P(is English): per fixed-width bin, exact counts, decimal-
    accumulated mean confidence, empirical accuracy, and the weighted
    |acc - conf| gap."""
    from nyc_etl_pipeline_spark.operators.evalmetrics import calibration_report

    docs = read_testdata(spark, sf_dir, "documents")
    scored = q19_text_quality(spark, sf_dir).select("doc_id", "quality_score")
    base = docs.select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("y")
    ).join(scored, "doc_id")
    return calibration_report(base, "quality_score", "y", n_bins=CALIB_BINS)


_Q185_SQL = f"""
WITH q19 AS ({_Q19_SQL}),
s AS (
  SELECT q.quality_score AS sc,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM q19 q JOIN documents d USING (doc_id)
),
per_bin AS (
  SELECT least(CAST(floor(sc * {CALIB_BINS}) AS INT), {CALIB_BINS - 1}) AS bin,
         count(*) AS n,
         CAST(sum(CAST(sc AS DECIMAL(28,6))) AS DOUBLE) AS s_sum,
         sum(y) AS n_pos
  FROM s GROUP BY 1
),
fin AS (
  SELECT bin, n, s_sum / n AS conf, n_pos / n AS acc FROM per_bin
),
totals AS (
  SELECT sum(n) AS big_n,
         CAST(sum(CAST(n * abs(acc - conf) AS DECIMAL(28,6))) AS DOUBLE) AS gap
  FROM fin
)
SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
       {sql_round_half_up('conf', 6)} AS conf,
       {sql_round_half_up('acc', 6)} AS acc,
       {sql_round_half_up('gap / big_n', 6)} AS ece
FROM fin CROSS JOIN totals
"""


def q189_grouped_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q185's reliability diagram PER SOURCE (per-domain calibration —
    the drift question 'is the quality scorer calibrated on every
    domain, not just on average'): each source gets its own bins,
    total, and ECE. Pure hash aggregates on (source, bin) and source —
    no windows, so no per-group skew cliff."""
    from nyc_etl_pipeline_spark.operators.evalmetrics import calibration_report

    docs = read_testdata(spark, sf_dir, "documents")
    scored = q19_text_quality(spark, sf_dir).select("doc_id", "quality_score")
    base = docs.select(
        "doc_id", "source", (F.col("lang") == "en").cast("int").alias("y")
    ).join(scored, "doc_id")
    return calibration_report(
        base, "quality_score", "y", n_bins=CALIB_BINS, group_cols=["source"]
    )


_Q189_SQL = f"""
WITH q19 AS ({_Q19_SQL}),
s AS (
  SELECT d.source, q.quality_score AS sc,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM q19 q JOIN documents d USING (doc_id)
),
per_bin AS (
  SELECT source,
         least(CAST(floor(sc * {CALIB_BINS}) AS INT), {CALIB_BINS - 1}) AS bin,
         count(*) AS n,
         CAST(sum(CAST(sc AS DECIMAL(28,6))) AS DOUBLE) AS s_sum,
         sum(y) AS n_pos
  FROM s GROUP BY 1, 2
),
fin AS (
  SELECT source, bin, n, s_sum / n AS conf, n_pos / n AS acc FROM per_bin
),
totals AS (
  SELECT source, sum(n) AS big_n,
         CAST(sum(CAST(n * abs(acc - conf) AS DECIMAL(28,6))) AS DOUBLE) AS gap
  FROM fin GROUP BY 1
)
SELECT f.source, CAST(f.bin AS BIGINT) AS bin, CAST(f.n AS BIGINT) AS n,
       {sql_round_half_up('f.conf', 6)} AS conf,
       {sql_round_half_up('f.acc', 6)} AS acc,
       {sql_round_half_up('t.gap / t.big_n', 6)} AS ece
FROM fin f JOIN totals t USING (source)
"""


_TOPK_KS = [5, 25, 250]


def q202_topk_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-of-ranking calibration per source: at each top-k cutoff of
    the quality score (at-least-k semantics — the boundary tie group
    enters whole), mean confidence vs empirical precision against the
    'is English' label — the over-confidence q189's fixed-width bins
    average away in exactly the slice a selection pipeline keeps.
    Cumulative rows/positives/decimal score mass ride one desc window
    over DISTINCT scores per source (resolution-bounded, the roc_auc
    skew contract); the k list is a broadcast literal relation and
    the only float ops are the final per-(source, k) divisions."""
    from nyc_etl_pipeline_spark.operators.evalmetrics import topk_calibration

    docs = read_testdata(spark, sf_dir, "documents")
    scored = q19_text_quality(spark, sf_dir).select("doc_id", "quality_score")
    base = docs.select(
        "doc_id", "source", (F.col("lang") == "en").cast("int").alias("y")
    ).join(scored, "doc_id")
    return topk_calibration(
        base, "quality_score", "y", ks=_TOPK_KS, group_cols=["source"]
    )


_Q202_SQL = f"""
WITH q19 AS ({_Q19_SQL}),
s AS (
  SELECT d.source, q.quality_score AS sc,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM q19 q JOIN documents d USING (doc_id)
  WHERE q.quality_score IS NOT NULL
),
per AS (
  SELECT source, sc, count(*) AS tie, sum(y) AS pos,
         sum(CAST(sc AS DECIMAL(28,6))) AS mass
  FROM s GROUP BY 1, 2
),
cum AS (
  SELECT source, sc,
         sum(tie) OVER w AS cn,
         sum(pos) OVER w AS cp,
         sum(mass) OVER w AS cs
  FROM per
  WINDOW w AS (PARTITION BY source ORDER BY sc DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
ks AS (SELECT * FROM (VALUES {", ".join(f"({k})" for k in _TOPK_KS)}) t(k)),
sel AS (
  SELECT source, k,
         arg_min(sc, cn) AS threshold,
         min(cn) AS n,
         arg_min(cp, cn) AS cp,
         arg_min(cs, cn) AS cs
  FROM cum CROSS JOIN ks
  WHERE cn >= k
  GROUP BY 1, 2
)
SELECT source, CAST(k AS BIGINT) AS k, threshold,
       CAST(n AS BIGINT) AS n, CAST(cp AS BIGINT) AS n_pos,
       {sql_round_half_up('CAST(cs AS DOUBLE) / n', 6)} AS conf,
       {sql_round_half_up('CAST(cp AS DOUBLE) / n', 6)} AS precision,
       {sql_round_half_up('CAST(cs AS DOUBLE) / n - CAST(cp AS DOUBLE) / n', 6)} AS gap
FROM sel
"""


# --------------------------------------------------------------------------
# q203/q204 — multiclass confusion summary + Cohen's kappa
# --------------------------------------------------------------------------
# The multiclass half of the eval family: q184/q193/q201/q202 score a
# RANKER; these score an argmax CLASSIFIER. The heuristic lang-id
# (q20) against the declared language is a genuine multiclass problem
# with real confusions (short docs fall to 'und'), grouped by source.


def q203_multiclass_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, class) confusion summary of the marker-count
    lang-id against the declared language: support, predicted count,
    true positives, precision/recall/F1 over the UNION of observed
    true and predicted classes — 'und' appears as a predicted-only
    class (precision hole) wherever no doc declares it. All counts
    ride one (source, label, pred) hash aggregate (<= K^2 rows per
    source); F1 is the 2*tp/(n_true+n_pred) identity, defined on the
    whole union set."""
    from nyc_etl_pipeline_spark.operators.evalmetrics import multiclass_eval

    docs = read_testdata(spark, sf_dir, "documents")
    pred = q20_lang_id(spark, sf_dir)
    base = docs.select("doc_id", "source").join(pred, "doc_id")
    return multiclass_eval(base, "lang_pred", "lang_declared", ["source"])


_Q203_SQL = f"""
WITH lp AS ({{lang_id_sql}}),
s AS (
  SELECT d.source, lp.lang_declared AS t, lp.lang_pred AS p
  FROM lp JOIN documents d USING (doc_id)
),
cells AS (SELECT source, t, p, count(*) AS n FROM s GROUP BY 1, 2, 3),
by_true AS (
  SELECT source, t AS class, sum(n) AS n_true,
         coalesce(sum(CASE WHEN p = t THEN n END), 0) AS tp
  FROM cells GROUP BY 1, 2
),
by_pred AS (
  SELECT source, p AS class, sum(n) AS n_pred FROM cells GROUP BY 1, 2
),
j AS (
  SELECT coalesce(bt.source, bp.source) AS source,
         coalesce(bt.class, bp.class) AS class,
         coalesce(bt.n_true, 0) AS n_true,
         coalesce(bp.n_pred, 0) AS n_pred,
         coalesce(bt.tp, 0) AS tp
  FROM by_true bt
  FULL OUTER JOIN by_pred bp
    ON bt.source = bp.source AND bt.class = bp.class
)
SELECT source, class,
       CAST(n_true AS BIGINT) AS n_true,
       CAST(n_pred AS BIGINT) AS n_pred,
       CAST(tp AS BIGINT) AS tp,
       CASE WHEN n_pred > 0 THEN
         {sql_round_half_up('tp * 1.0 / n_pred', 6)} END AS precision,
       CASE WHEN n_true > 0 THEN
         {sql_round_half_up('tp * 1.0 / n_true', 6)} END AS recall,
       {sql_round_half_up('tp * 2.0 / (n_true + n_pred)', 6)} AS f1
FROM j
"""


def q204_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Cohen's kappa between the lang-id prediction and the
    declared language — chance-corrected agreement, the honesty check
    on q203's raw accuracy (a majority-class guesser scores high po
    but kappa ~0). Integer-identity form: kappa =
    (n*agree - sum_c na_c*nb_c) / (n^2 - sum_c na_c*nb_c), marginal
    products in decimal(38,0) so the identity survives group sizes
    past bigint's ~3e9-row product wrap."""
    from nyc_etl_pipeline_spark.operators.evalmetrics import cohen_kappa

    docs = read_testdata(spark, sf_dir, "documents")
    pred = q20_lang_id(spark, sf_dir)
    base = docs.select("doc_id", "source").join(pred, "doc_id")
    return cohen_kappa(base, "lang_pred", "lang_declared", ["source"])


_Q204_SQL = f"""
WITH lp AS ({{lang_id_sql}}),
s AS (
  SELECT d.source, lp.lang_pred AS a, lp.lang_declared AS b
  FROM lp JOIN documents d USING (doc_id)
),
tot AS (
  SELECT source, count(*) AS n,
         sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree
  FROM s GROUP BY 1
),
ma AS (SELECT source, a AS c, count(*) AS na FROM s GROUP BY 1, 2),
mb AS (SELECT source, b AS c, count(*) AS nb FROM s GROUP BY 1, 2),
pe AS (
  SELECT source, sum(CAST(na AS DECIMAL(19,0)) * CAST(nb AS DECIMAL(19,0))) AS pe_num
  FROM ma JOIN mb USING (source, c) GROUP BY 1
),
fin AS (
  SELECT t.source, t.n, t.agree,
         coalesce(p.pe_num, CAST(0 AS DECIMAL(38,0))) AS pe_num
  FROM tot t LEFT JOIN pe p USING (source)
)
SELECT source, CAST(n AS BIGINT) AS n,
       {sql_round_half_up('agree * 1.0 / n', 6)} AS po,
       {sql_round_half_up('CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))', 6)} AS pe,
       CASE WHEN CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)) - pe_num <> 0 THEN
         {sql_round_half_up('CAST(CAST(n AS DECIMAL(19,0)) * CAST(agree AS DECIMAL(19,0)) - pe_num AS DOUBLE) / CAST(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)) - pe_num AS DOUBLE)', 6)}
       END AS kappa
FROM fin
"""


def _q203_sql() -> str:
    # .replace, not .format — the spliced lang-id SQL carries braces
    return _Q203_SQL.replace("{lang_id_sql}", _lang_id_sql())


def _q204_sql() -> str:
    return _Q204_SQL.replace("{lang_id_sql}", _lang_id_sql())


# --------------------------------------------------------------------------
# q193 — average precision (step-interpolated PR-AUC) per source
# --------------------------------------------------------------------------
# The imbalanced-class companion of q184: same (stopword-ratio score,
# is-English label, per-source) base, but the metric that moves when
# positives are rare. The 4-dp-rounded score guarantees tie GROUPS,
# so the one-step-per-distinct-score convention (not a within-tie
# order) is what the oracle replicates; the term sum is a score-DESC
# ordered fold mirrored by list_reduce on both sides.


def q193_avg_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source average precision of the stopword-ratio score
    against the 'is English' label — Σ pos(s)·cumTP(s)/cumN(s) over
    distinct scores descending, normalized by n_pos (see
    operators/evalmetrics.average_precision)."""
    from nyc_etl_pipeline_spark.operators.evalmetrics import average_precision

    docs = read_testdata(spark, sf_dir, "documents")
    scored = q19_text_quality(spark, sf_dir).select("doc_id", "stopword_ratio")
    base = docs.select(
        "doc_id", "source", (F.col("lang") == "en").cast("int").alias("y")
    ).join(scored, "doc_id")
    return average_precision(base, "stopword_ratio", "y", ["source"])


_Q193_SQL = f"""
WITH q19 AS ({_Q19_SQL}),
s AS (
  SELECT d.source, q.stopword_ratio AS sc,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM q19 q JOIN documents d USING (doc_id)
),
per AS (
  SELECT source, sc, count(*) AS t, sum(y) AS p
  FROM s GROUP BY 1, 2
),
c AS (
  SELECT source, sc, t, p,
         sum(t) OVER (PARTITION BY source ORDER BY sc DESC) AS cn,
         sum(p) OVER (PARTITION BY source ORDER BY sc DESC) AS cp
  FROM per
),
folds AS (
  SELECT source,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(CAST(p * cp AS DOUBLE) / CAST(cn AS DOUBLE) ORDER BY sc DESC)),
           (acc, x) -> acc + x) AS apsum
  FROM c WHERE p > 0 GROUP BY 1
),
totals AS (
  SELECT source, CAST(sum(p) AS BIGINT) AS n_pos,
         CAST(sum(t) - sum(p) AS BIGINT) AS n_neg
  FROM per GROUP BY 1
)
SELECT t.source, t.n_pos, t.n_neg,
       CASE WHEN t.n_pos > 0 THEN
         {sql_round_half_up('f.apsum / t.n_pos', 6)}
       ELSE NULL END AS ap
FROM totals t LEFT JOIN folds f USING (source)
"""


# --------------------------------------------------------------------------
# q194 — Spearman rank agreement between two quality signals, per source
# --------------------------------------------------------------------------
# The "do my quality scorers agree on the ORDER" question a curation
# pipeline asks before swapping one signal for a cheaper one. Both
# scores are 4-dp-rounded, so ties are guaranteed and the
# average-rank doubling path is under the gate.


def q206_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Kendall tau-b between the composite quality score
    and the raw stopword ratio — the pairwise-concordance companion
    of q194's Spearman over the same base. The operator is the
    distributed Knight decomposition (cell collapse -> x-range-bucket
    -> cross-bucket dominance from one cumulative pass + within-bucket
    Fenwick kernels); the oracle is the definitional pairwise join
    over distinct cells, tractable at oracle scale only. Concordant/
    discordant counts are gated as exact integers (bigint here; the
    operator carries decimal(38,0) for 100 TB group sizes), tau as the
    one float combination."""
    from nyc_etl_pipeline_spark.operators.evalmetrics import kendall_tau

    docs = read_testdata(spark, sf_dir, "documents")
    scored = q19_text_quality(spark, sf_dir).select(
        "doc_id", "quality_score", "stopword_ratio"
    )
    base = docs.select("doc_id", "source").join(scored, "doc_id")
    out = kendall_tau(base, "quality_score", "stopword_ratio", ["source"])
    return out.select(
        "source",
        "n",
        F.col("concordant").cast("bigint").alias("concordant"),
        F.col("discordant").cast("bigint").alias("discordant"),
        "tau",
    )


_Q206_SQL = f"""
WITH q19 AS ({{q19_sql}}),
s AS (
  SELECT d.source, q.quality_score AS x, q.stopword_ratio AS y
  FROM q19 q JOIN documents d USING (doc_id)
),
cells AS (SELECT source, x, y, count(*) AS n FROM s GROUP BY 1, 2, 3),
cd AS (
  SELECT a.source,
         coalesce(sum(CASE WHEN a.y < b.y
           THEN CAST(a.n AS DECIMAL(19,0)) * CAST(b.n AS DECIMAL(19,0)) END), 0) AS c,
         coalesce(sum(CASE WHEN a.y > b.y
           THEN CAST(a.n AS DECIMAL(19,0)) * CAST(b.n AS DECIMAL(19,0)) END), 0) AS d
  FROM cells a JOIN cells b ON a.source = b.source AND a.x < b.x
  GROUP BY 1
),
mx AS (SELECT source, x, sum(n) AS t FROM cells GROUP BY 1, 2),
my AS (SELECT source, y, sum(n) AS t FROM cells GROUP BY 1, 2),
ties AS (
  SELECT tot.source, tot.n,
         (CAST(tot.n AS DECIMAL(19,0)) * (tot.n - 1)) / 2 AS n0,
         tx.t_x, ty.t_y
  FROM (SELECT source, sum(n) AS n FROM cells GROUP BY 1) tot
  JOIN (SELECT source, sum((CAST(t AS DECIMAL(19,0)) * (t - 1)) / 2) AS t_x
        FROM mx GROUP BY 1) tx USING (source)
  JOIN (SELECT source, sum((CAST(t AS DECIMAL(19,0)) * (t - 1)) / 2) AS t_y
        FROM my GROUP BY 1) ty USING (source)
)
SELECT t.source, CAST(t.n AS BIGINT) AS n,
       CAST(coalesce(cd.c, 0) AS BIGINT) AS concordant,
       CAST(coalesce(cd.d, 0) AS BIGINT) AS discordant,
       CASE WHEN t.n0 - t.t_x > 0 AND t.n0 - t.t_y > 0 THEN
         {sql_round_half_up('CAST(coalesce(cd.c, 0) - coalesce(cd.d, 0) AS DOUBLE) / sqrt(CAST(t.n0 - t.t_x AS DOUBLE) * CAST(t.n0 - t.t_y AS DOUBLE))', 6)}
       END AS tau
FROM ties t LEFT JOIN cd USING (source)
"""


def _q206_sql() -> str:
    return _Q206_SQL.replace("{q19_sql}", _Q19_SQL)


def q194_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Spearman rho between the composite quality score
    and the raw stopword ratio (evalmetrics.spearman_corr: exact
    integer rank moments, one float combination at the end)."""
    from nyc_etl_pipeline_spark.operators.evalmetrics import spearman_corr

    docs = read_testdata(spark, sf_dir, "documents")
    scored = q19_text_quality(spark, sf_dir).select(
        "doc_id", "quality_score", "stopword_ratio"
    )
    base = docs.select("doc_id", "source").join(scored, "doc_id")
    return spearman_corr(base, "quality_score", "stopword_ratio", ["source"])


_Q194_SQL = f"""
WITH q19 AS ({_Q19_SQL}),
s AS (
  SELECT d.source, q.quality_score AS x, q.stopword_ratio AS y
  FROM q19 q JOIN documents d USING (doc_id)
),
mx AS (SELECT source, x, count(*) AS t FROM s GROUP BY 1, 2),
rx AS (
  SELECT source, x,
         2 * sum(t) OVER (PARTITION BY source ORDER BY x) - t + 1 AS r2x
  FROM mx
),
my AS (SELECT source, y, count(*) AS t FROM s GROUP BY 1, 2),
ry AS (
  SELECT source, y,
         2 * sum(t) OVER (PARTITION BY source ORDER BY y) - t + 1 AS r2y
  FROM my
),
j AS (SELECT source, x, y, count(*) AS c FROM s GROUP BY 1, 2, 3),
k AS (
  SELECT j.source, j.c, rx.r2x, ry.r2y
  FROM j JOIN rx USING (source, x) JOIN ry USING (source, y)
),
a AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(c * r2x) AS DOUBLE) AS sx,
         CAST(sum(c * r2y) AS DOUBLE) AS sy,
         CAST(sum(c * r2x * r2x) AS DOUBLE) AS sxx,
         CAST(sum(c * r2y * r2y) AS DOUBLE) AS syy,
         CAST(sum(c * r2x * r2y) AS DOUBLE) AS sxy
  FROM k GROUP BY 1
)
SELECT source, n,
       CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx) > 0
             AND (CAST(n AS DOUBLE) * syy - sy * sy) > 0 THEN
         {sql_round_half_up(
             '(CAST(n AS DOUBLE) * sxy - sx * sy) / '
             '(sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) * '
             'sqrt(CAST(n AS DOUBLE) * syy - sy * sy))', 6)}
       ELSE NULL END AS rho
FROM a
"""


# --------------------------------------------------------------------------
# q196 — GLOBAL ROC-AUC through the two-pass range-bucketed rank
# --------------------------------------------------------------------------
# q184 gates the grouped windows; this gates the UNGROUPED path — the
# approxQuantile-bucketed two-pass global rank (the 100 TB-exact form,
# and the code path the r10 probe found mis-binding on cached inputs).
# The rank identity is partitioning-invariant, so the oracle is the
# plain global Mann-Whitney SQL: any bucket-boundary choice must
# produce the identical bigint rank sums.


def q196_global_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide ROC-AUC of the stopword-ratio score against the
    'is English' label via evalmetrics.roc_auc's two-pass bucketed
    global rank (group_cols=None) — exact average-rank tie handling,
    never a single-partition window."""
    from nyc_etl_pipeline_spark.operators.evalmetrics import roc_auc

    docs = read_testdata(spark, sf_dir, "documents")
    scored = q19_text_quality(spark, sf_dir).select("doc_id", "stopword_ratio")
    base = docs.select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("y")
    ).join(scored, "doc_id")
    return roc_auc(base, "stopword_ratio", "y")


_Q196_SQL = f"""
WITH q19 AS ({_Q19_SQL}),
s AS (
  SELECT q.stopword_ratio AS sc,
         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
  FROM q19 q JOIN documents d USING (doc_id)
),
r AS (
  SELECT y,
         rank() OVER (ORDER BY sc ASC) AS rmin,
         count(*) OVER (PARTITION BY sc) AS tie
  FROM s
),
agg AS (
  SELECT sum(y) AS n_pos, count(*) - sum(y) AS n_neg,
         sum(CASE WHEN y = 1 THEN 2 * rmin + tie - 1 ELSE 0 END) AS s2
  FROM r
)
SELECT CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_neg AS BIGINT) AS n_neg,
       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         {sql_round_half_up('(s2 - n_pos * (n_pos + 1)) / (2.0 * n_pos * n_neg)', 6)}
       ELSE NULL END AS auc
FROM agg
"""


RETR_EVAL_K = 10


def q186_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR / recall@k / nDCG@k of the per-source quality-score ranking
    against 'is English' ground truth — the ranked-retrieval eval
    harness (evalmetrics.retrieval_eval) under the gate with a ranking
    every engine can reproduce: row_number over (rounded quality desc,
    doc_id)."""
    from pyspark.sql import Window as W

    from nyc_etl_pipeline_spark.operators.evalmetrics import retrieval_eval

    docs = read_testdata(spark, sf_dir, "documents")
    scored = q19_text_quality(spark, sf_dir).select("doc_id", "quality_score")
    base = docs.select("doc_id", "source", "lang").join(scored, "doc_id")
    w = W.partitionBy("source").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    ranked = base.select(
        F.col("source").alias("query_id"),
        "doc_id",
        F.row_number().over(w).alias("rank"),
    )
    relevant = base.filter(F.col("lang") == "en").select(
        F.col("source").alias("query_id"), "doc_id"
    )
    return retrieval_eval(ranked, relevant, k=RETR_EVAL_K)


def _q186_sql() -> str:
    dcg = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list(CAST(1.0 / log2(rank + 1.0) AS DOUBLE) ORDER BY rank)), "
        "(acc, x) -> acc + x)"
    )
    idcg = (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, least(n_rel, {RETR_EVAL_K}) + 1), "
        f"i -> CAST(1.0 / log2(i + 1.0) AS DOUBLE))), (acc, x) -> acc + x)"
    )
    return f"""
WITH q19 AS ({_Q19_SQL}),
base AS (
  SELECT d.doc_id, d.source, d.lang, q.quality_score
  FROM q19 q JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT source AS query_id, doc_id,
         row_number() OVER (
           PARTITION BY source ORDER BY quality_score DESC, doc_id ASC
         ) AS rank
  FROM base
),
relevant AS (
  SELECT source AS query_id, doc_id FROM base WHERE lang = 'en'
),
rel_n AS (SELECT query_id, count(*) AS n_rel FROM relevant GROUP BY 1),
hits AS (
  SELECT r.query_id, count(*) AS hits_at_k, min(rank) AS first_rank,
         {dcg} AS dcg
  FROM ranked r JOIN relevant USING (query_id, doc_id)
  WHERE rank <= {RETR_EVAL_K}
  GROUP BY 1
),
qs AS (SELECT DISTINCT query_id FROM ranked)
SELECT qs.query_id,
       CAST(coalesce(n_rel, 0) AS BIGINT) AS n_rel,
       CAST(coalesce(hits_at_k, 0) AS BIGINT) AS hits_at_k,
       floor((CASE WHEN first_rank IS NOT NULL THEN 1.0 / first_rank ELSE 0.0 END)
             * 1000000.0 + 0.5) / 1000000.0 AS mrr,
       CASE WHEN coalesce(n_rel, 0) > 0 THEN
         floor((coalesce(hits_at_k, 0) / n_rel) * 1000000.0 + 0.5) / 1000000.0
       ELSE NULL END AS recall_at_k,
       CASE WHEN coalesce(n_rel, 0) > 0 THEN
         floor((coalesce(dcg, 0.0) / ({idcg})) * 1000000.0 + 0.5) / 1000000.0
       ELSE NULL END AS ndcg_at_k
FROM qs
LEFT JOIN rel_n USING (query_id)
LEFT JOIN hits USING (query_id)
"""


# --------------------------------------------------------------------------
# q198 — graded-relevance nDCG (VERDICT r10 stretch): q186's harness
# with a 3-level gain (en = 2, de = 1, everything else 0 — judged but
# irrelevant, exercising the gain > 0 truth filter). DCG weights each
# top-k hit by its gain; IDCG is the gain-DESC ideal ordering. MRR and
# recall stay binary over gain > 0 rows.
# --------------------------------------------------------------------------


def q198_graded_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded nDCG@k / MRR / recall@k of the per-source quality-score
    ranking against a 3-level language-based gain
    (evalmetrics.retrieval_eval_graded)."""
    from pyspark.sql import Window as W

    from nyc_etl_pipeline_spark.operators.evalmetrics import (
        retrieval_eval_graded,
    )

    docs = read_testdata(spark, sf_dir, "documents")
    scored = q19_text_quality(spark, sf_dir).select("doc_id", "quality_score")
    base = docs.select("doc_id", "source", "lang").join(scored, "doc_id")
    w = W.partitionBy("source").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    ranked = base.select(
        F.col("source").alias("query_id"),
        "doc_id",
        F.row_number().over(w).alias("rank"),
    )
    relevant = base.select(
        F.col("source").alias("query_id"),
        "doc_id",
        F.when(F.col("lang") == "en", 2.0)
        .when(F.col("lang") == "de", 1.0)
        .otherwise(0.0)
        .alias("gain"),
    )
    return retrieval_eval_graded(ranked, relevant, k=RETR_EVAL_K)


def _q198_sql() -> str:
    gain = "CASE WHEN lang = 'en' THEN 2.0 WHEN lang = 'de' THEN 1.0 ELSE 0.0 END"
    dcg = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list(CAST(gain / log2(rank + 1.0) AS DOUBLE) ORDER BY rank)), "
        "(acc, x) -> acc + x)"
    )
    idcg = (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, least(n_rel, {RETR_EVAL_K}) + 1), "
        f"i -> CAST(gains[i] / log2(i + 1.0) AS DOUBLE))), (acc, x) -> acc + x)"
    )
    return f"""
WITH q19 AS ({_Q19_SQL}),
base AS (
  SELECT d.doc_id, d.source, d.lang, q.quality_score
  FROM q19 q JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT source AS query_id, doc_id,
         row_number() OVER (
           PARTITION BY source ORDER BY quality_score DESC, doc_id ASC
         ) AS rank
  FROM base
),
relevant AS (
  SELECT source AS query_id, doc_id, CAST({gain} AS DOUBLE) AS gain
  FROM base
  WHERE {gain} > 0
),
rel_n AS (
  SELECT query_id, count(*) AS n_rel,
         list(CAST(gain AS DOUBLE) ORDER BY gain DESC) AS gains
  FROM relevant GROUP BY 1
),
hits AS (
  SELECT r.query_id, count(*) AS hits_at_k, min(rank) AS first_rank,
         {dcg} AS dcg
  FROM ranked r JOIN relevant v USING (query_id, doc_id)
  WHERE rank <= {RETR_EVAL_K}
  GROUP BY 1
),
qs AS (SELECT DISTINCT query_id FROM ranked)
SELECT qs.query_id,
       CAST(coalesce(n_rel, 0) AS BIGINT) AS n_rel,
       CAST(coalesce(hits_at_k, 0) AS BIGINT) AS hits_at_k,
       floor((CASE WHEN first_rank IS NOT NULL THEN 1.0 / first_rank ELSE 0.0 END)
             * 1000000.0 + 0.5) / 1000000.0 AS mrr,
       CASE WHEN coalesce(n_rel, 0) > 0 THEN
         floor((coalesce(hits_at_k, 0) / n_rel) * 1000000.0 + 0.5) / 1000000.0
       ELSE NULL END AS recall_at_k,
       CASE WHEN coalesce(n_rel, 0) > 0 THEN
         floor((coalesce(dcg, 0.0) / ({idcg})) * 1000000.0 + 0.5) / 1000000.0
       ELSE NULL END AS ndcg_at_k
FROM qs
LEFT JOIN rel_n USING (query_id)
LEFT JOIN hits USING (query_id)
"""


SPECS = [
    QuerySpec("q17_exact_dedup", q17_exact_dedup, _Q17_SQL,
              "exact dedup via md5 digest group-by"),
    QuerySpec("q18_ngram_jaccard_pairs", q18_ngram_jaccard_pairs, _Q18_SQL,
              "exact n-gram Jaccard near-dup pairs (inverted shingle index)"),
    QuerySpec("q19_text_quality", q19_text_quality, _Q19_SQL,
              "text quality features + score"),
    QuerySpec("q20_lang_id", q20_lang_id, _lang_id_sql(),
              "marker-based language ID"),
    QuerySpec("q21_doc_fingerprint", q21_doc_fingerprint, _Q21_SQL,
              "rolling-hash + md5 fingerprints"),
    QuerySpec("q22_multimodal_bytes", q22_multimodal_bytes, _Q22_SQL,
              "binary column plumbing: byte length + sha256"),
    QuerySpec("q47_ngram_jaccard_capped", q47_ngram_jaccard_capped, _Q47_SQL,
              "hot-shingle-capped Jaccard (the web-scale configuration, oracle-gated)"),
    QuerySpec("q48_incremental_dedup", q48_incremental_dedup, _Q48_SQL,
              "batch-vs-corpus incremental dedup on digest index"),
    QuerySpec("q119_passage_dedup", q119_passage_dedup, _Q119_SQL,
              "passage-level exact dup detection (k-token window hashes)"),
    QuerySpec("q188_substring_dedup", q188_substring_dedup, _q188_sql(),
              "exact substring dedup: merged covered spans, SA semantics"),
    QuerySpec("q191_substring_removal", q191_substring_removal, _q191_sql(),
              "substring-dedup removal: cleaned text hash-checked"),
    QuerySpec("q127_incremental_neardup", q127_incremental_neardup, _q127_sql(),
              "batch-vs-corpus MinHash near-dup dedup (band-index join)"),
    QuerySpec("q176_maintained_neardup", q176_maintained_neardup,
              _q127_sql(MAINT_NEARDUP_HASHES, MAINT_NEARDUP_BANDS),
              "q127's decision via the streaming-maintained stored band index"),
    QuerySpec("q200_band_compaction_lifecycle", q200_band_compaction_lifecycle,
              _q127_sql(MAINT_NEARDUP_HASHES, MAINT_NEARDUP_BANDS),
              "band-index compaction lifecycle: maintain -> compact -> "
              "maintain -> replay, serving decisions unchanged"),
    QuerySpec("q128_containment_pairs", q128_containment_pairs, _Q128_SQL,
              "asymmetric n-gram containment (quote/subset detection)"),
    QuerySpec("q23_minhash_lsh_pairs", q23_minhash_lsh_pairs, _q23_sql(),
              "MinHash+LSH near-dup (md5-derived chain; oracle rebuilds bands)"),
    QuerySpec("q24_simhash_near_pairs", q24_simhash_near_pairs, _q24_sql(),
              "SimHash near-dup (block trick + hamming verify, oracle-replicated)"),
    QuerySpec("q141_jaccard_prefix", q141_jaccard_prefix, _Q141_SQL,
              "exact Jaccard via lossless ppjoin prefix filter (oracle = naive form)"),
    QuerySpec("q155_feature_hashing", q155_feature_hashing, _q155_sql(),
              "hashing-trick vectorizer bucket profile (md5 buckets, integer-only)"),
    QuerySpec("q160_source_overlap", q160_source_overlap, _Q160_SQL,
              "source-level shingle-set overlap matrix (corpus composition)"),
    QuerySpec("q201_roc_curve", q201_roc_curve, _Q201_SQL,
              "per-source ROC curve points (desc distinct-score cumulative)"),
    QuerySpec("q184_roc_auc", q184_roc_auc, _Q184_SQL,
              "per-source rank-statistic ROC-AUC (exact average-rank ties)"),
    QuerySpec("q185_calibration", q185_calibration, _Q185_SQL,
              "reliability bins + ECE (integer counts, decimal confidences)"),
    QuerySpec("q193_avg_precision", q193_avg_precision, _Q193_SQL,
              "per-source average precision (tie-grouped PR curve, "
              "ordered-fold term sum)"),
    QuerySpec("q194_spearman", q194_spearman, _Q194_SQL,
              "per-source Spearman rank agreement (exact integer rank "
              "moments, average-rank ties)"),
    QuerySpec("q196_global_auc", q196_global_auc, _Q196_SQL,
              "global ROC-AUC via the two-pass range-bucketed rank "
              "(ungrouped path)"),
    QuerySpec("q186_retrieval_eval", q186_retrieval_eval, _q186_sql(),
              "MRR / recall@k / nDCG@k per query (rank-ordered log2 folds)"),
    QuerySpec("q189_grouped_calibration", q189_grouped_calibration, _Q189_SQL,
              "per-domain reliability bins + ECE (hash aggs only)"),
    QuerySpec("q202_topk_calibration", q202_topk_calibration, _Q202_SQL,
              "per-source top-k head calibration (at-least-k tie cut, "
              "decimal prefix masses)"),
    QuerySpec("q198_graded_retrieval_eval", q198_graded_retrieval_eval,
              _q198_sql(),
              "graded-relevance nDCG@k (gain-weighted DCG, gain-DESC ideal)"),
    QuerySpec("q203_multiclass_eval", q203_multiclass_eval, _q203_sql(),
              "per-(source, class) confusion summary: precision/recall/F1 "
              "over the union class set"),
    QuerySpec("q204_cohen_kappa", q204_cohen_kappa, _q204_sql(),
              "per-source Cohen's kappa (chance-corrected agreement, "
              "decimal marginal products)"),
    QuerySpec("q206_kendall_tau", q206_kendall_tau, _q206_sql(),
              "per-source exact Kendall tau-b (distributed Knight: "
              "bucketed dominance + Fenwick kernels)"),
]
