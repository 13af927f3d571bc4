"""End-to-end training-data curation pipeline over the `documents`
table — the composition the individual operators exist for:

  0b. line boilerplate strip (optional: cross-doc line frequency —
                             CCNet-style header/banner removal BEFORE
                             hashing, so shared chrome can't mask or
                             manufacture duplicate digests; q169
                             semantics. Off by default: single-line
                             corpora degenerate — see curate())
  1. exact dedup            (digest group-by; q17 semantics)
  2. near-dup keep-best     (n-gram Jaccard pairs -> connected
                             components -> canonical_per_cluster:
                             the LONGEST member survives, not an
                             arbitrary min-id; q112 semantics)
  2b. passage-dup gate      (k-token window dup fraction — drops
                             composite/boilerplate docs stitched from
                             passages that exist verbatim elsewhere;
                             q119 semantics)
  3. decontamination        (n-gram overlap vs a benchmark corpus)
  4. quality + language     (JVM-side scoring; keep en docs >= cutoff)
  5. LM outlier gate        (unigram-NLL perplexity proxy vs the
                             corpus's own model; q113 semantics —
                             drops statistical outliers the
                             feature-based score misses)
  6. PII redaction          (email/phone/SSN -> typed placeholders)
  7. normalization          (canonical text for downstream hashing)
  7b. robust length gate    (per-source median/MAD token-count bound
                             — q142 semantics; stddev bands mask under
                             the very outliers this catches)
  8. per-source rebalance   (deterministic per-key top-N cap — no
                             domain may dominate the corpus)
  8b. mixture weighting     (optional target source mix — q126
                             semantics, downsample-only)
  9. weighted downsample    (optional corpus-size target: A-Res
                             quality-weighted sample, q111 semantics)
 10. leakage-safe split     (train/val/test, keyed md5 of the
                             near-dup CLUSTER at a looser threshold
                             than the dedup stage — documents too
                             similar to sit on both sides of a
                             train/test boundary, yet not similar
                             enough to have been deduped, land in the
                             same split; q167 semantics)
 11. partitioned write      (split-partitioned parquet lakehouse dir)
 12. context chunking       (fixed-stride windows, the pre-tokenizer
                             shape — `chunk_split` on any split)

Every stage is a pure DataFrame transform from `operators/`; the whole
pipeline is one lazy plan per output split — Catalyst fuses the scalar
stages (4-6) into single codegen projections, and the only shuffles
are the dedup group-bys and pair joins. At 100 TB the shape is
unchanged: digests and shingle hashes shuffle (never bodies), the
benchmark index broadcasts, splits are per-row hash filters.

Usage: python examples/curation_pipeline.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_etl_pipeline_spark import get_spark
from nyc_etl_pipeline_spark.io import read_testdata
from nyc_etl_pipeline_spark.operators import dedup as D
from nyc_etl_pipeline_spark.operators import sampling
from nyc_etl_pipeline_spark.operators import text as TX
from nyc_etl_pipeline_spark.operators.quality import mad_outlier_report

QUALITY_CUTOFF = 0.5
CONTAM_THRESHOLD = 0.5
NGRAM_N = 3
JACCARD_THRESHOLD = 0.5
NLL_CUTOFF = 8.0  # drop docs whose mean unigram NLL exceeds this (outliers)
MAD_GATE_K = 6.0  # robust length gate: |n_tokens - med| <= k * MAD per source
PASSAGE_K = 8
PASSAGE_DUP_CUTOFF = 0.6  # drop docs mostly made of elsewhere-seen passages
# split-boundary guard: near-dup clusters at a LOOSER threshold than the
# dedup stage decide split membership — a pair at jaccard 0.3 survives
# keep-best dedup (threshold 0.5) as two documents, but memorization of
# one still leaks signal about the other across a train/test boundary
SPLIT_GUARD_JACCARD = 0.3


def curate(
    docs: DataFrame,
    benchmark: DataFrame,
    quality_cutoff: float = QUALITY_CUTOFF,
    langs: tuple[str, ...] = ("en",),
    per_source_cap: int | None = None,
    target_corpus_size: int | None = None,
    mixture_weights: dict[str, float] | None = None,
    mixture_total: int | None = None,
    boilerplate_max_df: int | None = None,
    classifier_seed: F.Column | None = None,
    classifier_cutoff: float = 0.5,
    classifier_buckets: int = 32,
    bloom_m_bits: int | None = None,
) -> dict[str, DataFrame]:
    """documents(doc_id, text, ...) -> {split: curated DataFrame}."""
    from nyc_etl_pipeline_spark.operators.lm import unigram_nll_scores

    # 0b. optional line-level boilerplate strip (CCNet stage). Runs
    # BEFORE any hashing: shared chrome (headers, banners) otherwise
    # both hides true duplicates (same body, different banner ->
    # different digest) and manufactures false near-dups (different
    # body, same boilerplate). Off by default because it needs line
    # structure: on a single-line corpus every doc is one line, and a
    # text repeated in > max_doc_freq docs would be emptied rather
    # than deduped.
    if boilerplate_max_df is not None:
        stripped = D.strip_boilerplate_lines(docs, max_doc_freq=boilerplate_max_df)
        docs = (
            docs.drop("text", "n_chars")
            .join(stripped.select("doc_id", F.col("clean_text").alias("text")), "doc_id")
            .withColumn("n_chars", F.length("text").cast("bigint"))
        )

    # 1. exact dedup: keep the canonical (min-id) copy of each digest
    canon = D.exact_dedup(docs).select(F.col("canonical_id").alias("doc_id"))
    docs1 = docs.join(canon, on="doc_id", how="left_semi")

    # 2. near-dup keep-best: the longest member of each cluster
    # survives (id tie-break) — q112 semantics
    pairs = D.ngram_jaccard_pairs(docs1, n=NGRAM_N, threshold=JACCARD_THRESHOLD)
    clusters = D.neardup_clusters(docs1, pairs)
    best = D.canonical_per_cluster(docs1, clusters, score_col="n_chars").select("doc_id")
    docs2 = docs1.join(best, on="doc_id", how="left_semi")

    # 2b. passage-level gate: a doc can dodge whole-doc near-dup yet
    # be stitched almost entirely from passages that exist verbatim in
    # other documents (template/boilerplate composites) — drop those.
    # Anti join on violators so sub-k-token docs (no windows, no row)
    # are kept, not silently dropped.
    pstats = D.duplicated_passage_stats(docs2, k=PASSAGE_K)
    viol = pstats.filter(F.col("dup_frac") > PASSAGE_DUP_CUTOFF).select("doc_id")
    docs2 = docs2.join(viol, on="doc_id", how="left_anti")

    # 3. decontamination vs the benchmark corpus
    # `bloom_m_bits` switches to the Bloom form (dedup.
    # bloom_contamination_scores): the exact broadcast-set form needs
    # the benchmark's distinct shingles to fit a broadcast; the Bloom
    # artifact is m_bits-bounded however many eval suites it absorbs,
    # at the price of a deterministic, one-sided (over-drop) FP rate.
    if bloom_m_bits is not None:
        contam = D.bloom_contamination_scores(
            docs2, benchmark, n=NGRAM_N, threshold=CONTAM_THRESHOLD,
            m_bits=bloom_m_bits,
        )
    else:
        contam = D.contamination_scores(
            docs2, benchmark, n=NGRAM_N, threshold=CONTAM_THRESHOLD
        )
    clean_ids = contam.filter(~F.col("is_contaminated")).select("doc_id")
    docs3 = docs2.join(clean_ids, on="doc_id", how="left_semi")

    # 4. feature-based quality + language gates (fused into one
    # codegen projection with the later scalar stages)
    gated = (
        docs3.withColumn("quality", TX.quality_score(F.col("text")))
        .withColumn("lang_pred", TX.lang_id(F.col("text")))
        .filter((F.col("quality") >= quality_cutoff) & F.col("lang_pred").isin(*langs))
    )

    # 5. LM outlier gate: perplexity-proxy NLL under the surviving
    # corpus's own unigram model — statistical outliers (wrong
    # character set, boilerplate soup) score far above the corpus mean
    nll = unigram_nll_scores(gated).select("doc_id", "nll")
    gated = gated.join(nll, "doc_id").filter(F.col("nll") <= NLL_CUTOFF)

    # 5b. optional TRAINED quality gate (the GPT-3/CCNet classifier
    # stage): `classifier_seed` marks reference-like documents (a
    # curated seed slice); a fixed-round logistic regression on hashed
    # presence features then scores EVERY survivor and the gate keeps
    # docs the model finds reference-like. Complements the heuristic
    # stage-4 gate (surface stats) and the stage-5 LM gate (token
    # distribution) with a supervised signal. Off by default: it
    # needs a labeled seed to mean anything.
    if classifier_seed is not None:
        from nyc_etl_pipeline_spark.operators import classify as CLS

        feats = CLS.hashed_tf_features(
            gated,
            n_buckets=classifier_buckets,
            label=classifier_seed,
            binary=True,
        )
        wts = CLS.logreg_train_fixed(
            feats, dim=classifier_buckets + 1, n_rounds=8, lr=4.0
        )
        keep = CLS.logreg_score(feats, wts).filter(
            F.col("score") >= classifier_cutoff
        ).select("doc_id")
        gated = gated.join(keep, on="doc_id", how="left_semi")

    # 6-7. redact + normalize
    curated = (
        gated.withColumn("text_redacted", TX.redact_pii(F.col("text")))
        .withColumn("text_norm", TX.normalize_text(F.col("text_redacted")))
        .withColumn("n_tokens", TX.whitespace_token_count(F.col("text_norm")))
    )

    # 7b. robust length-outlier gate: per-source median/MAD bound on
    # token counts (q142 semantics). A mean/stddev band is exactly the
    # wrong tool here — the giant outliers it should catch inflate the
    # stddev until nothing trips (masking); the median/MAD bound
    # tolerates up to half the source being junk. Wide k: only extreme
    # outliers (truncation artifacts, concatenation accidents) drop.
    # MAD == 0 (over half the source same length) disables the gate
    # for that source rather than flagging every off-median doc.
    # CHECKPOINT the staged frame first (localCheckpoint: materialize
    # + TRUNCATE the logical plan). Two reasons, both measured:
    # (a) the two percentile passes and the final filter each
    # re-derive this lineage — everything upstream (dedup joins, NLL
    # model) re-executes ~4x without materialization (~1 min sf0.001
    # run -> ~10 min); (b) a plain persist() caches data but KEEPS
    # the logical plan, and the med/mad self-reference doubles an
    # already-deep tree until plan stringification alone can OOM the
    # driver heap (seen at 4g after several pipeline runs in one
    # JVM). At warehouse scale this materialization point is where a
    # real pipeline writes its intermediate table (a durable
    # checkpoint dir on a cluster — localCheckpoint is single-node).
    curated = curated.localCheckpoint()
    bounds = mad_outlier_report(curated, "source", "n_tokens", k=MAD_GATE_K).select(
        "source", "med", "mad"
    )
    curated = (
        curated.join(F.broadcast(bounds), "source")
        .filter(
            (F.col("mad") <= 0)
            | (F.abs(F.col("n_tokens") - F.col("med")) <= MAD_GATE_K * F.col("mad"))
        )
        .drop("med", "mad")
    )

    # 8. per-source rebalance: cap any one source's share (deterministic
    # md5 priority, so re-runs and retries keep the same docs)
    if per_source_cap is not None:
        curated = sampling.per_key_topn_sample(
            curated, ["source"], per_source_cap, ["doc_id"]
        ).drop("sample_rank")

    # 8b. optional mixture weighting: realize a target source mix
    # (downsample-only — q126 semantics; unlisted sources drop)
    if mixture_weights is not None and mixture_total is not None:
        curated = sampling.mixture_sample(
            curated, "source", mixture_weights, mixture_total, ["doc_id"]
        )

    # 9. optional weighted downsample to a target corpus size — longer
    # (already-quality-gated) documents are proportionally likelier to
    # survive; deterministic under retries (A-Res on the keyed md5)
    if target_corpus_size is not None:
        curated = sampling.weighted_sample(
            curated, ["doc_id"], "n_tokens", target_corpus_size
        )

    # 10. leakage-safe deterministic split (keyed md5: auditable outside
    # Spark). The boundary guard re-clusters the SURVIVORS at a looser
    # Jaccard than the dedup stage: pairs below the dedup threshold
    # rightly kept as distinct documents are still too similar to
    # straddle a train/test cut, so the split hashes the guard-cluster
    # representative, not the doc (q167 semantics). Survivor pairs at
    # >= the dedup threshold no longer exist, so the guard graph is
    # the residual-similarity band only.
    guard_pairs = D.ngram_jaccard_pairs(curated, n=NGRAM_N, threshold=SPLIT_GUARD_JACCARD)
    guard_clusters = D.neardup_clusters(curated, guard_pairs)
    assigned = sampling.leakage_safe_assign(
        curated,
        guard_clusters,
        {"train": 0.9, "val": 0.05, "test": 0.05},
    )
    return {
        name: assigned.filter(F.col("split") == name).drop("split", "cluster_rep")
        for name in ("train", "val", "test")
    }


def chunk_split(split_df: DataFrame, size: int = 2048, stride: int = 1792) -> DataFrame:
    """Post-split context chunking over the normalized text: the
    fixed-stride window table a tokenizer consumes (overlap =
    size - stride keeps boundary context). Pure projection+explode —
    chunking after the split guarantees no leakage: every chunk of a
    doc lives in that doc's split."""
    return TX.chunk_windows(
        split_df.select("doc_id", F.col("text_norm").alias("text")),
        size=size, stride=stride,
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="curated_")
    spark: SparkSession = get_spark(
        app_name="curation-pipeline", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    docs = read_testdata(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 17 == 0)
    candidates = docs.filter(F.col("doc_id") % 17 != 0)

    n0 = candidates.count()
    splits = curate(candidates, benchmark)
    print(f"input candidates: {n0}")
    total = 0
    for name, df in splits.items():
        out = df.withColumn("split", F.lit(name))
        out.write.mode("overwrite").parquet(os.path.join(out_dir, f"split={name}"))
        n = spark.read.parquet(os.path.join(out_dir, f"split={name}")).count()
        total += n
        print(f"{name}: {n} docs")
    print(f"kept {total}/{n0} ({100.0 * total / n0:.1f}%) -> {out_dir}")


if __name__ == "__main__":
    main()
