"""Sequence packing: assign documents to fixed token-budget training
sequences (first-fit-in-order greedy within hash shards).

LLM pretraining concatenates documents into fixed-length sequences;
naive one-doc-per-sequence wastes the budget on padding. Packing is
inherently sequential (each bin boundary depends on where the previous
bin started), so it cannot be one window cumsum — the scale design is
**shard-parallel, sequential-within-shard**:

- each doc hashes to one of `n_shards` shards: pmod of the keyed md5
  every sampling decision uses (`sampling._keyed_hash`), so the
  assignment is reproducible outside Spark;
- within a shard, docs are packed greedily in deterministic `id_col`
  order by an Arrow-batched `applyInPandas` — only `(id, n_tokens,
  shard)` is shipped, never the text payload (~16 bytes/doc: a
  10k-shard layout packs 1e9 docs at ~1.6 MB per task);
- the text joins back on `id_col` afterwards, co-partitioned by the
  same shard column if the corpus was bucketed on it.

A doc longer than the budget gets its own sequence, flagged
`oversized` (the trainer truncates or chunks it downstream; this
operator never silently drops tokens).

Determinism: same corpus + same constants -> bit-identical packing on
any cluster size, because shard assignment is a pure hash and
within-shard order is a total order on `id_col`.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.operators.sampling import _keyed_hash

PACK_SCHEMA = (
    "doc_id bigint, shard int, n_tokens bigint, "
    "seq_id bigint, seq_offset bigint, oversized boolean"
)


def pack_greedy(
    df: DataFrame,
    id_col: str,
    tokens_col: Column,
    budget: int,
    n_shards: int,
    salt: str = "pack-v1",
) -> DataFrame:
    """First-fit-in-order greedy packing. Returns one row per doc:
    (doc_id, shard, n_tokens, seq_id, seq_offset, oversized), where
    seq_id is local to the shard and seq_offset is the doc's token
    offset inside its sequence.

    Greedy rule (per shard, docs in ascending id order): place the doc
    in the current sequence iff fill + n_tokens <= budget, else open a
    new sequence at offset 0.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")

    base = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.pmod(_keyed_hash([id_col], salt), F.lit(n_shards)).cast("int").alias("shard"),
        tokens_col.cast("long").alias("n_tokens"),
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        seqs, offs = [], []
        seq, fill = 0, None
        for t in pdf["n_tokens"]:
            t = int(t)
            if fill is None:  # first doc in shard
                seq, off, fill = 0, 0, t
            elif fill + t <= budget:
                off = fill
                fill += t
            else:
                seq, off, fill = seq + 1, 0, t
            seqs.append(seq)
            offs.append(off)
        pdf["seq_id"] = pd.Series(seqs, dtype="int64")
        pdf["seq_offset"] = pd.Series(offs, dtype="int64")
        pdf["oversized"] = pdf["n_tokens"] > budget
        return pdf

    return base.groupBy("shard").applyInPandas(_pack, schema=PACK_SCHEMA)


def packing_stats(packed: DataFrame, budget: int) -> DataFrame:
    """Per-shard packing efficiency: sequences used, token fill ratio
    vs the budget ceiling (excluding oversized sequences, which are a
    chunking decision upstream of efficiency accounting)."""
    per_seq = packed.groupBy("shard", "seq_id").agg(
        F.sum("n_tokens").alias("seq_tokens"),
        F.max(F.col("oversized").cast("int")).alias("has_oversized"),
    )
    return per_seq.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_seqs"),
        F.sum("seq_tokens").alias("total_tokens"),
        (
            F.sum(F.when(F.col("has_oversized") == 0, F.col("seq_tokens")))
            / (F.lit(budget) * F.sum(F.when(F.col("has_oversized") == 0, F.lit(1))))
        ).alias("fill_ratio"),
    )
