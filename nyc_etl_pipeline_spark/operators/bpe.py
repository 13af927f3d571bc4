"""BPE tokenizer training + encoding over a distributed corpus.

The training input of byte-pair encoding is NOT the raw corpus — it is
the word-frequency table (every BPE implementation trains on
word->count, weighting pair counts by word frequency). That table is
computed distributed (one explode + map-side-combinable group-by over
100 TB of text); its DISTINCT-word size is vocabulary-bounded
(millions at web scale, not corpus-sized), so the merge loop itself
runs driver-side over the collected table — the same bounded
index-build pattern as the IVF/PQ quantizer fits
(operators/similarity.py), with an explicit `max_distinct_words` guard
instead of a silent OOM.

Encoding goes back to the executors: `bpe_encode` applies the learned
merge ranks per word inside mapInPandas (Arrow-batched; the classic
lowest-rank-first merge loop is inherently sequential per word, so
this is the legitimate Python boundary, not a shortcut).

Determinism: pair selection breaks count ties lexicographically, so
the same corpus always yields the same merge table on any executor
count / shuffle order.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.hygiene import release, scratch_persist
from nyc_etl_pipeline_spark.operators.text import tokens

END_OF_WORD = "</w>"


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Distributed (word, freq) table — the only corpus-sized pass."""
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _merge_pair_in_word(symbols: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    out: list[str] = []
    i = 0
    while i < len(symbols):
        if i + 1 < len(symbols) and (symbols[i], symbols[i + 1]) == pair:
            out.append(symbols[i] + symbols[i + 1])
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return tuple(out)


def bpe_train_from_word_freqs(
    word_freqs: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Classic BPE merge learning over a word->freq dict (pure Python,
    deterministic): each round counts adjacent symbol pairs weighted
    by word frequency and merges the (count DESC, pair ASC) winner.

    State is keyed by SYMBOL TUPLE with frequencies ACCUMULATED on
    collision: two distinct tuples can merge to the same tuple in one
    round (e.g. (a,b,x) and (ab,x) under pair (a,b) — possible once
    multi-char symbols recur), and their masses must add, exactly as
    the word-keyed Sennrich formulation adds them implicitly. An
    earlier revision's dict comprehension silently kept only the last
    colliding tuple's frequency; the q125 oracle's GROUP BY state /
    SUM(freq) is this same accumulate semantics."""
    words: dict[tuple[str, ...], int] = {}
    for w, f in word_freqs:
        words[tuple(w) + (END_OF_WORD,)] = words.get(tuple(w) + (END_OF_WORD,), 0) + f
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in words.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged: dict[tuple[str, ...], int] = {}
        for syms, f in words.items():
            m = _merge_pair_in_word(syms, best)
            merged[m] = merged.get(m, 0) + f
        words = merged
    return merges


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    max_distinct_words: int = 1_000_000,
) -> list[tuple[str, str]]:
    """Train BPE merges on a corpus: distributed word-frequency pass,
    bounded driver-side merge loop. Refuses corpora whose distinct-word
    table exceeds `max_distinct_words` (raise the cap consciously, or
    pre-truncate the long tail with a HAVING freq >= k filter — the
    standard web-scale practice — rather than OOM-ing the driver)."""
    wf = scratch_persist(word_frequencies(docs, text_col))
    try:
        n = wf.count()  # materializes the persist; collect() below reuses it
        if n > max_distinct_words:
            raise ValueError(
                f"{n} distinct words exceeds max_distinct_words="
                f"{max_distinct_words}; filter the frequency tail first "
                f"(e.g. .filter('freq >= 2')) or raise the cap"
            )
        collected = [(r["word"], r["freq"]) for r in wf.collect()]
    finally:
        release(wf)
    collected.sort()  # shuffle-order independence
    return bpe_train_from_word_freqs(collected, n_merges)


def bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Encode one word: repeatedly merge the lowest-rank adjacent pair
    (exactly how trained merges are applied at inference)."""
    syms = list(word) + [END_OF_WORD]
    while len(syms) > 1:
        pairs = [(ranks.get((a, b)), i) for i, (a, b) in enumerate(zip(syms, syms[1:]))]
        ranked = [(r, i) for r, i in pairs if r is not None]
        if not ranked:
            break
        _, i = min(ranked)
        syms[i : i + 2] = [syms[i] + syms[i + 1]]
    return syms


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document subword encoding with the learned merges:
    (id, n_words, n_subwords, compression). The merge table rides to
    executors inside the closure (a few KB); the per-word merge loop
    runs in Arrow-batched pandas — the real inference shape.

    Tokenization happens Spark-side via the canonical
    operators/text.tokens BEFORE the pandas boundary, so this op
    splits words exactly like every other text operator (and like the
    oracle's `string_split_regex(trim(text), '\\s+')` twin) — an
    earlier revision used Python str.split() inside the batch, which
    silently disagrees on leading tab/newline (phantom empty token)
    and on Unicode whitespace."""
    import pandas as pd

    ranks = {pair: i for i, pair in enumerate(merges)}

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-task memo: corpus words repeat heavily (Zipf), so each
        # distinct word's merge loop runs once per task, not once per
        # occurrence — bounded by the task's local vocabulary
        memo: dict[str, int] = {}

        def n_sub_of(w: str) -> int:
            n = memo.get(w)
            if n is None:
                n = memo[w] = len(bpe_encode_word(w, ranks))
            return n

        for pdf in batches:
            out = []
            for did, words in zip(pdf[id_col], pdf["__words"]):
                wl = list(words) if words is not None else []
                n_sub = sum(n_sub_of(w) for w in wl)
                out.append((did, len(wl), n_sub))
            res = pd.DataFrame(out, columns=[id_col, "n_words", "n_subwords"])
            res["compression"] = res["n_subwords"] / res["n_words"].clip(lower=1)
            yield res

    return docs.select(
        id_col, tokens(F.col(text_col)).alias("__words")
    ).mapInPandas(
        encode,
        schema=f"{id_col} long, n_words long, n_subwords long, compression double",
    )
