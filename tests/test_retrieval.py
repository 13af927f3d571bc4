"""Invariants for retrieval + weighted-sampling operators beyond the
oracle gate (q109-q111)."""

from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.io import read_testdata
from nyc_etl_pipeline_spark.operators.retrieval import bm25_topk, boolean_and_search
from nyc_etl_pipeline_spark.operators.sampling import weighted_sample
from tests import plans as P


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "join join join window", "a", 22),
            (2, "join window", "a", 11),
            (3, "scan merge sort", "b", 15),
            (4, "join window hash stream", "b", 23),
            (5, "", "b", 0),
        ],
        "doc_id long, text string, source string, n_chars long",
    )


def test_bm25_orders_by_query_coverage(spark):
    top = bm25_topk(_docs(spark), ["join", "window", "hash", "stream"], k=5).collect()
    ids = [r.doc_id for r in top]
    # doc 4 contains all four query terms including the two rarest
    # (hash/stream have df=1 -> highest idf): it must outrank the
    # tf-heavy doc 1, and the empty doc never appears
    assert ids[0] == 4, top
    assert 5 not in ids
    scores = [r.bm25 for r in top]
    assert scores == sorted(scores, reverse=True)


def test_bm25_topk_is_heap_not_global_sort(spark, sf_dir):
    docs = read_testdata(spark, sf_dir, "documents")
    plan = P.explain_str(bm25_topk(docs, ["join", "window"], k=10))
    assert "TakeOrderedAndProject" in plan, plan
    assert P.has_broadcast_join(plan), plan


def test_boolean_search_is_conjunctive(spark):
    hits = boolean_and_search(_docs(spark), ["join", "window"]).collect()
    assert sorted(r.doc_id for r in hits) == [1, 2, 4]
    none = boolean_and_search(_docs(spark), ["join", "zzz"]).count()
    assert none == 0


def test_weighted_sample_deterministic_and_weight_biased(spark):
    rows = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        # doc_id < 1000 -> weight 1; >= 1000 -> weight 50
        F.when(F.col("id") < 1000, F.lit(1)).otherwise(F.lit(50)).alias("w"),
    )
    a = weighted_sample(rows, ["doc_id"], "w", 200).collect()
    b = weighted_sample(rows, ["doc_id"], "w", 200).collect()
    assert [r.doc_id for r in a] == [r.doc_id for r in b]  # deterministic
    heavy = sum(1 for r in a if r.doc_id >= 1000)
    # weight-50 rows should dominate the sample decisively
    assert heavy > 150, heavy
    # different salt -> different (but still deterministic) membership
    c = weighted_sample(rows, ["doc_id"], "w", 200, salt="v2").collect()
    assert {r.doc_id for r in c} != {r.doc_id for r in a}


def test_weighted_sample_excludes_nonpositive_weights(spark):
    rows = spark.createDataFrame(
        [(1, 0), (2, -3), (3, 5), (4, 5)], "doc_id long, w long"
    )
    got = {r.doc_id for r in weighted_sample(rows, ["doc_id"], "w", 10).collect()}
    assert got == {3, 4}


def test_unigram_nll_flags_out_of_distribution_doc(spark):
    from nyc_etl_pipeline_spark.operators.lm import unigram_nll_scores

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps") for i in range(20)]
        + [(99, "zymurgy qat xylyl")],  # rare tokens -> high NLL
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.nll for r in unigram_nll_scores(docs).collect()}
    common = max(v for k, v in rows.items() if k != 99)
    assert rows[99] > common, rows


def test_bigram_nll_is_word_order_aware(spark):
    """The discriminating property over the unigram proxy: a doc with
    the corpus's exact vocabulary but scrambled word ORDER must score
    worse than the fluent form (identical unigram distribution, so
    unigram NLL cannot tell them apart), and a doc with fewer than two
    tokens is dropped."""
    from nyc_etl_pipeline_spark.operators.lm import (
        bigram_nll_scores,
        unigram_nll_scores,
    )

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(20)]
        + [(99, "dog the lazy jumps fox over quick the brown")]  # scrambled
        + [(100, "solo")],  # single token -> no bigram positions
        "doc_id long, text string",
    )
    bi = {r.doc_id: r.nll for r in bigram_nll_scores(docs).collect()}
    assert 100 not in bi
    fluent = max(v for k, v in bi.items() if k != 99)
    assert bi[99] > fluent, bi
    # the unigram model is blind to the scramble (same token multiset)
    uni = {r.doc_id: r.nll for r in unigram_nll_scores(docs).collect()}
    assert uni[99] == uni[1]


def test_canonical_per_cluster_keeps_longest(spark):
    from nyc_etl_pipeline_spark.operators.dedup import canonical_per_cluster

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 7)], "doc_id long, n_chars long"
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)], "doc_id long, cluster_rep long"
    )
    out = {r.cluster_rep: r for r in
           canonical_per_cluster(docs, clusters, "n_chars").collect()}
    assert len(out) == 2
    # cluster 1: docs 2 and 3 tie at 30 chars -> lowest id (2) wins
    assert out[1].doc_id == 2 and out[1].cluster_size == 3
    assert out[4].doc_id == 4 and out[4].cluster_size == 1


def test_pmi_ranks_planted_collocation_first(spark):
    from nyc_etl_pipeline_spark.operators.lm import pmi_collocations

    # "alpha beta" always adjacent; filler words use INDEPENDENT
    # coordinates (i mod 7 vs i div 7) so no filler bigram is
    # perfectly correlated the way the planted pair is
    rows = [(i, f"alpha beta x{i % 7} y{i // 7} common common") for i in range(49)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    top = pmi_collocations(docs, min_count=5, top_k=3).collect()
    assert top[0].bigram == "alpha beta", top
    assert top[0].n_pair == 49


def test_expectations_counts_planted_violations(spark):
    from nyc_etl_pipeline_spark.operators.quality import (
        expectations,
        referential_integrity,
    )

    df = spark.createDataFrame(
        [
            (1, 10.0, "A", 100),
            (1, -5.0, "B", None),   # dup key, range violation, null ref
            (2, 20.0, "Z", 300),    # bad accepted value
            (3, None, "A", 999),    # null price
        ],
        "k long, price double, status string, fk long",
    )
    rep = {(r.rule, r.column): r.n_violations for r in expectations(
        df,
        not_null=["price"],
        unique=[["k"]],
        ranges={"price": (0.0, 100.0)},
        accepted={"status": ["A", "B"]},
    ).collect()}
    assert rep[("not_null", "price")] == 1
    assert rep[("unique", "k")] == 1          # one extra row beyond the first
    assert rep[("range", "price")] == 2       # -5.0 and NULL
    assert rep[("accepted_values", "status")] == 1
    parent = spark.createDataFrame([(100,), (300,)], "pk long")
    ri = referential_integrity(df, parent, "fk", "pk").first()
    assert ri.n_violations == 1               # 999 orphan; NULL fk not counted


def test_tfidf_keywords_planted_rare_term(spark):
    """A term unique to one doc must outscore corpus-wide terms in
    that doc; a term present in EVERY doc has idf 0 and never ranks
    above a rarer one."""
    from nyc_etl_pipeline_spark.operators.retrieval import tfidf_keywords

    rows = [
        (1, "common zebra common common"),
        (2, "common common apple apple apple"),
        (3, "common filler other words"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = tfidf_keywords(df, k=2).collect()
    top = {r["doc_id"]: r["term"] for r in out if r["rk"] == 1}
    assert top[1] == "zebra" and top[2] == "apple"
    # 'common' appears in all 3 docs -> idf = ln(1) = 0 exactly
    assert all(r["score"] == 0.0 for r in out if r["term"] == "common")


def test_phrase_search_adjacency_and_overlap(spark):
    """Phrase must be CONSECUTIVE (scattered words don't match),
    overlapping occurrences all count, phrase at start/end included."""
    from nyc_etl_pipeline_spark.operators.retrieval import phrase_search

    rows = [
        (1, "a b c x a b c"),        # 2 occurrences of 'a b c'
        (2, "a x b x c"),            # scattered -> no match
        (3, "a b c"),                # whole doc is the phrase
        (4, "a a b c"),              # 1, phrase not at pos 0
        (5, "a b a b a b"),          # overlapping 'a b a': positions 0,2
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["n_occ"] for r in phrase_search(df, ["a", "b", "c"]).collect()}
    assert got == {1: 2, 3: 1, 4: 1}
    got2 = {r["doc_id"]: r["n_occ"] for r in phrase_search(df, ["a", "b", "a"]).collect()}
    assert got2[5] == 2


def test_phrase_slop_matches_brute_force_enumeration(spark):
    """phrase_search_slop's greedy minimal-completion chain vs a
    brute-force enumeration of ALL ordered position tuples, over
    crafted edge cases AND randomized docs (seeded): same matching
    docs, same start-position counts, same minimal slop."""
    import itertools
    import random

    from nyc_etl_pipeline_spark.operators.retrieval import phrase_search_slop

    phrase, slop = ["a", "b", "a"], 2
    crafted = [
        "a b a",          # exact, slop 0
        "a x b a",        # slop 1 (one insertion)
        "a x b x a",      # slop 2
        "a x x b x a",    # slop 3 from first a; later a's may still start
        "a b c x a b c",  # phrase words scattered across two runs
        "a a b a",        # duplicate first word: starts at 0 and 1
        "b a b a b a",    # starts mid-doc
        "a x x x x b a",  # gap exceeds slop on first gap
        "a b b b a",      # greedy takes earliest b; span still minimal
        "",               # empty doc
        "a b",            # phrase longer than matches
    ]
    rng = random.Random(1617)
    docs = crafted + [
        " ".join(rng.choice("abxy") for _ in range(rng.randint(0, 14)))
        for _ in range(200)
    ]

    def brute(toklist):
        starts, best = 0, None
        k = len(phrase)
        positions = [
            [i for i, t in enumerate(toklist) if t == w] for w in phrase
        ]
        for p1 in positions[0]:
            cands = [
                tup
                for tup in itertools.product(*[[p1]] + positions[1:])
                if all(tup[j] > tup[j - 1] for j in range(1, k))
                and (tup[-1] - tup[0]) - (k - 1) <= slop
            ]
            if cands:
                starts += 1
                m = min((t[-1] - t[0]) - (k - 1) for t in cands)
                best = m if best is None else min(best, m)
        return starts, best

    expected = {}
    for i, text in enumerate(docs):
        n, m = brute(text.split())
        if n:
            expected[i] = (n, m)

    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_occ"], r["min_slop"])
        for r in phrase_search_slop(df, phrase, slop).collect()
    }
    assert got == expected
    # slop=0 must agree with exact phrase_search on the matching DOCS
    # (n_occ differs by design: distinct starts vs all completions)
    from nyc_etl_pipeline_spark.operators.retrieval import phrase_search

    exact_docs = {r["doc_id"] for r in phrase_search(df, phrase).collect()}
    slop0_docs = {r["doc_id"] for r in phrase_search_slop(df, phrase, 0).collect()}
    assert slop0_docs == exact_docs


def test_dsir_importance_ranks_target_like_docs_higher(spark):
    """DSIR behavioral contract: a raw doc written in the target
    slice's vocabulary must out-score a raw doc written in the raw
    majority's vocabulary, and the weight must respond monotonically
    to MORE target-like content."""
    from nyc_etl_pipeline_spark.operators.lm import dsir_importance

    target = spark.createDataFrame(
        [(100 + i, "alpha beta gamma alpha beta") for i in range(5)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),            # target-like
            (2, "zig zag zoom quux"),           # raw-like
            (3, "alpha beta gamma alpha beta gamma"),  # MORE target-like
        ]
        + [(10 + i, "zig zag zoom quux corge") for i in range(20)],
        "doc_id long, text string",
    )
    w = {r.doc_id: r.logw for r in dsir_importance(raw, target).collect()}
    assert w[1] > w[2]
    assert w[3] > w[1]
    assert len(w) == 23  # every raw doc scored


def test_dsir_importance_weights_are_log_ratios(spark):
    """Exact-value check against a hand-computed single-bucket-free
    model: with one raw doc of one repeated token, logw = tf * ratio
    of that token's bucket."""
    import math

    from nyc_etl_pipeline_spark.functions import py_md5_long
    from nyc_etl_pipeline_spark.operators.lm import dsir_importance

    B, a = 1024, 1.0
    target = spark.createDataFrame([(50, "tok tok tok")], "doc_id long, text string")
    raw = spark.createDataFrame([(1, "tok tok")], "doc_id long, text string")
    # features: unigrams tok x2 + bigram "tok tok" x1 -> two buckets
    b_uni = py_md5_long("tok") % B
    b_bi = py_md5_long("tok tok") % B
    # target: tok x3, "tok tok" x2 (5 feats); raw: tok x2, bigram x1
    ct = {b_uni: 3.0, b_bi: 2.0}
    cq = {b_uni: 2.0, b_bi: 1.0}
    tt, tq = 5.0, 3.0
    want = 0.0
    for b in sorted(set(cq)):
        r = math.log((ct.get(b, 0.0) + a) / (tt + a * B)) - math.log(
            (cq[b] + a) / (tq + a * B)
        )
        want += cq[b] * r  # this doc IS the whole raw corpus: tf == cq
    got = dsir_importance(raw, target).collect()[0]
    assert got.n_feats == 3
    assert abs(got.logw - round(want, 6)) < 1e-9


def test_dsir_importance_scores_all_docs(spark):
    """Every raw doc with a token is scored, over all of its hashed
    unigram and bigram features."""
    from nyc_etl_pipeline_spark.operators.lm import dsir_importance

    target = spark.createDataFrame(
        [(100, "alpha beta alpha"), (101, "beta gamma beta")],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(i, f"alpha beta w{i} gamma") for i in range(12)],
        "doc_id long, text string",
    )
    out = dsir_importance(raw, target).collect()
    assert len(out) == 12
    assert all(r.n_feats == 7 for r in out)  # 4 unigrams + 3 bigrams


def test_rrf_fuse_exact_scores_and_ranks(spark):
    """Hand-computed RRF: doc ranked 1st in both lists scores
    2/(k+1); single-list docs get one contribution; final ranking is
    by fused score then id. Recompute all scores in plain Python."""
    from nyc_etl_pipeline_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3)], "doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(10, 1), (12, 2), (13, 3)], "doc_id long, rank int"
    )
    k = 60
    got = {r["doc_id"]: (r["rrf"], r["rank"]) for r in rrf_fuse([a, b], k=k).collect()}

    def rhu(x):
        import math

        return math.floor(x * 1e6 + 0.5) / 1e6

    expect_scores = {
        10: rhu(1 / 61 + 1 / 61),
        11: rhu(1 / 62),
        12: rhu(1 / 63 + 1 / 62),
        13: rhu(1 / 63),
    }
    assert {d: s for d, (s, _) in got.items()} == expect_scores
    order = sorted(expect_scores, key=lambda d: (-expect_scores[d], d))
    assert [d for d, _ in sorted(got.items(), key=lambda kv: kv[1][1])] == order
    # topk filter keeps exactly the first n of that order
    top2 = {r["doc_id"] for r in rrf_fuse([a, b], k=k, topk=2).collect()}
    assert top2 == set(order[:2])


def test_rrf_fuse_grouped_partitions_per_query(spark):
    from nyc_etl_pipeline_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [("q1", 10, 1), ("q2", 10, 1), ("q2", 11, 2)],
        "query string, doc_id long, rank int",
    )
    b = spark.createDataFrame(
        [("q1", 11, 1), ("q2", 11, 1)],
        "query string, doc_id long, rank int",
    )
    got = {
        (r["query"], r["doc_id"]): r["rank"]
        for r in rrf_fuse([a, b], group_cols=["query"]).collect()
    }
    # q1: both docs have one rank-1 contribution -> tie broken by id
    assert got[("q1", 10)] == 1 and got[("q1", 11)] == 2
    # q2: doc 11 appears in both lists -> beats doc 10's single 1/61
    assert got[("q2", 11)] == 1 and got[("q2", 10)] == 2


def test_hybrid_search_contains_both_modalities(spark, sf_dir):
    """The fused top-k must actually mix modalities on the fixture:
    it contains at least one doc from the sparse-only pool and one
    from the dense-only pool, and every fused doc came from a pool."""
    from nyc_etl_pipeline_spark.operators.retrieval import hybrid_search
    from nyc_etl_pipeline_spark.operators.similarity import cosine_topk

    docs = read_testdata(spark, sf_dir, "documents")
    emb = read_testdata(spark, sf_dir, "embeddings")
    terms, qvec, pool = ["query", "batch", "window"], 0, 30
    fused = {
        r["doc_id"]
        for r in hybrid_search(docs, emb, terms, qvec, pool=pool, topk=15).collect()
    }
    sparse = {r["doc_id"] for r in bm25_topk(docs, terms, k=pool).collect()}
    dense = {
        r["neighbor_id"]
        for r in cosine_topk(emb, emb.filter(F.col("vec_id") == qvec), k=pool).collect()
    }
    assert fused <= (sparse | dense)
    assert fused & sparse and fused & dense
    # docs ranked high by BOTH pools dominate: every doc in the pool
    # intersection that made the fused cut must outrank any
    # single-pool doc that also made it... RRF guarantees a two-list
    # doc at ranks (r1, r2) beats a one-list doc at rank min(r1, r2).
    import pytest as _pytest

    with _pytest.raises(ValueError):
        from nyc_etl_pipeline_spark.operators.retrieval import rrf_fuse

        rrf_fuse([])


# ---- sparse TF-IDF cosine pairs -------------------------------------------

def test_sparse_cosine_planted_pairs(spark):
    from nyc_etl_pipeline_spark.operators.retrieval import sparse_cosine_pairs

    docs = spark.createDataFrame([
        (1, "apple banana cherry apple banana"),
        (2, "apple banana cherry apple grape"),
        (3, "totally unrelated words about engines and pistons"),
        (4, ""),
    ], "doc_id long, text string")
    got = {(r["a_id"], r["b_id"]): r["cosine"]
           for r in sparse_cosine_pairs(docs, threshold=0.3).collect()}
    assert set(got) == {(1, 2)} and 0.5 < got[(1, 2)] <= 1.0


def test_sparse_cosine_max_df_drops_stop_terms(spark):
    """A term in EVERY doc is the only bridge between 1 and 3; capping
    max_df below the corpus size removes the pair (and the self-join
    fan-out it stands for)."""
    from nyc_etl_pipeline_spark.operators.retrieval import sparse_cosine_pairs

    docs = spark.createDataFrame([
        (1, "common alpha beta alpha beta"),
        (2, "common alpha beta alpha gamma"),
        (3, "common delta epsilon zeta eta"),
        # a doc WITHOUT the bridge term keeps idf(common) > 0, so the
        # uncapped form genuinely scores the stop-term-only pairs
        (4, "iota kappa lambda mu nu"),
    ], "doc_id long, text string")
    uncapped = {(r["a_id"], r["b_id"])
                for r in sparse_cosine_pairs(docs, threshold=0.01).collect()}
    capped = {(r["a_id"], r["b_id"])
              for r in sparse_cosine_pairs(docs, max_df=2, threshold=0.01).collect()}
    assert (1, 3) in uncapped and (2, 3) in uncapped
    assert capped == {(1, 2)}


def test_sparse_cosine_vocab_paths_value_identical(spark):
    """The huge-vocab window path (vocab_broadcast=False) must produce
    the identical pair set and cosines as the broadcast path — same
    float expression, different plan shape."""
    from pyspark.sql import functions as F

    from nyc_etl_pipeline_spark.operators.retrieval import sparse_cosine_pairs

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat(F.lit("w"), F.pmod(F.xxhash64("id", F.lit(1)), F.lit(40))),
            F.concat(F.lit("w"), F.pmod(F.xxhash64("id", F.lit(2)), F.lit(40))),
            F.concat(F.lit("w"), F.pmod(F.xxhash64("id", F.lit(3)), F.lit(40))),
            F.concat(F.lit("w"), F.pmod(F.xxhash64("id", F.lit(4)), F.lit(40))),
            F.lit("common"),
        ).alias("text"),
    )
    for cap in (None, 150):
        a = sorted(map(tuple, sparse_cosine_pairs(
            docs, max_df=cap, threshold=0.2).collect()))
        b = sorted(map(tuple, sparse_cosine_pairs(
            docs, max_df=cap, threshold=0.2, vocab_broadcast=False).collect()))
        assert a == b and len(a) > 0


def test_sparse_cosine_tf_released_by_epoch_sweep(spark):
    """The persisted tf follows the hygiene epoch contract: a same-tag
    rebuild on one corpus re-matches the live cache entry (one entry,
    read as an InMemoryRelation), another session's call leaves it
    alone, and two epochs later the sweep releases it while the
    results still recompute."""
    from nyc_etl_pipeline_spark import hygiene as H
    from nyc_etl_pipeline_spark.operators.retrieval import sparse_cosine_pairs

    def npersistent():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    def rows(df):
        return sorted(map(tuple, df.collect()))

    docs = spark.createDataFrame([
        (1, "apple banana cherry apple banana"),
        (2, "apple banana cherry apple grape"),
        (3, "totally unrelated words about engines and pistons"),
    ], "doc_id long, text string")
    H.release_all()
    base = npersistent()
    H.new_epoch("q178")
    first = sparse_cosine_pairs(docs, threshold=0.3)
    want = rows(first)
    H.new_epoch("q178")  # same tag: the bench's second build
    second = sparse_cosine_pairs(docs, threshold=0.3)
    assert rows(second) == want and len(want) == 1
    assert npersistent() == base + 1
    assert "InMemoryRelation" in second._jdf.queryExecution().optimizedPlan().toString()

    other = spark.newSession()
    docs2 = other.createDataFrame([
        (11, "alpha beta gamma alpha beta"),
        (12, "alpha beta gamma alpha delta"),
        (13, "unrelated prose regarding turbines and flywheels"),
    ], "doc_id long, text string")
    assert sparse_cosine_pairs(docs2, threshold=0.3).count() == 1
    assert npersistent() == base + 2
    third = sparse_cosine_pairs(docs, threshold=0.3)
    assert rows(third) == want
    assert npersistent() == base + 2  # still matched the first session's entry

    H.new_epoch("q178_next1")
    H.new_epoch("q178_next2")
    assert npersistent() == base
    assert rows(first) == want

