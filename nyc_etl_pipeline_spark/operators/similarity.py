"""Similarity search over embedding columns (array<float>).

- `cosine_topk`: brute-force exact top-k — the correctness baseline.
  The query set is broadcast (it's small by construction); each
  partition of the corpus scores its rows against every query and
  keeps a local top-k, then a single k*|Q|-row merge. No corpus
  shuffle. Dot products are `zip_with` + `aggregate` higher-order
  expressions — JVM-side, no Python.
- `lsh_bucketed_pairs`: the scale path — sign-random-projection LSH
  buckets shrink the candidate set; exact re-scoring inside buckets.
  Deterministic hyperplanes derive from md5(plane, component) — see
  plane_sign_vectors — so results are reproducible across runs AND
  replicable by an external oracle (probabilistic recall vs brute
  force).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.functions import sql_double
from nyc_etl_pipeline_spark.hygiene import scratch_persist


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors by cosine for each query vector, leaving
    out the query's own id.

    Returns (query_id, neighbor_id, cosine) — cosine rounded to 4,
    ties broken by neighbor id. `queries` must be small (broadcast).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("__cv")
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", cosine(F.col("__qv"), F.col("__cv")).alias("__cos")
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("__cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("__cos", 4).alias("cosine"),
            F.col("__rn").cast("int").alias("rank"),
        )
    )


def hard_negative_topk(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_cosine: float | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive embedding training: per
    anchor, the top-k most-similar corpus vectors with a DIFFERENT
    label. `max_cosine` makes them SEMI-hard — skip near-identical
    vectors (cos > bound), which in practice are unlabeled positives /
    label noise rather than informative negatives.

    Same exact-scan shape as cosine_topk (broadcast anchors, windowed
    per-anchor top-k, corpus never shuffled); at 100 TB the anchor set
    rides the same bucketed/IVF routes as every other ANN consumer —
    this is the exact verification path and the per-bucket rescorer.
    """
    a = anchors.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("__ql"),
        _as_double(F.col(vec_col)).alias("__qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("__cl"),
        _as_double(F.col(vec_col)).alias("__cv"),
    )
    scored = (
        c.join(F.broadcast(a))
        .filter(F.col("__cl") != F.col("__ql"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("__qv"), F.col("__cv")).alias("__cos"),
        )
    )
    if max_cosine is not None:
        scored = scored.filter(F.col("__cos") <= max_cosine)
    w = W.partitionBy("query_id").orderBy(F.col("__cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("__cos", 4).alias("cosine"),
            F.col("__rn").cast("int").alias("rank"),
        )
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_side_rows: int = 1_000_000,
) -> DataFrame:
    """All pairs with cosine >= threshold (embedding near-dedup).

    Arrow-batched BLAS path: one side of the all-pairs comparison is
    broadcast as a normalized float64 matrix; each corpus partition
    does a numpy matmul against it inside mapInPandas (~100x faster
    than per-pair codegen'd higher-order functions — measured 79s ->
    <1s at sf0.1). An all-pairs operator inherently needs one side
    resident per task; that residency is BOUNDED: the corpus is
    counted first and the call refuses above max_side_rows (default
    1M rows ~ 512 MB at 64-dim float64) rather than silently
    collecting an unbounded corpus to the driver. Above the bound,
    use lsh_bucketed_pairs (the scale path) instead.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    n = df.count()
    if n > max_side_rows:
        raise ValueError(
            f"cosine_pairs is the exact all-pairs baseline and broadcasts one full "
            f"side: corpus has {n} rows > max_side_rows={max_side_rows}. Use "
            f"lsh_bucketed_pairs (bucketed, scale-safe) for large corpora, or "
            f"raise max_side_rows explicitly if the driver can hold the matrix."
        )
    side = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")).toPandas()
    ids = side["__id"].to_numpy()
    m = np.stack([np.asarray(v, dtype=np.float64) for v in side["__v"]])
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    b_ids = spark.sparkContext.broadcast(ids)
    b_m = spark.sparkContext.broadcast(m)

    def score(batches):
        all_ids = b_ids.value
        mat = b_m.value
        for pdf in batches:
            a = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            a /= np.linalg.norm(a, axis=1, keepdims=True)
            a_ids = pdf[id_col].to_numpy()
            cos = a @ mat.T
            ai, bi = np.nonzero((cos >= threshold) & (a_ids[:, None] < all_ids[None, :]))
            yield pd.DataFrame(
                {
                    "a_id": a_ids[ai],
                    "b_id": all_ids[bi],
                    "cosine": np.floor(cos[ai, bi] * 10000.0 + 0.5) / 10000.0,
                }
            )

    return df.mapInPandas(score, schema="a_id long, b_id long, cosine double")


#: centroids cached per caller-supplied key — an IVF index's quantizer
#: is fit ONCE at index-build time and reused by every search; refitting
#: per query was the single most expensive item in the round-1 bench
#: (93 s charged to one query). Keyed explicitly (e.g. by corpus path +
#: n_lists) because a DataFrame has no stable content identity.
_CENTROID_CACHE: dict[tuple, list[list[float]]] = {}


def _lloyd(x, k: int, seed: int, iters: int = 20):
    """Seeded Lloyd's k-means in numpy (deterministic; empty clusters
    keep their previous centroid). Quantizer training is a SAMPLE
    problem — a coarse quantizer fit on ~100k rows is statistically
    identical to one fit on the full corpus, so the right architecture
    is a bounded driver-side fit + literal-broadcast centers, not a
    distributed ML job per index build (a distributed KMeans fit was
    ~12 s of the cold q35 time; this is <100 ms)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    k = min(k, len(x))
    # All distances via ||x||^2 - 2 x.c + ||c||^2 (clipped at 0 for
    # the ulp-negative duplicates): the naive broadcast form
    # (x[:,None,:] - cent[None,:,:])**2 allocates an n*k*d float64
    # temporary — ~3.3 GB per sweep at the 100k-sample/64-list fit,
    # which made a single ivf_topk fit the dominant cost of the
    # 1M-vector probe. The Gram form peaks at n*k.
    xn = (x * x).sum(axis=1)

    def d2_one(c):
        return np.maximum(xn - 2.0 * (x @ c) + (c * c).sum(), 0.0)

    # k-means++ seeding (D^2-weighted): random init on uniform-ish data
    # leaves badly unbalanced cells, which costs IVF recall directly
    # (measured 0.52 vs 0.68 at n_probe=3/8 on the uniform fixture).
    # dmin maintained incrementally — O(n*d) per added center.
    cent = x[[rng.integers(len(x))]].copy()
    dmin = d2_one(cent[0])
    for _ in range(k - 1):
        total = dmin.sum()
        if total <= 0:
            nxt = x[[rng.integers(len(x))]]
        else:
            nxt = x[[rng.choice(len(x), p=dmin / total)]]
        cent = np.vstack([cent, nxt])
        dmin = np.minimum(dmin, d2_one(cent[-1]))
    for _ in range(iters):
        d2 = np.maximum(
            xn[:, None] - 2.0 * (x @ cent.T) + (cent * cent).sum(axis=1)[None, :],
            0.0,
        )
        assign = d2.argmin(axis=1)
        for c in range(k):
            mask = assign == c
            if mask.any():
                cent[c] = x[mask].mean(axis=0)
    return cent


def ivf_centroids(
    corpus: DataFrame,
    n_lists: int,
    vec_col: str = "embedding",
    seed: int = 42,
    cache_key: str | None = None,
    sample_rows: int = 100_000,
) -> list[list[float]]:
    """Fit (or fetch cached) the coarse quantizer's centers: seeded
    numpy Lloyd's on a bounded driver-side sample (see _lloyd — the
    same sample-then-broadcast architecture as pq_codebooks).

    The cache key is (cache_key, vec_col, n_lists, seed). ``cache_key``
    identifies the CORPUS CONTENT, not just its location — callers must
    change it when the data at a path changes (e.g. key by path +
    snapshot/version, or path + mtime). A stale key silently reuses
    centroids fit on the old corpus, shifting cell assignments and
    therefore IVF results.
    """
    import numpy as np

    key = (cache_key, vec_col, n_lists, seed)
    if cache_key is not None and key in _CENTROID_CACHE:
        return _CENTROID_CACHE[key]
    rows = (
        corpus.select(_as_double(F.col(vec_col)).alias("__v"))
        .limit(sample_rows)
        .toPandas()["__v"]
    )
    x = np.stack([np.asarray(v, dtype=np.float64) for v in rows])
    centers = [[float(v) for v in c] for c in _lloyd(x, n_lists, seed)]
    if cache_key is not None:
        _CENTROID_CACHE[key] = centers
    return centers


#: above this many literal terms (centers * dims, summed over
#: subspaces), the nearest-center argmin switches from the JVM
#: expression (_center_d2) to one Arrow/BLAS matmul per batch (_pq_codes).
#: Higher-order-function folds are INTERPRETED (not codegen'd): at 64
#: lists x 64 dims the per-row tree measured 532 s for a 100k-vector
#: assignment, vs seconds for one batched matmul, and a realistic
#: 64-dim / m=8 / 16-centroid PQ book is 1024 terms per row. 512 keeps
#: the gate configurations (q35's 8 x 64 cells, q101's 128-term book)
#: on the exact JVM path.
_NEAREST_EXPR_MAX_TERMS = 512


def _double_array(values) -> Column:
    """A (nested) list of doubles as ONE literal: a parsed SQL
    `array(...)` that Catalyst folds once, so building it costs one
    py4j call instead of one F.lit per element. sql_double round-trips
    every double exactly, so the values equal F.lit's."""

    def render(v) -> str:
        if isinstance(v, (list, tuple)):
            return "array(" + ", ".join(render(x) for x in v) + ")"
        return sql_double(v)

    return F.expr(render(values))


def _center_d2(vec: Column, centers: list[list[float]]) -> Column:
    """Per row, the array<struct<d2, idx>> of squared euclidean
    distances from `vec` to each literal center, in center order. d2 is
    the index-ordered left fold of squared differences from 0.0 (the
    float sequence the k-means Arrow twin and DuckDB's list_reduce
    replay). A NULL vector, or one whose length differs from the
    centers', gets NULL d2 everywhere. Ties between centers go to the
    lowest idx under struct ordering."""
    return F.transform(
        _double_array(centers),
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d2"),
            i.alias("idx"),
        ),
    )


def _nearest_cell(vec: Column, centers: list[list[float]]) -> Column:
    """argmin over squared euclidean distance to literal centers, ties
    to the lowest cell index: an IVF cell is the one-subspace PQ code
    (see _pq_codes for the JVM and Arrow paths)."""
    return _pq_codes(vec, [centers])[0]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    cache_key: str | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a seeded KMeans coarse
    quantizer assigns each corpus vector to one of n_lists cells; a
    query scores only the n_probe nearest cells' vectors. Search cost
    drops by ~n_lists/n_probe at a recall cost when true neighbors sit
    in unprobed cells (recall vs the exact baseline is pinned in
    pytest).

    The cell assignment is the shuffle key at scale: corpus partitions
    by cell once (write-time layout), queries broadcast. Spark ML
    KMeans with a fixed seed keeps assignments deterministic; pass
    cache_key (e.g. the corpus path) to fit the quantizer once per
    session instead of per call — at scale, centroids live with the
    index, not the query.
    """
    centers = ivf_centroids(corpus, n_lists, vec_col, seed, cache_key)
    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__cv"),
        _nearest_cell(F.col(vec_col), centers).alias("__cell"),
    )
    probes = _ivf_probes(queries, centers, n_probe, id_col, vec_col)
    return _ivf_rank(assigned, probes, k)


def _ivf_probes(
    queries: DataFrame,
    centers: list[list[float]],
    n_probe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, __qv, __cell): each query's n_probe nearest cells by
    euclidean distance to the literal centers (ties to lowest cell),
    as one projection per query row (sort its _center_d2 pairs, keep
    the first n_probe): no join, no shuffle."""
    probes = F.slice(F.sort_array(_center_d2(F.col("__qv"), centers)), 1, n_probe)
    return (
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
        )
        .select("query_id", "__qv", F.explode(probes).alias("__p"))
        .select("query_id", "__qv", F.col("__p.idx").alias("__cell"))
    )


def _ivf_rank(assigned: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Exact cosine rescoring of the probed cells' members, top-k per
    query (ties to lowest neighbor id)."""
    scored = assigned.join(F.broadcast(probes), on="__cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    w = W.partitionBy("query_id").orderBy(
        cosine(F.col("__qv"), F.col("__cv")).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("__qv"), F.col("__cv")), 4).alias("cosine"),
            F.col("__rn").cast("int").alias("rank"),
        )
    )


def ivf_write_index(
    corpus: DataFrame,
    path: str,
    n_lists: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    cache_key: str | None = None,
) -> list[list[float]]:
    """Materialize the IVF index as a parquet table PARTITIONED BY
    cell: fit (or fetch) the coarse quantizer, assign every corpus
    vector to its nearest cell, and lay the corpus out so each cell is
    its own partition directory. Returns the fitted centers — they ARE
    the index metadata and must be stored alongside (the cache_key
    contract in ivf_centroids).

    This is the write-time half of the 100 TB ANN story: probing is
    then PARTITION PRUNING — `ivf_topk_indexed` pushes the probed
    cell ids into the scan as a static partition filter, so a search
    touches n_probe/n_lists of the stored bytes and the unprobed
    cells are never opened (asserted on the plan's PartitionFilters
    in tests/test_ivf_index.py)."""
    centers = ivf_centroids(corpus, n_lists, vec_col, seed, cache_key)
    _write_by_cell(
        corpus.select(
            F.col(id_col),
            F.col(vec_col),
            _nearest_cell(F.col(vec_col), centers).alias("__cell"),
        ),
        path,
    )
    return centers


def _write_by_cell(df: DataFrame, path: str) -> None:
    """Write `df` as parquet with one partition directory per `__cell`
    (all of a cell's rows go to one task, so each directory holds one
    file) — the layout the indexed searches prune on."""
    (
        df.repartition("__cell")
        .write.partitionBy("__cell")
        .mode("overwrite")
        .parquet(path)
    )


def ivf_topk_indexed(
    spark,
    path: str,
    centers: list[list[float]],
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a stored IVF index (see ivf_write_index) reading ONLY
    the probed cells: the probe set (n_probe * |queries| cell ids — a
    bounded driver-side list by the broadcast-queries contract) is
    pushed as a static `__cell IN (...)` partition filter, then the
    standard exact in-cell rescore ranks the survivors. Identical
    results to ivf_topk on the same corpus + centers; the scan cost
    drops from the full table to the probed directories."""
    probes = _ivf_probes(queries, centers, n_probe, id_col, vec_col)
    cells = [
        int(r["__cell"])
        for r in probes.select("__cell").distinct().collect()
    ]
    assigned = (
        spark.read.parquet(path)
        .filter(F.col("__cell").isin(cells))
        .select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("__cv"),
            F.col("__cell").cast("int").alias("__cell"),
        )
    )
    return _ivf_rank(assigned, probes, k)


def sq8_stats(corpus: DataFrame, vec_col: str = "embedding") -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) over the corpus — the scalar-quantizer
    codebook. One posexplode + 64-group aggregate; the result is
    dim-bounded (64 rows), so collecting it to the driver is free. At
    index scale the stats live with the index like IVF centroids."""
    stats = (
        corpus.select(F.posexplode(_as_double(F.col(vec_col))).alias("__j", "__x"))
        .groupBy("__j")
        .agg(F.min("__x").alias("mn"), F.max("__x").alias("mx"))
        .orderBy("__j")
        .collect()
    )
    return [r["mn"] for r in stats], [r["mx"] for r in stats]


def sq8_encode(vec: Column, mins: list[float], maxes: list[float]) -> Column:
    """8-bit scalar quantization: code_j = clamp(floor((x_j - min_j) /
    (max_j - min_j) * 255), 0, 255). 4 bytes/dim -> 1 byte/dim: the
    memory-compression scale path for billion-vector corpora (a PQ
    codebook does better but needs a KMeans training pass; SQ8 is
    training-free and fully deterministic — every engine reproduces the
    identical codes, so the whole ANN pipeline stays oracle-checkable)."""
    mnv = _double_array(mins)
    rngv = _double_array([(mx - mn) if mx > mn else 1.0 for mn, mx in zip(mins, maxes)])
    return F.zip_with(
        F.zip_with(vec, mnv, lambda x, mn: x - mn),
        rngv,
        lambda d, rng: F.least(
            F.greatest(F.floor(d / rng * 255.0), F.lit(0.0)), F.lit(255.0)
        ),
    )


def sq8_decode(codes: Column, mins: list[float], maxes: list[float]) -> Column:
    """Reconstruction at bucket midpoints: x̂_j = min_j + (code_j + 0.5)
    * range_j / 256."""
    mnv = _double_array(mins)
    rngv = _double_array([(mx - mn) if mx > mn else 1.0 for mn, mx in zip(mins, maxes)])
    return F.zip_with(
        F.zip_with(codes, rngv, lambda c, rng: (c + 0.5) * rng / 256.0),
        mnv,
        lambda d, mn: mn + d,
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k over SQ8-reconstructed vectors (symmetric:
    both sides quantized). Same broadcast-probe shape as cosine_topk —
    scoring cost is identical; the win is the 4x smaller resident
    index. Returns (query_id, neighbor_id, acosine rounded 4, rank by
    approximate cosine)."""
    mins, maxes = sq8_stats(corpus, vec_col)
    recon = lambda c: sq8_decode(sq8_encode(c, mins, maxes), mins, maxes)  # noqa: E731
    q = queries.select(
        F.col(id_col).alias("query_id"), recon(_as_double(F.col(vec_col))).alias("__qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), recon(_as_double(F.col(vec_col))).alias("__cv")
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine(F.col("__qv"), F.col("__cv")).alias("__cos"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("__cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("__cos", 4).alias("acosine"),
            F.col("__rn").cast("int").alias("rank"),
        )
    )


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_rows: int = 100_000,
    iters: int = 20,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: the embedding is split into `m`
    contiguous subvectors; each subspace gets its own `n_centroids`-way
    codebook (seeded Lloyd's k-means in numpy on a driver-side sample).

    PQ codebooks are ALWAYS trained on a sample — the whole point is a
    compact code learned once and applied to billions of vectors — so
    the bounded `sample_rows` collect is the real algorithm, not a
    shortcut. At 64 dims / m=8 / 16 centroids a vector compresses to
    m*log2(k) = 32 bits (vs 256 bytes float32): 64x, the memory tier
    below SQ8's 4x. Returns codebooks[s][c] = centroid c of subspace s.
    """
    import numpy as np

    rows = (
        corpus.select(_as_double(F.col(vec_col)).alias("__v"))
        .limit(sample_rows)
        .toPandas()["__v"]
    )
    x = np.stack([np.asarray(v, dtype=np.float64) for v in rows])
    dim = x.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books: list[list[list[float]]] = []
    for s in range(m):
        xs = x[:, s * sub : (s + 1) * sub]
        cent = _lloyd(xs, n_centroids, seed + s, iters)
        books.append([[float(v) for v in c] for c in cent])
    return books


def _pq_codes(vec: Column, books: list[list[list[float]]]) -> Column:
    """array<int> column of PQ codes: code[s] = argmin_c ||x_s -
    books[s][c]||^2, ties to the lowest centroid index (the same
    first-minimum rule as numpy argmin).

    Small books take the nearest _center_d2 pair per subspace slice
    (exact folds, no Python; a row whose distances are all NULL gets a
    NULL code, since NULL pairs are dropped before the minimum). Past
    _NEAREST_EXPR_MAX_TERMS total terms the argmin runs as one
    (batch x sub) @ (sub x k) BLAS matmul per subspace per Arrow batch
    using the identity argmin_c ||x-c||^2 == argmin_c (||c||^2/2 - x.c).
    The two paths agree except on float near-ties between centroids
    (the IVF contract: quality-at-rank, not cell identity)."""
    m = len(books)
    n_centroids = len(books[0])
    sub = len(books[0][0])

    if m * n_centroids * sub <= _NEAREST_EXPR_MAX_TERMS:
        v = _as_double(vec)
        # a one-subspace book (an IVF cell) reads the whole vector, so
        # a vector longer than the centers gets a NULL cell, not a cell
        # of its prefix
        pieces = [v] if m == 1 else [F.slice(v, s * sub + 1, sub) for s in range(m)]
        return F.array(
            *[
                F.array_min(
                    F.filter(_center_d2(piece, book), lambda p: p["d2"].isNotNull())
                )["idx"]
                for piece, book in zip(pieces, books)
            ]
        )

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    B = [np.asarray(book, dtype=np.float64) for book in books]  # (k, sub) each
    half_bn = [0.5 * (Bs * Bs).sum(axis=1) for Bs in B]

    # no type hints: the module's `from __future__ import annotations`
    # turns them into strings the UDF hint-inference can't resolve for
    # locally-imported pandas; the positional form infers SCALAR.
    def _codes(vs):
        if len(vs) == 0:
            return pd.Series([], dtype="object")
        x = np.stack(vs.to_numpy())
        out = np.empty((x.shape[0], m), dtype=np.int32)
        for s in range(m):
            xs = x[:, s * sub : (s + 1) * sub]
            out[:, s] = np.argmin(half_bn[s][None, :] - xs @ B[s].T, axis=1)
        return pd.Series(list(out))

    return pandas_udf(_codes, "array<int>")(vec)


def pq_encode(
    corpus: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector to its PQ codes (see _pq_codes). Returns
    (id_col, codes array<int>) — m small ints per vector, the
    64x-compressed representation that pq_topk scans."""
    return corpus.select(
        F.col(id_col), _pq_codes(F.col(vec_col), books).alias("codes")
    )


def _stored_pq_codes(vec: Column, books: list[list[list[float]]]) -> Column:
    """The stored code column: array<tinyint>, one byte per subspace."""
    if len(books[0]) > 128:
        raise ValueError("PQ index: tinyint codes need n_centroids <= 128")
    return _pq_codes(vec, books).cast("array<tinyint>")


def _collect_queries(q: DataFrame, max_queries: int, per_query: int = 1) -> list:
    """Bounded driver-side collect of a (query_id, __qv, ...) frame
    holding exactly `per_query` rows per query (the ADC LUTs are
    per-query state); refuses above max_queries queries instead of
    silently growing."""
    qrows = q.limit((max_queries + 1) * per_query).collect()
    if len(qrows) > max_queries * per_query:
        raise ValueError(
            f"query side exceeds max_queries={max_queries}; "
            "ADC LUTs are per-query driver-side state — batch the queries"
        )
    return qrows


def _pq_luts(qrows: list, books: list[list[list[float]]]):
    """(qids, DT, NSQ, qnorm): DT[q, s, c] = dot(q_s, books[s][c]),
    NSQ[s, c] = ||books[s][c]||^2 — everything an ADC scan needs."""
    import numpy as np

    m = len(books)
    sub = len(books[0][0])
    qids = np.asarray([r["query_id"] for r in qrows], dtype=np.int64)
    Q = np.stack([np.asarray(r["__qv"], dtype=np.float64) for r in qrows])
    Bk = [np.asarray(book, dtype=np.float64) for book in books]
    DT = np.stack(
        [Q[:, s * sub : (s + 1) * sub] @ Bk[s].T for s in range(m)], axis=1
    )
    NSQ = np.stack([(Bs * Bs).sum(axis=1) for Bs in Bk])
    qnorm = np.sqrt((Q * Q).sum(axis=1))
    return qids, DT, NSQ, qnorm


def _exact_rerank(
    top: DataFrame, corpus: DataFrame, id_col: str, vec_col: str, k: int
) -> DataFrame:
    """Standard refine stage: exact cosines on the shortlist only
    (one bounded join back to the raw vectors), true top-k out."""
    raw = corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__raw"))
    rescored = (
        top.select("query_id", "neighbor_id")
        .join(
            F.broadcast(
                raw.select(F.col(id_col).alias("query_id"), F.col("__raw").alias("__q"))
            ),
            on="query_id",
        )
        .join(
            raw.select(F.col(id_col).alias("neighbor_id"), F.col("__raw").alias("__n")),
            on="neighbor_id",
        )
        .select("query_id", "neighbor_id", cosine(F.col("__q"), F.col("__n")).alias("__tc"))
    )
    w2 = W.partitionBy("query_id").orderBy(F.col("__tc").desc(), F.col("neighbor_id"))
    return (
        rescored.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("__tc", 4).alias("acosine"),
            F.col("__rn").cast("int").alias("rank"),
        )
    )


def _adc_search(
    codes: DataFrame,
    qrows: list,
    books: list[list[list[float]]],
    k: int,
    id_col: str,
    vec_col: str,
    rerank: int,
    corpus: DataFrame | None,
    member=None,
) -> DataFrame:
    """The one LUT-ADC scan and tail behind pq_topk and
    ivfpq_topk_indexed. `member` (|Q| x n_lists bool, rows in `qrows`
    order) restricts each query to the rows of the cells it probed;
    `codes` then carries `__cell`. Per Arrow batch each query keeps a
    local top-shortlist, a window keeps the global one, and the tail
    either rounds the ADC cosine or reranks exactly against `corpus`."""
    import numpy as np
    import pandas as pd

    if rerank > 0 and corpus is None:
        raise ValueError("PQ search: rerank > 0 needs the raw corpus")
    qids, DT, NSQ, qnorm = _pq_luts(qrows, books)
    subspaces = np.arange(len(books))[None, :]
    shortlist = k * rerank if rerank > 0 else k

    def _scan(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            C = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (B, m)
            rnorm = np.sqrt(NSQ[subspaces, C].sum(axis=1))  # (B,)
            cells = None if member is None else pdf["__cell"].to_numpy(dtype=np.int64)
            out_q, out_n, out_c = [], [], []
            for qi, qid in enumerate(qids):
                keep = ids != qid
                if member is None:  # one excluded row: cheaper than copying C[keep]
                    cos = DT[qi][subspaces, C].sum(axis=1) / (qnorm[qi] * rnorm)
                    cid, cos = ids[keep], cos[keep]
                else:  # most rows are outside the probed cells: gather the kept ones
                    keep &= member[qi][cells]
                    cid = ids[keep]
                    cos = DT[qi][subspaces, C[keep]].sum(axis=1) / (qnorm[qi] * rnorm[keep])
                # ties: cosine desc then id asc — lexsort is stable
                order = np.lexsort((cid, -cos))[:shortlist]
                out_q.append(np.full(len(order), qid, dtype=np.int64))
                out_n.append(cid[order])
                out_c.append(cos[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "__cos": np.concatenate(out_c),
                }
            )

    scored = codes.mapInPandas(
        _scan, schema="query_id long, neighbor_id long, __cos double"
    )
    w = W.partitionBy("query_id").orderBy(F.col("__cos").desc(), F.col("neighbor_id"))
    top = scored.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= shortlist
    )
    if rerank > 0:
        return _exact_rerank(top, corpus, id_col, vec_col, k)
    return top.select(
        "query_id",
        "neighbor_id",
        F.round("__cos", 4).alias("acosine"),
        F.col("__rn").cast("int").alias("rank"),
    )


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    books: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int = 0,
    corpus: DataFrame | None = None,
    max_queries: int = 4096,
) -> DataFrame:
    """Asymmetric-distance (ADC) PQ search over PQ codes (pq_encode's
    output, or a pq_write_index table read back): raw query vectors
    against compressed corpus rows — queries are few, so they stay
    exact; only the billion-row side is compressed. The scan never
    touches a raw vector and never reconstructs one. For query q:
    DT[s][c] = q_s . books[s][c] and NSQ[s][c] = ||books[s][c]||^2 are
    (m x k) tables computed once driver-side; a corpus row's
    approximate cosine is then m table gathers:

        cos = sum_s DT[s][code_s] / (||q|| * sqrt(sum_s NSQ[s][code_s]))

    (exact for the concatenated reconstruction, because subspaces are
    orthogonal coordinate blocks). Per Arrow batch the scan does m
    fancy-index gathers per query over the whole batch — no distance
    folds — and keeps a local top-k per query (ties: cosine desc,
    neighbor_id asc; the query's own id is left out), so the shuffle is
    |batches| * |Q| * k rows, not N * |Q|. Returns (query_id,
    neighbor_id, acosine rounded to 4, rank).

    PQ codes collapse everything finer than the codebook resolution:
    members of one cell tie, so rank order INSIDE a neighborhood is
    meaningless (that is PQ's contract — coarse retrieval, 64x less
    memory) and the id tie rule picks among them. `rerank=r > 0` adds
    the standard refine stage: keep the top k*r by ADC cosine,
    re-score ONLY that shortlist with exact cosines against `corpus`
    (required then; one join back to the raw vectors of k*r*|Q| rows —
    negligible against the corpus scan), return the true top-k. This
    is the IVF-PQ+refine architecture: compressed scan for candidate
    generation, exact math on the shortlist. The queries are collected
    to the driver; more than `max_queries` raises."""
    qrows = _collect_queries(
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
        ),
        max_queries,
    )
    return _adc_search(codes, qrows, books, k, id_col, vec_col, rerank, corpus)


def pq_write_index(
    corpus: DataFrame,
    path: str,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the PQ index: (id, codes array<tinyint>) parquet —
    m bytes of payload per vector (n_centroids <= 128), the stored
    form of the 64x memory tier. The codebooks are the index metadata
    and travel separately (a few KB of floats — store them with the
    path, as ivf_write_index does with its centers). Search with
    `pq_topk(spark.read.parquet(path), ...)`; ivfpq_write_index adds
    the IVF cell layout (partition-pruned scan over coded cells)."""
    corpus.select(
        F.col(id_col), _stored_pq_codes(F.col(vec_col), books).alias("codes")
    ).write.mode("overwrite").parquet(path)


def ivfpq_write_index(
    corpus: DataFrame,
    path: str,
    books: list[list[list[float]]],
    n_lists: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    cache_key: str | None = None,
) -> list[list[float]]:
    """IVF-PQ index: the billion-scale ANN layout. Each vector is
    (a) assigned to its nearest coarse cell (the IVF half — cells
    become parquet partition directories, so probing is partition
    pruning) and (b) stored ONLY as its m-byte PQ code (the PQ half —
    the raw vector never hits the index); both come from one
    projection over the corpus. A probed search reads n_probe/n_lists
    of an already-64x-compressed table; with n_lists=1024 and m=8 a
    billion 64-dim float32 vectors index into ~8 GB of codes spread
    over prunable directories. Returns the coarse centers; store them
    AND the codebooks with the path — they are the index metadata."""
    codes = _stored_pq_codes(F.col(vec_col), books)
    centers = ivf_centroids(corpus, n_lists, vec_col, seed, cache_key)
    _write_by_cell(
        corpus.select(
            F.col(id_col),
            codes.alias("codes"),
            _nearest_cell(F.col(vec_col), centers).alias("__cell"),
        ),
        path,
    )
    return centers


def ivfpq_topk_indexed(
    spark,
    path: str,
    centers: list[list[float]],
    books: list[list[list[float]]],
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int = 0,
    corpus: DataFrame | None = None,
    max_queries: int = 4096,
) -> DataFrame:
    """Search a stored IVF-PQ index: each query's probed cells come
    from _ivf_probes (the rule ivf_topk_indexed uses: distance, then
    lowest cell), their union is pushed as a static partition filter
    (unprobed directories are never opened), and pq_topk's ADC scan
    scores each surviving code row against exactly the queries that
    probed its cell — a (|Q| x n_lists) boolean membership matrix in
    the scan closure keeps that per-row, per-query masking a
    vectorized gather. Same tie rules and `rerank` stage as pq_topk."""
    import numpy as np

    # one collect of the probe rows (query_id, __qv, __cell) yields both
    # the query vectors and their cells: the query source is read once
    probes = _collect_queries(
        _ivf_probes(queries, centers, n_probe, id_col, vec_col),
        max_queries,
        min(n_probe, len(centers)),
    )
    qrows = list({r["query_id"]: r for r in probes}.values())
    row_of = {r["query_id"]: i for i, r in enumerate(qrows)}
    member = np.zeros((len(qrows), len(centers)), dtype=bool)
    for r in probes:
        member[row_of[r["query_id"]], r["__cell"]] = True
    codes = spark.read.parquet(path).filter(
        F.col("__cell").isin(sorted({int(r["__cell"]) for r in probes}))
    )
    return _adc_search(
        codes, qrows, books, k, id_col, vec_col, rerank, corpus, member
    )


def plane_sign_vectors(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplane components: component (p, j) is +1
    iff the first hex digit of md5(f"{p}_{j}") is odd. Computed
    driver-side ONCE and embedded as literals — the alternative
    (hashing (p, j) per row inside a higher-order function) re-derives
    the same n_planes*dim constants for every corpus row. Any engine
    (or plain Python) with md5 reproduces the planes exactly, so
    LSH bucket assignments are oracle-checkable."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{p}_{j}".encode()).hexdigest()[0], 16) % 2 else -1.0
            for j in range(dim)
        ]
        for p in range(n_planes)
    ]


def lsh_bucket(vec: Column, n_planes: int, dim: int) -> Column:
    """Sign-random-projection bucket id (n_planes-bit integer)."""
    out = F.lit(0).cast("bigint")
    for p, signs in enumerate(plane_sign_vectors(n_planes, dim)):
        sv = _double_array(signs)
        proj = F.aggregate(
            F.zip_with(vec, sv, lambda x, s: x * s), F.lit(0.0), lambda acc, x: acc + x
        )
        sign = F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0))
        out = out + F.shiftleft(sign.cast("bigint"), p)
    return out


def _probe_dim(df: DataFrame, vec_col: str, dim: int | None) -> int:
    """Resolve/validate the embedding dimensionality with ONE aggregate
    over the corpus (min(size) == max(size)). A mismatched or ragged
    corpus would otherwise make zip_with null-pad some projections and
    silently collapse those vectors into bucket 0 (degrading the
    bucketed join toward O(n^2)) — fail fast instead. The agg is a
    single map-side-combinable pass over an int per row; at index-build
    scale that cost is noise next to the bucketing pass itself."""
    row = df.select(
        F.min(F.size(F.col(vec_col))).alias("dmin"),
        F.max(F.size(F.col(vec_col))).alias("dmax"),
    ).first()
    if row is None or row["dmin"] is None:
        return dim or 0
    if row["dmin"] != row["dmax"]:
        raise ValueError(
            f"ragged embedding column {vec_col!r}: lengths range "
            f"{row['dmin']}..{row['dmax']} — only uniform-length corpora are "
            f"supported (null-padded zip_with would silently mis-bucket rows)"
        )
    actual = row["dmax"]
    if dim is not None and dim != actual:
        raise ValueError(
            f"dim={dim} does not match the data's embedding length {actual} "
            f"(column {vec_col!r})"
        )
    return actual


def lsh_bucketed_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Near-dup pairs via LSH bucketing + exact in-bucket rescoring.
    Join cost drops from n^2 to sum(|bucket|^2); recall is
    probabilistic (pairs split across buckets are missed). dim=None
    derives the embedding length from the data (one-row probe)."""
    dim = _probe_dim(df, vec_col, dim)
    # norms precomputed ONCE per vector: the in-bucket rescore then
    # pays one dot-product fold per candidate pair instead of three
    # (dot + both norms — higher-order folds are interpreted, so this
    # is the pair-scoring hot path; sqrt(dot(v,v)) here is the exact
    # expression cosine() evaluates, so results are bit-identical and
    # the q27 oracle is unaffected). Measured idle best-of-2 at 1M
    # vectors: 40.3 s -> 21.3 s, together with dropping the
    # dropDuplicates: each vector has exactly ONE bucket, so the
    # bucket join emits every pair at most once and the dedup was a
    # full shuffle of the candidate pairs for nothing.
    v = df.select(
        F.col(id_col).alias("__id"),
        _as_double(F.col(vec_col)).alias("__v"),
    ).withColumn("__bucket", lsh_bucket(F.col("__v"), n_planes, dim))
    v = v.withColumn("__n", l2norm(F.col("__v")))
    a = v.select(
        F.col("__id").alias("a_id"), F.col("__v").alias("__va"),
        F.col("__n").alias("__na"), "__bucket",
    )
    b = v.select(
        F.col("__id").alias("b_id"), F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"), "__bucket",
    )
    cos = dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
    return (
        a.join(b, on="__bucket")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", cos.alias("__cos"))
        .filter(F.col("__cos") >= threshold)
        .select("a_id", "b_id", F.round("__cos", 4).alias("cosine"))
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup-style embedding dedup (Abbas et al. 2023): partition
    the corpus into semantic buckets (sign-random-projection LSH, the
    cheap stand-in for their k-means clustering), pick one
    representative per bucket (min id — deterministic), and flag every
    other member whose cosine to the representative exceeds
    `threshold` for removal.

    Returns the removal report for every NON-representative vector:
    (id, bucket, rep_id, cosine, dropped). Representatives are always
    kept and don't appear in the output.

    Scale shape: unlike `lsh_bucketed_pairs`, this never joins a
    bucket against itself — each member compares against exactly ONE
    representative vector, so cost is linear in corpus size (one
    bucketing projection, one small group-by for reps, two equi-joins)
    regardless of bucket skew. That is the property that makes
    semantic dedup runnable at 100 TB where pairwise in-bucket
    rescoring is not.
    """
    dim = _probe_dim(df, vec_col, dim)
    v = df.select(
        F.col(id_col).alias("__id"),
        _as_double(F.col(vec_col)).alias("__v"),
    ).withColumn("__bucket", lsh_bucket(F.col("__v"), n_planes, dim))
    reps = v.groupBy("__bucket").agg(F.min("__id").alias("rep_id"))
    rep_vecs = (
        v.join(reps, on="__bucket")
        .filter(F.col("__id") == F.col("rep_id"))
        .select("__bucket", "rep_id", F.col("__v").alias("__rv"))
    )
    cos = cosine(F.col("__v"), F.col("__rv"))
    from nyc_etl_pipeline_spark.functions import round_half_up

    return (
        v.join(rep_vecs, on="__bucket")
        .filter(F.col("__id") != F.col("rep_id"))
        .select(
            F.col("__id").alias(id_col),
            F.col("__bucket").alias("bucket"),
            "rep_id",
            round_half_up(cos, 4).alias("cosine"),
            (cos >= threshold).alias("dropped"),
        )
    )


def label_cohesion(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-label embedding-cluster quality: mean cosine similarity of
    each vector to its own label's centroid — the cohesion metric an
    embedding-clustered curation pipeline monitors (a label whose
    cohesion collapses is a mislabeled or noisy slice).

    Long-format dataflow: (id, label, dim, val) via posexplode, so the
    centroid is a plain (label, dim) average, the squared norms are
    per-id / per-label sums, and the dot with the own-label centroid
    is one join on (label, dim) followed by a per-id sum. Everything
    is partial-aggregable JVM-side; nothing materializes a dim-sized
    array on the driver, so the same plan holds for 64 or 4096 dims.
    """
    from nyc_etl_pipeline_spark.functions import round_half_up

    ex = df.select(
        F.col(id_col).alias("vid"),
        F.col(label_col).alias("lbl"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    ).select("vid", "lbl", (F.col("pos") + 1).alias("dim"), F.col("val").cast("double").alias("val"))
    cent = ex.groupBy("lbl", "dim").agg(F.avg("val").alias("c"))
    cent_norm = cent.groupBy("lbl").agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nc"))
    per_vec = (
        ex.join(cent, ["lbl", "dim"])
        .groupBy("vid", "lbl")
        .agg(
            F.sum(F.col("val") * F.col("c")).alias("dot"),
            F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("nv"),
        )
    )
    return (
        per_vec.join(F.broadcast(cent_norm), "lbl")
        .groupBy(F.col("lbl").alias(label_col))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            round_half_up(F.avg(F.col("dot") / (F.col("nv") * F.col("nc"))), 6).alias("cohesion"),
        )
    )


def jl_sign_matrix(d_in: int, d_out: int, seed_prefix: str = "jl") -> list[list[float]]:
    """Deterministic Rademacher (+-1) projection matrix derived from
    md5 parity — reproducible in ANY engine (the oracle SQL embeds the
    same literals; `py_md5_long` is the shared derivation)."""
    from nyc_etl_pipeline_spark.functions import py_md5_long

    return [
        [
            1.0 if py_md5_long(f"{seed_prefix}:{i}:{j}") % 2 == 0 else -1.0
            for i in range(1, d_in + 1)
        ]
        for j in range(1, d_out + 1)
    ]


def jl_project(
    df: DataFrame,
    vec_col: str = "embedding",
    d_in: int = 64,
    d_out: int = 16,
    id_cols: tuple[str, ...] = ("vec_id",),
    seed_prefix: str = "jl",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: d_in -> d_out dims via
    a signed-sum sketch, x'_j = (sum_i x_i * s_ij) / sqrt(d_out).

    The cheap dimensionality cut BEFORE an ANN index: pairwise
    distances are preserved within (1 +- eps) w.h.p. (JL lemma;
    Achlioptas shows Rademacher entries suffice — no Gaussians), so a
    16-dim index probes ~4x fewer bytes per candidate than 64-dim
    with a modest recall cost that exact re-scoring on the original
    vectors recovers.

    Engine parity: the sign matrix is embedded as LITERAL arrays
    (from `jl_sign_matrix`, same constants as the oracle SQL), each
    output dim is an index-ORDERED left fold (same double-addition
    sequence in Spark's aggregate() and DuckDB's list_reduce), and
    d_out a power of 4 keeps 1/sqrt(d_out) an exact power of two.
    All JVM-side column expressions — no UDF, no shuffle.
    """
    signs = jl_sign_matrix(d_in, d_out, seed_prefix)
    scale = d_out ** 0.5

    def _term(arr):
        # bind the per-j sign array via closure (a defaulted lambda
        # param would change the arity PySpark infers for aggregate)
        return lambda acc, i: acc + F.element_at(F.col(vec_col), i).cast(
            "double"
        ) * F.element_at(arr, i)

    cols = list(id_cols)
    for j, row in enumerate(signs, start=1):
        arr = _double_array(row)
        fold = F.aggregate(F.sequence(F.lit(1), F.lit(d_in)), F.lit(0.0), _term(arr))
        cols.append((fold / F.lit(scale)).alias(f"jl_{j}"))
    return df.select(*cols)


# --------------------------------------------------------------------------
# Distributed fixed-round k-means (Lloyd) with a replayable recurrence
# --------------------------------------------------------------------------


#: k * dim at or below which kmeans_fixed assigns with the JVM
#: expression; above it, with the exact Arrow twin. Measured at 1M x 64,
#: k=8 (512 terms): 13.7 s Arrow vs 47.3 s JVM; the q165 gate's k=4
#: (256 terms) stays on the JVM path. Lower than _NEAREST_EXPR_MAX_TERMS
#: because the twin keeps the exact fold and so is slower than BLAS.
_KMEANS_JVM_MAX_TERMS = 256


def kmeans_fixed(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 4,
    n_rounds: int = 3,
    id_col: str = "vec_id",
) -> DataFrame:
    """Distributed Lloyd k-means over an embedding column, run for a
    FIXED `n_rounds` rounds from a deterministic init (the vectors of
    the `k` smallest ids, cluster j = rank in id order). Returns one
    row per input vector: (id, cluster, dist2) — the assignment of the
    FINAL round and its squared L2 distance.

    Fixing the round count (q125/q162 pattern) makes an iterative ML
    algorithm fully oracle-replayable: `sql_kmeans_chain` unrolls the
    identical recurrence as chained MATERIALIZED CTEs from the same
    constants, and every round is bit-exact across engines:

    - components are quantized ONCE to 6 dp with the shared floor-form
      round (identical double expression both engines). That makes the
      later DECIMAL(28,6) casts boundary-safe: the quantized double is
      within ~1e-10 of an exact 1e-6 multiple, so Spark's
      exact-expansion HALF_UP and DuckDB's scaled-double rounding both
      land on the same integer — for RAW doubles the two casts can
      disagree within double-multiply error of a .5 boundary
      (~4e-10/value — a real, if rare, hash-flip at gate scale).
    - per-round centroids are dec_sum (exact DECIMAL, merge-order
      independent) over the quantized components divided by count(*):
      identical doubles on both engines regardless of partial-agg
      order.
    - distances are index-ORDERED left folds of (x_i - c_i)^2 (the
      q145 pairing: aggregate() with 0.0 init == list_reduce, exact
      because 0.0 + x == x), and argmin ties break to the lowest
      cluster id via (d, cluster) struct ordering.
    - a cluster that loses all members keeps its previous centroid
      (both sides coalesce), so every round is total.

    Scale shape: this is the standard scalable Lloyd on Spark — per
    round ONE map-only assignment pass (centroids are k*dim literals
    baked into the plan, no join, no shuffle of the corpus) plus one
    k-group partial aggregate; only k*dim doubles ever reach the
    driver. The input is persisted across rounds (n_rounds actions
    over the same scan) through `hygiene.scratch_persist`, so the
    epoch sweep releases it. Deterministic farthest-point /
    k-means|| seeding is a quality knob at 100 TB; smallest-id init
    keeps the oracle contract closed-form (and `_lloyd` above remains
    the sampled driver-side fit used for IVF index builds, a
    different job).
    """
    from nyc_etl_pipeline_spark.functions import round_half_up

    v = df.select(
        F.col(id_col).alias("__id"),
        F.transform(
            F.col(vec_col).cast("array<double>"), lambda x: round_half_up(x, 6)
        ).alias("__v"),
    ).transform(scratch_persist)
    init = v.orderBy("__id").limit(k).collect()
    # fewer vectors than clusters: run with the clusters that exist
    # (the oracle's LIMIT k does the same); empty input returns empty
    k = min(k, len(init))
    if k == 0:
        return v.select(
            F.col("__id").alias(id_col),
            F.lit(None).cast("long").alias("cluster"),
            F.lit(None).cast("double").alias("dist2"),
        )
    cents: dict[int, list[float]] = {
        j: list(r["__v"]) for j, r in enumerate(init)
    }

    def _assign_jvm():
        # the nearest _center_d2 pair; a NULL vector's pairs all carry
        # NULL d2, which sorts first, so it lands in cluster 0 with NULL d
        best = F.array_min(_center_d2(F.col("__v"), [cents[j] for j in range(k)]))
        return v.select(
            "__id",
            "__v",
            best["idx"].cast("long").alias("cluster"),
            best["d2"].alias("d"),
        )

    def _assign_arrow():
        # BIT-IDENTICAL twin of _assign_jvm for large k*dim, where the
        # interpreted fold tree dominates (see _NEAREST_EXPR_MAX_TERMS):
        # an ordered fold vectorizes ACROSS rows while keeping the
        # exact per-row float64 operation sequence — loop over dims,
        # numpy elementwise over rows, acc starting at 0.0, diff*diff
        # then add as separate ops (neither Java nor numpy fuses to
        # FMA), strict `<` keeps the lowest cluster on ties exactly as
        # the (d, cluster) struct sort does. float64 values round-trip
        # Arrow exactly, so the decimal centroid agg downstream sees
        # identical inputs and the q165 oracle contract is preserved
        # on EITHER path (asserted bitwise in tests/test_kmeans.py).
        import numpy as np
        import pandas as pd

        C = [np.asarray(cents[j], dtype=np.float64) for j in range(k)]

        def gen(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                x = np.stack(pdf["__v"].to_numpy())
                best_d = None
                best_c = None
                for j in range(k):
                    acc = np.zeros(len(x))
                    cj = C[j]
                    for i in range(dim):
                        diff = x[:, i] - cj[i]
                        acc = acc + diff * diff
                    if best_d is None:
                        best_d = acc
                        best_c = np.zeros(len(x), dtype=np.int64)
                    else:
                        better = acc < best_d
                        best_d = np.where(better, acc, best_d)
                        best_c = np.where(better, j, best_c)
                yield pd.DataFrame(
                    {
                        "__id": pdf["__id"],
                        "__v": pdf["__v"],
                        "cluster": best_c,
                        "d": best_d,
                    }
                )

        return v.mapInPandas(
            gen, schema="__id long, __v array<double>, cluster long, d double"
        )

    def _assign():
        # both paths are bit-identical, so the split is pure cost: the
        # JVM tree avoids the Arrow boundary for small k*dim, the
        # vectorized twin wins once the interpreted fold work
        # dominates (see _KMEANS_JVM_MAX_TERMS).
        if k * dim <= _KMEANS_JVM_MAX_TERMS:
            return _assign_jvm()
        return _assign_arrow()

    assign = _assign()
    for r in range(1, n_rounds):
        sums = (
            assign.groupBy("cluster")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                # dec_sum(element_at(__v, i)) / count(1), built as one
                # parsed SQL string per dimension instead of ~8 py4j
                # calls each (same expression, value-identical)
                *[
                    F.expr(
                        f"CAST(sum(CAST(element_at(__v, {i}) AS"
                        " DECIMAL(28,6))) AS DOUBLE) / count(1)"
                    ).alias(f"c{i}")
                    for i in range(1, dim + 1)
                ],
            )
            .collect()
        )
        new = {
            int(row["cluster"]): [row[f"c{i}"] for i in range(1, dim + 1)]
            for row in sums
        }
        cents = {j: new.get(j, cents[j]) for j in range(k)}
        assign = _assign()
    return assign.select(
        F.col("__id").alias(id_col), "cluster", F.col("d").alias("dist2")
    )


def sql_kmeans_chain(v_name: str, dim: int, k: int, n_rounds: int) -> str:
    """CTE-body fragment replaying kmeans_fixed's recurrence (DuckDB).

    `v_name` must expose (id, v) with v already CAST to DOUBLE[] and
    6-dp-quantized with the SAME floor-form round the operator applies
    (see the suite's q165 for the canonical ingestion CTE). Returns
    "c0 AS (...), a1 AS (...), s1 ..., c1 ..., a{R} AS (...)"; the
    caller selects (id, cluster, d) from a{n_rounds}.
    """
    dist = (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        "i -> (t.v[i] - c.c[i]) * (t.v[i] - c.c[i])), (a, b) -> a + b)"
    )
    parts = [
        "c0 AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY id) - 1"
        f" AS BIGINT) AS cluster, v AS c"
        f" FROM (SELECT id, v FROM {v_name} ORDER BY id LIMIT {k}))"
    ]
    for r in range(1, n_rounds + 1):
        parts.append(
            f"a{r} AS MATERIALIZED (SELECT id, v, cluster, d FROM ("
            "SELECT id, v, cluster, d,"
            " row_number() OVER (PARTITION BY id ORDER BY d, cluster) AS rn"
            f" FROM (SELECT t.id, t.v, c.cluster, {dist} AS d"
            f" FROM {v_name} t CROSS JOIN c{r - 1} c)) WHERE rn = 1)"
        )
        if r < n_rounds:
            parts.append(
                f"s{r} AS MATERIALIZED (SELECT cluster, i,"
                " CAST(sum(CAST(v[i] AS DECIMAL(28,6))) AS DOUBLE)"
                " / count(*) AS ci"
                f" FROM a{r} CROSS JOIN range(1, {dim + 1}) t(i)"
                " GROUP BY cluster, i)"
            )
            parts.append(
                f"c{r} AS MATERIALIZED (SELECT p.cluster,"
                " coalesce(n.c, p.c) AS c"
                f" FROM c{r - 1} p LEFT JOIN (SELECT cluster,"
                f" list(ci ORDER BY i) AS c FROM s{r} GROUP BY cluster) n"
                " ON p.cluster = n.cluster)"
            )
    return ",\n".join(parts)


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.5,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
    vec_col: str = "embedding",
    rel_col: str = "relevance",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: per query, greedily pick
    the candidate maximizing lam*relevance - (1-lam)*max_cosine_to_
    already_selected — the diversity stage between retrieval and a
    context window (lam=1 is pure relevance; lam->0 pure diversity).

    Input is a per-query candidate POOL (query, candidate id, its
    vector, a relevance score — e.g. cosine_topk/bm25/rrf output
    joined back to `embeddings`). Returns (query, id, mmr, rank) for
    the k selected, rank in selection order, mmr rounded to 6 dp.

    Scale shape: the greedy loop is inherently sequential PER QUERY
    but embarrassingly parallel ACROSS queries — applyInPandas groups
    by query, each group bounded by the upstream pool size (a rerank
    contract, like pq_topk's shortlist), so per-group state is a
    (pool x dim) float64 block, never the corpus.

    Cross-engine determinism (oracle-gated as q173): ties break to
    the lowest candidate id, and EVERY float is an index-ordered fold
    — dots and norms loop dims explicitly (numpy elementwise, never
    matmul/.sum(), whose pairwise/SIMD summation is not the fold a
    SQL engine computes), `max over selected` is order-independent,
    and the per-step score lam*rel - (1-lam)*max_sim uses the same
    literal association both engines. sql_mmr_chain unrolls the
    k-step selection as chained CTEs from the same constants.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if not 0.0 <= lam <= 1.0:
        raise ValueError("lam must be in [0, 1]")
    import math

    import numpy as np
    import pandas as pd

    base = candidates.select(
        F.col(query_col).alias("__q"),
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
        F.col(rel_col).cast("double").alias("__rel"),
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        # stable candidate order by id -> argmax ties resolve lowest id
        pdf = pdf.sort_values("__id", kind="mergesort").reset_index(drop=True)
        X = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
        dim = X.shape[1]
        # INDEX-ORDERED folds, never BLAS: matmul/.sum() use pairwise
        # or SIMD-reordered summation, which is NOT the fold any SQL
        # engine computes — the oracle's argmax then flips on near-ties
        # (the kmeans _assign_arrow discipline: loop dims, vectorize
        # across rows; float64 elementwise ops are IEEE-exact per step)
        sq = np.zeros(len(X))
        for i in range(dim):
            sq = sq + X[:, i] * X[:, i]
        norms = np.sqrt(sq)
        norms[norms == 0.0] = 1.0
        rel = pdf["__rel"].to_numpy(dtype=np.float64)
        n = len(pdf)
        chosen: list[int] = []
        max_sim = np.full(n, -np.inf)
        avail = np.ones(n, dtype=bool)
        out_rows = []
        for rank in range(1, min(k, n) + 1):
            if chosen:
                score = lam * rel - (1.0 - lam) * max_sim
            else:
                score = lam * rel
            score = np.where(avail, score, -np.inf)
            j = int(np.argmax(score))  # first (lowest-id) max wins
            out_rows.append(
                (
                    pdf["__q"].iloc[0],
                    pdf["__id"].iloc[j],
                    math.floor(float(score[j]) * 1000000.0 + 0.5) / 1000000.0,
                    rank,
                )
            )
            avail[j] = False
            chosen.append(j)
            dot = np.zeros(n)
            for i in range(dim):
                dot = dot + X[:, i] * X[j, i]
            sim_j = dot / (norms * norms[j])
            max_sim = np.maximum(max_sim, sim_j)
        return pd.DataFrame(
            out_rows, columns=["__q", "__id", "mmr", "rank"]
        )

    out_schema = (
        f"__q {base.schema['__q'].dataType.simpleString()}, "
        f"__id {base.schema['__id'].dataType.simpleString()}, "
        "mmr double, rank int"
    )
    return (
        base.groupBy("__q")
        .applyInPandas(pick, schema=out_schema)
        .select(
            F.col("__q").alias(query_col),
            F.col("__id").alias(id_col),
            "mmr",
            "rank",
        )
    )


def sql_mmr_chain(pool_name: str, dim: int, k: int, lam: float) -> str:
    """CTE fragment replaying mmr_rerank's greedy selection (DuckDB).

    `pool_name` must expose (query_id, id, rel, v) with v CAST to
    DOUBLE[] — the same pool the operator re-ranks. Returns
    "p1 AS (...), ..., sel{k} AS (...)"; the caller reads
    (query_id, sid, score, rank) from sel{k}. Every float mirrors the
    operator bit-for-bit: dots/norms are index-ordered list_reduce
    folds, `max` over selected is order-independent, and the score's
    literal association matches (`oml` = the exact double 1 - lam,
    injected as a string literal per the functions.__init__ trap)."""
    oml = repr(1.0 - lam)
    lam_s = repr(float(lam))
    fold = "list_reduce(list_transform(range(1, {n}), {f}), (a, b) -> a + b)"
    dot = fold.format(n=dim + 1, f="i -> p.v[i] * s.sv[i]")
    nrm_p = "sqrt(" + fold.format(n=dim + 1, f="i -> p.v[i] * p.v[i]") + ")"
    nrm_s = "sqrt(" + fold.format(n=dim + 1, f="i -> s.sv[i] * s.sv[i]") + ")"
    sim = f"({dot}) / (({nrm_p}) * ({nrm_s}))"
    parts = [
        f"""p1 AS MATERIALIZED (
  SELECT query_id, id, rel, v, CAST('{lam_s}' AS DOUBLE) * rel AS score
  FROM {pool_name})""",
        """sel1 AS MATERIALIZED (
  SELECT query_id, id AS sid, v AS sv, score, 1 AS rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, id) AS rn FROM p1)
  WHERE rn = 1)""",
    ]
    for r in range(2, k + 1):
        parts.append(
            f"""m{r} AS MATERIALIZED (
  SELECT p.query_id, p.id, p.rel, max({sim}) AS ms
  FROM {pool_name} p
  ANTI JOIN sel{r - 1} se ON p.query_id = se.query_id AND p.id = se.sid
  JOIN sel{r - 1} s ON p.query_id = s.query_id
  GROUP BY 1, 2, 3)"""
        )
        parts.append(
            f"""pick{r} AS MATERIALIZED (
  SELECT query_id, id, score FROM (
    SELECT query_id, id,
           CAST('{lam_s}' AS DOUBLE) * rel
             - CAST('{oml}' AS DOUBLE) * ms AS score,
           row_number() OVER (PARTITION BY query_id ORDER BY
             CAST('{lam_s}' AS DOUBLE) * rel
               - CAST('{oml}' AS DOUBLE) * ms DESC, id) AS rn
    FROM m{r}) WHERE rn = 1)"""
        )
        parts.append(
            f"""sel{r} AS MATERIALIZED (
  SELECT * FROM sel{r - 1}
  UNION ALL
  SELECT k.query_id, k.id AS sid, p.v AS sv, k.score, {r} AS rank
  FROM pick{r} k JOIN {pool_name} p
    ON k.query_id = p.query_id AND k.id = p.id)"""
        )
    return ",\n".join(parts)


def cluster_representatives(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 4,
    n_rounds: int = 3,
    per_cluster: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Cluster-balanced representative selection (prototype/coreset
    sampling): run the fixed-round k-means, then keep the
    `per_cluster` vectors nearest their centroid — a diversity-
    preserving subset for labeling budgets, eval-set construction, or
    per-cluster inspection (the selection-side companion of SemDeDup,
    which REMOVES from buckets; this KEEPS the most central).

    Determinism contract: inherits kmeans_fixed's bit-exact rounds;
    ranking orders by the 6-dp-rounded distance with id tie-break, so
    the picked set is stable across engines and partitionings (raw
    double distance last-ulp wobble cannot flip a rank). Returns
    (id, cluster, rk) with rk 1..per_cluster.

    Scale shape: kmeans_fixed's map-only assignment passes plus ONE
    cluster-partitioned window (k groups — skew-safe because cluster
    count is k, each group a partition-local top-N heap under
    WindowGroupLimit pushdown).
    """
    from nyc_etl_pipeline_spark.functions import round_half_up

    out = kmeans_fixed(df, vec_col, dim=dim, k=k, n_rounds=n_rounds, id_col=id_col)
    w = W.partitionBy("cluster").orderBy(
        round_half_up(F.col("dist2"), 6).asc(), F.col(id_col).asc()
    )
    return (
        out.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= per_cluster)
        .select(id_col, "cluster", "rk")
    )
