"""Idempotent streaming sinks for at-least-once delivery targets.

Spark's foreachBatch gives at-least-once semantics: after a failure,
the SAME (batch_id, data) pair can be delivered again. File sinks get
exactly-once from the checkpoint + commit-log protocol; an external
RDBMS does not — the sink itself must deduplicate redeliveries. The
pattern implemented here is a transaction-log table keyed by
(sink name, batch_id, attempt): every delivery attempt tags its data
rows with a fresh attempt id, and the commit marker — written LAST —
records which attempt won. Readers join data to markers on
(batch_id, attempt), so orphan rows from a crash between data write
and marker are excluded by construction, with no reliance on row
distinctness (legitimately identical rows within a batch survive).

The reference appends to MySQL/SQL Server with no such guard
(gold.py:46-54 — its documented duplicate-on-rerun quirk Q6); this is
the streaming-grade fix for the same class of bug.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

COMMIT_LOG_SUFFIX = "__commits"

# markers that identify a "table does not exist" error across the
# dialects jdbc_dialects supports (SQLSTATE 42X05 Derby, 42S02 MySQL,
# 42P01 Postgres, plus vendor message texts). Deliberately NOT a bare
# "not found": Derby's "database not found" (XJ004) is a connection
# error that must propagate, not read as an empty commit log.
_MISSING_TABLE_MARKERS = (
    "42x05", "42s02", "42p01", "ora-00942", "invalid object name",
    "table_or_view_not_found", "table or view not found",
)


def _is_missing_table(exc: Exception) -> bool:
    msg = str(exc).lower()
    if any(m in msg for m in _MISSING_TABLE_MARKERS):
        return True
    # "<table/view/relation> ... does not exist" — but not a missing
    # database/schema, which is an environment error
    return "does not exist" in msg and any(
        w in msg for w in ("table", "view", "relation")
    )


def _committed_batches(spark, url: str, log_table: str, sink: str, props: dict) -> set[int]:
    from nyc_etl_pipeline_spark.io import jdbc_read

    try:
        log = jdbc_read(spark, url, log_table, props)
    except Exception as exc:  # noqa: BLE001 — inspected, re-raised unless missing-table
        # Only "table doesn't exist yet" (the first batch) may be
        # swallowed; a transient JDBC error must NOT be treated as an
        # empty commit log or an already-committed batch re-appends.
        if _is_missing_table(exc):
            return set()
        raise
    # filter driver-side: the log is one row per batch (tiny), and a
    # pushed-down string comparison would hit dialect collation traps
    # (e.g. Derby CLOB vs CHAR)
    return {
        r["batch_id"] for r in log.select("sink", "batch_id").collect() if r["sink"] == sink
    }


def jdbc_batch_writer(
    url: str,
    table: str,
    properties: dict[str, str],
    sink_name: str | None = None,
):
    """foreachBatch callback writing each micro-batch to a JDBC table
    EXACTLY ONCE under redelivery.

    Protocol per delivery:
      1. if the commit log already holds this batch_id -> skip
         (clean redelivery);
      2. append the batch rows tagged with (batch_id, fresh attempt id);
      3. append the commit marker (sink, batch_id, attempt) LAST.
    A crash between 2 and 3 leaves orphan rows under an attempt id that
    never reaches the log; the redelivered batch writes under a NEW
    attempt id and commits it. `committed_view` joins data to markers
    on (batch_id, attempt), so exactly one attempt's rows are visible —
    even when a batch legitimately contains identical rows. The marker,
    not the data write, is the commit point. Scale: the log table holds
    one row per batch — trivially small; the only non-append operation
    is the committed-set read, one tiny query per batch.

    Usage:
        q = (agg.writeStream.foreachBatch(jdbc_batch_writer(url, "t", props))
             .option("checkpointLocation", ck).trigger(availableNow=True).start())
    """
    sink = sink_name or table
    log_table = f"{table}{COMMIT_LOG_SUFFIX}"

    def write_batch(df: DataFrame, batch_id: int) -> None:
        from nyc_etl_pipeline_spark.io import jdbc_write

        spark = df.sparkSession
        if batch_id in _committed_batches(spark, url, log_table, sink, properties):
            return
        attempt = uuid.uuid4().hex
        # bounded VARCHAR instead of the dialect's unbounded-text
        # default (Derby: CLOB) so the ids stay comparable/indexable
        data_props = dict(properties)
        data_props.setdefault("createTableColumnTypes", "__attempt VARCHAR(32)")
        jdbc_write(
            df.withColumn("batch_id", F.lit(batch_id).cast("bigint"))
            .withColumn("__attempt", F.lit(attempt)),
            url,
            table,
            data_props,
            mode="append",
        )
        marker = spark.createDataFrame(
            [(sink, batch_id, attempt)],
            "sink string, batch_id bigint, attempt string",
        )
        log_props = dict(properties)
        log_props.setdefault(
            "createTableColumnTypes", "sink VARCHAR(128), attempt VARCHAR(32)"
        )
        jdbc_write(marker, url, log_table, log_props, mode="append")

    return write_batch


def committed_view(spark, url: str, table: str, properties: dict[str, str], sink_name: str | None = None) -> DataFrame:
    """Exactly-once read view: rows of `table` whose (batch_id,
    attempt) has a commit marker. Orphan attempts from a crash between
    data and marker carry an uncommitted attempt id and are excluded;
    the committed attempt's rows pass through verbatim — including
    legitimately identical rows within a batch."""
    from nyc_etl_pipeline_spark.io import jdbc_read

    sink = sink_name or table
    log_table = f"{table}{COMMIT_LOG_SUFFIX}"
    data = jdbc_read(spark, url, table, properties)
    log = jdbc_read(spark, url, log_table, properties).filter(F.col("sink") == sink)
    committed = log.select(
        F.col("batch_id").alias("__cb"), F.col("attempt").alias("__ca")
    ).distinct()
    return (
        data.join(
            F.broadcast(committed),
            (data.batch_id == F.col("__cb")) & (data["__attempt"] == F.col("__ca")),
            "left_semi",
        )
        .drop("__attempt")
    )


def stream_to_warehouse(
    df: DataFrame,
    warehouse,
    table: str,
    checkpoint_dir: str,
):
    """Exactly-once streaming append into a Warehouse parquet table
    via Spark's FILE sink — the streaming half of the lakehouse write
    path. Unlike the JDBC sink above, no hand-rolled commit log is
    needed: the file sink's checkpoint + _spark_metadata transaction
    log makes replayed batches idempotent BY PROTOCOL (a batch's files
    are only visible once its metadata entry commits), and a restart
    from the same checkpoint resumes exactly where it stopped.

    Returns the started StreamingQuery; caller awaits termination.
    The availableNow trigger drains everything currently available then
    stops — the incremental-batch trigger a scheduled ingest job uses.
    """
    return (
        df.writeStream.format("parquet")
        .option("path", warehouse.path(table))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def _batch_partition_writer(
    warehouse, table: str, partial, partition_by=("batch_id",)
):
    """The foreachBatch `write_batch(batch_df, batch_id)` every
    maintainer below shares: `partial(batch_df)` is the batch's
    mergeable partial state, tagged with its batch_id and written by
    dynamic partition overwrite (`Warehouse.overwrite_partitions`,
    which also creates an absent table). A replayed batch therefore
    rewrites its own partition instead of double-counting —
    exactly-once by idempotent partition rewrite, no commit log
    needed. availableNow can fire an empty batch 0; writing it would
    create a data-less partitioned dir that breaks later reads, so an
    empty batch writes nothing."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        tagged = partial(batch_df).withColumn("batch_id", F.lit(int(batch_id)))
        warehouse.overwrite_partitions(tagged, table, list(partition_by))

    return write_batch


def sketch_maintainer(warehouse, table: str, token_col: str = "token"):
    """foreachBatch function maintaining a corpus count-min sketch
    incrementally: each micro-batch's PARTIAL sketch lands in its own
    batch_id partition (`_batch_partition_writer`). The queryable
    corpus sketch is the cell-wise sum over all partitions
    (`merged_sketch`), bounded by depth*width*n_batches rows until a
    compaction folds history.

    This is the streaming face of the mergeable-summary family
    (operators/sketches.py, operators/incremental.py): partial states
    commute, so batch arrival order and replay cannot change the
    merged result.
    """
    from nyc_etl_pipeline_spark.operators import sketches as SKC

    return _batch_partition_writer(
        warehouse, table, lambda df: SKC.cms_build(df, token_col=token_col)
    )


def merged_sketch(warehouse, table: str) -> DataFrame:
    """The corpus-level sketch: cell-wise sum of every batch partial."""
    return (
        warehouse.read(table)
        .groupBy("row_i", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def mart_maintainer(warehouse, table: str, keys: list[str], measures: list[str]):
    """foreachBatch function maintaining an aggregate MART
    incrementally — the streaming face of operators/incremental.py
    (q120): each micro-batch's mergeable partial states
    (sum/cnt/min/max per key) land in their own batch_id partition
    (`_batch_partition_writer`). `merged_mart` is the queryable finalized
    view; `Warehouse.compact` (or a periodic rewrite of the merged
    result into a fresh table) folds partition history when batch
    count grows."""
    from nyc_etl_pipeline_spark.operators import incremental as INC

    return _batch_partition_writer(
        warehouse, table, lambda df: INC.partial_aggregate(df, keys, measures)
    )


def merged_mart(warehouse, table: str, keys: list[str], measures: list[str]) -> DataFrame:
    """Finalized mart over all batch partials: one merge aggregation
    (O(keys x batches) input rows, not corpus-sized) + avg finalize."""
    from nyc_etl_pipeline_spark.operators import incremental as INC

    parts = warehouse.read(table).drop("batch_id")
    return INC.finalize(INC.merge_partials([parts], keys, measures), measures)


def mg_maintainer(
    warehouse, table: str, token_col: str = "token", k_summary: int = 64
):
    """foreachBatch function maintaining a Misra-Gries heavy-hitter
    summary incrementally: each micro-batch's partial summaries
    (operators/sketches.mg_partial_summaries — candidate rows plus
    the NULL-token sentinel carrying the batch's exact row count)
    land in a batch_id partition (`_batch_partition_writer`).

    MG summaries merge associatively with errors that ADD over
    disjoint inputs (<= n_b/(k+1) per batch, total <= n/(k+1)), so
    `merged_mg_summary` — one mg_merge over all partitions — carries
    the 2n/(k+1) merged bound no matter how many batches arrived or
    in what order. The summary is the bounded CANDIDATE set; an exact
    verification pass over the stored raw events (the
    exact_heavy_hitters second pass) turns it into exact counts on
    demand.
    """
    from nyc_etl_pipeline_spark.operators import sketches as SKC

    return _batch_partition_writer(
        warehouse,
        table,
        lambda df: SKC.mg_partial_summaries(
            df, col=token_col, k_summary=k_summary
        ),
    )


def merged_mg_summary(
    warehouse, table: str, token_col: str = "token", k_summary: int = 64
) -> DataFrame:
    """The stream-wide MG summary: one associative merge over every
    batch partial (k_summary*partitions*batches input rows, never
    corpus-sized). Output: <= k_summary candidate rows + one sentinel
    (token NULL, weight = exact total stream length)."""
    from nyc_etl_pipeline_spark.operators import sketches as SKC

    return SKC.mg_merge(
        warehouse.read(table).drop("batch_id"), col=token_col,
        k_summary=k_summary,
    )


def ivf_maintainer(
    warehouse,
    table: str,
    centers: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch function maintaining a cell-partitioned IVF vector
    index incrementally: each micro-batch's vectors are assigned to
    their nearest coarse cell with the FIXED index centers (map-only
    literal assignment — the serving-time contract: the quantizer is
    versioned with the index and refreshed only by an offline rebuild,
    exactly as ivf_write_index stores it) and land in
    (batch_id, __cell) partitions (`_batch_partition_writer`).

    Search stays partition-pruned: __cell remains a partition column
    (second level under batch_id), so `maintained_ivf_topk`'s probed-
    cells filter skips unprobed directories of EVERY batch.

    Idempotence caveat (stricter than mg_maintainer, whose only
    partition level is batch_id): dynamic overwrite replaces the LEAF
    (batch_id, __cell) partitions present in the retry — exactly-once
    therefore relies on the replayed batch having the same content,
    which Structured Streaming's replayable sources guarantee and the
    fixed literal centers preserve (same vectors -> same cells)."""
    from nyc_etl_pipeline_spark.operators.similarity import _nearest_cell

    def assign(batch_df: DataFrame) -> DataFrame:
        return batch_df.select(
            F.col(id_col),
            F.col(vec_col),
            _nearest_cell(F.col(vec_col), centers).alias("__cell"),
        )

    return _batch_partition_writer(
        warehouse, table, assign, partition_by=("batch_id", "__cell")
    )


def maintained_ivf_topk(
    warehouse,
    table: str,
    centers: list[list[float]],
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search the maintained index (see ivf_maintainer) reading ONLY
    the probed cells across every arrived batch — identical results to
    `ivf_topk_indexed` over a batch-built index of the same vectors
    and centers (pinned in tests/test_streaming_sinks.py)."""
    from nyc_etl_pipeline_spark.operators.similarity import (
        _as_double,
        _ivf_probes,
        _ivf_rank,
    )

    probes = _ivf_probes(queries, centers, n_probe, id_col, vec_col)
    cells = [
        int(r["__cell"]) for r in probes.select("__cell").distinct().collect()
    ]
    assigned = (
        warehouse.read(table)
        .filter(F.col("__cell").isin(cells))
        .select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("__cv"),
            F.col("__cell").cast("int").alias("__cell"),
        )
    )
    return _ivf_rank(assigned, probes, k)


def band_index_maintainer(
    warehouse,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
):
    """foreachBatch function maintaining the corpus MinHash band index
    incrementally — the streaming completion of the near-dup dedup
    lifecycle: each arriving micro-batch's band table
    (dedup.minhash_band_table, the same construction q23/q127 gate)
    lands in a batch_id partition (`_batch_partition_writer`).

    The maintained table is exactly what the incremental near-dup
    gate equi-joins its batch bands against
    (tests/test_training_ops.test_incremental_neardup_with_stored_band_index):
    candidates come from (band_idx, band_key) matches, so arriving-
    batch dedup cost stays proportional to the batch and its
    candidate fan-out, never to the corpus — and the index itself now
    grows per batch without ever rescanning history."""
    from nyc_etl_pipeline_spark.operators.dedup import minhash_band_table

    return _batch_partition_writer(
        warehouse,
        table,
        lambda df: minhash_band_table(df, id_col, text_col, n, num_hashes, bands),
    )


def hll_maintainer(warehouse, table: str, keys: list[str], value_col: str):
    """foreachBatch function maintaining per-key HLL distinct-count
    sketches incrementally — the streaming face of the q80 rollup and
    the last member of the mergeable-summary maintainer family: each
    micro-batch's per-key Datasketches HLL binaries land in a batch_id
    partition (`_batch_partition_writer` — though HLL registers are
    max-merged, so even a true double-count could not move the
    estimate; the contract is kept uniform anyway).

    `merged_hll` is one hll_union_agg over all partitions: register
    maxima commute, so batch order and replay cannot change the merged
    estimate, and a new batch containing only already-seen values is a
    provable no-op (subset registers never exceed the union's)."""

    return _batch_partition_writer(
        warehouse,
        table,
        lambda df: df.groupBy(*keys).agg(
            F.hll_sketch_agg(value_col).alias("hll_sketch")
        ),
    )


def merged_hll(warehouse, table: str, keys: list[str]) -> DataFrame:
    """Per-key distinct estimate over every arrived batch: one
    register-max union of keys x batches sketch rows, never
    corpus-sized."""
    return (
        warehouse.read(table)
        .groupBy(*keys)
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("hll_sketch")).alias(
                "distinct_est"
            )
        )
    )
