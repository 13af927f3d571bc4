"""Streaming event-window operators over a parquet event source.

Each builder takes a streaming DataFrame (readStream) and returns the
windowed aggregation; `run_available_now` drives any of them to
completion over the currently-available files (the batch-parity mode:
one incremental pass, checkpointed, then stop). On a real cluster the
same code runs continuously against a Kafka/file source — watermarks
bound the state store size; without them an unbounded-key streaming agg
would grow state forever at 100 TB/day rates.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def open_event_stream(
    spark: SparkSession, directory: str, glob: str = "*.parquet", sample: str | None = None
) -> DataFrame:
    """readStream over an events parquet directory, self-describing on
    the timestamp unit (same footer sniff as io.read_testdata — the
    fixture has drifted NANOS→MICROS across regenerations, and a
    hard-coded unit corrupts every event time when it drifts again).

    `sample` optionally names one file/dir to sniff; defaults to
    `directory` itself.
    """
    from nyc_etl_pipeline_spark import schemas
    from nyc_etl_pipeline_spark.io import ensure_session_confs, read_parquet_typed

    ensure_session_confs(spark)
    return read_parquet_typed(
        spark.readStream.option("pathGlobFilter", glob),
        directory,
        schemas.TESTDATA["events"],
        sample=sample,
    )


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the driver's events fixture (same semantics as
    io.read_testdata's batch read)."""
    # FileStreamSource requires a directory; filter to the events file.
    return open_event_stream(
        spark,
        sf_dir,
        glob="events.parquet",
        sample=os.path.join(sf_dir, "events.parquet"),
    )


def stream_tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Hourly tumbling windows with a late-data watermark. The
    watermark lets Spark drop window state once event time passes
    window_end + 1h — bounded state at any input rate."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native streaming sessionization: session_window merges events
    within `gap` into one growing window per user — the streaming
    equivalent of suite/events.py q15 (lag+cumsum batch form)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("total_value"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def stream_dedup(events: DataFrame, keys: list[str], watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: dropDuplicatesWithinWatermark keeps one
    row per key, with the watermark bounding how long each key stays
    in the state store — the streaming form of the exact-dedup
    operator (a plain streaming dropDuplicates would hold every key
    forever, unbounded state at ingest scale)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def stream_enrich_static(events: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static join: each micro-batch joins against the current
    snapshot of a static/lakehouse dimension (re-read per batch, so a
    dim refresh is picked up without restarting the query). The static
    side broadcasts when under the threshold — no stream-side shuffle."""
    return events.join(dim, on=on, how="left")


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join with an event-time range bound: each
    left event pairs with right events for the same key whose
    timestamp falls in (left.ts, left.ts + `within`] — e.g. clicks
    joined to the purchases they led to.

    BOTH sides carry watermarks and the join condition bounds event
    time in both directions; that is what lets Spark expire buffered
    rows from the state store (left rows once right's watermark passes
    l_ts + within, right rows once left's passes r_ts). A
    stream-stream join without the time bound would buffer both
    streams forever — unbounded state at ingest rates. Equality on the
    key keeps the physical plan a state-store hash join partitioned by
    key — no broadcast, scales with key cardinality.
    """
    l = left.withWatermark("ts", watermark).select(
        F.col(on).alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_type").alias("l_type"),
        F.col("event_id").alias("l_event_id"),
    )
    r = right.withWatermark("ts", watermark).select(
        F.col(on).alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_type").alias("r_type"),
        F.col("event_id").alias("r_event_id"),
    )
    return l.join(
        r,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
        "inner",
    ).select(
        F.col("l_key").alias("user_id"),
        "l_event_id",
        "r_event_id",
        "l_ts",
        "r_ts",
    )


def stream_stream_join_outer(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Left-outer variant of `stream_stream_join`: left events with NO
    matching right event inside the time bound still emit (null right
    side) — but only once the right watermark has passed l_ts +
    `within`, because until then a match could still arrive. Matched
    rows emit immediately; the null-padded rows trail by the watermark
    delay. That timing asymmetry is inherent to streaming outer joins —
    a consumer needing the unmatched set promptly must tighten the
    watermark (trading late-data tolerance), or inject a watermark
    sentinel at end-of-input / quiet periods
    (`append_watermark_sentinel` + `run_available_now_files`) for
    exact batch parity."""
    l = left.withWatermark("ts", watermark).select(
        F.col(on).alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
    )
    r = right.withWatermark("ts", watermark).select(
        F.col(on).alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
    )
    return l.join(
        r,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
        "left_outer",
    ).select(
        F.col("l_key").alias("user_id"),
        "l_event_id",
        "l_ts",
        "r_event_id",
        "r_ts",
    )


def run_available_now(
    agg: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming aggregation over all currently-available
    input (Trigger.AvailableNow), collect results via the memory sink,
    and stop. 'complete' output mode emits every window — parity with
    the batch forms; 'append' would withhold windows newer than the
    watermark at end-of-input. Stream-stream joins require 'append'
    (inner-join matches emit immediately; the watermark only governs
    state eviction, so availableNow still yields every match).

    A memory sink cannot resume from a checkpoint, so the checkpoint
    lives in a temporary directory removed once the query ends."""
    with tempfile.TemporaryDirectory(prefix="spark_ckpt_") as ckpt:
        q = (
            agg.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(query_name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return agg.sparkSession.table(query_name)


# --------------------------------------------------------------------------
# Watermark flush for outer joins
# --------------------------------------------------------------------------

SENTINEL_USER = -(1 << 62)
"""Key carried by watermark-sentinel events. Never matches a real key,
so sentinels advance event time without joining anything; consumers of
a flushed outer join filter `user_id != SENTINEL_USER` (or use
`drop_sentinels`)."""


def stage_event_source(spark: SparkSession, sf_dir: str, staging_dir: str) -> DataFrame:
    """Writable copy of the events source, for pipelines that need to
    inject watermark sentinels (`append_watermark_sentinel`). Same
    read semantics as `read_event_stream`."""
    import shutil

    os.makedirs(staging_dir, exist_ok=True)
    dst = os.path.join(staging_dir, "events.parquet")
    if not os.path.exists(dst):
        shutil.copy(os.path.join(sf_dir, "events.parquet"), dst)
    return open_event_stream(spark, staging_dir, glob="*.parquet", sample=dst)


def append_watermark_sentinel(
    staging_dir: str,
    horizon_ts_ns: int,
    event_types: tuple[str, ...] = ("click", "purchase"),
    batch_id: int = 0,
) -> None:
    """Append a sentinel micro-batch that advances the event-time
    watermark to `horizon_ts_ns` (epoch nanos).

    A streaming left-outer join only emits its null-padded rows once
    the watermark passes `l_ts + within`; Trigger.AvailableNow appends
    no flush batch, so at end-of-input the last batch's unmatched rows
    stay buffered in the state store (see
    `stream_stream_join_outer`'s docstring). In production the same
    gap appears whenever a stream goes quiet — the standard fix, which
    this helper implements, is a punctuation/heartbeat event per
    filtered branch: one sentinel row per event type, keyed by
    SENTINEL_USER so it can never join real data. Run another
    checkpointed pass afterwards; the join drains.

    Writes a single parquet file matching the STAGED source's physical
    schema — the footer of the staged events file decides whether ts
    is written as int64 nanos or a true timestamp column (the fixture
    unit has drifted across regenerations; a mismatched sentinel
    schema would fail the FileStreamSource's fixed read schema).
    FileStreamSource picks it up as one new micro-batch.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nyc_etl_pipeline_spark.io import parquet_timestamp_unit

    unit = parquet_timestamp_unit(os.path.join(staging_dir, "events.parquet"), "ts")
    if unit == "nanos":
        ts_arr = pa.array([horizon_ts_ns] * len(event_types), pa.int64())
    else:
        pa_unit = {"micros": "us", "millis": "ms"}.get(unit, "us")
        divisor = {"us": 1_000, "ms": 1_000_000}[pa_unit]
        ts_arr = pa.array(
            [horizon_ts_ns // divisor] * len(event_types), pa.timestamp(pa_unit)
        )
    table = pa.table(
        {
            "event_id": pa.array(
                [-(batch_id * len(event_types) + i + 1) for i in range(len(event_types))],
                pa.int64(),
            ),
            "ts": ts_arr,
            "user_id": pa.array([SENTINEL_USER] * len(event_types), pa.int64()),
            "event_type": pa.array(list(event_types), pa.string()),
            "value": pa.array([0.0] * len(event_types), pa.float64()),
            "props": pa.array(["{}"] * len(event_types), pa.string()),
        }
    )
    pq.write_table(table, os.path.join(staging_dir, f"sentinel-{batch_id}.parquet"))


def drop_sentinels(df: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Strip sentinel rows from a flushed join's output."""
    return df.filter(F.col(key_col) != SENTINEL_USER)


def run_available_now_files(
    df: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Drive an append-mode stream into a parquet file sink
    (Trigger.AvailableNow) and stop. Unlike the memory sink, the file
    sink is fault-tolerant, so the SAME checkpoint can be resumed by a
    later pass — required for the sentinel-flush workflow
    (`append_watermark_sentinel`): pass 1 emits matches, the sentinel
    batch advances the watermark, pass 2 drains the unmatched rows
    into the same directory."""
    q = (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
