"""applyInPandasWithState: state must accumulate across micro-batches
(separate AvailableNow runs over a growing directory, shared
checkpoint) and converge to the batch ground truth."""

import glob
import os
import shutil

from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.streaming.events import open_event_stream
from nyc_etl_pipeline_spark.streaming.stateful import running_user_totals


def _run_once(spark, src_dir, ckpt, name):
    stream = open_event_stream(spark, src_dir)
    rows = []

    # memory sink can't recover from a checkpoint; foreachBatch can
    def collect_batch(df, _epoch):
        rows.extend(df.collect())

    q = (
        running_user_totals(stream)
        .writeStream.outputMode("update")
        .foreachBatch(collect_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return rows


def test_state_accumulates_across_batches(spark, sf_dir, tmp_path):
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    # split the fixture into two arrival batches by event_id parity
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 == 1)
    half1.write.parquet(str(src / "batch1"))

    # batch 1: totals reflect half the data
    out1 = _run_once(spark, f"{str(src)}/*", ckpt, "s_tot1")
    got1 = {r["user_id"]: r["n_events_total"] for r in out1}
    want1 = {
        r["user_id"]: r["n"]
        for r in half1.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got1 == want1

    # batch 2 arrives: per-user totals must now cover ALL events,
    # proving state survived the restart via the checkpoint
    half2.write.parquet(str(src / "batch2"))
    out2 = _run_once(spark, f"{str(src)}/*", ckpt, "s_tot2")
    got2 = {r["user_id"]: (r["n_events_total"], round(r["value_total"], 6)) for r in out2}
    want2 = {
        r["user_id"]: (r["n"], round(r["t"], 6))
        for r in events.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    # users with no batch-2 events emit nothing in run 2; check the rest
    assert got2
    for uid, (n, t) in got2.items():
        assert (n, t) == want2[uid], uid


def test_stream_capped_sessions_matches_batch_across_batches(spark, sf_dir, tmp_path):
    """A session spanning the batch boundary must keep ONE index and
    the cap must count from the session's true cross-batch start:
    feed the events in two TIME-ORDERED arrival batches (the
    operator's in-order contract) through a shared checkpoint and
    compare every (user, event) session assignment with the batch
    operator on the full data."""
    from nyc_etl_pipeline_spark.operators.pandas_ops import capped_sessionize
    from nyc_etl_pipeline_spark.streaming.stateful import stream_capped_sessions

    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    gap, cap = 30 * 60 * 10**6, 45 * 60 * 10**6
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cut = events.agg(F.expr(
        "percentile(unix_micros(CAST(ts AS TIMESTAMP)), 0.5)"
    )).first()[0]
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    events.filter(us <= cut).write.parquet(str(src / "b1"))

    def run_once():
        stream = (
            spark.readStream.schema(events.schema)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        rows = []
        q = (
            stream_capped_sessions(stream, gap, cap)
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, _e: rows.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return rows

    got_rows = run_once()
    events.filter(us > cut).write.parquet(str(src / "b2"))
    got_rows += run_once()

    got = {(r["user_id"], r["event_id"]): r["session_idx"] for r in got_rows}
    want = {
        (r["user_id"], r["event_id"]): r["session_idx"]
        for r in capped_sessionize(events, "user_id", "ts", "event_id", gap, cap).collect()
    }
    assert got == want
    # non-vacuous: some user must actually have >1 session
    assert max(got.values()) > 1

