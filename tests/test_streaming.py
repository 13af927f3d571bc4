"""Structured Streaming variants must agree with their batch (oracle-
checked) counterparts on the same input."""

from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.streaming import (
    run_available_now,
    stream_session_windows,
    stream_tumbling_counts,
)
from nyc_etl_pipeline_spark.streaming.events import read_event_stream
from nyc_etl_pipeline_spark.suite.events import q13_events_tumbling, q15_sessionize


def _canon(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_stream_tumbling_matches_batch(spark, sf_dir):
    stream = read_event_stream(spark, sf_dir)
    out = run_available_now(stream_tumbling_counts(stream), "t_tumbling")
    batch = q13_events_tumbling(spark, sf_dir)
    got = _canon(
        out.select("window_start", "event_type", "n_events"),
        ["window_start", "event_type", "n_events"],
    )
    want = _canon(
        batch.select("window_start", "event_type", "n_events"),
        ["window_start", "event_type", "n_events"],
    )
    assert got == want


def test_run_available_now_removes_its_checkpoint(spark, sf_dir, tmp_path, monkeypatch):
    """The memory-sink drain checkpoints into a temporary directory
    and removes it once the query ends, so no spark_ckpt_* directory
    outlives the call."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = run_available_now(stream_tumbling_counts(read_event_stream(spark, sf_dir)), "t_ckpt")
    assert out.count() > 0
    assert list(tmp_path.glob("spark_ckpt_*")) == []


def test_stream_sessionize_matches_batch(spark, sf_dir):
    stream = read_event_stream(spark, sf_dir)
    out = run_available_now(stream_session_windows(stream), "t_sessions")
    # session_window's (start, n_events) per user must equal the batch
    # lag+cumsum sessionization's (session_start, n_events)
    got = _canon(
        out.select("user_id", "session_start", "n_events"),
        ["user_id", "session_start", "n_events"],
    )
    batch = q15_sessionize(spark, sf_dir)
    want = _canon(
        batch.select("user_id", "session_start", "n_events"),
        ["user_id", "session_start", "n_events"],
    )
    assert got == want


def test_streaming_is_incremental(spark, sf_dir, tmp_path):
    """Second AvailableNow run over the same checkpoint processes no
    new data (the watermark bookkeeping replaces the reference's
    hand-rolled max(date) probe — SURVEY §2.6)."""
    ckpt = str(tmp_path / "ckpt")
    stream = read_event_stream(spark, sf_dir)
    agg = stream_tumbling_counts(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_incr1")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n1 = spark.table("t_incr1").count()
    assert n1 > 0
    q2 = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_incr2")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert q2.lastProgress is None or q2.lastProgress["numInputRows"] == 0


def test_rocksdb_state_store_matches_batch(spark, sf_dir, tmp_path):
    """The scale-grade state backend: RocksDB spills streaming state to
    local disk instead of holding it on the JVM heap — at 100 TB/day
    event rates the in-memory default OOMs long before the watermark
    expires old windows. Same query, same results: tumbling counts
    under the RocksDB provider must equal the batch ground truth."""
    from nyc_etl_pipeline_spark.streaming.events import (
        read_event_stream,
        stream_tumbling_counts,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = stream_tumbling_counts(read_event_stream(spark, sf_dir))
        q = (
            stream.writeStream.outputMode("append")
            .format("memory")
            .queryName("t_rocksdb")
            .option("checkpointLocation", str(tmp_path / "ck_rocks"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 3))
            for r in spark.table("t_rocksdb").collect()
        }
    finally:
        if old is not None:
            spark.conf.set(key, old)
        else:
            spark.conf.unset(key)
    batch = q13_events_tumbling(spark, sf_dir)
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 3))
        for r in batch.collect()
    }
    # append mode emits only watermark-closed windows; every emitted
    # window must match the batch result exactly
    assert got and all(want.get(k) == v for k, v in got.items())
