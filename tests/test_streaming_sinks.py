"""Stream-static enrichment, exactly-once warehouse sink, compaction."""

from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.io import Warehouse, read_testdata
from nyc_etl_pipeline_spark.streaming.events import (
    read_event_stream,
    stream_enrich_static,
)


def test_stream_static_join_matches_batch(spark, sf_dir):
    tiers = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"), ("purchase", "revenue"),
         ("signup", "growth"), ("error", "ops")],
        "event_type string, tier string",
    )
    stream = read_event_stream(spark, sf_dir)
    enriched = stream_enrich_static(stream, tiers, on="event_type")
    agg = enriched.groupBy("tier").agg(F.count(F.lit(1)).alias("n"))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_enrich")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["tier"]: r["n"] for r in spark.table("t_enrich").collect()}
    want = {
        r["tier"]: r["n"]
        for r in read_testdata(spark, sf_dir, "events")
        .join(tiers, on="event_type", how="left")
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_stream_dedup_drops_replayed_events(spark, sf_dir, tmp_path):
    from nyc_etl_pipeline_spark.streaming.events import stream_dedup

    # duplicate the whole fixture (a replayed source) into one dir
    src = tmp_path / "dup"
    src.mkdir()
    events = read_testdata(spark, sf_dir, "events")
    # rewrite the typed events through Spark (whatever timestamp unit
    # Spark emits, open_event_stream sniffs it from the footer)
    events.write.parquet(str(src / "a"))
    events.write.parquet(str(src / "b"))

    from nyc_etl_pipeline_spark.streaming.events import open_event_stream

    stream = open_event_stream(spark, f"{str(src)}/*", sample=str(src / "a"))
    deduped = stream_dedup(stream, ["event_id"])
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dedup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n = spark.table("t_dedup").count()
    assert n == events.count()  # each replayed event kept exactly once


def test_warehouse_compaction(spark, sf_dir, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    o = read_testdata(spark, sf_dir, "orders")
    # fragment into many tiny files
    wh.overwrite(o.repartition(40), "orders_frag")
    import glob

    n_before = len(glob.glob(wh.path("orders_frag") + "/*.parquet"))
    assert n_before >= 40
    wh.compact("orders_frag", target_file_mb=128)
    n_after = len(glob.glob(wh.path("orders_frag") + "/*.parquet"))
    assert n_after < 5
    assert wh.read("orders_frag").count() == o.count()


def test_stream_to_warehouse_exactly_once_across_restart(spark, sf_dir, tmp_path):
    """The file sink's checkpoint + _spark_metadata protocol must make
    (a) a re-run with no new data a no-op, and (b) a restart after new
    files arrive append ONLY the new events — never replays."""
    from nyc_etl_pipeline_spark.streaming.events import open_event_stream
    from nyc_etl_pipeline_spark.streaming.sinks import stream_to_warehouse

    events = read_testdata(spark, sf_dir, "events")
    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 == 1)
    src = tmp_path / "src"
    src.mkdir()
    half1.write.parquet(str(src / "a"))

    wh = Warehouse(spark, str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = open_event_stream(spark, f"{str(src)}/*", sample=str(src / "a"))
        q = stream_to_warehouse(stream, wh, "events_ingest", ckpt)
        q.awaitTermination()

    run_once()
    n1 = wh.read("events_ingest").count()
    assert n1 == half1.count()

    run_once()  # restart with NO new data: must not duplicate
    assert wh.read("events_ingest").count() == n1

    half2.write.parquet(str(src / "b"))
    run_once()  # restart with new files: appends exactly the delta
    assert wh.read("events_ingest").count() == events.count()
    # no event ingested twice
    dup = (
        wh.read("events_ingest").groupBy("event_id").count().filter(F.col("count") > 1).count()
    )
    assert dup == 0


def test_streaming_cms_sketch_maintenance_exactly_once(spark, sf_dir, tmp_path):
    """Per-batch partial sketches land in batch_id partitions; a
    replayed batch overwrites its own partition (no double count) and
    the merged sketch equals the batch-built sketch over all data."""
    from nyc_etl_pipeline_spark.operators import sketches as SKC
    from nyc_etl_pipeline_spark.streaming.sinks import (
        merged_sketch,
        sketch_maintainer,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    stream = read_event_stream(spark, sf_dir).select(
        F.col("event_type").alias("token")
    )
    writer = sketch_maintainer(wh, "cms", token_col="token")
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    events = read_testdata(spark, sf_dir, "events").select(
        F.col("event_type").alias("token")
    )
    expect = sorted(map(tuple, SKC.cms_build(events).collect()))
    got = sorted(map(tuple, merged_sketch(wh, "cms").collect()))
    assert got == expect

    # replay batch 0 verbatim: partition overwrite -> merged unchanged
    writer(events, 0)
    assert sorted(map(tuple, merged_sketch(wh, "cms").collect())) == expect

    # a genuinely new batch merges additively
    writer(events.limit(100), 1)
    expect2 = sorted(
        map(
            tuple,
            SKC.cms_merge(
                [SKC.cms_build(events), SKC.cms_build(events.limit(100))]
            ).collect(),
        )
    )
    assert sorted(map(tuple, merged_sketch(wh, "cms").collect())) == expect2


def test_streaming_mart_maintenance_matches_batch_and_survives_replay(
    spark, sf_dir, tmp_path
):
    """Streamed per-batch partial aggregates, merged, must equal the
    direct batch aggregate over all data — and replaying a batch must
    change nothing (q120's identity, maintained by a stream)."""
    from nyc_etl_pipeline_spark.operators import incremental as INC
    from nyc_etl_pipeline_spark.streaming.sinks import mart_maintainer, merged_mart

    keys, measures = ["event_type"], ["value"]
    wh = Warehouse(spark, str(tmp_path / "wh"))
    writer = mart_maintainer(wh, "mart", keys, measures)
    q = (
        read_event_stream(spark, sf_dir)
        .writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    events = read_testdata(spark, sf_dir, "events")
    expect = sorted(
        map(tuple, INC.finalize(INC.partial_aggregate(events, keys, measures), measures).collect())
    )
    got = sorted(map(tuple, merged_mart(wh, "mart", keys, measures).collect()))
    assert got == expect

    writer(events, 0)  # verbatim replay of batch 0
    assert sorted(map(tuple, merged_mart(wh, "mart", keys, measures).collect())) == expect

    writer(events.limit(500), 1)  # a genuinely new batch shifts the mart
    got2 = merged_mart(wh, "mart", keys, measures)
    n_all = events.count()
    assert got2.agg(F.sum("n_rows")).first()[0] == n_all + 500


def test_compact_preserves_partitions_and_replay_contract(spark, sf_dir, tmp_path):
    """Compacting a batch_id-partitioned maintainer table must keep the
    partition layout — an unpartitioned rewrite would leave old rows in
    root files while a replayed batch writes a fresh batch_id dir,
    double-counting it (the exactly-once contract's failure mode)."""
    from nyc_etl_pipeline_spark.operators import sketches as SKC
    from nyc_etl_pipeline_spark.streaming.sinks import merged_sketch, sketch_maintainer

    wh = Warehouse(spark, str(tmp_path / "wh"))
    events = read_testdata(spark, sf_dir, "events").select(
        F.col("event_type").alias("token")
    )
    writer = sketch_maintainer(wh, "cms", token_col="token")
    writer(events, 0)
    writer(events.limit(300), 1)
    before = sorted(map(tuple, merged_sketch(wh, "cms").collect()))

    wh.compact("cms", target_file_mb=512)
    assert wh.partition_columns("cms") == ["batch_id"]
    assert sorted(map(tuple, merged_sketch(wh, "cms").collect())) == before

    # the failure mode: replay batch 1 after compaction — partition
    # overwrite must REPLACE it, not add a second copy
    writer(events.limit(300), 1)
    assert sorted(map(tuple, merged_sketch(wh, "cms").collect())) == before


def test_streaming_mg_summary_maintenance_exactly_once(spark, sf_dir, tmp_path):
    """Per-batch MG partials land in batch_id partitions; replay
    overwrites (no double count); the merged summary's sentinel total
    is exact and its candidate set still certifies every heavy hitter
    of the full stream at the merged 2n/(k+1) bound."""
    from collections import Counter

    from nyc_etl_pipeline_spark.streaming.sinks import (
        merged_mg_summary,
        mg_maintainer,
    )

    k_s = 8
    wh = Warehouse(spark, str(tmp_path / "wh"))
    stream = read_event_stream(spark, sf_dir).select(
        F.col("event_type").alias("token")
    )
    writer = mg_maintainer(wh, "mg", token_col="token", k_summary=k_s)
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    events = read_testdata(spark, sf_dir, "events").select(
        F.col("event_type").alias("token")
    )
    toks = [r.token for r in events.collect()]

    def check():
        rows = merged_mg_summary(wh, "mg", "token", k_s).collect()
        cands = {r.token: r.weight for r in rows if r.token is not None}
        total = sum(r.weight for r in rows if r.token is None)
        assert total == len(toks)
        assert len(cands) <= k_s
        true = Counter(toks)
        for t, c in true.items():
            if c * (k_s + 1) > 2 * len(toks):
                assert t in cands, t
        for t, w in cands.items():
            assert w <= true[t]

    check()
    # replay batch 0 verbatim: partition overwrite keeps totals exact
    writer(events, 0)
    check()


def test_ivf_maintainer_parity_and_exactly_once(spark, sf_dir, tmp_path):
    """Stream embeddings through the IVF maintainer in 3 file-batches;
    the maintained (batch_id, __cell) index must (a) return EXACTLY
    the batch-built index's search results under the same centers,
    (b) keep the probed-cells partition filter on the scan, and
    (c) stay correct after a verbatim batch replay (dynamic partition
    overwrite, not append)."""
    from nyc_etl_pipeline_spark.io import Warehouse
    from nyc_etl_pipeline_spark.operators import similarity as SIM
    from nyc_etl_pipeline_spark.streaming.sinks import (
        ivf_maintainer,
        maintained_ivf_topk,
    )

    emb = read_testdata(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)

    # batch-built reference index (fit once; its centers ARE the index
    # metadata, shared with the maintainer)
    centers = SIM.ivf_write_index(emb, str(tmp_path / "batch_idx"), n_lists=8)
    expect = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in SIM.ivf_topk_indexed(
            spark, str(tmp_path / "batch_idx"), centers, queries, k=5, n_probe=3
        ).collect()
    }

    staging = str(tmp_path / "staging")
    emb.repartition(3).write.parquet(staging)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    writer = ivf_maintainer(wh, "vecidx", centers)
    q = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
        .writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # multiple batches actually arrived
    batches = {r["batch_id"] for r in wh.read("vecidx").select("batch_id").distinct().collect()}
    assert len(batches) >= 2

    def got():
        return {
            (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
            for r in maintained_ivf_topk(
                wh, "vecidx", centers, queries, k=5, n_probe=3
            ).collect()
        }

    assert got() == expect
    # probed-cells partition pruning on the maintained index
    plan = maintained_ivf_topk(
        wh, "vecidx", centers, queries, k=5, n_probe=3
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__cell" in plan.split("PartitionFilters", 1)[1][:400]
    # retry idempotence: writing the same batch twice under one
    # batch_id must contribute its rows exactly once (dynamic
    # partition overwrite, not append)
    n_before = wh.read("vecidx").count()
    replay = emb.limit(100)
    writer(replay, 999)
    writer(replay, 999)
    assert wh.read("vecidx").count() == n_before + 100
    # and the retry rewrote ONLY its own batch partitions
    assert wh.read("vecidx").filter(F.col("batch_id") == 999).count() == 100


def test_band_index_maintainer_parity_and_exactly_once(spark, sf_dir, tmp_path):
    """Stream documents through the band-index maintainer in multiple
    file-batches: the maintained index must equal the batch-built
    minhash_band_table over the same corpus AS A SET, an arriving
    batch's candidate join against it must match the live-index path,
    and a verbatim batch retry must not duplicate rows."""
    from nyc_etl_pipeline_spark.io import Warehouse
    from nyc_etl_pipeline_spark.operators import dedup as D
    from nyc_etl_pipeline_spark.streaming.sinks import band_index_maintainer

    docs = read_testdata(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 250)
    arriving = docs.filter(F.col("doc_id") >= 250)

    staging = str(tmp_path / "staging")
    corpus.repartition(3).write.parquet(staging)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    writer = band_index_maintainer(wh, "bands", num_hashes=64, bands=16)
    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
        .writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    maintained = wh.read("bands")
    assert maintained.select("batch_id").distinct().count() >= 2

    live = D.minhash_band_table(corpus, num_hashes=64, bands=16)
    as_set = lambda df: {
        (r["doc_id"], r["band_idx"], r["band_key"])
        for r in df.select("doc_id", "band_idx", "band_key").collect()
    }
    assert as_set(maintained) == as_set(live)

    # candidate join for an arriving batch: maintained == live index
    nb = D.minhash_band_table(arriving, num_hashes=64, bands=16)

    def cands(cb):
        return {
            (r["new_id"], r["other_id"])
            for r in nb.select(F.col("doc_id").alias("new_id"), "band_idx", "band_key")
            .join(
                cb.select(F.col("doc_id").alias("other_id"), "band_idx", "band_key"),
                on=["band_idx", "band_key"],
            )
            .select("new_id", "other_id")
            .dropDuplicates()
            .collect()
        }

    assert cands(maintained) == cands(live) and cands(maintained)

    # verbatim retry of a new batch id: rows contributed exactly once
    n_before = maintained.count()
    replay = arriving.limit(40)
    writer(replay, 777)
    writer(replay, 777)
    per_doc = D.minhash_band_table(replay, num_hashes=64, bands=16).count()
    assert wh.read("bands").count() == n_before + per_doc


def test_streaming_hll_maintenance_exactly_once_and_subset_noop(spark, sf_dir, tmp_path):
    """Per-batch HLL partials in batch_id partitions: merged estimate
    within HLL tolerance of the exact distinct count, replay is a
    no-op, and a NEW batch of already-seen values provably cannot move
    the estimate (register maxima)."""
    from nyc_etl_pipeline_spark.streaming.sinks import hll_maintainer, merged_hll

    wh = Warehouse(spark, str(tmp_path / "wh"))
    stream = read_event_stream(spark, sf_dir).select("event_type", "user_id")
    writer = hll_maintainer(wh, "hll", ["event_type"], "user_id")
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    events = read_testdata(spark, sf_dir, "events").select("event_type", "user_id")
    exact = {
        r["event_type"]: r["n"]
        for r in events.distinct().groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    est = {r["event_type"]: r["distinct_est"] for r in merged_hll(wh, "hll", ["event_type"]).collect()}
    assert set(est) == set(exact)
    assert all(abs(est[k] - exact[k]) <= 0.1 * exact[k] + 2 for k in exact), (est, exact)

    # replay batch 0 verbatim: partition overwrite -> merged unchanged
    writer(events, 0)
    assert {r["event_type"]: r["distinct_est"] for r in merged_hll(wh, "hll", ["event_type"]).collect()} == est

    # a genuinely NEW batch of already-seen values: distinct-count
    # semantics -> estimates identical (subset registers)
    writer(events.limit(200), 7)
    assert {r["event_type"]: r["distinct_est"] for r in merged_hll(wh, "hll", ["event_type"]).collect()} == est
