"""Scale-posture assertions on physical plans (SURVEY §4): pushdown,
pruning, broadcast, codegen, bounded shuffle counts."""

from pyspark.sql import functions as F

from nyc_etl_pipeline_spark.io import read_testdata
from nyc_etl_pipeline_spark.suite.relational import (
    q01_monthly_sales_report,
    q03_clean_project,
    q08_top_customers,
)
from tests import plans as P


def test_filter_pushes_into_parquet_scan(spark, sf_dir):
    df = (
        read_testdata(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity")
    )
    plan = P.explain_str(df)
    pushed = P.pushed_filters(plan)
    assert any("l_quantity" in p and "GreaterThan" in p for p in pushed), plan


def test_projection_prunes_read_schema(spark, sf_dir):
    df = read_testdata(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    schemas = P.scan_read_schemas(P.explain_str(df))
    assert schemas and all(
        "l_extendedprice" not in s and "l_orderkey" in s for s in schemas
    ), schemas


def test_flagship_broadcasts_dims_and_prunes(spark, sf_dir):
    df = q01_monthly_sales_report(spark, sf_dir)
    plan = P.explain_str(df)
    assert P.has_broadcast_join(plan), plan
    # lineitem scan must not read the unused columns
    li_schemas = [s for s in P.scan_read_schemas(plan) if "l_orderkey" in s]
    assert li_schemas and all("l_shipdate" not in s and "l_tax" not in s for s in li_schemas)
    assert P.has_wholestage_codegen(df)


def test_flagship_shuffle_budget(spark, sf_dir):
    """Star join + agg needs at most: lineitem<->orders exchange pair,
    customer join exchanges, and the final group-by exchange. More
    means a dim stopped broadcasting or AQE regressed."""
    plan = P.explain_str(q01_monthly_sales_report(spark, sf_dir), "simple")
    assert P.count_exchanges(plan) <= 5, plan


def test_clean_project_single_exchange(spark, sf_dir):
    """The silver chain's only exchange is the dedup; scalar derive
    work must stay in one codegen stage."""
    df = q03_clean_project(spark, sf_dir)
    plan = P.explain_str(df, "simple")
    assert P.count_exchanges(plan) == 1, plan
    assert P.has_wholestage_codegen(df)


def test_topk_uses_take_ordered(spark, sf_dir):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject (per-
    partition top-k + k-row merge), not a global sort."""
    plan = P.explain_str(q08_top_customers(spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in plan, plan


def test_range_join_broadcasts_nested_loop(spark, sf_dir):
    """Non-equi joins have no hash strategy; with the small side
    broadcast the plan must be a BroadcastNestedLoopJoin (linear in
    the fact side), never a cartesian product."""
    from nyc_etl_pipeline_spark.operators.joins import range_join_small

    e = read_testdata(spark, sf_dir, "events")
    tiers = spark.createDataFrame(
        [("T0", 0.0, 10.0), ("T1", 10.0, 1e9)], "tier string, lo double, hi double"
    )
    plan = P.explain_str(range_join_small(e, tiers, "value"), "simple")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_contamination_broadcasts_benchmark_side(spark, sf_dir):
    """The decontamination probe must broadcast the benchmark shingle
    index — a shuffle of the corpus against a tiny eval set would be
    the wrong plan at any scale."""
    from nyc_etl_pipeline_spark.operators.dedup import contamination_scores

    docs = read_testdata(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    cand = docs.filter(F.col("doc_id") % 17 != 0)
    plan = P.explain_str(contamination_scores(cand, bench), "simple")
    assert "BroadcastHashJoin" in plan, plan


def test_sq8_topk_broadcasts_queries_no_corpus_shuffle(spark, sf_dir):
    """SQ8 search keeps the exact-baseline shape: query side broadcast,
    corpus never shuffled before scoring (the only exchange is the
    k*|Q|-row window merge)."""
    from nyc_etl_pipeline_spark.operators.similarity import sq8_topk

    emb = read_testdata(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    plan = P.explain_str(sq8_topk(emb, queries), "simple")
    assert P.has_broadcast_join(plan), plan
    assert P.count_exchanges(plan) <= 2, plan


def test_funnel_broadcasts_first_clicks(spark, sf_dir):
    from nyc_etl_pipeline_spark.suite.training import q55_funnel

    plan = P.explain_str(q55_funnel(spark, sf_dir), "simple")
    assert P.has_broadcast_join(plan), plan


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """Big-big joins where one side is selectively filtered should get
    a runtime bloom filter: the filtered side builds a bloom sketch,
    the probe side applies BloomFilterMightContain BEFORE the shuffle,
    cutting shuffled rows to ~the join's selectivity. At 100 TB this
    is the difference between shuffling the whole fact table and
    shuffling the matching fraction. (Thresholds are production-sized;
    lowered here so sf0.1-scale inputs qualify. Broadcast is disabled
    to force the shuffle join the optimization targets.)"""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = read_testdata(spark, sf_dir, "lineitem")
        orders = read_testdata(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_orderpriority"
        )
        plan = P.explain_str(joined)
        assert "bloom" in plan.lower(), plan
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_partition_pruning_on_warehouse_table(spark, tmp_path, sf_dir):
    """month-partitioned lakehouse table: a month filter must prune
    partitions at the scan (the engine's replacement for the
    reference's file-per-month manual pruning, SURVEY §4)."""
    from nyc_etl_pipeline_spark.io import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    orders = read_testdata(spark, sf_dir, "orders").withColumn(
        "month", F.month("o_orderdate")
    )
    wh.overwrite(orders, "orders_part", partition_by=["month"])
    df = wh.read("orders_part").filter(F.col("month") == 3)
    plan = P.explain_str(df)
    assert "PartitionFilters" in plan and "month" in plan.split("PartitionFilters", 1)[1].split("\n")[0]
    # pruned scan reads ~1/12 of the files
    assert df.count() == orders.filter(F.month("o_orderdate") == 3).count()


def test_tpch_q3_takeordered_and_pushdown(spark, sf_dir):
    """q61: top-10 must be TakeOrderedAndProject; the mktsegment and
    date predicates must reach the parquet scans."""
    from nyc_etl_pipeline_spark.suite.tpch import q61_tpch_q3

    df = q61_tpch_q3(spark, sf_dir)
    plan = P.explain_str(df)
    assert "TakeOrderedAndProject" in plan, plan
    pushed = " ".join(P.pushed_filters(plan))
    assert "c_mktsegment" in pushed and "l_shipdate" in pushed, pushed


def test_tpch_q5_broadcasts_all_dims(spark, sf_dir):
    """q62: supplier/nation/region ride broadcast joins; the plan must
    not shuffle more than the lineitem<->orders<->customer spine."""
    from nyc_etl_pipeline_spark.suite.tpch import q62_tpch_q5

    plan = P.explain_str(q62_tpch_q5(spark, sf_dir), "simple")
    assert P.has_broadcast_join(plan), plan
    assert P.count_exchanges(plan) <= 7, plan


def test_tpch_q18_preaggregates_before_join(spark, sf_dir):
    """q64: the HAVING threshold must apply to an aggregate computed
    BEFORE the joins (aggregate-then-join rewrite) — the plan has a
    hash aggregate below the first join, with partial map-side
    combine."""
    from nyc_etl_pipeline_spark.suite.tpch import q64_tpch_q18

    plan = P.explain_str(q64_tpch_q18(spark, sf_dir), "formatted")
    # partial + final agg pair present, and lineitem never joins raw:
    assert plan.count("HashAggregate") >= 2, plan
    li_schemas = [s for s in P.scan_read_schemas(plan) if "l_quantity" in s]
    assert li_schemas and all("l_extendedprice" not in s for s in li_schemas), li_schemas


def test_window_gauntlet_single_exchange(spark, sf_dir):
    """q69: every window function shares one (partition, order) spec —
    the plan must contain exactly one exchange (the custkey hash
    partition) and one Window operator chain, no per-function
    re-shuffles."""
    from nyc_etl_pipeline_spark.suite.advanced import q69_window_gauntlet

    plan = P.explain_str(q69_window_gauntlet(spark, sf_dir), "simple")
    assert P.count_exchanges(plan) == 1, plan


def test_shard_shuffle_single_exchange_no_global_sort(spark, sf_dir):
    """q68 operator: one hash exchange on shard; ordering is a
    per-partition sort (Sort with global=false), never a range
    exchange (global sort)."""
    from nyc_etl_pipeline_spark.operators import sampling

    docs = read_testdata(spark, sf_dir, "documents").select("doc_id")
    df = sampling.shard_shuffle(docs, ["doc_id"], n_shards=64, salt="plan")
    plan = P.explain_str(df, "simple")
    assert P.count_exchanges(plan) == 1, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_q72_domain_rank_is_topk_not_global_sort(spark, sf_dir):
    """q72 (VERDICT r3 item 6): the domain ranking must be bounded —
    per-partition top-K then a K-row merge (TakeOrderedAndProject),
    with the row_number window running only over the bounded result
    and never as a global (empty-partition-spec) window over all
    domains."""
    from nyc_etl_pipeline_spark.suite.corpus import q72_domain_stats

    df = q72_domain_stats(spark, sf_dir)
    plan = P.explain_str(df)
    assert "TakeOrderedAndProject" in plan, plan
    # the Window node must consume the top-K head, not the raw domain
    # rollup: in the numbered formatted plan the Window's child is the
    # TakeOrderedAndProject node
    import re

    tree = plan.split("==", 2)[-1]
    win = re.search(r"Window \((\d+)\)", tree)
    topk = re.search(r"TakeOrderedAndProject \((\d+)\)", tree)
    assert win and topk, plan
    assert int(topk.group(1)) == int(win.group(1)) - 1, plan


def test_q78_scd2_single_exchange(spark, sf_dir):
    """SCD2 interval build: both windows share the user_id
    partitioning, so the whole query is ONE exchange on the key."""
    from nyc_etl_pipeline_spark.suite.events import q78_scd2_intervals

    plan = P.explain_str(q78_scd2_intervals(spark, sf_dir), "simple")
    assert P.count_exchanges(plan) == 1, plan


def test_q83_exists_chain_plans_semi_and_anti(spark, sf_dir):
    """Chained EXISTS/NOT EXISTS must decorrelate to one LeftSemi and
    one LeftAnti join — never a cartesian or a per-row subquery."""
    from nyc_etl_pipeline_spark.suite.tpch import q83_tpch_q21

    plan = P.explain_str(q83_tpch_q21(spark, sf_dir), "simple")
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


def test_q84_anomaly_single_window_exchange(spark, sf_dir):
    """Trailing-window scoring: all framed aggregates share one
    (user_id) window partitioning — one exchange, one Window node."""
    from nyc_etl_pipeline_spark.suite.events import q84_anomaly_bands

    plan = P.explain_str(q84_anomaly_bands(spark, sf_dir), "simple")
    assert P.count_exchanges(plan) == 1, plan
    assert plan.count("Window") == 1, plan


def test_q88_broadcasts_threshold_and_anti_joins(spark, sf_dir):
    """Q22 shape: the scalar average broadcasts (no shuffle to compare
    every row against it) and NOT EXISTS is a left-anti join."""
    from nyc_etl_pipeline_spark.suite.tpch import q88_tpch_q22

    plan = P.explain_str(q88_tpch_q22(spark, sf_dir), "simple")
    assert P.has_broadcast_join(plan), plan
    assert "LeftAnti" in plan, plan


def test_q93_min_cost_decorrelates_to_agg_join(spark, sf_dir):
    """Q2 shape: the correlated scalar MIN must plan as one aggregate
    + equi-join on partkey — no per-row subquery, no cartesian; all
    dims broadcast."""
    from nyc_etl_pipeline_spark.suite.tpch import q93_tpch_q2

    plan = P.explain_str(q93_tpch_q2(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert P.has_broadcast_join(plan), plan
    assert "HashAggregate" in plan, plan


def test_q94_exists_plans_left_semi(spark, sf_dir):
    """Q4: EXISTS with a non-equi date residual -> LEFT SEMI hash join
    on orderkey, date filters pushed to the orders scan."""
    from nyc_etl_pipeline_spark.suite.tpch import q94_tpch_q4

    plan = P.explain_str(q94_tpch_q4(spark, sf_dir))
    assert "LeftSemi" in plan, plan
    pushed = P.pushed_filters(plan)
    assert any("o_orderdate" in p for p in pushed), plan


def test_q95_q97_scalar_broadcasts(spark, sf_dir):
    """Q11/Q15 shapes: the global scalar (total / max over a view)
    must broadcast back — no shuffle of the big side to compare
    against one number."""
    from nyc_etl_pipeline_spark.suite.tpch import q95_tpch_q11, q97_tpch_q15

    for q in (q95_tpch_q11, q97_tpch_q15):
        plan = P.explain_str(q(spark, sf_dir), "simple")
        assert P.has_broadcast_join(plan) or "BroadcastNestedLoop" in plan, plan
        assert "CartesianProduct" not in plan


def test_q98_not_in_plans_left_anti(spark, sf_dir):
    """Q16 shape: NOT IN over the non-null supplier key -> broadcast
    LEFT ANTI join + distinct aggregate."""
    from nyc_etl_pipeline_spark.suite.tpch import q98_tpch_q16

    plan = P.explain_str(q98_tpch_q16(spark, sf_dir), "simple")
    assert "LeftAnti" in plan, plan
    assert P.has_broadcast_join(plan), plan


def test_q99_per_group_avg_broadcasts(spark, sf_dir):
    """Q17: the per-part 0.2*avg table (bounded by the brand filter)
    broadcasts back onto the branded lines."""
    from nyc_etl_pipeline_spark.suite.tpch import q99_tpch_q17

    plan = P.explain_str(q99_tpch_q17(spark, sf_dir), "simple")
    assert P.has_broadcast_join(plan), plan


def test_q100_window_over_aggregated_grain(spark, sf_dir):
    """Q20 shape: the per-part total/count windows must consume the
    (part, supplier) HashAggregate output — aggregate first, window
    over the reduced grain, never a window over raw lineitem."""
    from nyc_etl_pipeline_spark.suite.tpch import q100_tpch_q20

    plan = P.explain_str(q100_tpch_q20(spark, sf_dir), "formatted")
    assert "Window" in plan and "HashAggregate" in plan, plan
    # the Window's child chain includes the aggregate, not a raw scan:
    # in formatted output the Window node id is higher (later) than the
    # partial aggregate over lineitem
    import re

    win = re.search(r"\((\d+)\) Window", plan)
    agg = re.search(r"\((\d+)\) HashAggregate", plan)
    assert win and agg and int(win.group(1)) > int(agg.group(1)), plan


def test_q73_zipf_window_is_topk_bounded(spark, sf_dir):
    """The Zipf cumulative-coverage window must consume the top-K
    TakeOrderedAndProject head, never the full vocabulary — its
    'No Partition Defined' warning is K-bounded by construction."""
    from nyc_etl_pipeline_spark.suite.corpus import q73_token_zipf

    plan = P.explain_str(q73_token_zipf(spark, sf_dir), "formatted")
    assert "TakeOrderedAndProject" in plan and "Window" in plan, plan
    import re

    win = re.search(r"\((\d+)\) Window", plan)
    top = re.search(r"\((\d+)\) TakeOrderedAndProject", plan)
    # formatted-plan ids are assigned leaves-first: the Window node
    # consuming the top-k head must have a HIGHER id than the
    # TakeOrderedAndProject it reads from
    assert win and top and int(win.group(1)) > int(top.group(1)), plan


def test_shared_report_base_serves_both_marts_shuffle_free(spark):
    """Engine.run_reports scale contract (reference README.md:162 crash
    case): the persisted shared_report_base is hash-partitioned on the
    6 grouping keys common to both marts, so the monthly AND weekly
    aggregations each plan partial+final HashAggregate directly over
    the InMemoryTableScan — zero ENSURE_REQUIREMENTS exchanges. One
    scan + one shuffle serve both report writes."""
    from nyc_etl_pipeline_spark.pipeline.reports import (
        monthly_from_base,
        shared_report_base,
        weekly_from_base,
    )

    fact = spark.range(500).select(
        (F.col("id") % 5 + 1).alias("PULocationID"),
        (F.col("id") % 7 + 1).alias("DOLocationID"),
        (F.col("id") % 2 + 1).alias("typeID"),
        (F.col("id") % 2 + 1).alias("VendorID"),
        (F.col("id") % 4 + 1).alias("RatecodeID"),
        (F.col("id") % 3 + 1).alias("paymentID"),
        (F.col("id") % 300 + 1).alias("date_puID"),
        (F.col("id") % 4 + 1).cast("double").alias("passenger_count"),
        (F.col("id") % 100 / 10.0).alias("trip_distance"),
        (F.col("id") % 3600).cast("double").alias("trip_duration"),
        (F.col("id") % 20 / 2.0).alias("tip_amount"),
        F.lit(0.0).alias("tolls_amount"),
        (F.col("id") % 50 + 3.0).alias("total_amount"),
        (F.col("id") % 40 + 2.5).alias("fare_amount"),
    )
    zone = spark.createDataFrame(
        [(i, "b", "z", "s") for i in range(1, 300)],
        "LocationID int, Borough string, Zone string, service_zone string",
    )
    dims = [zone] + [
        spark.createDataFrame([(i, "x") for i in range(1, 10)], f"{k} int, {v} string")
        for k, v in [
            ("typeID", "typeName"),
            ("VendorID", "VendorName"),
            ("paymentID", "payment_type"),
            ("RatecodeID", "RatecodeName"),
        ]
    ]
    base = shared_report_base(fact, 2023).persist()
    try:
        base.count()
        for mart in (monthly_from_base(base, *dims), weekly_from_base(base, *dims)):
            plan = mart._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan, plan
            # the only hash exchanges are prints of the cached
            # REPARTITION_BY_COL plan; the aggregation adds none
            assert "ENSURE_REQUIREMENTS" not in plan, plan
            assert mart.count() > 0
    finally:
        base.unpersist()


def test_q102_q6_predicates_reach_scan(spark, sf_dir):
    """Q6 is the canonical pushdown query: quantity/discount/shipdate
    predicates must all land in the parquet scan's PushedFilters."""
    from nyc_etl_pipeline_spark.suite.tpch import q102_tpch_q6

    plan = P.explain_str(q102_tpch_q6(spark, sf_dir))
    pushed = " ".join(P.pushed_filters(plan))
    assert "l_quantity" in pushed and "l_discount" in pushed and "l_shipdate" in pushed, plan


def test_new_tpch_shapes_broadcast_small_sides(spark, sf_dir):
    """Q7/Q9/Q14/Q19: nation-filtered supplier/customer, filtered part,
    and the whole part table are all broadcast — the only shuffle in
    each plan is lineitem⋈orders (Q7/Q9) or none at all (Q14/Q19)."""
    from nyc_etl_pipeline_spark.suite.tpch import (
        q103_tpch_q7,
        q105_tpch_q9,
        q107_tpch_q14,
        q108_tpch_q19,
    )

    for fn in (q103_tpch_q7, q105_tpch_q9, q107_tpch_q14, q108_tpch_q19):
        plan = P.explain_str(fn(spark, sf_dir))
        assert P.has_broadcast_join(plan), f"{fn.__name__}: {plan}"


def test_q104_market_share_is_single_pass(spark, sf_dir):
    """Q8's share must come from conditional-sum/sum in ONE grouped
    aggregation — no self-join of the yearly volumes (the naive
    two-scan formulation doubles the whole join spine)."""
    from nyc_etl_pipeline_spark.suite.tpch import q104_tpch_q8

    plan = P.explain_str(q104_tpch_q8(spark, sf_dir), "formatted")
    import re

    # exactly one partial/final aggregate pair on o_year (2 HashAggregate
    # nodes), not two pairs merged by a join
    n_aggs = len(re.findall(r"\) HashAggregate", plan))
    assert n_aggs == 2, f"expected 2 HashAggregate nodes, got {n_aggs}: {plan}"


# ---- round-5 late additions: q119-q124 plan shapes -----------------------

def test_q122_zorder_key_is_scan_plus_broadcast_stats(spark, sf_dir):
    """The Z-order key computation must be a projection over ONE scan
    of lineitem plus a broadcast of the 1-row min/max stats — never a
    window or a re-sort of the data."""
    from nyc_etl_pipeline_spark.operators import layout

    li = read_testdata(spark, sf_dir, "lineitem")
    keyed = layout.zorder_key(li, "l_partkey", "l_suppkey")
    plan = P.explain_str(keyed)
    assert P.has_broadcast_join(plan), plan
    assert "Window" not in plan, plan
    # only the stats aggregation exchanges; the data path itself never
    # shuffles (broadcast exchange + the agg's single-row exchange)
    assert "Sort" not in plan.split("== Physical Plan ==")[-1].split("+- ")[0], plan


def test_q123_semantic_dedup_has_no_self_join_blowup(spark, sf_dir):
    """semantic_dedup joins members to ONE representative per bucket —
    the rep side is an aggregated (bucket-distinct) relation, so no
    plan node ever pairs a bucket with itself row-by-row. Detect the
    O(|bucket|^2) regression by asserting the join keys include the
    aggregated rep relation (HashAggregate feeding the join)."""
    from nyc_etl_pipeline_spark.operators import similarity as SIM

    emb = read_testdata(spark, sf_dir, "embeddings")
    out = SIM.semantic_dedup(emb, threshold=0.1, n_planes=6)
    plan = P.explain_str(out)
    assert "HashAggregate" in plan, plan
    # the member-vs-member pattern of lsh_bucketed_pairs dedups pairs
    # afterwards; its absence here is the linear-cost signature
    assert "dropDuplicates" not in plan and plan.count("SortMergeJoin") <= 2, plan


def test_q124_cms_lookup_broadcasts_sketch(spark, sf_dir):
    """The sketch is depth*width rows; the estimate join must
    broadcast it rather than shuffling the probe side."""
    from nyc_etl_pipeline_spark.operators import sketches as SKC
    from nyc_etl_pipeline_spark.operators import text as TX

    docs = read_testdata(spark, sf_dir, "documents")
    toks = docs.select(F.explode(TX.tokens(F.col("text"))).alias("token"))
    sketch = SKC.cms_build(toks)
    est = SKC.cms_estimate(sketch, toks.limit(5))
    assert P.has_broadcast_join(P.explain_str(est))


def test_q119_passage_windows_stage_token_projection(spark, sf_dir):
    """Window generation must consume a STAGED token array (one
    split() per document), not re-tokenize per element_at read — the
    14x shingle lesson (dedup.shingles_from_tokens docstring). The
    staged projection shows up as the token alias feeding the
    generator; re-tokenization would inline split() into the explode."""
    from nyc_etl_pipeline_spark.operators import dedup as D

    docs = read_testdata(spark, sf_dir, "documents")
    out = D.duplicated_passage_stats(docs, k=8)
    plan = P.explain_str(out)
    # exactly one split() site in the whole plan (the staged projection)
    assert plan.count("split(") <= 2, plan


def test_q129_interval_join_is_equi_not_cartesian(spark, sf_dir):
    """The interval-banding join must plan as a hash equi-join on
    (user_id, bucket) — never a nested-loop/cartesian product, which
    is what a naive theta-join formulation of interval overlap
    produces."""
    from nyc_etl_pipeline_spark.suite.advanced import q129_interval_overlap

    plan = P.explain_str(q129_interval_overlap(spark, sf_dir))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert "Join" in plan


def test_decimal_aggregation_keeps_hash_agg_path(spark, sf_dir):
    """The decimal-accumulation migration must stay on the partial+
    final HashAggregate path — ObjectHashAggregate/SortAggregate
    fallbacks would mean the exactness fix silently cost the
    map-side-combine property the 100 TB plan depends on."""
    from nyc_etl_pipeline_spark.suite.curation import q43_tpch_q1

    plan = P.explain_str(q43_tpch_q1(spark, sf_dir))
    assert "ObjectHashAggregate" not in plan and "SortAggregate" not in plan, plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_jaccard_prefix_no_cartesian_and_hash_join_on_shingle(spark, sf_dir):
    """q141's candidate join must be an equi-join on the shingle hash
    (never a cartesian), and the exact-verify joins equi on ids."""
    from nyc_etl_pipeline_spark.suite.textops import q141_jaccard_prefix

    plan = P.explain_str(q141_jaccard_prefix(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_skyline_broadcasts_prefix_table_no_cartesian(spark, sf_dir):
    """q143: the per-bucket prefix-max table (<=1024 rows) joins back
    broadcast; nothing in the plan may be cartesian."""
    from nyc_etl_pipeline_spark.suite.advanced import q143_skyline

    plan = P.explain_str(q143_skyline(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_jl_projection_is_pure_projection(spark, sf_dir):
    """q145's projection itself is shuffle-free: scan -> project. The
    gate query adds only rounding, so its whole plan must contain NO
    Exchange at all."""
    from nyc_etl_pipeline_spark.suite.vectors import q145_jl_project

    plan = P.explain_str(q145_jl_project(spark, sf_dir), "simple")
    assert "Exchange" not in plan, plan


def test_tfidf_no_cartesian_and_no_forced_broadcast(spark, sf_dir):
    """q151's tf-df term join is left to COST-BASED choice: no
    broadcast() hint in the operator, so tiny fixture stats pick
    broadcast while a corpus-scale vocabulary exceeds the threshold
    and falls back to a shuffle join. The assertable invariant is
    that nothing degenerates to a cartesian and the plan text carries
    no explicit broadcast hint on the term join."""
    from nyc_etl_pipeline_spark.operators import retrieval as R_OP
    import inspect

    from nyc_etl_pipeline_spark.suite.retrieval import q151_tfidf_keywords

    plan = P.explain_str(q151_tfidf_keywords(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    # the operator source must not FORCE broadcast of the vocab side
    src = inspect.getsource(R_OP.tfidf_keywords)
    assert "broadcast(dfreq" not in src


def test_phrase_search_equi_joins_only(spark, sf_dir):
    from nyc_etl_pipeline_spark.suite.retrieval import q154_phrase_search

    plan = P.explain_str(q154_phrase_search(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ks_drift_no_cartesian_grid(spark, sf_dir):
    """q157's types x values grid is a broadcast cross join of a
    <=|types|-row side — never a CartesianProduct of two big sides."""
    from nyc_etl_pipeline_spark.suite.events import q157_ks_drift

    plan = P.explain_str(q157_ks_drift(spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan


def test_incremental_neardup_candidate_bounded_verification(spark, sf_dir):
    """q127 (the suite's most expensive query): every join must be an
    equi hash/merge join — candidates come from band equi-joins and
    verification touches only candidate ids' shingle arrays, so a
    CartesianProduct or BroadcastNestedLoopJoin anywhere means a
    formulation regression that goes quadratic at corpus scale.
    (The batch band table's shared signature shuffle shows up only as
    a runtime AQE ReusedExchange, not in the API-visible plan, so
    exchange sharing is documented in dedup.py rather than asserted
    here.)"""
    from nyc_etl_pipeline_spark.suite.textops import q127_incremental_neardup

    df = q127_incremental_neardup(spark, sf_dir)
    plan = P.explain_str(df, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    joins = sum(
        plan.count(op)
        for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    # band vs corpus, band within batch, 2 verification joins, anti
    assert joins >= 5, plan
    # three candidate-id semi-join prunes: corpus DOCUMENTS before
    # shingling, then both array aggregates (measured 70.0 -> 45.6 s
    # at a 10k batch vs 1M corpus: without LeftSemi before collect_set
    # the verification stage aggregates the whole corpus's shingle
    # arrays)
    assert plan.count("LeftSemi") >= 3, plan
    # the corpus prune must sit BELOW a shingle explode: a semi-join
    # above it (where Catalyst leaves one) still tokenizes every corpus
    # document for verification
    assert _explode_over_semi_join(plan), plan


def _explode_over_semi_join(plan: str) -> bool:
    """True if some `Generate explode` node has a LeftSemi join in its
    subtree (tree depth read from each line's indentation)."""
    lines = plan.splitlines()

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-|"))

    for i, line in enumerate(lines):
        if "Generate explode" not in line:
            continue
        d = depth(line)
        for below in lines[i + 1:]:
            if depth(below) <= d:
                break
            if "LeftSemi" in below:
                return True
    return False


def test_graph_iteration_rounds_are_equi_joins(spark, sf_dir):
    """One un-truncated round of q162's peel and q163's propagation
    (checkpoint=False exposes the lazy plan the per-round
    localCheckpoint normally hides): every join must be an equi
    hash/merge join — semi-joins against the survivor set and the
    label-table join are all keyed on a node id, so a
    CartesianProduct or BroadcastNestedLoopJoin means the round went
    quadratic in nodes."""
    from nyc_etl_pipeline_spark.operators.graph import (
        kcore_peel,
        label_propagation,
    )
    from nyc_etl_pipeline_spark.suite.graphq import KCORE_K, _kcore_edges

    edges = _kcore_edges(spark, sf_dir)
    for df in (
        kcore_peel(edges, KCORE_K, 1, checkpoint=False),
        label_propagation(edges, 1, checkpoint=False),
    ):
        plan = P.explain_str(df, "simple")
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        joins = sum(
            plan.count(op)
            for op in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
        )
        assert joins >= 1, plan


def test_label_propagation_requests_src_distribution(spark, sf_dir):
    """label_propagation pre-shuffles the static edge list on src (the
    per-round join key) so the checkpointed cache holds that
    distribution and rounds move only the label table (the 200M-edge
    A/B in BASELINE round 8). The reuse itself is a cache-runtime
    property a tiny-fixture plan can't show (labels get broadcast
    here); what IS structural: the operator must emit the explicit
    REPARTITION_BY_COL exchange on src that the cache materializes."""
    from nyc_etl_pipeline_spark.operators.graph import label_propagation
    from nyc_etl_pipeline_spark.suite.graphq import _kcore_edges

    edges = _kcore_edges(spark, sf_dir)
    plan = P.explain_str(label_propagation(edges, 1, checkpoint=False), "simple")
    assert "REPARTITION_BY_COL" in plan, plan
    assert "hashpartitioning(src" in plan, plan


def test_kmeans_assignment_pass_is_shuffle_free(spark, sf_dir):
    """q165's per-round assignment bakes the centroids in as literals:
    the returned final-assignment plan must be scan -> project with NO
    Exchange and NO join — the property that makes a Lloyd round one
    map-only pass over 100 TB plus a k-group aggregate."""
    from nyc_etl_pipeline_spark.operators.similarity import kmeans_fixed

    emb = read_testdata(spark, sf_dir, "embeddings")
    out = kmeans_fixed(emb, "embedding", dim=64, k=4, n_rounds=2)
    plan = P.explain_str(out, "simple")
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_heavy_hitter_verify_pass_broadcasts_candidates(spark, sf_dir):
    """q166's second pass must semi-join the token stream against the
    BOUNDED candidate set via broadcast — a SortMergeJoin here would
    shuffle the full 100 TB token stream, defeating the design."""
    from nyc_etl_pipeline_spark.suite.corpus import q166_heavy_hitters

    plan = P.explain_str(q166_heavy_hitters(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bloom_probe_join_broadcasts_bit_table(spark, sf_dir):
    """q177's membership test must be a map-side broadcast join of the
    m_bits-bounded bit table against the corpus positions — a shuffle
    join here re-shuffles every (doc, shingle, probe) row at 100 TB."""
    from nyc_etl_pipeline_spark.suite.training import q177_bloom_contamination

    plan = P.explain_str(q177_bloom_contamination(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_cluster_reps_window_group_limit_and_single_exchange(spark, sf_dir):
    """The per-cluster top-N must run under WindowGroupLimit pushdown
    (partition-local heaps, rk never materialized past per_cluster)
    with exactly ONE exchange — the k-group window partition; the
    kmeans assignment passes stay map-only (q165's plan contract)."""
    from nyc_etl_pipeline_spark.suite.vectors import q180_cluster_reps

    plan = P.explain_str(q180_cluster_reps(spark, sf_dir), "simple")
    assert "WindowGroupLimit" in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_sparse_cosine_caps_df_before_self_join(spark, sf_dir):
    """max_df must reach the dfreq aggregate as a post-agg filter
    BEFORE the postings self-join (the fan-out bound is the point);
    the final plan must contain no cartesian product."""
    from nyc_etl_pipeline_spark.suite.retrieval import q178_sparse_cosine

    df = q178_sparse_cosine(spark, sf_dir)
    plan = P.explain_str(df, "extended")
    assert "CartesianProduct" not in plan.split("== Physical Plan ==")[-1]
    # the cap appears as a Filter on the df count, not on pair rows
    assert "50" in plan and "Filter" in plan


def test_sparse_cosine_broadcasts_vocab_and_caches_tf(spark, sf_dir):
    """The r10 scale contract: the retained-vocabulary (dfreq) join
    must be a BroadcastHashJoin BY HINT (an un-hinted plan lets AQE
    materialize the corpus-sized term exchange in parallel with the
    tiny vocab stage — 214 s on the 10M probe's norms branch), and
    the in-row tf profile must be served from ONE cache
    (InMemoryTableScan) rather than recomputed per plan instance
    (lambda exprs defeat exchange-reuse canonicalization)."""
    from nyc_etl_pipeline_spark.suite.retrieval import q178_sparse_cosine

    df = q178_sparse_cosine(spark, sf_dir)
    plan = P.explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "InMemoryTableScan" in plan, plan
    # the 600M-row hazard: no exchange may sit between the tf scan and
    # the vocab join's stream side other than the postings self-join's
    assert "SortMergeJoin" not in plan, plan
