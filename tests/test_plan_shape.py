"""Physical-plan shape regressions: the 100 TB design properties
(broadcast joins, predicate pushdown, column pruning, AQE, no
accidental cartesian products) asserted on the actual Catalyst output.
These catch scale regressions that row-hash correctness cannot.
"""

from __future__ import annotations

from asafaviv_devops_asafaviv_devops_tidb_cdc_spark import registry
from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.plans import checks

from tests.conftest import SF_SMOKE

registry.load_all()


def _df(name, spark):
    return registry.QUERIES[name](spark, SF_SMOKE)


def test_fk_join_broadcasts(spark):
    assert checks.uses_broadcast_join(_df("q_join_fk", spark))


def test_star_join_broadcasts_dims_no_cartesian(spark):
    df = _df("q_join_star", spark)
    assert checks.uses_broadcast_join(df)
    assert not checks.has_cartesian(df)


def test_filter_pushes_to_parquet_scan(spark):
    pushed = checks.pushed_filters(_df("q_filter_cmp", spark))
    assert any("l_quantity" in p for p in pushed), pushed
    assert any("l_linestatus" in p for p in pushed), pushed


def test_anti_join_pushes_dim_filter(spark):
    pushed = checks.pushed_filters(_df("q_anti_orphans", spark))
    assert any("o_orderstatus" in p for p in pushed), pushed


def test_token_count_prunes_document_columns(spark):
    cols = checks.scan_columns(_df("q_token_count", spark), "documents")
    assert cols == {"doc_id", "text"}, cols


def test_lsh_prunes_embedding_columns(spark):
    cols = checks.scan_columns(_df("q_lsh_buckets", spark), "embeddings")
    assert cols == {"vec_id", "embedding"}, cols


def test_star_join_prunes_fact_columns(spark):
    cols = checks.scan_columns(_df("q_join_star", spark), "lineitem")
    # fact scan must read only join key + measures, never all 16 columns
    assert cols == {"l_orderkey", "l_extendedprice", "l_discount"}, cols


def test_aggregations_run_under_aqe(spark):
    assert checks.is_adaptive(_df("q_ops_by_table_op", spark))


def test_cdc_chain_fuses_into_one_map_stage(spark):
    """The whole P1-P5 chain (generate -> from_json -> explode ->
    normalize) plus the partial aggregation must be ONE map stage: the
    only exchanges allowed are the input rebalance and the aggregation
    shuffle, over a single scan of events."""
    df = _df("q_ops_by_table_op", spark)
    assert checks.count_nodes(df, "Scan parquet") == 1
    n_exchanges = checks.count_nodes(df, "Exchange")
    assert n_exchanges <= 2, f"unexpected shuffles: {n_exchanges}"


def test_snowflake_join_broadcasts_all_dims(spark):
    df = _df("q_local_supplier_volume", spark)
    plan = checks.plan_string(df)
    # customer, supplier, nation, region all broadcast; only the
    # fact-fact join and the aggregation may shuffle
    assert plan.count("BroadcastHashJoin") >= 4 or (
        checks.uses_broadcast_join(df) and not checks.has_cartesian(df)
    )
    assert not checks.has_cartesian(df)


def test_pricing_summary_pushes_date_filter(spark):
    pushed = checks.pushed_filters(_df("q_pricing_summary", spark))
    assert any("l_shipdate" in p for p in pushed), pushed


def test_partitioned_sink_prunes_at_scan(spark, tmp_path):
    """S3 sink design: a (key)-partitioned parquet table must serve
    key-filtered readers via partition pruning, not a full scan."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import load_table

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    path = str(tmp_path / "li_part")
    li.write.partitionBy("l_returnflag").parquet(path)
    reader = spark.read.parquet(path).filter("l_returnflag = 'R'")
    plan = checks.plan_string(reader)
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "l_returnflag" in m.group(1), plan


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Co-located join: two tables bucketed on the join key must join
    with ZERO exchanges — the pre-partitioning replaces the shuffle
    (the 100 TB pattern for repeated fact-fact joins)."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import load_table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = load_table(spark, SF_SMOKE, "orders")
        li = load_table(spark, SF_SMOKE, "lineitem")
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
            "overwrite"
        ).saveAsTable("orders_b")
        li.select("l_orderkey", "l_quantity").write.bucketBy(8, "l_orderkey").sortBy(
            "l_orderkey"
        ).mode("overwrite").saveAsTable("li_b")
        joined = spark.table("li_b").join(
            spark.table("orders_b"),
            spark.table("li_b").l_orderkey == spark.table("orders_b").o_orderkey,
        )
        assert checks.count_nodes(joined, "Exchange") == 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS li_b")


def test_scale_conf_formulas():
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.plans import scale

    conf = scale.recommended_conf(100 * scale.TIB, executors=1000, cores_per_executor=4)
    # 50 TB shuffled / 200 MiB target -> capped at the 100k ceiling
    assert conf["spark.sql.shuffle.partitions"] == str(scale.MAX_SHUFFLE_PARTITIONS)
    # small job: floor at 2x cores keeps every core busy
    small = scale.recommended_conf(1 * scale.GIB, executors=1, cores_per_executor=8)
    assert small["spark.sql.shuffle.partitions"] == "16"
    assert scale.max_offsets_per_trigger(4, 1024, 64) == 64 * 200 * scale.MIB // 1024
    # bucketed state: 1 TiB state -> size-driven (~5243 buckets), but a
    # 100-key batch caps at 400 so most buckets stay untouched per batch
    assert scale.state_buckets(1 * scale.TIB, 100) == 400
    assert scale.state_buckets(1 * scale.TIB, 10_000) == 1 * scale.TIB // (200 * scale.MIB) + 1
    assert scale.state_buckets(1 * scale.MIB, 10_000) == 1  # tiny state: one bucket
    # blocked cosine: 64 GiB of vectors into 2 GiB task memory -> 129
    # blocks (4x dense-int64 inflation); floor of 2 blocks always
    assert scale.cosine_blocks(64 * scale.GIB, 2 * scale.GIB) == 129
    assert scale.cosine_blocks(1 * scale.MIB, 2 * scale.GIB) == 2
    # IVF: 1M vectors probed 4-deep -> sqrt(4e6) = 2000 cells; tiny
    # corpora floor at 1, huge ones cap at the metadata ceiling
    assert scale.ivf_cells(1_000_000, 4) == 2000
    assert scale.ivf_cells(0) == 1
    assert scale.ivf_cells(10**13, 16) == 100_000
    # RocksDB streaming conf: the provider only; each stream sizes its
    # own shuffle domain from its micro-batch bound
    sconf = scale.streaming_conf()
    assert "RocksDB" in sconf["spark.sql.streaming.stateStore.providerClass"]
    assert "spark.sql.shuffle.partitions" not in sconf
    # stream domain: sized from the micro-batch bound, no floor at cores
    assert scale.stream_partitions(0, 32) == 1
    assert scale.stream_partitions(300 * 1024, 32) == 1  # a KB batch
    assert scale.stream_partitions(3 * 200 * scale.MIB, 32) == 4
    assert scale.stream_partitions(1 * scale.TIB, 8) == 8  # capped at cores
    # composes with the Kafka bound: a cores x 200 MiB batch -> cores
    rows = scale.max_offsets_per_trigger(4, 1024, 64)
    assert scale.stream_partitions(rows * 1024, 64) == 64


def test_embedding_norm_hist_single_shuffle(spark):
    """E3b norm audit is map-only up to one tiny histogram-key
    aggregation — no join, no second exchange."""
    df = _df("q_embedding_norm_hist", spark)
    assert checks.count_nodes(df, "Exchange") == 1, checks.plan_string(df)
    assert "Join" not in checks.plan_string(df)


def test_frame_sample_is_codegen_map_only(spark):
    """E5c frame sampling: stepped sequence() + byte-substring is one
    whole-stage-codegen map over the scan — zero exchanges, no Python."""
    df = _df("q_frame_sample", spark)
    plan = checks.plan_string(df)
    assert checks.count_nodes(df, "Exchange") == 0, plan
    assert "Python" not in plan and "Generate" in plan, plan


def test_hll_error_bound_has_no_python_and_two_aggs(spark):
    """A8b verdict query: approx + exact distinct in ONE grouped
    aggregation pipeline (expand for the distinct), pure JVM."""
    df = _df("q_hll_error_bound", spark)
    plan = checks.plan_string(df)
    assert "Python" not in plan, plan
    assert "Join" not in plan, plan


def test_embedding_neardup_is_bucket_join_not_allpairs(spark):
    """E2e: candidates come from an equi-join on the LSH bucket key —
    never a cartesian/BNLJ pair explosion — and the exact verify is
    Arrow-vectorized (ArrowEvalPython), not an interpreted fold."""
    df = _df("q_embedding_neardup", spark)
    plan = checks.plan_string(df)
    assert not checks.has_cartesian(df)
    assert "BroadcastNestedLoop" not in plan, plan
    assert "ArrowEvalPython" in plan, plan


def test_supplier_parts_anti_join_broadcasts_and_pushes(spark):
    """Q16 shape: the NOT-IN exclusion is a broadcast LEFT ANTI join and
    every brand/type/size predicate reaches the part scan."""
    df = _df("q_supplier_parts", spark)
    plan = checks.plan_string(df)
    assert "BroadcastHashJoin LeftAnti" in plan, plan
    assert not checks.has_cartesian(df)
    pushed = " ".join(checks.pushed_filters(df))
    assert "In(p_size" in pushed and "StringStartsWith(p_type" in pushed, pushed


def test_disjunctive_revenue_pushes_or_bounds_to_both_scans(spark):
    """Q19 shape: Catalyst pushes the OR's per-side implied bounds into
    BOTH parquet scans (quantity Or-tree -> lineitem, brand/size
    Or-tree + implied p_size >= 1 -> part) instead of evaluating the
    disjunction only after the join."""
    df = _df("q_disjunctive_revenue", spark)
    assert checks.uses_broadcast_join(df)
    pushed = checks.pushed_filters(df)
    assert any("l_quantity" in p and "Or(" in p for p in pushed), pushed
    assert any("p_brand" in p and "Or(" in p for p in pushed), pushed


def test_value_parts_scans_lineitem_once(spark):
    """Q11 shape: the per-part aggregate is computed once — both
    consumers sit on the identical groupBy shuffle, so AQE plans a
    ReusedExchange for the second branch at runtime (no session-lifetime
    persist cache needed); the scalar threshold rides a 1-row
    broadcast."""
    df = _df("q_value_parts", spark)
    df.collect()  # reuse is an execution-time (AQE) property
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan
    assert "BroadcastExchange" in plan or "BroadcastQueryStage" in plan, plan


def test_returned_items_broadcasts_dims_pushes_flag(spark):
    df = _df("q_returned_items", spark)
    assert checks.uses_broadcast_join(df)
    assert not checks.has_cartesian(df)
    pushed = checks.pushed_filters(df)
    assert any("l_returnflag" in p for p in pushed), pushed


def test_promo_share_prunes_part_and_pushes_dates(spark):
    df = _df("q_promo_share", spark)
    assert checks.uses_broadcast_join(df)
    assert checks.scan_columns(df, "part.parquet") == {"p_partkey", "p_type"}
    pushed = checks.pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed


def test_top_supplier_broadcasts_scalar_max(spark):
    df = _df("q_top_supplier", spark)
    assert checks.uses_broadcast_join(df)
    assert not checks.has_cartesian(df)


def test_asof_join_single_key_shuffle(spark):
    """The as-of join must be the union + window-scan formulation: no
    cartesian, no range-explosion join — the only exchanges are the
    key hash partitionings feeding the window sort and the final
    aggregation."""
    df = _df("q_asof_join", spark)
    assert not checks.has_cartesian(df)
    plan = checks.plan_string(df)
    assert "Window" in plan, plan


def test_range_join_avoids_nested_loop(spark):
    """J7 must plan as a bucket-equality hash/sort-merge join, never
    the BroadcastNestedLoopJoin Spark picks for pure theta joins."""
    df = _df("q_range_join", spark)
    plan = checks.plan_string(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert not checks.has_cartesian(df)


def test_similarity_topk_is_take_ordered_not_global_window(spark):
    """E3 scale regression (round-1 finding): the global top-k must plan
    as TakeOrderedAndProject — per-partition top-k + driver merge of
    k x partitions rows — never a row_number over an unpartitioned
    Window, which collapses every scored row into ONE task. The only
    Window allowed is the post-limit rank over k rows."""
    for name in ("q_cosine_topk", "q_ivf_topk"):
        df = _df(name, spark)
        plan = checks.plan_string(df)
        assert "TakeOrderedAndProject" in plan, (name, plan)
    # brute force is the sharpest check: the ONLY Sort left is the
    # post-limit rank window over k rows (ivf additionally sorts inside
    # its per-vector cell-assignment window, which is fine — it is
    # partitioned by vec_id)
    assert checks.count_nodes(_df("q_cosine_topk", spark), "Sort") <= 1


def test_asof_join_prunes_event_columns(spark):
    """The union+window as-of formulation carries left columns through
    the shuffle — the events scan must not read the wide props
    payload."""
    cols = checks.scan_columns(_df("q_asof_join", spark), "events")
    # Catalyst prunes past our select: event_id is unused downstream
    assert cols == {"user_id", "event_type", "ts"}, cols


def test_term_stats_topk_is_take_ordered(spark):
    """Top-50 vocabulary terms must be per-partition top-k + driver
    merge, not a global sort of the whole term table."""
    plan = checks.plan_string(_df("q_term_stats", spark))
    assert "TakeOrderedAndProject" in plan, plan


def test_topn_per_group_single_partitioned_shuffle(spark):
    """Grouped top-n: one hash shuffle on the group key, per-group
    sort — the Window must be partitioned (no single-task sort)."""
    df = _df("q_topn_per_group", spark)
    plan = checks.plan_string(df)
    assert "p_brand" in plan and "Window" in plan
    assert checks.count_nodes(df, "Exchange") == 1, plan


def test_running_total_single_shuffle(spark):
    """Per-customer running totals: exactly one hash shuffle on
    o_custkey feeds both row_number and the cumulative sum."""
    df = _df("q_running_total", spark)
    assert checks.count_nodes(df, "Exchange") == 1, checks.plan_string(df)


def test_big_orders_no_cartesian_broadcasts_customer(spark):
    df = _df("q_big_orders", spark)
    assert checks.uses_broadcast_join(df)
    assert not checks.has_cartesian(df)


def test_nation_volume_broadcasts_dims(spark):
    df = _df("q_nation_volume", spark)
    assert checks.uses_broadcast_join(df)
    assert not checks.has_cartesian(df)
    pushed = checks.pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed


def test_market_share_broadcasts_all_dims(spark):
    df = _df("q_market_share", spark)
    assert checks.uses_broadcast_join(df)
    assert not checks.has_cartesian(df)
    # the part-type filter prunes through the broadcast before the
    # fact shuffle
    assert checks.scan_columns(df, "part.parquet") == {"p_partkey", "p_type"}


def test_embedding_stats_single_shuffle_after_explode(spark):
    """posexplode is map-side; the only exchange is the 64-key dim
    aggregation (partial agg runs map-side first)."""
    df = _df("q_embedding_stats", spark)
    assert checks.count_nodes(df, "Exchange") == 1, checks.plan_string(df)


def test_cosine_pairs_is_blocked_group_matmul(spark):
    """All-pairs cosine is a fully distributed blocked matmul: both
    sides hash into id blocks, every block PAIR is one applyInPandas
    group (FlatMapGroupsInPandas) fed by ONE shuffle on the pair key.
    No join node (the round-2 shape was a BroadcastNestedLoopJoin
    folding an interpreted lambda per element: 74 s at sf0.1 vs ~1 s
    vectorized) and no driver-side collect/broadcast of a whole side
    (the round-3 shape) — nothing in the plan references a local
    relation."""
    df = _df("q_cosine_pairs", spark)
    plan = checks.plan_string(df)
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "Join" not in plan, plan
    assert not checks.has_cartesian(df)
    assert "LocalTableScan" not in plan, plan


def test_ann_batch_window_is_partitioned_by_query(spark):
    """Query-batch ANN ranks with a window PARTITIONED by query_id —
    per-query parallel sorts, never the single-task global window."""
    df = _df("q_ann_batch", spark)
    plan = checks.plan_string(df)
    assert "Window" in plan and "query_id" in plan, plan
    assert not checks.has_cartesian(df)


# --- round-3 corpus/CDC-state block ---------------------------------------


def test_vec_quantize_is_map_only(spark):
    """Pure HOF codec: no exchange, no join — one scan straight to
    project."""
    df = _df("q_vec_quantize", spark)
    assert checks.count_nodes(df, "Exchange") == 0, checks.plan_string(df)
    assert not checks.has_cartesian(df)
    assert checks.scan_columns(df, "embeddings") == {"vec_id", "embedding"}


def test_kmeans_iter_broadcasts_centroids(spark):
    """The K=8 centroid side must broadcast; the only shuffle is the
    final (cluster, dim) cell aggregation."""
    df = _df("q_kmeans_iter", spark)
    assert checks.uses_broadcast_join(df)


def test_corpus_mix_broadcasts_thresholds(spark):
    """Per-source thresholds are a tiny agg broadcast back onto the
    scan — the doc-side pass must not shuffle on source for the join."""
    df = _df("q_corpus_mix", spark)
    assert checks.uses_broadcast_join(df)
    assert not checks.has_cartesian(df)


def test_decontaminate_topk_is_take_ordered(spark):
    df = _df("q_decontaminate", spark)
    plan = checks.plan_string(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert checks.scan_columns(df, "documents") == {"doc_id", "text"}


def test_pack_sequences_single_window_shuffle(spark):
    """One hash shuffle on source for the running sum; the pack agg
    reuses the same partitioning (no second exchange on source)."""
    df = _df("q_pack_sequences", spark)
    assert checks.count_nodes(df, "Exchange") <= 2, checks.plan_string(df)


def test_scd2_single_key_shuffle(spark):
    """SCD2 versions: exactly the (table_name, row_id) window shuffle
    on top of the shared normalized-sink scan."""
    df = _df("q_scd2_history", spark)
    plan = checks.plan_string(df)
    assert "Window" in plan
    assert not checks.has_cartesian(df)


def test_scd2_asof_broadcasts_probes(spark):
    """Three probe rows must broadcast (nested-loop over 3 rows is the
    right plan); the versions window is the only big shuffle."""
    df = _df("q_scd2_asof", spark)
    plan = checks.plan_string(df)
    assert "BroadcastNestedLoopJoin" in plan or checks.uses_broadcast_join(df), plan


def test_forecast_revenue_full_pushdown(spark):
    """Q6 shape: date window, discount band, and quantity cap must ALL
    reach the parquet scan."""
    pushed = checks.pushed_filters(_df("q_forecast_revenue", spark))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert any(col in p for p in pushed), (col, pushed)


def test_idle_rich_customers_no_cartesian(spark):
    df = _df("q_idle_rich_customers", spark)
    assert not checks.has_cartesian(df)
    pushed = checks.pushed_filters(df)
    assert any("o_orderdate" in p for p in pushed), pushed


def test_zorder_is_map_only_single_agg_shuffle(spark):
    """The Z-value is pure integer arithmetic: one scan, one bucket-agg
    shuffle, nothing else."""
    df = _df("q_zorder_layout", spark)
    assert checks.count_nodes(df, "Exchange") == 1, checks.plan_string(df)
    assert checks.scan_columns(df, "events") == {"user_id", "ts"}


def test_boilerplate_gram_frame_reused_from_cache(spark):
    """The persisted gram frame must feed BOTH consumers (prevalence
    agg + flag join) from cache, not recompute the explode."""
    df = _df("q_boilerplate_grams", spark)
    plan = checks.plan_string(df)
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_bloom_probe_side_is_shuffle_free(spark):
    """E7 scale posture: Bloom membership is a MAP-SIDE gain — with the
    word table given (materialized/broadcast), the probe plan contains
    k broadcast joins and ZERO shuffle exchanges, no synthetic row ids,
    and preserves probe row multiplicity. This is the property that
    makes Bloom decontamination affordable at 100 TB: the eval corpus
    never shuffles on the gram key."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions import bloom as B

    probe = spark.range(0, 1000).selectExpr(
        "concat('gram_', CAST(id % 300 AS STRING)) AS gram", "id AS doc_id"
    )
    words = spark.createDataFrame(
        [(i, (1 << 63) - 1) for i in range(B.DEFAULT_BITS // 64)],
        "word_idx long, word long",
    )
    out = B.might_contain(probe, words, "gram")
    plan = checks.plan_string(out)
    assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan, plan
    assert checks.count_nodes(out, "BroadcastHashJoin") == B.DEFAULT_HASHES, plan
    # row multiplicity untouched: duplicate grams stay duplicate rows
    assert out.count() == 1000


def test_ivf_probe_prunes_to_probed_cells(spark):
    """E3 serving posture: the materialized IVF assignment is
    cid-partitioned and the probe carries a literal cid IN-list, so
    the index scan reads ONLY the nprobe probed cells
    (PartitionFilters on cid) — never the whole corpus."""
    import re

    df = _df("q_ivf_topk", spark)
    plan = checks.plan_string(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cid" in m.group(1), plan


def test_nation_profit_broadcasts_dims_pushes_type(spark):
    """Q9 shape: all three dims broadcast; the product-line filter
    pushes into the part scan, below the join."""
    df = _df("q_nation_profit", spark)
    assert checks.count_nodes(df, "BroadcastHashJoin") >= 3
    assert not checks.has_cartesian(df)
    pushed = checks.pushed_filters(df)
    assert any("p_type" in p for p in pushed), pushed


def test_blocking_suppliers_semi_anti_no_bnlj(spark):
    """Q21 shape: both EXISTS resolve as hash semi/anti joins on the
    order key (the inequality rides as a residual) — never a
    nested-loop or cartesian re-scan of the fact."""
    df = _df("q_blocking_suppliers", spark)
    plan = checks.plan_string(df)
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert not checks.has_cartesian(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_dq_row_checks_fold_into_one_scan(spark):
    """DQ compilation: all row-level rules on a table fold into ONE
    conditional-sum aggregation over ONE scan — rule count must not
    multiply scans."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions.dq import evaluate_checks
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.profiling import DQ_CHECKS
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import load_table

    row_rules = [c for c in DQ_CHECKS if c["table"] == "lineitem"
                 and c["kind"] in ("not_null", "accepted_values", "range")]
    assert len(row_rules) == 3
    out = evaluate_checks(
        {"lineitem": load_table(spark, SF_SMOKE, "lineitem")}, row_rules
    )
    assert checks.count_nodes(out, "Scan parquet") == 1, checks.plan_string(out)
    got = {r["check_id"]: r["violations"] for r in out.collect()}
    assert got["nn_l_orderkey"] == 0 and got["av_returnflag"] == 0
    assert got["rng_quantity_25"] > 0  # known-nonzero: counting is real


def test_min_cost_supplier_broadcasts_dims_single_fact_agg(spark):
    df = _df("q_min_cost_supplier", spark)
    assert checks.uses_broadcast_join(df)
    assert not checks.has_cartesian(df)
    # the part filter must reach the part scan, not post-join
    pushed = checks.pushed_filters(df)
    assert any("p_type" in p for p in pushed), pushed
    # fact scan reads only the supply-aggregate inputs
    cols = checks.scan_columns(df, "lineitem")
    assert cols == {"l_partkey", "l_suppkey", "l_extendedprice"}, cols


def test_excess_suppliers_semi_prune_no_second_fact_pass(spark):
    df = _df("q_excess_suppliers", spark)
    assert checks.uses_broadcast_join(df)
    assert not checks.has_cartesian(df)
    # exactly one scan of the fact table: the Q20 subquery collapses
    # into a window over the compact aggregate, never a re-scan
    plan = checks.plan_string(df)
    assert plan.count("lineitem.parquet") == 1, plan
    pushed = checks.pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed


def test_cohort_retention_no_broadcast_of_fact_derived_frame(spark):
    # both join sides derive from orders keyed by custkey — the join
    # must be a co-partitioned hash/merge join, never a cartesian
    df = _df("q_cohort_retention", spark)
    assert not checks.has_cartesian(df)


def test_funnel_stage_joins_no_cartesian(spark):
    assert not checks.has_cartesian(_df("q_funnel_stages", spark))


def test_embedding_gram_is_map_side_expand_single_shuffle(spark):
    df = _df("q_embedding_gram", spark)
    plan = checks.plan_string(df)
    # pair expansion is a codegen Generate (explode), not a self-join
    assert "Join" not in plan, plan
    # one agg shuffle on the (i, j) key; map-side partial agg bounds it
    assert checks.count_nodes(df, "Exchange") == 1, plan
    cols = checks.scan_columns(df, "embeddings")
    assert cols == {"embedding"}, cols


def test_time_weighted_avg_single_series_shuffle(spark):
    df = _df("q_time_weighted_avg", spark)
    plan = checks.plan_string(df)
    assert "Join" not in plan, plan


def test_semantic_dedup_broadcasts_centroids_no_window_sort(spark):
    df = _df("q_semantic_dedup", spark)
    assert checks.uses_broadcast_join(df)
    assert not checks.has_cartesian(df)
    # representative pick is max(struct(...)) per cell — a hash agg,
    # never a per-cluster window sort over the corpus
    plan = checks.plan_string(df)
    assert "Window" not in plan, plan


def test_delta_join_legs_are_equi_joins_no_cartesian(spark):
    df = _df("q_delta_join", spark)
    assert not checks.has_cartesian(df)
    plan = checks.plan_string(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_bucketed_join_has_no_exchange_under_the_join(spark):
    """Both sides bucketed+sorted on the join key: the SMJ must read
    buckets in place — no Exchange, no Sort under the join; the only
    exchange in the plan belongs to the final aggregation."""
    df = _df("q_bucketed_join", spark)
    plan = checks.plan_string(df)
    assert "SelectedBucketsCount" in plan, plan
    # one exchange total (the groupBy) — none feeding the join
    assert checks.count_nodes(df, "Exchange") == 1, plan


def test_curriculum_corpus_window_is_partitioned(spark):
    """The per-doc rank window must be PARTITIONED on the difficulty
    key — a bare (unpartitioned) window over the corpus would funnel
    every doc through one task. The only unpartitioned window allowed
    is the prefix-sum over the bounded difficulty histogram."""
    df = _df("q_curriculum", spark)
    plan = checks.plan_string(df)
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    corpus_specs = [s for s in specs if "doc_id" in s]
    assert corpus_specs, plan
    # partition column `d` present before the ordering spec
    assert all(s.lstrip().startswith("d") for s in corpus_specs), corpus_specs
    assert checks.uses_broadcast_join(df)


def test_heavy_hitters_verify_shuffle_is_sketch_bounded(spark):
    """Pass 2 must collapse non-candidates BEFORE the exchange: the
    aggregation key is the when(is_cand, item) projection, so partial
    aggregation reduces every partition to <= |candidates| + 1 groups
    map-side. Pinned: candidate join is broadcast (never shuffles the
    stream) and there is no second full-domain aggregation."""
    df = _df("q_heavy_hitters", spark)
    assert checks.uses_broadcast_join(df)
    assert not checks.has_cartesian(df)
    plan = checks.plan_string(df)
    assert "FlatMapGroupsInPandas" not in plan  # MG is mapInPandas, stateless


def test_shard_manifest_reads_back_partitioned_layout(spark):
    """The manifest aggregates FROM the written shard files: its scan
    must carry the shard partition column (partition-pruned layout),
    and the census is one aggregation over that scan."""
    df = _df("q_shard_manifest", spark)
    plan = checks.plan_string(df)
    assert "Scan parquet" in plan, plan
    cols = checks.scan_columns(df, "train_shards")
    assert cols == {"doc_id", "h", "n_bytes"}, cols


def test_sample_fixed_is_take_ordered_not_global_sort(spark):
    """Exact-k sampling must plan as TakeOrderedAndProject (local
    heaps + driver merge of k rows) — a Sort + Limit would materialize
    a global sort of the corpus."""
    df = _df("q_sample_fixed", spark)
    plan = checks.plan_string(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_sample_per_group_window_is_partitioned(spark):
    """The per-group rank must run in a window PARTITIONED on source —
    never a bare global window."""
    df = _df("q_sample_per_group", spark)
    plan = checks.plan_string(df)
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all(s.lstrip().startswith("source") for s in specs), specs


def test_event_drift_grid_joins_are_broadcast(spark):
    """The day x type grid builds from broadcast tiny frames; the only
    corpus-sized work is the (day, type) aggregation."""
    df = _df("q_event_drift", spark)
    assert checks.uses_broadcast_join(df)


def test_link_rank_iterations_have_no_cartesian(spark):
    """Each PageRank round is an edge-key equi-join + destination agg;
    no iteration may degrade to a cartesian/BNLJ."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.training_io import (
        _link_rank_frame,
    )

    df, _n = _link_rank_frame(spark, SF_SMOKE)  # the registered query
    # materializes this frame inside webgraph.scoped_graph_result (r15)
    assert not checks.has_cartesian(df)
    plan = checks.plan_string(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan  # top-100, no global sort


def test_ann_filtered_pushes_label_to_scan(spark):
    """Filtered vector search: the metadata predicate must reach the
    parquet scan (PushedFilters), and the top-k must remain
    TakeOrderedAndProject — never post-filtering an unfiltered rank."""
    df = _df("q_ann_filtered", spark)
    pushed = checks.pushed_filters(df)
    assert any("label" in p for p in pushed), pushed
    assert "TakeOrderedAndProject" in checks.plan_string(df)


def test_pq_topk_scores_codes_with_broadcast_lut(spark):
    """ADC search must broadcast the tiny query LUT against the codes
    (never shuffle the corpus onto the LUT) and keep the top-k as
    TakeOrderedAndProject."""
    df = _df("q_pq_topk", spark)
    assert checks.uses_broadcast_join(df)
    assert not checks.has_cartesian(df)
    assert "TakeOrderedAndProject" in checks.plan_string(df)


def test_pii_census_is_codegen_single_shuffle(spark):
    """E23 PII census: all three pattern counters + the redaction byte
    delta evaluate in one JVM map pass over the scan — no Python, no
    joins, exactly the one source-aggregation exchange (partial agg
    map-side). At 100 TB this must stay a pure scan-rate workload."""
    df = _df("q_pii_census", spark)
    plan = checks.plan_string(df)
    assert "Python" not in plan, plan
    assert "Join" not in plan, plan
    assert checks.count_nodes(df, "Exchange") == 1, plan


def test_content_chunks_has_no_window_no_python(spark):
    """E24 content-defined chunking: boundary detection, slicing and
    chunk hashing are per-doc array expressions inside the map stage —
    no token-level Window (a doc's chunks depend only on its own
    tokens) and no Python anywhere; shuffles only start at the
    chunk-hash census."""
    df = _df("q_content_chunks", spark)
    plan = checks.plan_string(df)
    assert "Window" not in plan, plan
    assert "Python" not in plan, plan


def test_phrase_index_literal_lookup_pushes_filter(spark):
    """E25 phrase index: a literal term lookup must reach the parquet
    scan as a pushed filter — on the term-sorted, range-partitioned
    layout that is what lets per-file min/max stats skip everything
    but the matching term range at 100 TB."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.training_io import phrase_index

    idx = phrase_index(spark, SF_SMOKE)
    plan = checks.plan_string(idx.filter(idx.term == "order"))
    assert "PushedFilters: [" in plan and "term" in plan.split("PushedFilters")[1][:120], plan


def test_table_stats_legs_scan_single_columns(spark):
    """X22 stats collection: each per-column statistic leg must read
    exactly its one column off parquet (ReadSchema pruned to the
    column) — what keeps ANALYZE O(columns asked) at 100 TB."""
    df = _df("q_table_stats", spark)
    plan = checks.plan_string(df)
    assert "ReadSchema: struct<l_orderkey:bigint>" in plan, plan
    assert "ReadSchema: struct<l_returnflag:string>" in plan, plan


def test_kmv_windows_are_group_partitioned(spark):
    """E27 sketch build: BOTH tournament levels must run in windows
    PARTITIONED on the member-set (level 1 additionally sharded by
    hv % SHARDS) — a bare global window would funnel every distinct
    hash through one task. The exact-side audit joins broadcast."""
    import re

    df = _df("q_kmv_distinct", spark)
    plan = checks.plan_string(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    assert all(s.lstrip().startswith("member_set") for s in specs), specs
    assert checks.uses_broadcast_join(df)
    assert not checks.has_cartesian(df)


def test_gapfill_windows_partitioned_spine_broadcast(spark):
    """W15 gap-fill: the LOCF/interpolation windows are PARTITIONED
    per series (event_type), and the calendar-spine expansion joins
    the 1-row bounds frame broadcast — no CartesianProduct anywhere."""
    import re

    df = _df("q_gapfill_interpolate", spark)
    plan = checks.plan_string(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all(
        s.lstrip().startswith("event_type") for s in specs
    ), specs
    assert not checks.has_cartesian(df)


def test_attribution_window_is_user_partitioned(spark):
    """W16 attribution: the touch-carry window must be PARTITIONED on
    user_id — per-user journeys never cross tasks."""
    import re

    df = _df("q_attribution", spark)
    plan = checks.plan_string(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all(s.lstrip().startswith("user_id") for s in specs), specs


def test_skyline_frontier_joins_back_broadcast(spark):
    """X24 skyline: the frontier must come back as a BROADCAST
    left-semi join against the corpus (the frontier is grid-bounded),
    and the ordered pass must run over the (price -> max size) grid —
    i.e. a pre-aggregation exists between scan and window."""
    df = _df("q_skyline", spark)
    plan = checks.plan_string(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert checks.count_nodes(df, "HashAggregate") >= 1, plan
    assert not checks.has_cartesian(df)


def test_basket_pairs_counts_broadcast_topk_take_ordered(spark):
    """E28 basket mining: per-part support tables join back BROADCAST
    (never reshuffling the pair frame), the ranking is
    TakeOrderedAndProject, and the within-basket self-join is an
    equi-join on the order key — no CartesianProduct."""
    df = _df("q_basket_pairs", spark)
    plan = checks.plan_string(df)
    assert checks.uses_broadcast_join(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert not checks.has_cartesian(df)


def test_decay_engagement_is_scan_agg_topk(spark):
    """X25 decay scoring: one broadcast scalar (the reference day —
    a BroadcastNestedLoopJoin against a 1-row frame is the house
    scalar-attach), one aggregation, TakeOrderedAndProject — no
    window, no cartesian product."""
    df = _df("q_decay_engagement", spark)
    plan = checks.plan_string(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert not checks.has_cartesian(df)


def test_equidepth_hist_grid_agg_before_window(spark):
    """X26 histogram build: the corpus must collapse to the
    (value -> count) grid BEFORE the prefix-sum window (aggregations
    exist upstream), the total attaches as a broadcast 1-row frame,
    and there is exactly one window."""
    df = _df("q_equidepth_hist", spark)
    plan = checks.plan_string(df)
    assert checks.count_nodes(df, "HashAggregate") >= 2, plan
    assert checks.count_nodes(df, "Window") == 1, plan
    assert not checks.has_cartesian(df)


def test_join_card_est_no_cartesian_scalar_attaches(spark):
    """X27 cardinality audit: the stats/actual scalars attach as
    broadcast 1-row frames (BroadcastNestedLoopJoin is the house
    scalar-attach); the two actual joins are equi-joins — no
    CartesianProduct."""
    df = _df("q_join_card_est", spark)
    plan = checks.plan_string(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert not checks.has_cartesian(df)


def test_label_prop_rounds_are_agg_not_window(spark):
    """E29 LPA: the per-node majority argmax must be an AGGREGATION
    (max over (n, -label) structs with map-side partials), never a
    per-node window; rounds are equi-joins; final ranking is
    TakeOrderedAndProject."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.advanced_ops import (
        _label_prop_frame,
    )

    df, _n = _label_prop_frame(spark, SF_SMOKE)  # inner frame (r15)
    plan = checks.plan_string(df)
    assert "windowspecdefinition" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert not checks.has_cartesian(df)


def test_rfm_score_grids_join_back_broadcast(spark):
    """X28 RFM: the three quartile score grids must join back
    BROADCAST against the per-customer frame (grids are bounded by
    distinct values), no CartesianProduct."""
    df = _df("q_rfm_segments", spark)
    assert checks.uses_broadcast_join(df)
    assert not checks.has_cartesian(df)


def test_journey_paths_single_user_window(spark):
    """X29 paths: both lookaheads share ONE user-partitioned window
    (same spec collapses into a single Window node); ranking is
    TakeOrderedAndProject."""
    import re

    df = _df("q_journey_paths", spark)
    plan = checks.plan_string(df)
    assert checks.count_nodes(df, "Window") == 1, plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all(s.lstrip().startswith("user_id") for s in specs), specs
    assert "TakeOrderedAndProject" in plan, plan


def test_trend_slope_is_agg_only(spark):
    """X30 OLS slope: two aggregations (daily series, then moments),
    no window anywhere, scalar origin attaches broadcast — no
    CartesianProduct."""
    df = _df("q_trend_slope", spark)
    plan = checks.plan_string(df)
    assert "windowspecdefinition" not in plan, plan
    assert checks.count_nodes(df, "HashAggregate") >= 2, plan
    assert not checks.has_cartesian(df)


def test_knn_classify_probes_broadcast_window_per_query(spark):
    """E30 k-NN audit: the probe batch must broadcast (one corpus scan
    scores all probes) and the top-k window must be PARTITIONED on
    query_id — per-query ranking never funnels through one task."""
    import re

    df = _df("q_knn_classify", spark)
    plan = checks.plan_string(df)
    assert "BroadcastNestedLoopJoin" in plan or checks.uses_broadcast_join(df), plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all(s.lstrip().startswith("query_id") for s in specs), specs


def test_dbscan_roles_equi_joins_no_window(spark):
    """E31 DBSCAN roles: roles derive from the neighbor graph with
    degree aggregation + equi-joins only — no window, no
    CartesianProduct (the pair build is the blocked Arrow matmul)."""
    df = _df("q_dbscan_roles", spark)
    plan = checks.plan_string(df)
    assert "windowspecdefinition" not in plan, plan
    assert not checks.has_cartesian(df)
    assert "FlatMapGroupsInPandas" in plan, plan  # the blocked matmul


def test_dow_seasonality_is_agg_only(spark):
    """X31 seasonality: two aggregations to bounded grids, global
    average attaches broadcast, no window, no CartesianProduct."""
    df = _df("q_dow_seasonality", spark)
    plan = checks.plan_string(df)
    assert "windowspecdefinition" not in plan, plan
    assert checks.count_nodes(df, "HashAggregate") >= 2, plan
    assert not checks.has_cartesian(df)


def test_changepoint_grid_agg_before_window_topk(spark):
    """X32 changepoint: the corpus collapses to the daily series
    BEFORE the prefix-sum windows (aggregation upstream of Window);
    the argmax is TakeOrderedAndProject, not a global sort."""
    df = _df("q_changepoint", spark)
    plan = checks.plan_string(df)
    assert checks.count_nodes(df, "HashAggregate") >= 2, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert not checks.has_cartesian(df)


def test_join_order_advice_matches_actual_cardinalities(spark):
    """X33: the advisor's choice must be RIGHT, not just deterministic —
    execute both left-deep orders on the same inputs and check the
    chosen order's ACTUAL intermediate cardinality is the smaller one
    (the estimate may be off in absolute terms; the decision it drives
    must not be). Also pins that the advisor itself never shuffles
    anything wider than 1-row stat frames: no cartesian over data."""
    from pyspark.sql import functions as F

    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.sources import load_table

    rows = {
        r["join_order"]: r
        for r in _df("q_join_order_choice", spark).collect()
    }
    assert set(rows) == {
        "lineitem_orders_then_customer",
        "orders_customer_then_lineitem",
    }
    assert sum(r["chosen"] for r in rows.values()) == 1

    li = load_table(spark, SF_SMOKE, "lineitem")
    orders = load_table(spark, SF_SMOKE, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    cust = load_table(spark, SF_SMOKE, "customer")
    actual = {
        "lineitem_orders_then_customer": li.join(
            orders, li.l_orderkey == orders.o_orderkey
        ).count(),
        "orders_customer_then_lineitem": orders.join(
            cust, orders.o_custkey == cust.c_custkey
        ).count(),
    }
    chosen = next(k for k, r in rows.items() if r["chosen"])
    other = next(k for k, r in rows.items() if not r["chosen"])
    assert actual[chosen] <= actual[other], (chosen, actual)


def test_unigram_surprise_prunes_and_no_cartesian(spark):
    """E32 unigram surprise: the documents scan reads only (doc_id,
    text); the LM attach is an equi-join on the token key and the
    corpus mean attaches as a broadcast 1-row scalar — no
    CartesianProduct, no floating-point log anywhere in the plan
    (the bit arithmetic is length(bin(..)), codegen-side)."""
    df = _df("q_unigram_surprise", spark)
    cols = checks.scan_columns(df, "documents")
    assert cols == {"doc_id", "text"}, cols
    assert not checks.has_cartesian(df)
    plan = checks.plan_string(df)
    assert "LOG(" not in plan.upper().replace("LOG2", "LOG("), plan[:500]


def test_filter_sweep_single_scan_bounded_sweep(spark):
    """E33 filter sweep: the corpus is scanned ONCE (text column
    only); the 10-threshold sweep runs as a broadcast range-join over
    the bucket grid, never as a per-threshold rescan."""
    df = _df("q_filter_sweep", spark)
    plan = checks.plan_string(df)
    n_doc_scans = sum(
        1 for line in plan.splitlines()
        if "parquet" in line.lower() and "documents" in line
    )
    assert n_doc_scans == 1, plan
    assert checks.scan_columns(df, "documents") == {"text"}
    assert not checks.has_cartesian(df)


def test_ngram_novelty_inverted_index_no_cartesian(spark):
    """E34 novelty: the df attach is an equi-join on the shingle key
    (both sides partitioned by it from the agg) — no CartesianProduct;
    the documents scan reads only (doc_id, text)."""
    df = _df("q_ngram_novelty", spark)
    assert checks.scan_columns(df, "documents") == {"doc_id", "text"}
    assert not checks.has_cartesian(df)


def test_cluster_leakage_serves_artifact_single_rollup(spark):
    """E35 leakage: the census reads the committed cluster ARTIFACT
    (never re-derives pairs/CC inline — no documents scan in the
    plan), applies the map-only sha split, and rolls up; no cartesian
    product, no window."""
    df = _df("q_cluster_leakage", spark)
    plan = checks.plan_string(df)
    assert "neardup_clusters" in plan, plan[:800]
    assert "documents" not in plan, plan[:800]
    assert not checks.has_cartesian(df)
    assert "Window" not in plan


def test_hierarchy_depth_doubling_converges_one_agg(spark):
    """X34: pointer doubling resolves the sf0.001 sha forest in
    log-rounds of lineage-truncated self-joins; the served frame is a
    single aggregation — no window, no cartesian — and the histogram
    partitions all 150 nodes with exactly one root at depth 0."""
    df = _df("q_hierarchy_depth", spark)
    plan = checks.plan_string(df)
    assert "Window" not in plan
    assert not checks.has_cartesian(df)
    rows = {r["depth"]: r["n_nodes"] for r in df.collect()}
    assert rows[0] == 1
    assert sum(rows.values()) == 150


def test_subtree_rollup_topk_no_global_sort(spark):
    """X35: the top-20 heaviest subtrees must plan as
    TakeOrderedAndProject (per-partition top-k + driver merge, never a
    global sort), and the root's inclusive subtree is the whole
    forest."""
    df = _df("q_subtree_rollup", spark)
    plan = checks.plan_string(df)
    assert "TakeOrderedAndProject" in plan, plan
    top = df.collect()[0]
    assert top["node"] == 0 and top["subtree_n"] == 150


def test_banded_minhash_candidates_capped_before_collect(spark):
    """The r8 banding redesign's scale contract, pinned on the plan:
    candidate generation must contain NO join of signatures against
    signatures (the old self-join shape) and no CartesianProduct — the
    bucket-size gate (an aggregate on (k, h)) must feed the join that
    precedes the per-bucket collect_list, so oversized buckets are
    dropped before any list materializes."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.functions.dedup import (
        banded_candidates,
        minhash_band_signatures,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} x{i} y{i} z{i} common common common") for i in range(40)],
        "doc_id long, text string",
    )
    cand = banded_candidates(minhash_band_signatures(docs))
    plan = checks.plan_string(cand)
    assert not checks.has_cartesian(cand)
    # the cap is a count-aggregate gate joined back on the band key,
    # feeding the per-bucket collect_list
    assert "collect_list" in plan
    assert "count(1)" in plan or "count(*)" in plan


def test_wet_stages_are_single_arrow_pass(spark):
    """E37/E38/E40: the WARC->text, WARC->links and main-content
    stages must stay one Arrow map pass — no row-at-a-time Python
    (BatchEvalPython), no shuffle beyond the synth stage's one
    repartition."""
    for q in ("q_warc_html_text", "q_warc_links", "q_main_content"):
        df = _df(q, spark)
        plan = checks.plan_string(df)
        assert plan.count("MapInPandas") >= 1, q
        assert "BatchEvalPython" not in plan, q
        assert checks.count_nodes(df, "Exchange") <= 1, (
            q,
            checks.count_nodes(df, "Exchange"),
        )
        assert not checks.has_cartesian(df), q


def test_host_graph_rank_is_equi_join_pregel(spark):
    """E41: host extraction must run JVM-side (ParseUrlEvaluator in a
    codegen Project, no BatchEvalPython), every PageRank round must be
    an equi-join + destination agg (no cartesian/BNLJ), and the
    top-100 must be TakeOrderedAndProject — never a global sort."""
    from asafaviv_devops_asafaviv_devops_tidb_cdc_spark.queries.llm_pipeline import (
        _host_graph_frame,
    )

    df, _n = _host_graph_frame(spark, SF_SMOKE)  # inner frame (r15)
    plan = checks.plan_string(df)
    assert "ParseUrlEvaluator" in plan
    assert "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert not checks.has_cartesian(df)


def test_url_dedup_canonicalizes_in_codegen(spark):
    """E39: canonicalization must run JVM-side (parse_url in a
    codegen Project, never Python), the census in ONE hash exchange
    with map-side partials, and the top-100 as TakeOrderedAndProject
    (never a global sort)."""
    df = _df("q_url_dedup", spark)
    plan = checks.plan_string(df)
    # parse_url lowers to a JVM ParseUrlEvaluator invoke in the
    # Project — JVM-side, never a Python eval
    assert "ParseUrlEvaluator" in plan
    assert "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort node
    # synth repartition + the exact count-distinct's two-phase
    # aggregation (url,page_key -> url): three exchanges total
    assert checks.count_nodes(df, "Exchange") <= 3, checks.count_nodes(
        df, "Exchange"
    )
    assert not checks.has_cartesian(df)
