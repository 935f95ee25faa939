"""Physical-plan quality assertions: the properties that matter at 100 TB.

These tests read the executed plan string, not results: filters/projections
must reach the parquet scan, KB-scale dims must broadcast, aggregations
must partial-aggregate map-side, and explode-heavy pipelines must not
funnel through a handful of tasks.
"""

from __future__ import annotations

import re


def plan_str(df, mode: str = "formatted") -> str:
    jmode = df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_filter_and_projection_pushdown(spark, sf_dir):
    from peskas_timor_data_pipeline_spark.harness.core_relational_q import (
        p2_filter_project,
    )

    p = plan_str(p2_filter_project(spark, sf_dir))
    assert "PushedFilters:" in p
    assert "IsNotNull(l_quantity)" in p
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(l_shipdate", p)
    # column pruning: untouched measures must not be read from parquet
    m = re.search(r"ReadSchema: (.*)", p)
    assert m and "l_tax" not in m.group(1) and "l_suppkey" not in m.group(1)


def test_dimension_joins_broadcast(spark, sf_dir):
    from peskas_timor_data_pipeline_spark.harness.core_relational_q import (
        j1_left_join_dims,
    )

    p = plan_str(j1_left_join_dims(spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 2  # nation + region
    assert "SortMergeJoin" not in p


def test_aggregation_is_partial(spark, sf_dir):
    from peskas_timor_data_pipeline_spark.harness.aggregates_q import (
        a1_groupby_stats,
        a4_conditional_agg,
    )

    # exact median forces ObjectHashAggregate (no codegen) but must still
    # partial-aggregate map-side
    p = plan_str(a1_groupby_stats(spark, sf_dir))
    assert "partial_sum" in p or "partial_count" in p
    # hash aggregates without median fuse into whole-stage codegen — only
    # visible in the AQE final plan, so execute first
    df4 = a4_conditional_agg(spark, sf_dir)
    p4 = plan_str(df4)
    assert "partial_sum" in p4
    df4.collect()
    final = df4._jdf.queryExecution().executedPlan().toString()
    assert "*(1)" in final  # whole-stage-codegen stage markers


def test_flagship_no_python_udfs(spark, sf_dir):
    from peskas_timor_data_pipeline_spark.harness.flagship import flagship_cpue

    p = plan_str(flagship_cpue(spark, sf_dir), "simple")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # the nest shuffle and the per-trip agg share the l_orderkey
    # partitioning: no extra exchange between them
    assert p.count("Exchange") <= 4


def test_length_weight_domain_dedup_broadcasts(spark, sf_dir):
    from peskas_timor_data_pipeline_spark.harness.stats_q import m2_length_weight

    p = plan_str(m2_length_weight(spark, sf_dir))
    # the per-combo percentile result must come back via broadcast, so the
    # big catch table is never shuffled for the weight attachment
    assert "BroadcastHashJoin" in p


def test_validators_stay_codegen(spark, sf_dir):
    from peskas_timor_data_pipeline_spark.harness.validators_q import v_combined

    df = v_combined(spark, sf_dir)
    p = plan_str(df, "simple")
    assert "BatchEvalPython" not in p
    df.collect()
    assert "*(1)" in df._jdf.queryExecution().executedPlan().toString()


def test_two_level_nest_single_exchange(spark, sf_dir):
    """Pre-partitioning on the coarsest nest key makes BOTH nest levels
    reuse one exchange: HashPartitioning(k1) satisfies the clustering of
    groupBy(k1, k2) and groupBy(k1)."""
    from peskas_timor_data_pipeline_spark.operators.restructure import nest

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").repartition("l_orderkey")
    lvl1 = nest(li, keys=["l_orderkey", "l_suppkey"], nested_col="li2",
                value_cols=["l_linenumber"])
    lvl2 = nest(lvl1, keys=["l_orderkey"], nested_col="sg",
                value_cols=["l_suppkey", "li2"])
    plan = lvl2._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_partitioned_stage_prunes_at_scan(spark, sf_dir, tmp_path):
    """A filter on a hive-partition column must become a PartitionFilter
    (directory pruning — zero IO for other partitions), not a post-scan
    Filter over the whole stage."""
    from pyspark.sql import functions as F

    from peskas_timor_data_pipeline_spark.sources.io import (
        read_stage,
        write_stage_partitioned,
    )

    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .withColumn("ship_month", F.date_format("l_shipdate", "yyyy-MM"))
    )
    write_stage_partitioned(li, str(tmp_path), "li_by_month", ["ship_month"])

    df = read_stage(spark, str(tmp_path), "li_by_month").filter(
        F.col("ship_month") == "1994-01"
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "ship_month" in m.group(1), plan[:2000]
    # and the pruned column is NOT re-checked as a data filter post-scan
    dm = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert dm is None or "ship_month" not in dm.group(1)


def test_runtime_bloom_filter_reduces_bigbig_join(spark, sf_dir):
    """For a selective big-big join (neither side broadcastable at scale),
    Catalyst must inject a runtime bloom filter built from the selective
    side and applied at the big side's scan — the semi-join reduction that
    keeps 100 TB probe scans from shipping non-matching rows into the
    shuffle. Size thresholds are lowered to make the local fixture look
    'big'; production defaults (10 GB app-side) engage it only where it
    pays off."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan and "might_contain" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_heavy_hitters_topk_no_global_sort(spark, sf_dir):
    from peskas_timor_data_pipeline_spark.harness.llm_q import t10_heavy_hitters

    p = plan_str(t10_heavy_hitters(spark, sf_dir))
    # ordered limit must compile to per-partition top-k + merge...
    assert "TakeOrderedAndProject" in p
    # ...never a global Sort node (an Exchange rangepartitioning + Sort
    # would materialize the full distinct-token set on one ordering)
    assert "rangepartitioning" not in p
    # and the count must partial-aggregate map-side before the shuffle
    assert re.search(r"partial_count", p)


def test_chunking_is_shuffle_free(spark, sf_dir):
    from peskas_timor_data_pipeline_spark.harness.llm_q import t12_chunking

    p = plan_str(t12_chunking(spark, sf_dir))
    assert "Exchange" not in p  # tokenize+posexplode+slice is a narrow map
    assert "Generate" in p  # the posexplode


def test_group_centroids_partial_agg_no_explode(spark, sf_dir):
    from peskas_timor_data_pipeline_spark.harness.llm_q import e4_group_centroids

    p = plan_str(e4_group_centroids(spark, sf_dir))
    # per-dim scalar aggregates must partial-aggregate map-side...
    assert re.search(r"partial_avg|partial_average", p)
    # ...and the vectors must NOT be exploded through the shuffle
    assert "Generate" not in p
    assert "collect_list" not in p


def test_ll_weights_broadcast_and_no_percentile_buffers(spark, sf_dir):
    """m2b (estimate_weights_ll): both parameter tables and the per-combo
    stats broadcast (no shuffle join against the big catch side), the
    window sort is bounded by the combo domain, and there is NO
    ObjectHashAggregate percentile buffer — the quantile is rank
    arithmetic inside codegen (the 6x-slower aggregate form is banned)."""
    from peskas_timor_data_pipeline_spark.harness.stats_q import (
        m2b_length_weight_ll,
    )

    p = plan_str(m2b_length_weight_ll(spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 4  # lw x2, ll, per_combo, part dim
    assert "percentile" not in p.lower()
    assert "SortMergeJoin" not in p


def test_species_resolution_broadcasts_snapshot(spark, sf_dir):
    """m8 (resolve_species): the flattened snapshot dim broadcasts for both
    the candidate join and the fallback anti-join — the taxa side never
    shuffles."""
    from peskas_timor_data_pipeline_spark.harness.stats_q import (
        m8_species_resolution,
    )

    p = plan_str(m8_species_resolution(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_imputation_is_pure_column_expressions(spark, sf_dir):
    """m5: the md5-derived replicate draws run as column expressions —
    no Python evaluation anywhere in the plan (the round-1 applyInPandas
    form is gone)."""
    from peskas_timor_data_pipeline_spark.harness.stats_q import (
        m5_impute_replicates,
    )

    p = plan_str(m5_impute_replicates(spark, sf_dir))
    assert "FlatMapGroupsInPandas" not in p and "ArrowEvalPython" not in p
    assert "BatchEvalPython" not in p


def test_pq_encode_broadcast_codebook_partial_argmin(spark, sf_dir):
    """e7: the codebook rides a BroadcastNestedLoopJoin (tiny broadcast
    crossJoin — vectors never shuffle for scoring), all subvector argmins
    partial-aggregate map-side in ONE pass (min_by partials), and nothing
    explodes the vectors through a Generate."""
    from peskas_timor_data_pipeline_spark.harness.llm_q import e7_pq_encode

    p = plan_str(e7_pq_encode(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p
    assert "partial_min" in p
    assert "Generate" not in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_pq_adc_prefilter_reduces_exchange(spark, sf_dir):
    """e8's scale path (prefilter forced on): the top-k must NOT rank the
    full candidates x queries frame through one global window. The
    threshold sketch partial-aggregates map-side
    (partial_percentile_approx = bounded buffers BEFORE the exchange), the
    per-query thresholds come back via broadcast, and the per-query
    distance maps stay broadcast — no shuffle join anywhere."""
    from pyspark.sql import functions as F

    from peskas_timor_data_pipeline_spark.llm.similarity import (
        pq_adc_topk,
        pq_codebook,
        pq_encode,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = pq_codebook(emb, "vec_id", "embedding", k=16)
    enc = pq_encode(emb, "vec_id", "embedding", dim=64, m_sub=8, k=16)
    qs = emb.filter(F.col("vec_id") % 97 == 0)
    df = pq_adc_topk(
        qs, enc, cb, "vec_id", "embedding", dim=64, m_sub=8, k_top=3,
        prefilter=True,
    )
    p = plan_str(df)
    assert "partial_percentile_approx" in p
    assert "BroadcastHashJoin" in p  # threshold join back
    assert "BroadcastNestedLoopJoin" in p  # broadcast distance maps
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_repeated_grams_single_explode_no_pairwise(spark, sf_dir):
    """d7: exactly the explode-to-distinct -> gram-keyed agg -> join-back
    shape — the gram counting partial-aggregates map-side, nothing is
    pairwise (no cartesian), and no Python evaluation sneaks in."""
    from peskas_timor_data_pipeline_spark.harness.llm_q import d7_repeated_grams

    p = plan_str(d7_repeated_grams(spark, sf_dir))
    assert "Generate" in p  # the one shingle explode
    assert "partial_count" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_quantize_transform_constant_tree(spark, sf_dir):
    """e6: the per-row quantization is a single higher-order transform
    (constant expression-tree size in dim), and the calibration row joins
    back by broadcast — vectors never shuffle."""
    from peskas_timor_data_pipeline_spark.harness.llm_q import e6_quantize_int8

    p = plan_str(e6_quantize_int8(spark, sf_dir))
    # the index array constant-folds; the higher-order lambda remains
    assert "transform(" in p and "lambdafunction" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "Exchange hashpartitioning" not in p.split("BroadcastExchange")[0]


def test_segment_dedup_partial_min_no_cartesian(spark, sf_dir):
    """The first-occurrence decision must partial-aggregate min map-side
    on the segment key and nothing in the plan may go pairwise (no
    cartesian/nested-loop join) or through a python UDF."""
    from peskas_timor_data_pipeline_spark.harness.llm_q import d9_segment_dedup

    p = plan_str(d9_segment_dedup(spark, sf_dir))
    assert "partial_min" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_segment_dedup_first_occurrence_hash_aggregates(spark, sf_dir):
    """min/max over strings or structs never hash-aggregates (non-mutable
    aggregation buffer -> SortAggregate sorts the whole exploded frame;
    the identical class spilled 35 GB on the minhash signature agg at
    500k docs, VERDICT r10 #1).  With integral ids the first-occurrence
    decision must run as chained fixed-width min aggregates: the EXECUTED
    plan must contain no SortAggregate anywhere."""
    from peskas_timor_data_pipeline_spark.harness.llm_q import d9_segment_dedup

    df = d9_segment_dedup(spark, sf_dir)
    df.count()  # materialize so AQE finalizes the executed plan
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in p
    assert "HashAggregate" in p


def test_span_mask_no_sort_aggregate(spark, sf_dir):
    """repeated_span_mask's gram aggregation and island sweep carry only
    fixed-width keys (60-bit md5-prefix longs, positions) — the executed
    plan must never fall back to SortAggregate (VERDICT r10 #1 asked for
    the span-mask path to be audited for the struct-min shape)."""
    from peskas_timor_data_pipeline_spark.harness.llm_q import (
        d16_repeated_span_mask,
    )

    df = d16_repeated_span_mask(spark, sf_dir)
    df.count()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in p


def test_quality_buckets_freq_join_partial_agg(spark, sf_dir):
    """Token frequency and per-doc scores must both partial-aggregate; the
    only windows are the per-group rank pair (one window exchange on the
    group key), everything JVM-side."""
    from peskas_timor_data_pipeline_spark.harness.llm_q import t19_quality_buckets

    p = plan_str(t19_quality_buckets(spark, sf_dir))
    assert "partial_count" in p and "partial_sum" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p


def test_semdedup_broadcast_assignment(spark, sf_dir, monkeypatch):
    """Centroid assignment must be a broadcast nested-loop over the 16-row
    centroid frame (the one sanctioned cross join — dimension-size side
    broadcast), and the within-cell compare must be a hash join on the
    cell key, never a corpus-level cartesian.

    Since the r11 optimization the assignment is computed ONCE behind a
    ``materialize()`` (it feeds three consumers), so the production plan
    reads the checkpointed assignment (ExistingRDD) instead of repeating
    the ×n_cells subtree. Check the full logical shape with materialize
    stubbed to identity, then the single-computation shape for real."""
    from peskas_timor_data_pipeline_spark.harness.llm_q import e11_semdedup
    from peskas_timor_data_pipeline_spark.llm import ckpt

    # (a) full lineage view: assignment is the sanctioned broadcast NLJ,
    # within-cell compare a hash join, nothing cartesian
    monkeypatch.setattr(ckpt, "materialize", lambda df: df)
    p = plan_str(e11_semdedup(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p  # x16 centroid broadcast
    assert "CartesianProduct" not in p
    # the cell-keyed self-join stays a hash join
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p or "ShuffledHashJoin" in p
    monkeypatch.undo()

    # (b) production plan: the assignment subtree is materialized once —
    # the final plan reads it as an ExistingRDD and repeats no ×n_cells
    # assignment (no nested-loop join left), still nothing cartesian
    p2 = plan_str(e11_semdedup(spark, sf_dir))
    assert "ExistingRDD" in p2
    assert "BroadcastNestedLoopJoin" not in p2
    assert "CartesianProduct" not in p2


def test_bm25_broadcast_terms_partial_agg_no_cartesian(spark, sf_dir):
    from peskas_timor_data_pipeline_spark.harness.llm_q import t22_bm25_topk

    p = plan_str(t22_bm25_topk(spark, sf_dir))
    # query terms and corpus stats ride broadcast joins; postings never
    # meet queries through a cartesian product
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # the (doc, term) tf table partial-aggregates map-side
    assert re.search(r"partial_count", p)


def test_dsir_topk_is_partial_sort(spark, sf_dir):
    from peskas_timor_data_pipeline_spark.harness.llm_q import t24_dsir_select

    p = plan_str(t24_dsir_select(spark, sf_dir))
    # the global top-k must be a distributed partial sort, not a full
    # range-partitioned ordering of the scored corpus
    assert "TakeOrderedAndProject" in p
    assert "rangepartitioning" not in p
    assert "CartesianProduct" not in p


def test_rolling_slope_single_window_pass(spark, sf_dir):
    from peskas_timor_data_pipeline_spark.harness.windows_q import w9_rolling_slope

    p = plan_str(w9_rolling_slope(spark, sf_dir), "simple")
    # one Window node computes all five sums; no Python anywhere
    assert p.count("Window") == 1
    assert "Python" not in p


def test_grid_neighbor_join_blocks_on_cells(spark, sf_dir):
    from peskas_timor_data_pipeline_spark.harness.core_relational_q import (
        j13_grid_neighbor_join,
    )

    p = plan_str(j13_grid_neighbor_join(spark, sf_dir))
    # candidates come from a cell-key equi-join, never an all-pairs product
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # the 9x probe replication is the narrow Generate before the join
    assert "Generate" in p


def test_log_histogram_partial_agg_no_float_log(spark, sf_dir):
    from peskas_timor_data_pipeline_spark.harness.aggregates_q import (
        a30_log_histogram_quantiles,
    )

    p = plan_str(a30_log_histogram_quantiles(spark, sf_dir))
    # the (group, bucket) count partial-aggregates map-side and bucketing
    # is string/integer arithmetic — no LOG in the plan to disagree at a
    # power-of-two boundary
    assert re.search(r"partial_count", p)
    assert "LOG" not in p and " log(" not in p


def test_rolling_active_users_no_distinct_window(spark, sf_dir):
    from peskas_timor_data_pipeline_spark.harness.windows_q import (
        w11_rolling_active_users,
    )

    p = plan_str(w11_rolling_active_users(spark, sf_dir))
    # the rolling distinct is an explode + plain counts: no Window node at
    # all, and the 7x expansion shows as a Generate
    assert "Window" not in p
    assert "Generate" in p


def test_growth_accounting_no_window_partial_counts(spark, sf_dir):
    from peskas_timor_data_pipeline_spark.harness.aggregates_q import (
        a31_growth_accounting,
    )

    p = plan_str(a31_growth_accounting(spark, sf_dir))
    # set logic is equi-joins over the distinct activity frame — no window
    # scans, no cartesian, counts partial-aggregate
    assert "Window" not in p
    assert "CartesianProduct" not in p
    assert re.search(r"partial_count|partial_sum", p)


def test_session_paths_single_session_window_then_topk(spark, sf_dir):
    from peskas_timor_data_pipeline_spark.harness.windows_q import (
        w12_session_paths,
    )

    p = plan_str(w12_session_paths(spark, sf_dir), "simple")
    # the top-10 must be a distributed partial sort over path counts
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_jl_projection_is_single_project_no_exchange(spark, sf_dir):
    """e19: the JL sign matrix folds into literal chains — the whole
    query must be scan + project: no Exchange, no Generate, no Python."""
    from peskas_timor_data_pipeline_spark.harness.llm_q import e19_jl_projection

    p = plan_str(e19_jl_projection(spark, sf_dir))
    assert "Exchange" not in p
    assert "Generate" not in p
    assert "Python" not in p and "BatchEvalPython" not in p


def test_hll_registers_partial_aggregate(spark, sf_dir):
    """a35: register max must partial-aggregate map-side (the shuffle
    carries at most 2^b rows per group per partition), with no float
    log anywhere in the register path."""
    from peskas_timor_data_pipeline_spark.operators.sketches import hll_sketch
    from peskas_timor_data_pipeline_spark.harness.tables import load

    ev = load(spark, sf_dir, "events")
    p = plan_str(hll_sketch(ev, ["event_type"], "user_id", b=10))
    assert "partial_max" in p
    assert "LOG(" not in p.upper().replace("CATALOG", "")


def test_ewma_single_window_no_python(spark, sf_dir):
    """w13: one Window node over the constant-width frame, fold in
    codegen — no Python stage, no extra exchange beyond the partition."""
    from peskas_timor_data_pipeline_spark.harness.windows_q import w13_ewma

    p = plan_str(w13_ewma(spark, sf_dir))
    assert "Window" in p
    assert "Python" not in p
    # exactly one shuffle: the user_id partition for the window
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1


def test_containment_no_cartesian_hashed_keys(spark, sf_dir):
    """d13: the pair builder is a gram-keyed hash join on 60-bit ints —
    never a cartesian product, and the explode appears in the
    (checkpointed) gram build only."""
    from peskas_timor_data_pipeline_spark.harness.llm_q import d13_containment

    p = plan_str(d13_containment(spark, sf_dir))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_binary_topk_ivf_no_corpus_cross(spark, sf_dir):
    """e20 (default ivf): the only nested-loop joins are against the
    16-row broadcast centroid frame; candidate pairing is a cell-keyed
    hash join, never query x corpus."""
    from peskas_timor_data_pipeline_spark.harness.llm_q import e20_binary_topk

    p = plan_str(e20_binary_topk(spark, sf_dir))
    assert "CartesianProduct" not in p
    # the cell-keyed pairing compiles to a real equi-join
    assert "HashJoin" in p or "SortMergeJoin" in p


def test_pmm_donor_pool_bounded_window(spark, sf_dir):
    """m6: the donor ranking window partitions per missing row and the
    pool collect is bounded by donors=5 — no global sort, no Python."""
    from peskas_timor_data_pipeline_spark.harness.stats_q import m6_pmm

    p = plan_str(m6_pmm(spark, sf_dir))
    assert "Python" not in p
    assert "CartesianProduct" not in p


def test_fish_group_dim_broadcasts(spark, sf_dir):
    """p7b: the ~50-row taxa dim must broadcast — a shuffle join against a
    50-row mapping table would be the classic tiny-dim mistake."""
    from peskas_timor_data_pipeline_spark.harness.core_relational_q import (
        p7b_fish_groups,
    )

    p = plan_str(p7b_fish_groups(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_repetition_signals_partial_aggregates(spark, sf_dir):
    """t37: both explode chains (lines, bigrams) must partial-aggregate
    map-side so the shuffle carries distinct (doc, gram) rows, never raw
    exploded positions."""
    from peskas_timor_data_pipeline_spark.harness.llm_q import (
        t37_repetition_signals,
    )

    p = plan_str(t37_repetition_signals(spark, sf_dir))
    assert p.count("partial_count") >= 2
    assert "CartesianProduct" not in p


def test_triangle_count_no_cartesian_and_partial_degree(spark, sf_dir):
    """g2: the wedge self-join and the closing semi-join are equi-joins;
    a cartesian anywhere means the orientation trick silently broke."""
    from peskas_timor_data_pipeline_spark.harness.aggregates_q import (
        g2_triangle_count,
    )

    p = plan_str(g2_triangle_count(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "LeftSemi" in p


def test_report_frame_rollups_hash_aggregate(spark, sf_dir):
    """The r11 report-frame twins roll fact-sized inputs up with
    deterministic-first semantics over STRING categoricals — which must
    ride string_rank_dict long ids, never string min buffers (min over
    a string never hash-aggregates; VERDICT r10 #1 class). Executed
    plans must carry no SortAggregate."""
    from peskas_timor_data_pipeline_spark.harness.validators_q import (
        rp5_category_share,
        rp7_catch_use_share,
        rp10_fisher_mix,
    )

    for fn in (rp5_category_share, rp7_catch_use_share, rp10_fisher_mix):
        df = fn(spark, sf_dir)
        df.count()  # materialize so AQE finalizes the executed plan
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "SortAggregate" not in p, fn.__name__
        assert "HashAggregate" in p, fn.__name__
