"""Physical-plan assertions (SURVEY.md §4): the optimizations the 100 TB
posture depends on must be visible in the executed plan, not assumed —
filters reach the parquet scan (PushedFilters), projection pruning reaches
ReadSchema, small dims broadcast, semi/anti joins stay semi/anti, and the
hot relational path runs inside WholeStageCodegen."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ominimo_dynamic_data_pipeline_spark.queries import QUERIES


def plan_of(df, mode: str = "formatted") -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
        df._jdf.queryExecution(), mode
    )


@pytest.fixture(scope="module")
def q(spark, sf_dir):
    def run(name):
        return QUERIES[name](spark, sf_dir)

    return run


def test_q01_filter_pushed_to_parquet_scan(q):
    p = plan_of(q("q01_pricing_summary"))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p


def test_q01_column_pruning_reaches_scan(q):
    p = plan_of(q("q01_pricing_summary"))
    # lineitem columns not referenced by the query must not be scanned
    assert "l_orderkey" not in p
    assert "l_partkey" not in p
    assert "l_suppkey" not in p


def test_q02_small_dim_broadcasts(q):
    p = plan_of(q("q02_top_revenue_orders"))
    assert "BroadcastHashJoin" in p


def test_q03_all_dims_broadcast_one_shuffle_join(q):
    p = plan_of(q("q03_revenue_by_nation"))
    # supplier/nation/region broadcast; only orders<->lineitem may shuffle
    assert p.count("BroadcastHashJoin") >= 3


def test_semi_anti_joins_stay_semi_anti(q):
    assert "LeftSemi" in plan_of(q("q04_customers_with_open_orders"))
    assert "LeftAnti" in plan_of(q("q05_customers_without_big_orders"))


def test_q01_runs_in_whole_stage_codegen(spark, q):
    # codegen explain cannot descend into an unexecuted AdaptiveSparkPlan,
    # so inspect the statically-planned query with AQE off
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan_of(q("q01_pricing_summary"), mode="codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WholeStageCodegen subtrees" in p
    assert "Found 0 WholeStageCodegen" not in p


def test_q06_single_exchange_for_window_topk(q):
    p = plan_of(q("q06_top3_orders_per_customer"))
    # one shuffle on the partition key; no extra exchange for the filter
    assert p.count("Exchange (") == 1
    assert "hashpartitioning(o_custkey" in p


def test_q14_range_join_keeps_equi_key(q):
    # the equi key must carry the join (hash/sort-merge), never nested-loop
    p = plan_of(q("q14_late_shipments"))
    assert "CartesianProduct" not in p


def test_q55_packing_single_exchange_single_sort(q):
    # both window frames (cum + before) must share one (lang) exchange and
    # one sort — a second Sort means the frames diverged
    p = plan_of(q("q55_sequence_packing"))
    assert p.count("Exchange (") == 1
    assert "hashpartitioning(lang" in p
    assert p.count("Sort (") == 1


def test_q56_decontamination_broadcasts_eval_set(q):
    p = plan_of(q("q56_decontamination"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_q58_quantization_is_shuffle_free(q):
    p = plan_of(q("q58_embedding_quantization"))
    assert "Exchange" not in p  # pure staged projections


def test_q54_pii_scrub_is_shuffle_free(q):
    assert "Exchange" not in plan_of(q("q54_pii_scrub"))


def test_multimodal_queries_use_arrow_map(q):
    assert "MapInPandas" in plan_of(q("q51_resized_payloads"))
    assert "MapInPandas" in plan_of(q("q52_frame_samples"))


def test_q15_asof_is_single_exchange_no_join(q):
    # union + last-ignore-nulls window: one shuffle on user_id, no pairwise
    # click x purchase join anywhere in the plan
    p = plan_of(q("q15_purchase_click_attribution"))
    assert p.count("Exchange (") == 1
    assert "hashpartitioning(user_id" in p
    assert "Join" not in p
    assert "In(event_type, [click,purchase])" in p  # filter pushed to scan
    assert "BroadcastNestedLoopJoin" not in p


def test_q80_bigrams_have_no_window_pass(q):
    # bigrams come from zipping two array slices — a Window/posexplode
    # formulation would add a per-doc sort + exchange before the explode
    p = plan_of(q("q80_bigram_logprob"))
    assert "Window" not in p
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_q81_subquery_fully_decorrelated(q):
    # the correlated scalar subquery must become aggregate + broadcast
    # joins, never a per-row subplan
    p = plan_of(q("q81_above_brand_avg"))
    assert "Subquery" not in p
    assert "BroadcastHashJoin" in p


def test_q82_dims_broadcast(q):
    # nation and region broadcast; only the fact-side joins may shuffle
    p = plan_of(q("q82_market_share"))
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p


def test_q83_q84_scan_only_needed_columns(q):
    # robust stats read (source, n_chars); entropy reads (source, lang) —
    # the wide text column must never reach either scan
    assert "ReadSchema: struct<source:string,n_chars:bigint>" in plan_of(
        q("q83_robust_outliers")
    )
    assert "ReadSchema: struct<lang:string,source:string>" in plan_of(
        q("q84_source_lang_entropy")
    )


def test_q85_chunking_is_single_generate(q):
    # non-overlapping chunks explode once; no join back to the raw text
    p = plan_of(q("q85_chunk_dedup"))
    assert p.count("Generate (") == 1
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_q86_variant_parses_once_single_agg(q):
    # the variant parse runs once in the projection under ONE hash
    # aggregate; no second parse per extracted path, one shuffle total
    p = plan_of(q("q86_variant_histogram"))
    assert p.count("parseJson") == 1
    assert p.count("Exchange (") == 1


def test_q87_pipe_filter_reaches_scan(q):
    # the |> WHERE lowers to a pushed parquet filter like any other filter
    p = plan_of(q("q87_pipe_revenue_by_returnflag"))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p


def test_q88_recursion_is_table_free(q):
    # exactly two scans of orders (bounds + monthly); the recursive member
    # must not re-scan the fact table per iteration
    import re as _re

    p = plan_of(q("q88_month_spine"))
    assert len(_re.findall(r"\(\d+\) Scan parquet", p)) == 2


def test_q89_star_join_broadcasts_all_dims(q):
    # part/supplier/nation broadcast (3 BHJ); only lineitem-orders may
    # shuffle; the p_name LIKE filter reaches the part scan
    p = plan_of(q("q89_product_nation_profit"))
    assert p.count("BroadcastHashJoin") >= 3
    assert "StringContains(p_name,widget)" in p
    assert "CartesianProduct" not in p


def test_q90_repeated_spans_plan_shape(q):
    """Round-3 substring dedup: the census must be the count-over-fp
    window (ONE full-frame shuffle on fp), never a groupBy census joined
    back (two), and documents must scan only the two needed columns."""
    p = plan_of(q("q90_repeated_spans"))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p
    # one window partitioned by fp (census), windows by doc_id for grams/
    # islands; no join anywhere in the plan
    assert "Join" not in p


def test_q92_model_quality_score_is_shuffle_free(q):
    """The hashed linear classifier is a narrow projection: no Exchange,
    no Join, no window — one scan straight through codegen."""
    p = plan_of(q("q92_model_quality_score"))
    assert "Exchange" not in p
    assert "Join" not in p
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p


def test_q91_ivfpq_carries_codes_not_vectors_into_probe_join(q):
    """The probe join's corpus side streams int8 codes (c_codes/c_scale),
    and the float originals appear only behind the shortlist rerank."""
    p = plan_of(q("q91_knn_ivfpq"))
    assert "c_codes" in p and "c_scale" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_q98_cohort_is_window_not_join(q):
    # one wide exchange: window-min cohort; the distinct groups on a
    # superset of the window key so it reuses that partitioning
    p = plan_of(q("q98_cohort_retention"))
    assert "Join" not in p
    # node headers ("Exchange (n)") count physical nodes once; the
    # formatted dump also repeats each node in the detail section
    assert p.count("Exchange (") <= 2  # window key + final 2-col agg


def test_q40_sketch_not_keyed_by_distinct_column(q):
    # mixed countDistinct + approx_count_distinct in ONE agg rewrites to
    # an Expand whose first-level agg keys the HLL buffer by (group,
    # partkey) — ~8 GB of sketch state at sf1.  The split shape must
    # keep Expand out of the plan entirely.
    p = plan_of(q("q40_approx_distinct_parts"))
    assert "Expand" not in p
    assert "approx_count_distinct" in p


def test_q104_cell_assignment_is_projection(q):
    # morton cell = pure per-row expression over broadcast maxima: no
    # shuffle before the 64-group aggregate, maxima attached by a
    # broadcast (nested-loop, 1-row build side) join — never a cartesian
    p = plan_of(q("q104_zorder_layout"))
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    # 1-row maxima agg + its broadcast + final cell agg; nothing wide
    assert p.count("Exchange (") <= 3


def test_q105_negative_pool_broadcasts(q):
    p = plan_of(q("q105_negative_samples"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_q110_query_side_broadcasts_onto_postings(q):
    # the inverted-index join must broadcast the tiny query-term /
    # df / corpus-stats sides; the postings table never broadcasts
    p = plan_of(q("q110_bm25_retrieval"))
    assert p.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p


def test_q111_kmeans_assignment_is_join_free(q):
    # assignment scores against driver-rendered centroid literals: the
    # whole query is scan -> projection -> one aggregate, no join at all
    p = plan_of(q("q111_kmeans_exact"))
    assert "Join" not in p
    assert "CartesianProduct" not in p


def test_q112_degree_table_broadcasts_and_edges_materialize_once(q):
    p = plan_of(q("q112_triangle_parts"))
    # per-part degree table broadcasts onto the pair list
    assert "BroadcastHashJoin" in p
    # the oriented edge list is localCheckpointed: wedge + closing joins
    # read the materialized RDD, not a replay of the basket expansion
    assert "Scan ExistingRDD" in p


def test_q113_diff_scans_prune_to_key_and_text(q):
    # both snapshot scans read only what the fingerprints need
    p = plan_of(q("q113_snapshot_diff"))
    assert "FullOuter" in p
    for col in ("lang", "source", "n_chars"):
        assert f"{col}:" not in p, f"{col} should be pruned from the scans"


def test_q114_running_sum_windows_over_aggregated_spine(q):
    # the global ordered window must consume the date-aggregated frame,
    # never raw fact rows: in the root-first formatted tree, a
    # HashAggregate must sit between the LAST (deepest) Window and the
    # parquet scans below it
    tree = plan_of(q("q114_peak_open_orders")).split("\n\n")[0]
    last_win = tree.rfind("Window")
    assert last_win != -1
    below = tree[last_win:]
    agg_below = below.find("HashAggregate")
    scan_below = below.find("Scan parquet")
    assert agg_below != -1 and scan_below != -1
    assert agg_below < scan_below, (
        "running-sum window consumes raw scans instead of the "
        "date-aggregated spine"
    )


def test_q125_binning_is_broadcast_fold_not_range_join(q):
    # equi_depth_bin (operators/features.py): the boundary array attaches
    # via a broadcast nested-loop of ONE row; binning is an array fold, so
    # no sort-merge/range join and no per-bin pass may appear
    p = plan_of(q("q125_decile_binning"))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_gap_fill_windows_run_over_spine_not_facts(spark, sf_dir):
    # gap_fill_linear: facts reduce to (partition, day) BEFORE the spine
    # join, so the window functions consume the joined spine — the plan
    # must aggregate (facts) below the left join, windows above it
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        gap_fill_linear,
    )
    from ominimo_dynamic_data_pipeline_spark.queries.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderstatus").alias("k"),
        F.col("o_orderdate").cast("date").alias("d"),
    ).agg(F.sum("o_totalprice").alias("v"))
    p = plan_of(gap_fill_linear(daily, ["k"], "d", "v"))
    assert "Window" in p
    # the interpolation windows sit ABOVE the spine left join
    assert p.index("Window") < p.index("Join LeftOuter")


def test_sketch_profile_is_single_aggregate_pass(spark, sf_dir):
    # sketch_profile: HLL + KLL sketches build in ONE groupBy aggregate
    # (one exchange), never one pass per statistic
    from ominimo_dynamic_data_pipeline_spark.operators.features import (
        sketch_profile,
    )
    from ominimo_dynamic_data_pipeline_spark.queries.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    out = sketch_profile(
        o,
        group_by=["o_orderstatus"],
        distinct_cols=["o_custkey"],
        quantile_col="o_totalprice",
        quantiles=[0.5, 0.95],
    )
    assert plan_of(out, "simple").count("Exchange") == 1
    p = plan_of(out)
    assert "partial_hll_sketch_agg" in p  # map-side combine fires
    assert "partial_kll_sketch_agg" in p


def test_q129_semantic_decon_is_shuffle_free(q):
    # eval vectors are literals, so the contamination check must be a pure
    # scan+projection — no Exchange anywhere in the plan
    assert "Exchange" not in plan_of(q("q129_semantic_decontamination"), "simple")


def test_enriched_segment_counts_broadcasts_dim(spark, sf_dir):
    # q131's operator on a static frame: the dimension must broadcast
    # (the stream side never shuffles for the join), leaving the windowed
    # aggregate's exchange as the only shuffle
    from ominimo_dynamic_data_pipeline_spark.queries.tables import load_table
    from ominimo_dynamic_data_pipeline_spark.streaming import ops

    out = ops.enriched_segment_counts(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "customer"),
    )
    p = plan_of(out, "simple")
    assert "BroadcastHashJoin" in p
    assert p.count("Exchange hashpartitioning") == 1


def test_q132_temperature_sample_is_scan_projection(q):
    # rates are driver literals, so the returned frame must be a pure
    # filter+projection riding the documents scan — no Exchange, no join
    p = plan_of(q("q132_temperature_mixture"), "simple")
    assert "Exchange" not in p and "Join" not in p


def test_q142_forward_asof_single_exchange_no_join(q):
    """The generalized forward as-of (q142) keeps the q15/q133 scale
    shape: UNION + one window over custkey — ONE hash exchange total, no
    join node, no per-customer pair materialization."""
    p = plan_of(q("q142_next_order_forward_asof"), "simple")
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_q143_quota_cap_single_exchange(q):
    """The per-source quota cap is ONE window exchange on source: both
    window functions (rank + group size) share the partitioning, and no
    join/second shuffle appears."""
    p = plan_of(q("q143_per_source_quota_cap"), "simple")
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 1


def test_q144_split_bucket_is_projection_after_label_join(q):
    """cluster_safe_split's bucket/split math must be a pure projection:
    exactly one join in the final attach (docs x cluster labels), and no
    exchange keyed on the split/bucket output."""
    p = plan_of(q("q144_cluster_safe_split"), "simple")
    assert "split" in p
    # the label attach joins on doc id; the split assignment itself adds
    # no exchange (buckets are a pure projection over the joined frame)
    assert "Exchange rangepartitioning" not in p


def test_q148_span_corruption_is_shuffle_free(q):
    """Span corruption is a pure scan-riding projection: no Exchange, no
    Python UDF — all array lambdas stay JVM-side."""
    p = plan_of(q("q148_span_corruption"), "simple")
    assert "Exchange" not in p
    assert "Python" not in p and "ArrowEval" not in p


def test_q147_winnow_single_doc_exchange_for_fingerprints(q):
    """Winnowing rides ONE (doc) sort for grams+hashes+window minima; the
    only other exchanges are the fp-df window and the final rollup."""
    p = plan_of(q("q147_winnow_profile"), "simple")
    assert p.count("Exchange hashpartitioning") <= 3
    assert "Python" not in p


def test_q145_q146_no_cartesian_and_no_python(q):
    """The novelty and containment pipelines stay JVM-side and never
    degrade to a cartesian/nested-loop: candidates come from the gram
    equi-join, verification from id equi-joins."""
    for name in ("q145_ngram_novelty", "q146_containment_near_dups"):
        p = plan_of(q(name), "simple")
        assert "Cartesian" not in p and "NestedLoop" not in p, name
        assert "Python" not in p and "ArrowEval" not in p, name


def test_q154_dsir_ratio_table_broadcasts(spark, sf_dir, q):
    """DSIR's feature->ratio table (bounded at num_buckets rows by
    construction) must BroadcastHashJoin back onto the per-doc tf
    stream, and the only nested-loop is the one-row totals attach —
    text never re-shuffles for the ratio join.  The catalog query's
    final sel_rank stage sits behind distributed_row_number's
    localCheckpoint (the plan truncates to a Scan ExistingRDD +
    MapInPandas), so the operator frame is pinned directly."""
    from ominimo_dynamic_data_pipeline_spark.llm.sampling import (
        dsir_importance,
    )
    from ominimo_dynamic_data_pipeline_spark.queries.llm import (
        _Q154_ALPHA,
        _Q154_BUCKETS,
        _Q154_SEED,
    )
    from ominimo_dynamic_data_pipeline_spark.queries.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    weights = dsir_importance(
        d,
        target=F.col("lang") == "en",
        alpha=_Q154_ALPHA,
        num_buckets=_Q154_BUCKETS,
        seed=_Q154_SEED,
    )
    p = plan_of(weights, "simple")
    assert "BroadcastHashJoin" in p
    assert p.count("BroadcastNestedLoopJoin") <= 1  # one-row totals only
    assert "Cartesian" not in p
    assert "Python" not in p and "ArrowEval" not in p
    # and the catalog query's rank stage: Arrow MapInPandas, zero Window
    pq = plan_of(q("q154_dsir_importance"), "simple")
    assert "MapInPandas" in pq
    assert "Window" not in pq


def test_q156_k_anonymity_is_one_aggregate(q):
    """The privacy audit is ONE hash aggregate on the quasi key: no
    join, no window, map-side partial aggregation present."""
    p = plan_of(q("q156_k_anonymity_audit"), "simple")
    assert "Join" not in p and "Window" not in p
    assert "HashAggregate" in p


def test_q157_cusum_single_series_exchange(q):
    """CUSUM shares ONE (priority) exchange for all three analytic
    windows plus the argmax pick — the daily-grain aggregate's exchange
    is the only other shuffle."""
    p = plan_of(q("q157_cusum_changepoints"), "simple")
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") <= 2
    assert "Python" not in p


def test_q158_entropy_two_exchanges_no_python(q):
    """Token entropy is the standard tf profile: token-stream partial
    agg + doc reduce — at most two hash exchanges, all JVM-side."""
    p = plan_of(q("q158_token_entropy"), "simple")
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") <= 2
    assert "Python" not in p and "ArrowEval" not in p


def test_q159_interleave_one_window_exchange_broadcast_index(q):
    """The curriculum order keeps ONE data-sized exchange (the source
    window); the group-index and census frames attach via broadcast
    joins, and the position math is a projection."""
    p = plan_of(q("q159_interleaved_curriculum"), "simple")
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    # the doc-sized frame shuffles once for the per-source rank window;
    # the other hash exchanges are the distinct-source aggregates
    # (bounded by the source-value count), and nothing keys on doc_id
    assert p.count("Exchange hashpartitioning") <= 3
    assert "Exchange hashpartitioning(doc_id" not in p


def test_q160_mmr_python_stage_touches_pools_only(q):
    """MMR is the sanctioned applyInPandas path: exactly one Arrow
    Python stage (FlatMapGroupsInPandas), fed by the broadcast+window
    retrieval — no Python anywhere else, no cartesian."""
    p = plan_of(q("q160_mmr_rerank"), "simple")
    assert p.count("FlatMapGroupsInPandas") == 1
    assert "Cartesian" not in p


# --- round-6 continuation additions (q168-q184 shapes) ---------------------


def test_q168_grid_join_broadcasts_and_single_window_exchange(q):
    # the daily-count side must broadcast onto the (type, day) grid, and
    # the running sum must be the only window exchange (on event_type)
    p = plan_of(q("q168_cumulative_distinct_users"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert p.count("Window (") == 1


def test_q172_topk_is_take_ordered_not_global_window(q):
    # the final top-50 must compile to a distributed TakeOrdered, never a
    # single-partition row_number window over every surviving pair
    p = plan_of(q("q172_term_lift_pairs"))
    assert "TakeOrderedAndProject" in p
    assert "Window (" not in p
    assert "CartesianProduct" not in p


def test_q178_vocab_slice_take_ordered(q):
    # the vocab never sorts globally: top-max(ks) via TakeOrdered, the
    # rank window runs on that bounded slice only
    p = plan_of(q("q178_vocab_coverage"))
    assert "TakeOrderedAndProject" in p
    assert p.count("Window (") == 1


def test_q179_dims_broadcast(q):
    # supplier->nation dimension joins broadcast; the fact side never
    # sort-merges against a dim
    p = plan_of(q("q179_market_concentration"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_q184_stats_frame_broadcasts(q):
    # the 64-row dim-stats frame must broadcast onto the exploded
    # coordinates, and the top-20 is a distributed TakeOrdered
    p = plan_of(q("q184_embedding_outliers"))
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p


def test_q174_single_exchange_feeds_lag_and_percentile(q):
    # ONE hash exchange on (event_type, user_id) feeds the lag window;
    # the percentile re-agg must not add a second wide shuffle of rows
    # beyond the keyed aggregate
    p = plan_of(q("q174_event_cadence"))
    assert "hashpartitioning(event_type" in p
    assert p.count("Window (") == 1


def test_q185_funnel_single_wide_exchange(q):
    # ONE exchange on user_id feeds all three step-window passes (no
    # sort — unbounded frames) and the per-user rollup; the only other
    # exchange is the single-row final reduce. No join anywhere.
    p = plan_of(q("q185_window_funnel"))
    assert p.count("Exchange (") == 2
    assert "hashpartitioning(user_id" in p
    assert p.count("Window (") == 3
    assert "Join" not in p
    # the only sort is WindowExec's required partition-key ordering,
    # shared by all three step passes — never one sort per step
    assert p.count("Sort (") == 1


def test_q186_streaks_rollups_reuse_user_partitioning(q):
    # distinct (user, day) partial-agg shuffle + the user_id window
    # exchange; both island rollups must reuse the window's
    # partitioning (no third exchange)
    p = plan_of(q("q186_activity_streaks"))
    assert p.count("Exchange (") == 2
    assert "hashpartitioning(user_id" in p
    assert "Join" not in p


def test_q187_skyline_single_exchange_no_join(q):
    # the sort-sweep must never materialize pairs: one exchange + one
    # sort per brand feeds both RANGE frames
    p = plan_of(q("q187_pareto_frontier_parts"))
    assert p.count("Exchange (") == 1
    assert "hashpartitioning(p_brand" in p
    assert "Join" not in p
    assert "CartesianProduct" not in p


def test_q188_symspell_equi_joins_no_cartesian(q):
    # deletion-neighborhood blocking must reach the join as an equi
    # hash join on the variant key — never a cartesian/NL pair scan
    p = plan_of(q("q188_symspell_name_pairs"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p) or (
        "ShuffledHashJoin" in p
    )


def test_q189_rolling_distinct_day_dim_broadcasts(q):
    # the observed-day dimension must broadcast onto the exploded
    # coverage frame; the explode is a Generate, not a join
    p = plan_of(q("q189_rolling_7d_active_users"))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "Generate" in p


def test_q190_twap_single_exchange(q):
    # ONE exchange on user_id: the LEAD window sorts within partitions
    # and the per-user rollup reuses the partitioning
    p = plan_of(q("q190_user_value_twap"))
    assert p.count("Exchange (") == 1
    assert "hashpartitioning(user_id" in p
    assert "Join" not in p


def test_q192_attribution_joins_on_user_key(q):
    # the 7-day decay join must reach execution as a user_id equi-join
    # with the range bound as residual — never a cartesian pair scan;
    # the CASE weight table stays a pure projection (no pow/UDF)
    p = plan_of(q("q192_time_decay_attribution"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "user_id" in p


def test_q193_winsorize_single_exchange(q):
    # rank, in-partition threshold broadcast, and the rollup all share
    # ONE exchange on the segment key; no join-back for the thresholds
    p = plan_of(q("q193_winsorized_balances"))
    assert p.count("Exchange (") == 1
    assert "hashpartitioning(c_mktsegment" in p
    assert "Join" not in p


def test_q194_diff_aggregates_before_join(q):
    # both snapshots reduce to one row per customer BEFORE the
    # full-outer join (partial HashAggregates under the join, the
    # cutoff filters pushed to the scans)
    p = plan_of(q("q194_snapshot_diff"))
    assert "FullOuter" in p or "full_outer" in p.lower()
    assert "PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate" in p
    assert "CartesianProduct" not in p
    # the join key must stay the RAW aggregation key so both sides reuse
    # their groupBy exchanges: 2 agg exchanges + the final rollup, never
    # a 4th/5th re-shuffle for a wrapped (null-safe) key — the measured
    # 8x q194 sf10 regression this pin now guards
    assert p.count("Exchange (") == 3


def test_q196_cascade_semi_joins_broadcast(q):
    # each cascade level must stay a LeftSemi with a broadcast build
    # side (the deletion cohort is tiny); never an inner join that
    # duplicates fact rows, never a shuffle of the fact side for the
    # cohort lookup
    p = plan_of(q("q196_deletion_cascade_audit"))
    assert "LeftSemi" in p
    assert p.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in p


def test_q198_filter_before_pairwise(q):
    # the metadata predicate must reach the documents scan pushed down
    # (2-column projection) and the corpus must semi-join BEFORE the
    # broadcast pairwise scoring — filter-then-search, never
    # search-then-filter
    p = plan_of(q("q198_filtered_knn"))
    assert "PushedFilters: [IsNotNull(lang), IsNotNull(n_chars), EqualTo(lang,en)" in p
    assert "ReadSchema: struct<doc_id:bigint>" in p or "doc_id" in p
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p


def test_q199_allocation_single_order_exchange(q):
    # the weight-total window, the remainder rank, and the leftover
    # window all share ONE exchange on the order key after the join;
    # orders side broadcasts (2-column projection)
    p = plan_of(q("q199_invoice_allocation"))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    shuffles = p.count("Exchange (") - p.count("BroadcastExchange (")
    assert shuffles == 1
    assert p.count("Window (") == 3


def test_q200_scenarios_single_scan(q):
    # the what-if grid reads lineitem ONCE: one scan + one Generate
    # (scenario explode) + one aggregate exchange — never one scan per
    # scenario
    import re as _re

    p = plan_of(q("q200_discount_scenarios"))
    assert len(_re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "Generate" in p
    assert p.count("Exchange (") == 1


# --------------------------------------------------------------------------
# Suite-wide global-window gate (round-7 verdict item #1): an unpartitioned
# WindowExec sorts its ENTIRE input in one task — the exact shape
# operators/joins.py warns about for empty-`by` asof joins — so no catalog
# query may ship one over unbounded input.  test_oracle_parity calls
# assert_no_unbounded_global_window() on every catalog query's plan each
# run; the whitelist below is the full set of justified exceptions.
# --------------------------------------------------------------------------

# name -> "limit" (the window's input is a limit(K) slice; the plan must
# show the TakeOrderedAndProject/GlobalLimit that bounds it) or "census"
# (the input is a bounded census frame by construction).
GLOBAL_WINDOW_WHITELIST = {
    # rank window over the top-K slice of an alphabet-bounded pair table
    "q109_bpe_merge_candidates": "limit",
    # rank window over the top-K slice of the per-part triangle counts
    "q112_triangle_parts": "limit",
    # day-granularity prefix sum (calendar-bounded: a century is ~36.5k
    # rows) + rank window over the top-K slice
    "q114_peak_open_orders": "limit",
    # rank window over the top-V slice of the vocabulary
    "q128_bpe_encode": "limit",
    # group-index window over the DISTINCT group list (a bounded census,
    # same posture as temperature_mixture_sample)
    "q159_interleaved_curriculum": "census",
    # rank window over the limit(max_k) vocab slice
    "q178_vocab_coverage": "limit",
}


def _top_level_bracket_groups(s: str) -> list[str]:
    groups, depth, cur, started = [], 0, "", False
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                started, cur = True, ""
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0 and started:
                groups.append(cur)
                started = False
                continue
        if started:
            cur += ch
    return groups


def unpartitioned_window_lines(plan: str) -> list[str]:
    """Physical-plan lines carrying a GLOBAL (unpartitioned, ordered)
    Window.  A Window node renders ``Window [exprs], [partitionSpec],
    [orderSpec]`` with empty specs omitted: 3 groups = partitioned; 2
    groups = either partition-only (2nd group has no sort direction —
    fine, per-key) or order-only (2nd group has ASC/DESC — global)."""
    import re

    out = []
    for line in plan.splitlines():
        m = re.search(r"(?:^|[\s\-+*():\d])Window (\[.*)$", line)
        if not m:
            continue
        groups = _top_level_bracket_groups(m.group(1))
        if len(groups) == 2 and re.search(r"\b(ASC|DESC)\b", groups[1]):
            out.append(line.strip())
    return out


def assert_no_unbounded_global_window(name: str, df) -> None:
    plan = plan_of(df, "simple")
    offenders = unpartitioned_window_lines(plan)
    kind = GLOBAL_WINDOW_WHITELIST.get(name)
    if not offenders:
        return
    assert kind is not None, (
        f"{name}: unpartitioned Window over potentially unbounded input "
        f"(single-task sort at scale) — rewrite via orderBy().limit(), "
        f"distributed_row_number/distributed_ntile, or whitelist with a "
        f"boundedness justification:\n" + "\n".join(offenders)
    )
    if kind == "limit":
        assert (
            "TakeOrderedAndProject" in plan or "GlobalLimit" in plan
        ), (
            f"{name}: whitelisted as limit-bounded but no "
            f"TakeOrderedAndProject/GlobalLimit in the plan"
        )


def test_fixed_global_windows_stay_fixed(q):
    # the three round-7 findings must never regrow a WindowExec at all
    for name in (
        "q154_dsir_importance",
        "q180_rfm_segments",
        "q122_countmin_heavy_hitters",
        "q162_source_gini",
    ):
        p = plan_of(q(name))
        assert not unpartitioned_window_lines(p), name


# --------------------------------------------------------------------------
# Expression-duplication plan budgets (round-10 verdict item #1/#2): the
# round-10 `duck_round_expr` conversion silently re-evaluated expensive
# argument expressions ~10x in the physical plan (Catalyst inlines every
# reference; codegen does not CSE across `when` branches), tripling q146
# (50 array_intersect instead of 5) and q92 (sigmoid fold x10) at sf0.1 —
# and no existing gate (hash parity, exchange pins, driver bench tail)
# could see it.  These budgets pin the per-plan occurrence count of the
# known-expensive subexpressions for every query the round-10 audit named;
# a helper change that re-inlines its argument trips them immediately.
# --------------------------------------------------------------------------

# name -> {plan-substring-regex: max allowed occurrences}
PLAN_EXPR_BUDGETS = {
    # ONE staged intersect per pair since round 13: evaluate_once pins
    # the staging against threshold-filter pushdown (round-12's plan
    # still carried 2 copies in the join condition + 1 in the project;
    # round-10's regression shipped 50 here).
    "q146_containment_near_dups": {r"array_intersect": 1, r"array_union": 0},
    # same barrier in the q35 inline scorer and jaccard_pairs (q26
    # family): the >= t filter must reference the staged attribute,
    # never re-inline the intersect.
    "q35_ngram_jaccard_pairs": {r"array_intersect": 1, r"array_union": 0},
    "q26_minhash_near_dups": {r"array_intersect": 1, r"array_union": 0},
    # one sigmoid weight fold; round-10's regression shipped 10.
    "q92_model_quality_score": {r"aggregate\(": 2},
    # cosine fold per (rel, pairwise) stage; never duplicated per round().
    "q160_mmr_rerank": {r"aggregate\(": 4},
    "q67_repetition_signals": {r"transform\(": 6},
    "q145_ngram_novelty": {r"transform\(": 2, r"regexp_replace": 2},
    "q85_chunk_dedup": {r"regexp_replace": 4},
    "q64_compression_ratio": {r"transform\(": 2},
    "q37_token_stats": {r"regexp_replace": 2, r"regexp_extract": 2},
    # language-ID CASE chain: staged marker counts (round 11) — the
    # unstaged chain nests every earlier score in every later `when`,
    # exploding to 57 (q22) / 114 (q173) intersect+regex copies.
    "q22_language_id": {r"array_intersect": 6, r"regexp_replace": 2},
    "q173_langid_confusion": {r"array_intersect": 12, r"regexp_replace": 4},
}


@pytest.mark.parametrize("name", sorted(PLAN_EXPR_BUDGETS))
def test_expensive_exprs_not_duplicated_in_plan(q, name):
    import re as _re

    p = plan_of(q(name), "simple")
    for marker, budget in PLAN_EXPR_BUDGETS[name].items():
        n = len(_re.findall(marker, p))
        assert n <= budget, (
            f"{name}: {marker} appears {n}x in the physical plan "
            f"(budget {budget}) — an expensive subexpression is being "
            f"re-evaluated; check duck_round_expr-style helpers for "
            f"argument inlining"
        )


def test_minhash_signatures_one_form_without_tokenize_reinline(spark, sf_dir):
    # minhash_signatures has one physical form for every input: explode
    # the shingle arrays, one hash aggregate.  Over an UNPERSISTED
    # shingle_frame a plain explode's inferred size(sh) > 0 filter would
    # be pushed down with the alias chain substituted, re-inlining the
    # tokenize chain into the element_at lambda; explode_outer infers no
    # filter, so the plan keeps shingle_frame's own tokenize count.
    from ominimo_dynamic_data_pipeline_spark.llm import dedup as D

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = optimized(D.shingle_frame(d))
    for sigs in (
        D.minhash_signatures(d),
        D.minhash_signatures(d, shingles=D.shingle_frame(d)),
    ):
        p = optimized(sigs)
        assert "zip_with" not in p and "array_min" not in p, p
        # the only lambdas are shingle_frame's own (tokens, grams)
        assert p.count("transform(") == base.count("transform("), p
        assert p.count("lambdafunction(") == base.count("lambdafunction(")
        assert "Generate explode(sh" in p and "Aggregate" in p, p
        assert p.count("regexp_replace") <= base.count("regexp_replace"), p


def test_duck_round_staging_contract(spark):
    # duck_round_expr's cheap-argument contract: the rounding tree
    # references its argument ~10x.  Since round 13 the helper routes
    # through a session-registered SQL scalar function whose parameter
    # binding STAGES the argument into its own projection, so even an
    # unstaged expensive argument evaluates once; the Column-built
    # fallback (_duck_round_column) still inlines per reference, so
    # call sites keep staging explicitly (they must stay correct when
    # the fallback engages).  Both behaviors pinned here.
    from ominimo_dynamic_data_pipeline_spark.llm.similarity import (
        _duck_round_column,
        duck_round_expr,
    )

    df = spark.range(10).select(
        F.array(F.col("id"), F.col("id") + 1).alias("a"),
        F.array(F.col("id")).alias("b"),
    )
    expensive = F.size(F.array_intersect("a", "b")) / F.size("a")
    staged = df.withColumn("_raw", expensive).select(
        duck_round_expr(F.col("_raw"), 6).alias("r")
    )
    p = plan_of(staged, "simple")
    assert p.count("array_intersect") == 1, p
    # SQL-function path: parameter binding auto-stages, single eval
    p_unstaged = plan_of(
        df.select(duck_round_expr(expensive, 6).alias("r")), "simple"
    )
    assert p_unstaged.count("array_intersect") == 1, p_unstaged
    assert "__duck_round" not in p_unstaged  # fully inlined, no UDF call
    # Column-built fallback: inlines per reference — the reason the
    # explicit staging at call sites must stay (if Spark ever starts
    # CSE-ing this, the pattern becomes unnecessary; revisit)
    p_fallback = plan_of(
        df.select(_duck_round_column(expensive, 6).alias("r")), "simple"
    )
    assert p_fallback.count("array_intersect") > 1


def test_duck_round_sql_fn_bit_parity(spark):
    # The SQL-function body must stay bit-identical to the Column-built
    # tree on every edge class: NULL, NaN, +/-Inf, signed zero, exact
    # .5 micro-ties on both sides of zero, the 2^52 integrality cutoff,
    # subnormals and double extremes.
    import struct

    from ominimo_dynamic_data_pipeline_spark.llm.similarity import (
        _duck_round_column,
        duck_round_expr,
    )

    vals = [
        None, float("nan"), float("inf"), float("-inf"), 0.0, -0.0,
        0.5e-6, 1.5e-6, -0.5e-6, -1.5e-6, 2.0 ** 52, 2.0 ** 52 + 2,
        1234.4999995, -1234.4999995, 0.1234565, 0.1234575, 5e-324,
        1.7976931348623157e308, 123456.789, -0.9999995,
    ]
    df = spark.createDataFrame([(v,) for v in vals], schema="v double")

    def bits(rows):
        return [
            "NULL" if r.r is None else struct.pack("<d", r.r).hex()
            for r in rows
        ]

    for d in (0, 4, 6):
        got = bits(df.select(duck_round_expr(F.col("v"), d).alias("r")).collect())
        want = bits(df.select(_duck_round_column(F.col("v"), d).alias("r")).collect())
        assert got == want, (d, list(zip(vals, got, want)))


def test_duck_round_registers_on_a_new_active_session(spark):
    # newSession() shares the SparkContext but not the temporary
    # functions: once it is the active session, duck_round_expr must
    # register __duck_round there before its columns can resolve.
    from pyspark.sql import SparkSession

    from ominimo_dynamic_data_pipeline_spark.llm.similarity import (
        duck_round_expr,
    )

    jsession = spark._jvm.SparkSession
    fresh = spark.newSession()
    try:
        jsession.setActiveSession(fresh._jsparkSession)
        SparkSession._activeSession = fresh
        assert SparkSession.getActiveSession() is fresh
        df = fresh.createDataFrame([(1.25,), (-2.5,)], schema="v double")
        got = [r.r for r in df.select(duck_round_expr("v", 1).alias("r")).collect()]
        assert got == [1.3, -2.5]
    finally:
        jsession.setActiveSession(spark._jsparkSession)
        SparkSession._activeSession = spark


def test_sql_rendered_ladders_match_column_built_plans(spark):
    # Round-13 construction-latency rewrite: the minhash/simhash/band
    # expression ladders are rendered as SQL strings (one F.expr parse
    # round trip instead of hundreds of py4j Column calls per query
    # construction).  The rendering must be a pure WIRE-FORMAT change:
    # optimized plans pinned IDENTICAL to the original Column-built
    # forms modulo expression ids, lambda-variable counters and the
    # struct/named_struct pretty-name (same CreateNamedStruct node).
    import re

    from ominimo_dynamic_data_pipeline_spark.llm import dedup as D
    from ominimo_dynamic_data_pipeline_spark.llm.text import tokens

    def norm(df):
        p = df._jdf.queryExecution().optimizedPlan().toString()
        p = re.sub(r"#\d+L?", "#x", p)
        # lambda variable NAMES are parser artifacts (x_3 vs i)
        p = re.sub(r"lambda [A-Za-z_][A-Za-z_0-9]*#x", "lambda V#x", p)
        return p.replace("named_struct(", "struct(")

    d = spark.range(6).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta epsilon zeta id"),
                 F.col("id").cast("string")).alias("text"),
    )

    # shingle_frame (tokens + shingles_from_tokens ladders)
    for n in (2, 3):
        toks_old = d.select(
            F.col("doc_id"), tokens(F.col("text")).alias("toks")
        ).filter(F.size(F.col("toks")) >= n)
        old_sh = toks_old.select(
            F.col("doc_id"),
            D.shingles_from_tokens(F.col("toks"), n).alias("sh"),
        )
        assert norm(D.shingle_frame(d, n=n)) == norm(old_sh)

    sh = D.shingle_frame(d).persist()
    sh.count()
    try:
        # minhash explode path (Column-built original inline)
        lo_mask = F.lit((1 << 30) - 1)
        prime = F.lit(D.MINHASH_PRIME)
        hashed = (
            sh.select(F.col("doc_id"), F.explode_outer("sh").alias("_sg"))
            .filter(F.col("_sg").isNotNull())
            .select(F.col("doc_id"), D.md5_long(F.col("_sg")).alias("_h"))
        )
        hi = F.shiftright(F.col("_h"), 30)
        lo = F.col("_h").bitwiseAND(lo_mask)
        old_sigs = hashed.groupBy("doc_id").agg(
            *[
                F.min((hi + F.lit(i + 1) * lo) % prime).alias(f"mh_{i}")
                for i in range(16)
            ]
        )
        new_sigs = D.minhash_signatures(d, shingles=sh)
        assert norm(new_sigs) == norm(old_sigs)

        # band-bucket structs
        rpb = 4
        cols = []
        for b in range(4):
            parts = [F.col(f"mh_{b * rpb + r}") for r in range(rpb)]
            cols.append(
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws("-", *[p.cast("string") for p in parts])
                    ).alias("bucket"),
                )
            )
        old_b = new_sigs.select(
            F.col("doc_id"), F.explode(F.array(*cols)).alias("bb")
        )
        new_b = new_sigs.select(
            F.col("doc_id"),
            F.explode(D._band_bucket_structs(16, 4)).alias("bb"),
        )
        assert norm(new_b) == norm(old_b)

        # simhash frame
        for bits in (16, 64):
            toks_df = d.select(
                F.col("doc_id"),
                F.explode(
                    F.array_distinct(tokens(F.col("text")))
                ).alias("_t"),
            )
            hc = [D.md5_long(F.col("_t"), seed=101).alias("_h1")]
            if bits > 60:
                hc.append(D.md5_long(F.col("_t"), seed=202).alias("_h2"))
            hashed2 = toks_df.select(F.col("doc_id"), *hc)

            def ss(i):
                src, off = (
                    (F.col("_h1"), i) if i < 60 else (F.col("_h2"), i - 60)
                )
                return F.sum(
                    F.when(
                        F.shiftright(src, off).bitwiseAND(1) == 1, 1
                    ).otherwise(-1)
                ).alias(f"_s{i}")

            sums = hashed2.groupBy("doc_id").agg(
                *[ss(i) for i in range(bits)]
            )
            sig = F.lit(0).cast("bigint")
            for i in range(bits):
                sig = sig + F.when(
                    F.col(f"_s{i}") > 0,
                    F.shiftleft(F.lit(1).cast("bigint"), i),
                ).otherwise(F.lit(0).cast("bigint"))
            old_s = sums.select(F.col("doc_id"), sig.alias("sig"))
            assert norm(D.simhash_frame(d, bits=bits)) == norm(old_s)
    finally:
        sh.unpersist()


def test_evaluate_once_barrier_blocks_filter_inline(spark):
    # evaluate_once's contract (round 13): a threshold filter above a
    # staged expensive column must reference the ATTRIBUTE, not re-inline
    # the expression into a pushed join condition.  Staging alone does
    # not survive PushDownPredicates (second assertion keeps us honest:
    # if Spark ever stops inlining, the barrier is dead weight and
    # should be removed).  Values must be unchanged (the added rand()*0
    # term is identically zero).
    from ominimo_dynamic_data_pipeline_spark.llm.dedup import evaluate_once

    left = spark.range(8).select(
        F.col("id").alias("id_a"),
        F.sequence(F.col("id"), F.col("id") + 5).alias("a"),
    )
    right = spark.range(8).select(
        F.col("id").alias("id_b"),
        F.sequence(F.col("id") + 2, F.col("id") + 9).alias("b"),
    )

    def scored(stage):
        joined = left.join(right, F.col("id_a") <= F.col("id_b"))
        inter = F.size(F.array_intersect("a", "b"))
        return joined.select(
            "id_a", "id_b", stage(inter).alias("_i")
        ).filter(F.col("_i") >= 3)

    guarded = scored(evaluate_once)
    p = plan_of(guarded, "simple")
    assert p.count("array_intersect") == 1, p
    p_bare = plan_of(scored(lambda c: c), "simple")
    assert p_bare.count("array_intersect") > 1, p_bare
    got = sorted(map(tuple, guarded.collect()))
    want = sorted(map(tuple, scored(lambda c: c).collect()))
    assert got == want
