"""Physical-plan regression tests.

Each test pins a scale-critical property a query's docstring claims:
explicit broadcasts stay broadcasts, filters reach the parquet scan,
scans prune to the referenced columns, aggregates partial-combine
map-side, shuffle counts don't silently grow. These are the properties
that decide whether the same plan survives 100 TB — value correctness
is covered separately by the DuckDB oracle suite.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from dungbeetle_spark.plans.inspect import (
    codegen_stages,
    formatted_plan,
    has_broadcast_join,
    has_partial_aggregate,
    pushed_filters,
    scan_schemas,
    shuffle_exchanges,
)
from dungbeetle_spark.queries import registry

SPECS = registry()


@pytest.fixture(scope="module")
def sf(sf_oracle):
    return sf_oracle


def _df(spark, sf, name):
    return SPECS[name].build(spark, sf)


def test_q3_broadcasts_dim_and_avoids_full_sort(spark, sf):
    df = _df(spark, sf, "q3_shipping_priority")
    plan = formatted_plan(df)
    assert has_broadcast_join(df), "customer dim must broadcast"
    assert "TakeOrderedAndProject" in plan, "top-k must not full-sort"
    # all three scans receive pushed filters (mktsegment + both dates)
    assert len(pushed_filters(df)) >= 3


def test_q3_prunes_lineitem_scan(spark, sf):
    df = _df(spark, sf, "q3_shipping_priority")
    li_schemas = [s for s in scan_schemas(df) if "l_orderkey" in s]
    assert li_schemas, "expected a lineitem scan"
    assert "l_comment" not in li_schemas[0]
    # only the 4 referenced columns are read
    assert li_schemas[0].count(":") <= 4


def test_q6_pushes_all_predicates_to_scan(spark, sf):
    df = _df(spark, sf, "q6_forecast_revenue")
    pushed = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} filter must reach the scan"
    assert has_partial_aggregate(df)
    assert shuffle_exchanges(df) <= 1  # single global-agg exchange


def test_q1_partial_aggregates_before_shuffle(spark, sf):
    df = _df(spark, sf, "q1_pricing_summary")
    assert has_partial_aggregate(df)
    # fan_out's spread shuffle + the aggregate's key shuffle, no more
    assert shuffle_exchanges(df) <= 2


def test_fan_out_noops_on_multi_split_source(spark, sf, tmp_path):
    """fan_out is for unsplittable single-row-group local fixtures ONLY.
    Against a source that already scans in >= defaultParallelism splits
    (any real cluster-scale dataset) it must be the identity — q1 then
    plans its single aggregate exchange and nothing else. This pins the
    100 TB behavior: no rand() repartition of the fact table."""
    from dungbeetle_spark.sources.catalog import load_tables

    li = load_tables(spark, sf, ["lineitem"])["lineitem"]
    n = spark.sparkContext.defaultParallelism
    li.repartition(n * 2).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    df = _df(spark, str(tmp_path), "q1_pricing_summary")
    assert shuffle_exchanges(df) <= 1, "fan_out must no-op on multi-split scans"
    assert "rand" not in formatted_plan(df).lower()
    assert has_partial_aggregate(df)


def test_q5_snowflake_dims_broadcast(spark, sf):
    df = _df(spark, sf, "q5_local_supplier_volume")
    assert has_broadcast_join(df)
    plan = formatted_plan(df)
    # region filter prunes at the region scan, not post-join
    assert any("r_name" in p for p in pushed_filters(df))
    assert "SortMergeJoin" not in plan or shuffle_exchanges(df) <= 3


def test_dedup_exact_is_single_shuffle(spark, sf):
    df = _df(spark, sf, "dedup_exact")
    assert shuffle_exchanges(df) == 1
    assert has_partial_aggregate(df)
    # scan reads only doc_id + text
    assert scan_schemas(df) == ["struct<doc_id:bigint,text:string>"]


def test_top_events_uses_window_group_limit(spark, sf):
    df = _df(spark, sf, "top_events_per_user")
    # rank<=k pushes into the shuffle as WindowGroupLimit: each
    # partition keeps k rows per key pre-shuffle instead of sorting
    # whole partitions post-shuffle
    assert "WindowGroupLimit" in formatted_plan(df)


def test_profit_summary_pushes_param_filter(spark, sf):
    df = _df(spark, sf, "profit_summary")
    assert any("user_id" in p for p in pushed_filters(df))


def test_whole_stage_codegen_active(spark, sf):
    for name in ("q1_pricing_summary", "q3_shipping_priority", "dedup_exact"):
        assert codegen_stages(_df(spark, sf, name)) >= 1, name


def test_q18_semi_join_filters_before_wide_join(spark, sf):
    df = _df(spark, sf, "q18_large_volume_orders")
    plan = formatted_plan(df)
    assert "LeftSemi" in plan, "HAVING pre-aggregate must act as a semi-join"


def test_q22_anti_join_with_broadcast_threshold(spark, sf):
    df = _df(spark, sf, "q22_idle_customers")
    plan = formatted_plan(df)
    assert "LeftAnti" in plan
    # the 1-row scalar avg must broadcast, never shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_range_join_keeps_equi_key(spark, sf):
    df = _df(spark, sf, "range_join_order_context")
    plan = formatted_plan(df)
    # the user equi-key must drive the join (SMJ/SHJ/BHJ keyed on it),
    # not degrade to a pure nested-loop over the range predicate
    assert any(
        j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_time_rollup_single_expand_aggregate(spark, sf):
    df = _df(spark, sf, "time_rollup_events")
    plan = formatted_plan(df)
    assert "Expand" in plan, "rollup should expand grouping sets in one pass"
    assert shuffle_exchanges(df) <= 1


def test_q21_single_fact_partitioning_serves_agg_and_windows(spark, sf):
    """The explicit l_orderkey repartition must satisfy both the
    composite-key aggregate and the window partitioning — the fact
    shuffles once, not once per operator."""
    df = _df(spark, sf, "q21_latest_shippers")
    # orderkey spread + the tiny post-filter s_name aggregate, no more
    assert shuffle_exchanges(df) <= 2
    assert has_broadcast_join(df), "supplier dim must broadcast"


def test_q8_q9_broadcast_snowflake_single_fact_shuffle(spark, sf):
    for name in ("q8_market_share", "q9_product_profit"):
        df = _df(spark, sf, name)
        assert has_broadcast_join(df), name
        assert has_partial_aggregate(df), name
        # dims broadcast; the only exchanges are the (possible) fact-
        # fact orders join and the group-by key
        assert shuffle_exchanges(df) <= 3, name


def test_q11_q15_scalar_from_reaggregation_not_rescan(spark, sf):
    """The global scalar (total value / max revenue) must come from
    re-aggregating the small per-key aggregate, never a second scan
    of the fact table."""
    for name, fact_col in (
        ("q11_important_parts", "l_partkey"),
        ("q15_top_supplier", "l_suppkey"),
    ):
        df = _df(spark, sf, name)
        fact_scans = [s for s in scan_schemas(df) if fact_col in s]
        assert len(fact_scans) <= 2, (name, fact_scans)
        assert has_broadcast_join(df), name


def test_tfidf_prunes_topk_and_scans_narrow(spark, sf):
    df = _df(spark, sf, "tfidf_top_terms")
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan, "rank<=3 must prune pre-shuffle"
    assert has_partial_aggregate(df), "tf counts must combine map-side"
    # every documents scan is narrow: the words pipeline reads exactly
    # (doc_id, text); the corpus-size scalar reads zero columns
    for s in scan_schemas(df):
        assert s in ("struct<doc_id:bigint,text:string>", "struct<>"), s


def test_partitioned_result_read_prunes_partitions(spark, sf, tmp_path):
    """A `partition_by` result table must give downstream readers real
    partition pruning: filtering on the partition column reads only
    that partition's files."""
    from dungbeetle_spark.results import ParquetResultBackend
    from dungbeetle_spark.sources.catalog import load_tables

    e = load_tables(spark, sf, ["events"])["events"]
    agg = e.groupBy("event_type", "user_id").count()
    backend = ParquetResultBackend("plans", str(tmp_path))
    backend.write("ptest", "t", agg, partition_by=["event_type"])
    out = backend.read(spark, "ptest").filter(F.col("event_type") == "click")
    plan = formatted_plan(out)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan[:800]
    # and the pruned read returns exactly the one partition's rows
    expected = agg.filter(F.col("event_type") == "click").count()
    assert expected > 0, "fixture must have a click partition"
    assert out.count() == expected


def test_hash_split_is_shuffle_free(spark, sf):
    df = _df(spark, sf, "hash_split_train_test")
    assert shuffle_exchanges(df) == 0, "split must stay a narrow projection"
    assert scan_schemas(df) == ["struct<doc_id:bigint>"]


def test_q17_decorrelated_average_broadcasts_back(spark, sf):
    df = _df(spark, sf, "q17_small_quantity_revenue")
    assert has_broadcast_join(df), "per-part average must broadcast onto the fact"
    assert shuffle_exchanges(df) <= 2
    # both lineitem scans are narrow projections
    for s in scan_schemas(df):
        assert "l_comment" not in s and s.count(":") <= 3, s


def test_curation_narrow_ops_stay_shuffle_free(spark, sf):
    """stratified_sample and doc_chunking are pure map-side work: any
    exchange appearing here would shuffle the full corpus for nothing
    at 100 TB."""
    assert shuffle_exchanges(_df(spark, sf, "stratified_sample")) == 0
    assert shuffle_exchanges(_df(spark, sf, "doc_chunking")) == 0
    # sampling never reads the text column
    for s in scan_schemas(_df(spark, sf, "stratified_sample")):
        assert "text" not in s, s


def test_heavy_hitters_partial_agg_and_topk(spark, sf):
    df = _df(spark, sf, "heavy_hitters")
    assert has_partial_aggregate(df), "token counts must combine map-side"
    assert "TakeOrderedAndProject" in formatted_plan(df), "top-k must not full-sort"


def test_interval_overlap_single_shuffle(spark, sf):
    """The sweep-line's groupBy(user_id) must reuse the window's
    user_id partitioning — one exchange total. A second exchange means
    the union output got reshuffled for the final max."""
    assert shuffle_exchanges(_df(spark, sf, "interval_overlap")) == 1


def test_sequence_pack_ships_counts_not_text(spark, sf):
    """Only (bucket, doc_id, n_tokens) may cross into Python — the
    Arrow batch must never carry the text column."""
    df = SPECS["sequence_pack"].build(spark, sf)
    plan = formatted_plan(df)
    m = re.search(r"ArrowEvalPython|FlatMapGroupsInPandas", plan)
    assert m, "expected an Arrow applyInPandas node"
    # the scan is pruned to exactly the two columns the tokenizer needs
    assert scan_schemas(df) == ["struct<doc_id:bigint,text:string>"]
    # the exchange feeding Python carries 3 narrow columns only
    assert "bucket" in plan and "n_tokens" in plan
    assert not re.search(r"FlatMapGroupsInPandas.*text", plan)


def test_outliers_single_shuffle_stats_broadcast(spark, sf):
    """user_value_outliers: ONE shuffle (the per-user moments agg);
    the stats frame broadcasts back onto the events — z-scoring must
    never reshuffle the fact side."""
    df = _df(spark, sf, "user_value_outliers")
    assert shuffle_exchanges(df) == 1
    assert has_broadcast_join(df)
    assert "SortMergeJoin" not in formatted_plan(df)


def test_funnel_and_cohort_avoid_sort_merge(spark, sf):
    """Stage joins ride broadcasts of the per-user aggregates; no
    stage should fall back to a sort-merge join of fact-sized sides."""
    for name in ("funnel_conversion", "cohort_retention"):
        df = _df(spark, sf, name)
        assert has_broadcast_join(df), name
        assert "SortMergeJoin" not in formatted_plan(df), name


def test_domain_quota_under_quota_rows_bypass_window(spark, sf):
    """The scale plan: ONLY over-quota domains feed the rank window;
    the under-quota majority routes through a broadcast anti-join and
    never shuffles on the (skewed) source key."""
    df = _df(spark, sf, "domain_quota_sample")
    plan = formatted_plan(df)
    assert len(re.findall(r"\(\d+\)\s+Window\b", plan)) == 1, "one window only"
    # the bypass branch: broadcast LEFT ANTI against the over-quota list
    assert "BroadcastHashJoin LeftAnti" in plan, plan
    assert "Union" in plan
    # the window branch filters to over-quota sources BEFORE ranking
    assert "BroadcastHashJoin Inner" in plan
    # neither branch ever reads text
    for s in scan_schemas(df):
        assert "text" not in s, s


def test_repetition_stats_two_keyed_aggregates_narrow_scan(spark, sf):
    """repetition_stats: gram counting + per-doc rollup are exactly two
    keyed shuffles (both keys include doc_id — load spreads with the
    corpus) on top of the fan_out salt repartition, both aggregates
    partial-combine map-side, and the scan reads only (doc_id, text)."""
    df = _df(spark, sf, "repetition_stats")
    plan = formatted_plan(df)
    assert shuffle_exchanges(df) == 3  # fan_out + 2 aggregates
    assert plan.count("REPARTITION_BY_NUM") == 1  # the fan_out salt
    assert has_partial_aggregate(df)
    assert scan_schemas(df) == ["struct<doc_id:bigint,text:string>"]


def test_semdedup_each_embedding_shuffles_once(spark, sf):
    """semdedup: no join in the plan at all — the centroid matrix
    rides the task closure, assignment is a narrow Arrow pass, and
    each embedding crosses the wire exactly once in the cluster-keyed
    applyInPandas shuffle (plus the per-dropped-id rollup of the tiny
    pair output). A relational pair join here was measured 5× slower
    (ships Σ|cluster|² embedding pairs)."""
    df = _df(spark, sf, "semdedup")
    plan = formatted_plan(df)
    assert "Join" not in plan
    # fan_out salt + cluster groupBy + final rollup, nothing more
    assert shuffle_exchanges(df) <= 3
    assert "FlatMapGroupsInPandas" in plan  # the blocked numpy sweep


def test_ann_ivf_assignment_is_narrow_probe_join_broadcasts(spark, sf):
    """ann_ivf: centroid assignment is a closure-broadcast Arrow pass
    (MapInPandas — no join, no window sort over n×k rows); the only
    join is the tiny probe table broadcast onto the assigned corpus;
    re-rank pairs never sort-merge."""
    df = _df(spark, sf, "ann_ivf")
    plan = formatted_plan(df)
    assert "MapInPandas" in plan
    assert has_broadcast_join(df)
    assert "SortMergeJoin" not in plan
    # fan_out salt + (at most) re-rank window partitioning
    assert shuffle_exchanges(df) <= 3


def test_quality_filter_funnel_is_shuffle_free_narrow_scan(spark, sf):
    """quality_filter_funnel: verdicts are pure codegen column
    expressions — no shuffle beyond the fan_out salt, no join, and the
    scan reads only (doc_id, lang, text)."""
    df = _df(spark, sf, "quality_filter_funnel")
    plan = formatted_plan(df)
    assert "Join" not in plan
    assert shuffle_exchanges(df) == 1  # the fan_out salt only
    assert scan_schemas(df) == ["struct<doc_id:bigint,text:string,lang:string>"]


def test_dsir_weight_table_broadcasts_corpus_shuffles_by_doc(spark, sf):
    """dsir_importance_weights: the ≤256-row bucket-weight table and
    the 1-row totals broadcast; the ONLY sort-merge allowed is the
    final doc_id-keyed completion join (corpus-sized on both sides —
    the correct shuffle join at any scale), so the corpus crosses the
    wire for keyed work, never for the scoring join."""
    df = _df(spark, sf, "dsir_importance_weights")
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    smj_nodes = re.findall(r"^\(\d+\) SortMergeJoin", plan, re.M)
    assert len(smj_nodes) <= 1
    assert has_partial_aggregate(df)


def test_kmeans_iterations_are_narrow_python_passes(spark, sf):
    """kmeans_clusters: centroids ride the closure — the per-vector
    output plan has NO join and no shuffle at all beyond the fan_out
    salt; assignment is one MapInPandas pass."""
    df = _df(spark, sf, "kmeans_clusters")
    plan = formatted_plan(df)
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert shuffle_exchanges(df) == 1  # the fan_out salt only


def test_exact_substring_single_hash_pass_no_similarity_join(spark, sf):
    """dedup_exact_substring: the duplicate test is a min≠max window
    over the 16-byte md5 partition — each position row shuffles ONCE
    on the hash (never the 40-char text), there is no similarity join
    at all (the only join is the doc_id completion join), and the
    explode+md5 subtree is evaluated exactly once."""
    df = _df(spark, sf, "dedup_exact_substring")
    plan = formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1
    joins = re.findall(r"^\(\d+\) \w*Join\w*", plan, re.M)
    assert len(joins) <= 1, joins  # the doc_id completion join only
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 1  # one explode
    assert has_partial_aggregate(df)


def test_fuzzy_join_blocks_never_cross_join(spark, sf):
    """fuzzy_join_customers: candidates come from the variant-key
    equi-join — no cartesian/nested-loop anywhere, the variant explode
    stays scan-side, and the shuffle keys on the 16-byte block md5."""
    df = _df(spark, sf, "fuzzy_join_customers")
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan  # the variant explode


def test_cross_source_matrix_bounded_output_no_nested_loop(spark, sf):
    """cross_source_overlap_matrix: candidates come from the hash
    equi-join over distinct (hash, source) rows — no cartesian/nested
    loop, partial aggregation on the tiny pair rollup, one explode."""
    df = _df(spark, sf, "cross_source_overlap_matrix")
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert has_partial_aggregate(df)


def test_curriculum_constant_rarity_keeps_three_scans(spark, sf):
    """curriculum_buckets: the constant-numerator rarity means NO
    scalar-total subtree — the documents table scans at most 3 times
    (vocabulary build, rarity probe side, doc_id completion join), the
    vocabulary joins as a hash join with no nested loop anywhere, and
    partial aggregation covers both corpus-keyed aggregates."""
    df = _df(spark, sf, "curriculum_buckets")
    plan = formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) <= 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_curriculum_stage_assignment_never_single_partition(spark, sf):
    """VERDICT r06 item 3: the r06 stage NTILE pulled one row per doc
    through an Exchange SinglePartition task. The prefix-sum rework
    must keep the doc-scale rank window partitioned by pid (fed by a
    hash exchange over the checkpointed ranged frame), leaving at most
    the |partitions|-row offsets window global — which rides a
    BroadcastExchange, never doc-scale data."""
    from dungbeetle_spark.plans.inspect import single_partition_windows

    df = _df(spark, sf, "curriculum_buckets")
    plan = formatted_plan(df)
    # checkpointed ranged frame: downstream reads a materialized RDD,
    # nondeterministic pids are facts of the data now
    assert "rangepartitioning" not in plan.lower()
    assert "ExistingRDD" in plan
    flagged = single_partition_windows(plan)
    assert len(flagged) <= 1
    # the doc-scale row_number window is pid-partitioned, not global:
    # its windowspecdefinition carries the pid partition column
    m = re.search(
        r"Arguments: \[row_number\(\) windowspecdefinition\(_pid#\d+,",
        plan,
    )
    assert m, "doc-scale rank window must partition by pid"
    assert has_broadcast_join(df)


def test_rfm_scores_never_single_partition(spark, sf):
    """VERDICT r06 item 5: the three NTILE(5) quintiles were global
    windows over ALL purchasing users — the registry's largest
    single-partition frame. Each score is now a ranks.global_ntile
    prefix-sum pass; the only global window left is the last pass's
    |partitions|-row offset table."""
    from dungbeetle_spark.plans.inspect import single_partition_windows

    df = _df(spark, sf, "rfm_segments")
    plan = formatted_plan(df)
    assert "rangepartitioning" not in plan.lower()
    assert "ExistingRDD" in plan
    # one offsets window per rank pass, every one over the
    # |partitions|-row counts frame (input carries _pc), never
    # user-scale data
    flagged = single_partition_windows(plan)
    assert len(flagged) <= 3
    for label in flagged:
        wid = re.search(r"\((\d+)\)", label).group(1)
        block = re.search(
            rf"\({wid}\) Window\nInput \[\d+\]: \[([^\]]*)\]", plan
        ).group(1)
        assert "_pc#" in block, f"global window over non-offsets frame: {block}"
    m = re.search(
        r"Arguments: \[row_number\(\) windowspecdefinition\(_pid#\d+,",
        plan,
    )
    assert m, "user-scale rank window must partition by pid"
    assert has_broadcast_join(df)


def test_lateral_decorrelates_to_window_rank(spark, sf):
    """lateral_topk_orders: Catalyst must decorrelate the LATERAL
    subquery into a ranked window over ONE orders shuffle — never a
    per-customer nested-loop re-execution."""
    df = _df(spark, sf, "lateral_topk_orders")
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan  # top-1 prunes pre-shuffle
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)) == 0


def test_unpivot_is_expand_not_rescans(spark, sf):
    """unpivot_user_metrics: the melt is one Expand over the single
    user aggregate — not four UNION ALL re-scans of events (the shape
    the oracle spells out)."""
    df = _df(spark, sf, "unpivot_user_metrics")
    plan = formatted_plan(df)
    assert "Expand" in plan
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert shuffle_exchanges(df) <= 1


def test_activity_streaks_two_shuffles_then_reuse(spark, sf):
    """activity_streaks: shuffle #1 carries the map-side-deduplicated
    (user, day) pairs, shuffle #2 re-keys that tiny day set on user_id
    for the window — and the island + streak aggregates both ride the
    window's partitioning exchange-free (subset clustering). A third
    exchange would mean the reuse broke."""
    df = _df(spark, sf, "activity_streaks")
    plan = formatted_plan(df)
    assert shuffle_exchanges(df) == 2
    # partial (map-side) distinct before the first exchange
    assert has_partial_aggregate(df)
    # window output feeds aggregates directly: no exchange between the
    # Window operator and the final plan root
    window_pos = plan.index("Window")
    assert "Exchange" not in plan[:window_pos].split("AdaptiveSparkPlan")[-1]


def test_collated_group_single_shuffle(spark, sf):
    """collated_event_type_counts: collation-aware grouping still
    partial-aggregates map-side and moves one exchange; the collated
    key falls back to SortAggregate (collated strings are not
    hash-aggregable) which is the expected physical shape, not a bug."""
    df = _df(spark, sf, "collated_event_type_counts")
    assert shuffle_exchanges(df) == 1
    plan = formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1


def test_recursive_spine_broadcasts_to_daily_counts(spark, sf):
    """recursive_daily_spine: the spine (one row per day of history)
    must join the daily aggregate as the broadcast side — shuffling a
    100 TB fact table to meet a thousand-row spine would be backwards."""
    df = _df(spark, sf, "recursive_daily_spine")
    assert has_broadcast_join(df)
    # events scans once for bounds, once for daily counts; the spine
    # recursion re-reads nothing
    plan = formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) <= 2


def test_ordered_set_aggs_single_pass(spark, sf):
    """ordered_set_event_stats: mode + both percentile_disc run inside
    ONE aggregate over one event_type exchange — not one pass per
    ordered-set aggregate."""
    df = _df(spark, sf, "ordered_set_event_stats")
    plan = formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert shuffle_exchanges(df) <= 2


def test_listagg_broadcasts_nation_dim(spark, sf):
    """listagg_nation_suppliers: nation is a broadcast dim; the only
    exchange is the listagg's own group-by on n_name."""
    df = _df(spark, sf, "listagg_nation_suppliers")
    assert has_broadcast_join(df)
    assert shuffle_exchanges(df) <= 1


def test_timeseries_topk_broadcasts_query_profile(spark, sf):
    """timeseries_topk_similar_users: the query user's profile and
    norm ride broadcasts; the top-k is a TakeOrdered(Global)Limit over
    user-cardinality rows, never a full global Sort of the corpus."""
    df = _df(spark, sf, "timeseries_topk_similar_users")
    assert has_broadcast_join(df)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan


def test_zorder_single_aggregate_shuffle_all_codegen(spark, sf):
    df = _df(spark, sf, "zorder_layout_stats")
    plan = formatted_plan(df)
    # the Morton key is pure bitwise codegen — no UDF, no window
    assert "BatchEvalPython" not in plan and "Window" not in plan
    assert has_partial_aggregate(df)
    assert shuffle_exchanges(df) <= 1, "zone-map agg is the only shuffle"
    # scan reads only the two layout dimensions
    schemas = scan_schemas(df)
    assert schemas and "o_totalprice" not in schemas[0]


def test_join_skew_profile_prunes_each_scan_to_one_column(spark, sf):
    df = _df(spark, sf, "join_skew_profile")
    schemas = [s for s in scan_schemas(df) if "l_" in s]
    assert len(schemas) == 3, "one single-column pass per join key"
    for s in schemas:
        assert s.count(":") == 1, f"scan must read exactly one column: {s}"
    assert has_partial_aggregate(df)


def test_anomaly_zscore_preaggregates_before_window(spark, sf):
    df = _df(spark, sf, "anomaly_daily_zscore")
    plan = formatted_plan(df)
    # the rolling frame must run over the daily pre-aggregate, never
    # raw events: partial agg exists and the Window sits above the agg
    assert has_partial_aggregate(df)
    agg_ids = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan)]
    win_ids = [int(m) for m in re.findall(r"\((\d+)\) Window", plan)]
    assert agg_ids and win_ids
    # operator ids count from the scan upward: the aggregate must be
    # a lower id (earlier stage) than the window that consumes it
    assert min(agg_ids) < min(win_ids), "window must consume the aggregate"
    assert "BatchEvalPython" not in plan


def test_incremental_maintenance_merges_without_join(spark, sf):
    df = _df(spark, sf, "incremental_agg_maintenance")
    plan = formatted_plan(df)
    # mergeable-monoid union + re-agg: there must be NO join operator
    assert "Join" not in plan, "partial-aggregate merge must not join"
    assert plan.count("Union") >= 1
    assert has_partial_aggregate(df)
    # both branch scans carry the cutoff date pushdown
    assert len(pushed_filters(df)) >= 2


def test_triangle_joins_run_on_materialized_edges(spark, sf):
    df = _df(spark, sf, "triangle_cohorts")
    plan = formatted_plan(df)
    # edges are localCheckpoint'd: the wedge + closure joins and the
    # node explode must NOT re-execute the fact-scan pipeline
    assert "Scan parquet" not in plan, "joins must consume the checkpoint"
    assert "Generate" in plan, "node expansion is one explode, not unions"
    assert shuffle_exchanges(df) <= 5


def test_bitmap_distinct_shuffles_bitmaps_not_ids(spark, sf):
    df = _df(spark, sf, "bitmap_distinct_users")
    plan = formatted_plan(df)
    assert has_partial_aggregate(df), "bucket bitmaps must combine map-side"
    # first agg keyed (type, bucket), popcount re-agg keyed (type):
    # two exchanges max, and no raw-id distinct (Expand/distinct agg)
    assert shuffle_exchanges(df) <= 2
    assert "bitmap" in plan.lower(), "bitmap aggregate must survive planning"
    assert scan_schemas(df) == ["struct<ts:bigint,user_id:bigint,event_type:string>"] or all(
        "props" not in s for s in scan_schemas(df)
    )


def test_scd2_single_user_shuffle_serves_all_stages(spark, sf):
    df = _df(spark, sf, "scd2_user_type_history")
    # the explicit user_id repartition must satisfy the daily agg,
    # both windows, and the interval agg: exactly one exchange. (No
    # partial-agg assertion: with the distribution pre-satisfied,
    # Spark plans the aggregates complete-mode — nothing crosses a
    # wire to partially combine for.)
    assert shuffle_exchanges(df) == 1


def test_hybrid_rrf_broadcasts_small_sides_no_cartesian(spark, sf):
    df = _df(spark, sf, "hybrid_rrf_retrieval")
    plan = formatted_plan(df)
    assert has_broadcast_join(df), "query matrix + query tokens must broadcast"
    assert "CartesianProduct" not in plan
    # sparse side is an equi-join on the token posting lists
    assert "WindowGroupLimit" in plan, "fusion-depth rank must prune early"


def test_vocab_growth_window_rides_the_bucket_aggregate(spark, sf):
    df = _df(spark, sf, "vocab_growth")
    plan = formatted_plan(df)
    assert has_partial_aggregate(df)
    agg_ids = [int(m) for m in re.findall(r"\((\d+)\) HashAggregate", plan)]
    win_ids = [int(m) for m in re.findall(r"\((\d+)\) Window", plan)]
    assert agg_ids and win_ids and min(agg_ids) < min(win_ids)


def test_source_lang_drift_single_corpus_shuffle(spark, sf):
    df = _df(spark, sf, "source_lang_drift")
    # corpus reduces to |sources|x|langs| cells in one aggregate
    # shuffle; the three marginal windows add their own tiny
    # exchanges over that cell table only
    assert has_partial_aggregate(df)
    schemas = scan_schemas(df)
    assert schemas and all("text" not in s for s in schemas), (
        "drift audit must not read document text"
    )


def test_funnel_time_bounded_matches_unbounded_shape(spark, sf):
    bounded = _df(spark, sf, "funnel_time_bounded")
    unbounded = _df(spark, sf, "funnel_conversion")
    # the 72h bound is a post-join filter: it must not add shuffles
    assert shuffle_exchanges(bounded) <= shuffle_exchanges(unbounded) + 1


def test_aqe_splits_skewed_join_at_runtime(spark):
    """Empirical scale evidence for the skew story the salting and
    join_skew_profile docstrings tell: on a join with one hot key
    (30x the rest combined), AQE must detect the oversized shuffle
    partition at RUNTIME and split it — the executed plan carries
    SortMergeJoin(skew=true) over an 'AQEShuffleRead … skewed'. This
    is the mechanism that absorbs residual skew a pre-flight profile
    missed, without rewriting the query."""
    s = spark.newSession()
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }.items():
        s.conf.set(k, v)
    big = s.range(300_000).select(
        F.lit(0).alias("k"), F.col("id").alias("v")
    ).union(
        s.range(9_900).select((F.col("id") % 99 + 1).alias("k"), F.col("id").alias("v"))
    )
    dim = s.range(10_000).select(
        (F.col("id") % 100).alias("k"), (F.col("id") * 2).alias("w")
    )
    j = big.join(dim, "k")
    # finalize THIS DataFrame's adaptive plan (count()/write spawn a
    # separate QueryExecution whose final plan we could not inspect)
    qe = j._jdf.queryExecution()
    assert qe.toRdd().count() == 30_990_000
    plan = j._sc._jvm.PythonSQLUtils.explainString(qe, "simple")
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, "AQE must split the hot-key partition"


def test_dynamic_partition_pruning_reaches_partitioned_scan(spark, sf, tmp_path):
    """A hive-partitioned fact table joined to a filtered dim must get
    a runtime partition filter (DPP): the fact scan's PartitionFilters
    carry a dynamicpruning expression derived from the dim's filter,
    so only the joined partitions are read — the mechanism that turns
    a 100 TB full scan into a handful of partition reads when the
    dim side narrows the key space."""
    from dungbeetle_spark.sources.catalog import load_tables

    o = load_tables(spark, sf, ["orders"])["orders"]
    fact_dir = str(tmp_path / "orders_by_status")
    o.write.partitionBy("o_orderstatus").mode("overwrite").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    dim = (
        spark.createDataFrame(
            [("F", "finished"), ("O", "open"), ("P", "pending")],
            "status string, label string",
        ).filter(F.col("label") == "open")
    )
    j = fact.join(dim, fact.o_orderstatus == dim.status).select("o_orderkey", "label")
    plan = formatted_plan(j)
    assert "dynamicpruning" in plan.lower(), "DPP filter must reach the fact scan"


def test_aqe_switches_to_broadcast_when_runtime_size_is_small(spark):
    """AQE's runtime join-strategy switch: a join planned sort-merge
    (both sides unknown-large) must become a BroadcastHashJoin once
    the shuffle stats reveal one side is tiny — the safety net that
    saves a 100 TB shuffle when a filter was more selective than the
    optimizer's estimate."""
    s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "1048576")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    big = s.range(200_000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("v")
    )
    # aggregate hides the true size from static planning; runtime
    # stats show ~100 rows -> broadcastable
    small = (
        s.range(1_000_000)
        .select((F.col("id") % 100).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    j = big.join(small, "k")
    qe = j._jdf.queryExecution()
    assert qe.toRdd().count() == 200_000
    plan = j._sc._jvm.PythonSQLUtils.explainString(qe, "simple")
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan, "runtime stats must flip SMJ to BHJ"


def test_pareto_prefix_sum_is_range_partitioned_not_global_window(spark, sf):
    df = _df(spark, sf, "pareto_revenue_share")
    plan = formatted_plan(df)
    # the ranged+pid frame is checkpointed (nondeterministic pids must
    # not be recomputed per consumer), so downstream consumes a
    # materialized RDD scan, NOT a re-executed range exchange
    assert "rangepartitioning" not in plan.lower()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan.replace(" ", "")
    # the customer-scale cumsum windows by pid — never an
    # unpartitioned window over customer-scale data (the only
    # unpartitioned windows ride the |partitions|-row offset table)
    assert "Window" in plan
    # offsets ride a broadcast join back to the ranged rows
    assert has_broadcast_join(df)


# -- r06 operators ----------------------------------------------------------

def test_skipgram_pairs_no_join_inline_pairs(spark, sf):
    """Pair generation must stay an inline array transform in the
    scan — never an inverted-index self-join (which would be
    Σ|posting|² for a statistic that is linear by construction)."""
    df = _df(spark, sf, "skipgram_pairs")
    plan = formatted_plan(df)
    assert "Join" not in plan, "skip-gram pairs must not plan a join"
    assert has_partial_aggregate(df)
    assert "TakeOrderedAndProject" in plan, "top-k must not full-sort"


def test_readability_is_pure_scan_project(spark, sf):
    df = _df(spark, sf, "readability_scores")
    plan = formatted_plan(df)
    assert "Join" not in plan
    # fan_out may add its spread exchange on the single-file fixture;
    # nothing else is allowed to shuffle a pure projection
    assert shuffle_exchanges(df) <= 1
    schemas = [s for s in scan_schemas(df) if "text" in s]
    assert schemas and "source" not in schemas[0], "scan must prune"


def test_mad_outliers_broadcasts_tiny_stat_frames(spark, sf):
    """The per-type median and MAD frames (5 rows) must broadcast
    back onto the fact — a shuffle join here would move the corpus
    twice more for a 5-row lookup."""
    df = _df(spark, sf, "mad_outliers")
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "SortMergeJoin" not in plan


def test_rfm_pushes_purchase_filter_and_preaggregates(spark, sf, monkeypatch):
    """The prefix-sum rework checkpoints the ranged frame, so the
    final plan no longer shows the events scan — pin the scan-side
    properties on the first frame handed to localCheckpoint (full
    lineage: range exchange over the per-user aggregate over the
    filtered scan)."""
    # Spark 4: concrete sessions build classic.DataFrame instances,
    # which override the pyspark.sql.DataFrame facade's methods — the
    # spy must land on the concrete class.
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pre-classic layouts
        from pyspark.sql import DataFrame

    captured = []
    orig = DataFrame.localCheckpoint

    def spy(self, *a, **k):
        captured.append(self)
        return orig(self, *a, **k)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    _df(spark, sf, "rfm_segments")
    assert captured, "rework must checkpoint the ranged frames"
    first = captured[0]
    pushed = " ".join(pushed_filters(first))
    assert "event_type" in pushed, "purchase filter must reach the scan"
    assert has_partial_aggregate(first), "per-user RFM must combine map-side"


def test_chisq_preaggregates_before_marginal_windows(spark, sf):
    """The only fact-scale pass is the contingency aggregate; the
    three marginal windows run over the |types|x7 cell frame."""
    df = _df(spark, sf, "chisq_dow_independence")
    assert has_partial_aggregate(df)
    plan = formatted_plan(df)
    assert "Join" not in plan


def test_session_path_single_user_window_then_takeordered(spark, sf):
    df = _df(spark, sf, "session_path_topk")
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    # user window exchange + path aggregate exchange (+ fixture
    # fan_out); the LEAD window must not add extra shuffles
    assert shuffle_exchanges(df) <= 3


def test_dedup_savings_no_join_single_hash_window(spark, sf):
    df = _df(spark, sf, "dedup_savings_report")
    plan = formatted_plan(df)
    assert "Join" not in plan
    assert has_partial_aggregate(df)
    # content-hash window exchange + source aggregate (+ fan_out)
    assert shuffle_exchanges(df) <= 3


def test_containment_shuffle_hash_join_on_hashed_shingles(spark, sf):
    """Same contract as dedup_ngram_jaccard: the shingle equi-join is
    shuffle-hash on the 8-byte xxhash key — never broadcast (an
    exploded corpus must not broadcast) and never nested-loop.
    (Exchange-reuse does NOT fire for this self-join in Spark 4.1 —
    measured in r06, 0 ReusedExchange in the executed plan — so the
    pipeline runs once per side; the measured trade study of the
    alternatives lives in dedup_ngram_jaccard's body.)"""
    df = _df(spark, sf, "dedup_containment")
    plan = formatted_plan(df)
    assert "ShuffledHashJoin" in plan
    assert "NestedLoop" not in plan
    assert "BroadcastHashJoin" not in plan


def test_epoch_allocation_single_fact_pass(spark, sf):
    df = _df(spark, sf, "source_epoch_allocation")
    assert has_partial_aggregate(df)
    schemas = scan_schemas(df)
    assert len(schemas) == 1, "one corpus scan only"


def test_sketch_checked_splits_exact_distinct_from_sketch_agg(spark, sf):
    """The sketch aggregate and the exact-distinct twin must be
    SEPARATE aggregates joined on the 5-row frame (broadcast):
    folding countDistinct into the sketch aggregate re-keys every
    percentile/HLL buffer per (type, user) — a measured 9x cliff.
    Two narrow scans are the price; per-user object-agg state is the
    thing that cannot scale."""
    df = _df(spark, sf, "sketch_user_stats")
    plan = formatted_plan(df)
    schemas = scan_schemas(df)
    assert len(schemas) == 3, (
        "sketch agg, exact-percentile twin and exact-distinct twin "
        "scan separately"
    )
    assert has_broadcast_join(df), "5-row exact frames must broadcast"
    assert has_partial_aggregate(df)
    # the pathological shape: object aggregates keyed by user_id
    assert not re.search(
        r"ObjectHashAggregate\(keys=\[event_type#\d+, user_id", plan
    ), "sketch buffers must never be keyed per user"
    # ADVICE r06: the sketch pass must hold ONLY bounded-memory state —
    # exact percentile (buffers every value per group) rides its own
    # aggregate, never the approx_count_distinct one
    for m in re.finditer(
        r"Functions: \[([^\]]*)\]", plan
    ):
        fns = m.group(1)
        if "approx_count_distinct" in fns:
            assert "percentile(" not in fns, (
                "exact percentile must not share the sketch aggregate"
            )


def test_registry_wide_no_cartesian_and_no_fact_nlj(spark, sf):
    """Whole-registry invariant (tools/plan_audit.py, PLANS.md): no
    query anywhere plans a CartesianProduct — an unkeyed fact-fact
    cross is always a regression — and every BroadcastNestedLoopJoin
    belongs to the documented 1-row-scalar broadcast class (bounded
    count pinned here so a new fact-side NLJ can't hide in the
    herd)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import plan_audit

    rows, skipped = plan_audit.audit(spark, sf)
    assert len(rows) >= 130, (len(rows), skipped)
    cart = [r["query"] for r in rows if r["cart"]]
    assert not cart, f"CartesianProduct planned in: {cart}"
    bnlj = sorted(r["query"] for r in rows if r["bnlj"])
    known_scalar_broadcast = {
        "q22_idle_customers", "tfidf_top_terms", "dataset_mix_weighted",
        "dsir_importance_weights", "frequent_item_pairs",
        "hybrid_rrf_retrieval", "integrity_audit", "q11_important_parts",
        "timeseries_topk_similar_users",
        # r07: the duplicate-cluster histogram's 1-row corpus total
        "dedup_cluster_histogram",
        # r07: the Bloom filter as ONE broadcast map row (<=4096
        # entries, ~64 KB constant regardless of corpus size) crossed
        # into the gram frame — probing is a pure projection
        "bloom_decontamination",
        # r07: 1-row totals frames (tot_tokens/tot_w; corpus log2
        # total) crossed into catalog-sized or broadcast-joined frames
        "dataset_mix_temperature",
        "char_bigram_surprisal",
        # r08: two 1-row Bloom-filter map rows (one per epoch
        # boundary) broadcast-crossed into the probe side
        "epoch_ngram_novelty",
        # r08: 1-row corpus-total frames (token total N1; N1 + n_docs)
        # broadcast-crossed into the vocab-grain scoring joins
        "kl_divergence_by_source",
        "pmi_collocations",
        # r08: the |sources| x |sources| totals grid (two catalog-
        # bounded ~20-row frames crossed, plus the 1-row vocab-size
        # scalar) — bounded by domain count, never fact data; the
        # corpus-derived work is the word-keyed self-join
        "cross_source_ce_matrix",
        # r10: the 1-row truncated_buckets audit frame the density cap
        # surfaces, broadcast-crossed onto the capped pair output
        # (operator docstring: "The 1-row audit frame broadcasts")
        "dedup_minhash_lsh",
        # r11: the same 1-row audit class — capped_buckets from the
        # leader-probed corpus index, broadcast-crossed onto the
        # batch-bounded ingest verdicts (operator docstring: "The
        # 1-row audit frame broadcasts")
        "dedup_minhash_incremental",
        # r11: two 1-row scalar frames — the corpus doc count crossed
        # into the shingle-DF stop filter, and the stop_shingles audit
        # crossed onto the flag output (operator docstring: the stop
        # set and audit frames broadcast)
        "fuzzy_decontamination",
        # r12: the same 1-row audit class — the capped exact planner's
        # truncated_buckets frame, broadcast-crossed onto the 1-row
        # config-count frame (operator docstring: capped-exact counts
        # with the truncation disclosed per run)
        "lsh_band_planner",
        # r14: the 1-row corpus-size frames (nd_prev and its
        # delta-adjusted nd_new) broadcast-crossed into the stop-
        # threshold filters over the prev/refreshed DF-count tables —
        # the same scalar class as fuzzy_decontamination's doc-count
        # cross (fate_delta._nd_frames / _stops_from_df docstrings)
        "fate_reference_maintenance",
    }
    unexpected = [q for q in bnlj if q not in known_scalar_broadcast]
    assert not unexpected, (
        "new BroadcastNestedLoopJoin outside the documented scalar-"
        f"broadcast class — justify in its docstring and here: {unexpected}"
    )


def test_single_partition_window_detector_fires_and_clears(spark):
    """ADVICE r06: the audit's global-window detector was structurally
    dead (formatted explain splits tree and Arguments across lines) —
    PLANS.md showed '—' for every query including the real global
    NTILEs. Pin the structural detector on both polarities so it can't
    silently die again."""
    from pyspark.sql import Window as W

    from dungbeetle_spark.plans.inspect import single_partition_windows

    global_ntile = spark.range(100).withColumn(
        "b", F.ntile(5).over(W.orderBy("id"))
    )
    assert single_partition_windows(formatted_plan(global_ntile))

    partitioned = (
        spark.range(100)
        .withColumn("g", F.col("id") % 10)
        .withColumn("b", F.ntile(5).over(W.partitionBy("g").orderBy("id")))
    )
    assert single_partition_windows(formatted_plan(partitioned)) == []

    # a global agg's SinglePartition exchange must NOT read as a window
    global_agg = spark.range(100).agg(F.sum("id").alias("s"))
    assert single_partition_windows(formatted_plan(global_agg)) == []


def test_token_gini_single_scan_windows_on_source_frame(spark, sf):
    """token_gini_by_source: one fact-scale scan partial-combining to
    |sources| rows; every window (rank, Lorenz cumsum, Gini totals)
    runs over that catalog-sized frame. The global windows are the
    benign bounded class — assert they see the aggregated 2-column
    frame, not documents."""
    df = _df(spark, sf, "token_gini_by_source")
    plan = formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert has_partial_aggregate(df)
    assert "Join" not in plan
    # the scan reads only the two referenced columns
    schemas = scan_schemas(df)
    assert all(s.count(":") <= 2 for s in schemas)


def test_cluster_histogram_bounded_aggs_after_components(spark, sf):
    """dedup_cluster_histogram: after the components fixpoint the
    plan is two tiny keyed aggregates plus a broadcast 1-row total —
    no cartesian, no fact-scale nested loop."""
    df = _df(spark, sf, "dedup_cluster_histogram")
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert has_partial_aggregate(df)
    # the total rides a 1-row broadcast (BNLJ over a scalar frame is
    # the documented benign class)
    assert "BroadcastNestedLoopJoin" in plan or has_broadcast_join(df)


def test_ann_pq_candidate_rerank_broadcasts(spark, sf):
    """PQ's exact re-rank touches ≤ |queries|×k candidate rows: both
    the candidate frame and the query-vector frame must broadcast
    onto the raw-vector scan — a sort-merge join here would shuffle
    the corpus for a 100-row lookup. The ADC sweep itself is the
    mapInPandas encode pass plus one window rank."""
    df = _df(spark, sf, "ann_pq")
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bloom_probe_is_projection_no_gram_explosion(spark, sf):
    """The Bloom probe must stay a map-side projection: the k=4 probe
    positions are inline md5 expressions against the ONE broadcast
    filter row — never an explode(positions) + join + per-gram
    re-aggregation (which would shuffle 4× the gram stream). The only
    corpus-scale aggregation keys are gram-build distinct and the
    per-doc rollup."""
    df = _df(spark, sf, "bloom_decontamination")
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # gram distinct (2-stage) + doc rollup + filter build aggs; the
    # probe itself must add no exchange beyond these
    assert shuffle_exchanges(df) <= 8


def test_url_canonicalize_is_pure_codegen_one_shuffle(spark, sf):
    """url_canonicalize's docstring claims pure JVM string expressions
    and a single rollup shuffle: no Python evaluation node of any
    kind, no join, exactly the domain-rollup exchange (2-stage
    partial agg), and a scan pruned to doc_id."""
    df = _df(spark, sf, "url_canonicalize")
    plan = formatted_plan(df)
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    # 3 exchanges: the fan_out fixture repartition, plus the two-stage
    # countDistinct rewrite (partial keyed by (domain, host), final by
    # domain) — Catalyst's optimal shape for mixing count(distinct)
    # with plain aggregates; both aggregation exchanges carry partials.
    # (SortAggregate here — min(string) keeps the buffer off the fast
    # hash path — so check the partial_* functions in the formatted
    # plan rather than has_partial_aggregate's HashAggregate pattern.)
    assert shuffle_exchanges(df) <= 3
    assert re.search(r"partial_(count|sum|min)", plan)
    schemas = scan_schemas(df)
    assert schemas and all(s.count(":") <= 1 for s in schemas), (
        f"scan must read doc_id only: {schemas}"
    )


def test_epoch_novelty_filter_broadcasts_and_gram_frame_reused(spark, sf):
    """epoch_ngram_novelty's scale claims: the distinct-gram frame is
    checkpointed (ExistingRDD — built once, not re-derived per
    consumer), every Bloom filter and the exact prior-gram twin reach
    the probe side as broadcasts, and no corpus-scale frame crosses a
    CartesianProduct (the only nested-loop joins are the 1-row filter
    map rows)."""
    from dungbeetle_spark.plans.inspect import single_partition_windows

    df = _df(spark, sf, "epoch_ngram_novelty")
    plan = formatted_plan(df)
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastExchange") >= 4  # 2 filters + 2 exact twins
    assert not single_partition_windows(plan)


def test_longest_dup_substring_no_global_stage(spark, sf):
    """longest_dup_substring extends dedup_exact_substring's shape:
    the dup-flag window partitions by the 16-byte window hash and the
    islands window by doc_id — neither may degrade to an Exchange
    SinglePartition (the run-length idiom's classic failure is an
    unpartitioned ORDER BY). Window text never shuffles: exchanges
    carry h, not the 40-char substring."""
    from dungbeetle_spark.plans.inspect import single_partition_windows

    df = _df(spark, sf, "longest_dup_substring")
    plan = formatted_plan(df)
    assert not single_partition_windows(plan)
    assert "CartesianProduct" not in plan
    # exactly 3 exchanges: fan_out fixture repartition, the h-keyed
    # dup-flag window, the doc_id-keyed islands window; BOTH rollups
    # (doc_id+grp, doc_id) reuse the islands partitioning with no
    # further shuffle.
    assert shuffle_exchanges(df) <= 3


def test_winnowing_selection_streams_and_shuffles_hashes_only(spark, sf):
    """winnowing_fingerprints' scale claims: the selection window is a
    doc_id-keyed ROWS frame (no SinglePartition stage anywhere), the
    cross-doc exchanges carry the 8-byte long hash rather than text or
    k-gram strings, and the whole chain stays at the same exchange
    count as dedup_exact_substring plus the selection window's."""
    from dungbeetle_spark.plans.inspect import single_partition_windows

    df = _df(spark, sf, "winnowing_fingerprints")
    plan = formatted_plan(df)
    assert not single_partition_windows(plan)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan
    # fan_out + doc_id selection window + (doc_id, h) distinct +
    # h-keyed dup window + rollup/join reuse = bounded
    assert shuffle_exchanges(df) <= 5


def test_snapshot_diff_joins_digests_not_text(spark, sf):
    """corpus_snapshot_diff's one real shuffle is the doc_id-keyed
    full outer join of (doc_id, source, md5) projections — the join
    input schemas must not contain the text column, and the rollup
    partial-aggregates."""
    df = _df(spark, sf, "corpus_snapshot_diff")
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan
    # text is consumed scan-side by md5(); no exchange or join row
    # carries it (Exchange/Join Input lines list only id/source/hash)
    import re as _re

    for m in _re.finditer(r"^\((\d+)\) (Exchange|SortMergeJoin|BroadcastHashJoin)", plan, _re.M):
        block_start = plan.index(m.group(0))
        block = plan[block_start : plan.find("\n\n", block_start)]
        assert "text#" not in block, f"text crosses the wire: {block[:200]}"
    assert has_partial_aggregate(df)


def test_embedding_drift_shuffles_centroids_not_vectors(spark, sf):
    """embedding_drift_by_epoch's one corpus-scale stage is the
    posexplode + partial-combining centroid aggregate over a bounded
    key space; the consecutive-epoch self-join must consume the
    CHECKPOINTED centroid frame (ExistingRDD — not a re-execution of
    the explode+agg per join side) and nothing downstream may
    single-partition."""
    from dungbeetle_spark.plans.inspect import single_partition_windows

    df = _df(spark, sf, "embedding_drift_by_epoch")
    plan = formatted_plan(df)
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert not single_partition_windows(plan)
    # only ONE scan: both join sides read the checkpointed centroids
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) <= 1


def test_shard_plan_prefix_sum_never_single_partition(spark, sf):
    """shard_plan's running size must ride the range-partitioned
    prefix-sum construction (global_cumsum): checkpointed ranged frame
    (ExistingRDD), the doc-scale cumulative window partitioned by pid,
    offsets broadcast back — never the naive global ORDER BY window's
    Exchange SinglePartition over document rows."""
    from dungbeetle_spark.plans.inspect import single_partition_windows

    df = _df(spark, sf, "shard_plan")
    plan = formatted_plan(df)
    assert "ExistingRDD" in plan
    # at most the |partitions|-row offsets window is global (it rides
    # a BroadcastExchange, never doc-scale data) — same allowance as
    # the curriculum_buckets pin
    assert len(single_partition_windows(plan)) <= 1
    assert has_broadcast_join(df)
    import re as _re

    m = _re.search(
        r"windowspecdefinition\(_pid#\d+", plan
    )
    assert m, "doc-scale running sum must partition by pid"


def test_quality_calibration_levels_before_windows(spark, sf):
    """quality_threshold_calibration: the only corpus-scale shuffle is
    the per-score-level aggregate (map-side partials onto ~dozens of
    keys); the cumulative precision/recall windows then run on the
    bounded per-level frame — at most the two documented global
    windows of the entity-bounded class, and no Python anywhere."""
    from dungbeetle_spark.plans.inspect import single_partition_windows

    df = _df(spark, sf, "quality_threshold_calibration")
    plan = formatted_plan(df)
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "CartesianProduct" not in plan
    assert has_partial_aggregate(df)
    assert len(single_partition_windows(plan)) <= 2


def test_length_matched_controls_single_sort_no_join(spark, sf):
    """length_matched_controls is an as-of join on the length axis
    expressed as ONE source-keyed sorted pass: no join operator at
    all, no Python, and no single-partition window — the directional
    carries and the final pick share the same sort."""
    from dungbeetle_spark.plans.inspect import single_partition_windows

    df = _df(spark, sf, "length_matched_controls")
    plan = formatted_plan(df)
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert not single_partition_windows(plan)
    # fan_out spread + the one source-keyed window exchange
    assert shuffle_exchanges(df) <= 2
    # r09: the forward carry must NOT use an unboundedFollowing frame
    # — WindowExec re-aggregates that frame per row (quadratic in
    # partition size; the honest sweep measured exponent 1.17 before
    # the reversed-running rewrite). The formatted plan prints the
    # frame spec as `unboundedfollowing$()`.
    assert "unboundedfollowing" not in plan.lower()


def test_boilerplate_lines_one_corpus_shuffle(spark, sf):
    """boilerplate_lines: per-doc line dedup is map-side
    (array_distinct before the explode — no doc-keyed exchange), the
    (source, line) count is the single corpus-scale shuffle with a
    map-side partial, the |sources| doc-count frame rides a
    broadcast, and nothing leaves codegen."""
    from dungbeetle_spark.plans.inspect import single_partition_windows

    df = _df(spark, sf, "boilerplate_lines")
    plan = formatted_plan(df)
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "CartesianProduct" not in plan
    assert has_partial_aggregate(df)
    assert has_broadcast_join(df)
    assert not single_partition_windows(plan)
    # fan_out spread + (source,line) count + |sources| rollup, plus
    # the broadcast side's own |sources|-key aggregate exchange
    # (20-row frame — not corpus-scale data)
    assert shuffle_exchanges(df) <= 4


def test_script_mix_profile_pure_codegen_rollup(spark, sf):
    """script_mix_profile: six char-class counters per row, all
    regexp_replace length-diffs inside codegen; the only exchange
    beyond the fan_out spread is the |sources|-key rollup."""
    from dungbeetle_spark.plans.inspect import single_partition_windows

    df = _df(spark, sf, "script_mix_profile")
    plan = formatted_plan(df)
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert has_partial_aggregate(df)
    assert not single_partition_windows(plan)
    assert shuffle_exchanges(df) <= 2


def test_tokenizer_fertility_bounded_rollup(spark, sf):
    """tokenizer_fertility: one scan, three codegen counters, one
    shuffle onto the bounded (lang, source) key set."""
    from dungbeetle_spark.plans.inspect import single_partition_windows

    df = _df(spark, sf, "tokenizer_fertility")
    plan = formatted_plan(df)
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert has_partial_aggregate(df)
    assert not single_partition_windows(plan)
    assert shuffle_exchanges(df) <= 2


def test_context_window_waste_mapside_ladder(spark, sf):
    """context_window_waste: the window-length ladder is a literal
    array exploded map-side — NO join introduces it — and the single
    shuffle is the (source, L) rollup."""
    from dungbeetle_spark.plans.inspect import single_partition_windows

    df = _df(spark, sf, "context_window_waste")
    plan = formatted_plan(df)
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Generate" in plan  # the explode
    assert has_partial_aggregate(df)
    assert not single_partition_windows(plan)
    assert shuffle_exchanges(df) <= 2


def test_split_leakage_audit_single_hash_shuffle(spark, sf):
    """split_leakage_audit: one content-md5 group-by with map-side
    partial counts/mins is the only corpus-scale exchange; no join,
    no window, no Python."""
    from dungbeetle_spark.plans.inspect import single_partition_windows

    df = _df(spark, sf, "split_leakage_audit")
    plan = formatted_plan(df)
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert has_partial_aggregate(df)
    assert not single_partition_windows(plan)
    # fan_out spread + the content-hash aggregate
    assert shuffle_exchanges(df) <= 2


def test_rare_token_retention_two_bounded_shuffles(spark, sf):
    """rare_token_retention: kept-flag and token array come from the
    same row (no doc-keyed join); the token-keyed doc-frequency
    aggregate is the corpus-scale shuffle and the power-of-two
    re-bucket aggregates the vocabulary frame onto ~log2(n) keys."""
    from dungbeetle_spark.plans.inspect import single_partition_windows

    df = _df(spark, sf, "rare_token_retention")
    plan = formatted_plan(df)
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert has_partial_aggregate(df)
    assert not single_partition_windows(plan)
    # fan_out spread + token df aggregate + bucket rollup
    assert shuffle_exchanges(df) <= 3


def test_minhash_incremental_broadcasts_batch_no_band_shuffle(spark, sf):
    """dedup_minhash_incremental: the batch band rows BROADCAST, so
    the corpus side probes map-side — the candidate JOIN itself must
    not shuffle pairs on (band, h) (that is the all-pairs cost the
    incremental shape exists to avoid). Since r11 exactly ONE
    (band, h) exchange is expected: the corpus bucket-sizing window
    behind the leader cap, which carries 3 longs per corpus band row
    (linear — and absent entirely in the warehouse shape, where the
    capped index is materialized at build time per the docstring).
    The match aggregate and best-match window key on batch docs only
    (batch-bounded)."""
    df = _df(spark, sf, "dedup_minhash_incremental")
    plan = formatted_plan(df)
    assert has_broadcast_join(df), "batch band rows must broadcast"
    assert "CartesianProduct" not in plan
    n_band_exchanges = len(re.findall(r"hashpartitioning\(band", plan))
    assert n_band_exchanges <= 1, (
        f"expected at most the corpus sizing-window (band, h) exchange "
        f"(once — the sized frame is checkpointed for its two "
        f"consumers), got {n_band_exchanges} — the candidate join must "
        f"stay broadcast"
    )
    # checkpointed band frame: both sides consume the materialized RDD
    assert "Scan ExistingRDD" in plan


def test_token_freq_spectrum_single_corpus_pass(spark, sf):
    """token_freq_spectrum: pure hash-aggregate ladder — no joins at
    corpus scale (the totals join is a |sources|-row broadcast), no
    windows, no Python; the checkpointed spectrum frame keeps the
    corpus pipeline to ONE pass for both consumers."""
    from dungbeetle_spark.plans.inspect import single_partition_windows

    df = _df(spark, sf, "token_freq_spectrum")
    plan = formatted_plan(df)
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert has_broadcast_join(df), "totals frame must broadcast"
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert has_partial_aggregate(df)
    assert not single_partition_windows(plan)
    # the corpus tokenize+count pipeline must not re-run per
    # consumer: both sides of the totals join read the checkpointed
    # spectrum frame (ExistingRDD), so no parquet scan survives in
    # the final plan
    assert "Scan parquet" not in plan, "consumers must read the checkpoint"
    assert "Scan ExistingRDD" in plan


def test_hard_negative_mining_broadcasts_anchors(spark, sf):
    """hard_negative_mining: anchor (query) side broadcasts onto the
    corpus bucket rows — same skeleton as ann_lsh_bucketed; the rank
    window partitions on (anchor, label), bounded by the anchor
    sample. No corpus^2 join shape may appear."""
    df = _df(spark, sf, "hard_negative_mining")
    plan = formatted_plan(df)
    assert has_broadcast_join(df), "anchor bucket rows must broadcast"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_paragraph_dedup_hash_only_shuffle(spark, sf):
    """paragraph_dedup: the keep-first window shuffles PARAGRAPH
    HASHES, never paragraph text — after the posexplode projection
    the only columns alive are (doc_id, source, para_idx, ph). One
    hash shuffle for the window + the bounded per-source rollup; no
    joins, no Python, column-pruned scan (doc_id/text/source only)."""
    from dungbeetle_spark.plans.inspect import single_partition_windows

    df = _df(spark, sf, "paragraph_dedup")
    plan = formatted_plan(df)
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "Join" not in plan, "paragraph dedup must not join"
    assert shuffle_exchanges(df) <= 3
    assert has_partial_aggregate(df)
    assert not single_partition_windows(plan)
    schemas = scan_schemas(df)
    assert len(schemas) == 1 and "n_chars" not in schemas[0]
    # the window input must carry the md5 hash, not the word array
    m = re.search(r"Window\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert m and "ph#" in m.group(1) and "w#" not in m.group(1)


def test_embedding_outlier_prune_single_pipeline_no_rescan(spark, sf):
    """embedding_outlier_prune: the scored frame is lazily
    checkpointed, so the scan→posexplode→integer-sum→score pipeline
    runs ONCE and both consumers (percentile fence + final rollup)
    read the materialized narrow frame; the sum-vector side rides a
    BroadcastExchange (|labels| rows). No Python anywhere — the
    quantized dots are zip_with/aggregate JVM folds."""
    from dungbeetle_spark.plans.inspect import single_partition_windows

    df = _df(spark, sf, "embedding_outlier_prune")
    plan = formatted_plan(df)
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert has_broadcast_join(df), "percentile fence frame must broadcast"
    assert has_partial_aggregate(df)
    assert not single_partition_windows(plan)
    assert "Scan parquet" not in plan, "consumers must read the checkpoint"
    assert "Scan ExistingRDD" in plan
    assert shuffle_exchanges(df) <= 2


def test_kl_divergence_single_corpus_pass_vocab_join(spark, sf):
    """kl_divergence_by_source: the tokenize→(source,word)-count
    pipeline runs ONCE (lazily checkpointed, three consumers); the
    scoring join is VOCAB-keyed, the per-source totals broadcast, the
    corpus total is the whitelisted 1-row crossJoin class, and the
    top-word window partitions on source over the vocab frame. No
    Python, no corpus rescan."""
    from dungbeetle_spark.plans.inspect import single_partition_windows

    df = _df(spark, sf, "kl_divergence_by_source")
    plan = formatted_plan(df)
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "CartesianProduct" not in plan
    assert has_broadcast_join(df)
    assert has_partial_aggregate(df)
    assert not single_partition_windows(plan)
    assert "Scan parquet" not in plan, "consumers must read the checkpoint"
    assert "Scan ExistingRDD" in plan


def test_pmi_collocations_vocab_joins_and_topk_heads(spark, sf):
    """pmi_collocations: unigram and bigram count frames are
    vocabulary-grain hash aggregates with map-side combine; scoring
    joins are vocab-keyed; the two corpus totals ride the whitelisted
    1-row crossJoin class; the global top-k compiles to
    TakeOrderedAndProject (per-partition heads), never a full sort.
    No Python."""
    from dungbeetle_spark.plans.inspect import single_partition_windows

    df = _df(spark, sf, "pmi_collocations")
    plan = formatted_plan(df)
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "CartesianProduct" not in plan
    assert has_partial_aggregate(df)
    assert not single_partition_windows(plan)
    assert "TakeOrderedAndProject" in plan, "top-k must not full-sort"


def test_lang_segments_no_joins_doc_keyed_lag(spark, sf):
    """lang_segments: windowing is a narrow posexplode, marker scores
    are replace-length deltas in codegen (no regex per marker, no
    Python), and the ONLY corpus-scale shuffle is the doc_id-keyed
    LAG window (uniform key, per-doc groups) before map-side-combined
    rollups. No joins anywhere."""
    from dungbeetle_spark.plans.inspect import single_partition_windows

    df = _df(spark, sf, "lang_segments")
    plan = formatted_plan(df)
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "Join" not in plan, "lang_segments must not join"
    assert has_partial_aggregate(df)
    assert not single_partition_windows(plan)
    # the lag window partitions by doc_id, never globally
    m = re.search(r"windowspecdefinition\(doc_id#\d+", plan)
    assert m, "lag window must partition by doc_id"


# -- r08-late operator plan pins ---------------------------------------------


def test_image_phash_checkpoint_barrier_and_linear_verify(spark, sf):
    """image_phash_dedup: the fused Arrow decode pass sits BEHIND the
    lazy checkpoint, so the final plan reads the signature frame as
    checkpointed-RDD scans (three consumers, one materialization —
    re-running the decode per consumer would show MapInPandas here
    instead), candidates come from the (band, val) equi-join, and no
    nested loop or cartesian appears."""
    df = _df(spark, sf, "image_phash_dedup")
    plan = formatted_plan(df)
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan  # the checkpointed sigs
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_audio_fingerprint_checkpoint_barrier(spark, sf):
    """audio_fingerprint_dedup: same contract as the image twin — the
    Arrow pass materializes once behind the checkpoint; banded
    equi-join; no NLJ."""
    df = _df(spark, sf, "audio_fingerprint_dedup")
    plan = formatted_plan(df)
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interleave_audit_windows_all_shard_partitioned(spark, sf):
    """shard_interleave_audit: every window partitions on shard_id —
    no Exchange SinglePartition may touch the doc-scale frame."""
    from dungbeetle_spark.plans.inspect import single_partition_windows

    df = _df(spark, sf, "shard_interleave_audit")
    plan = formatted_plan(df)
    assert not single_partition_windows(plan), plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hll_register_sketch_partial_combines(spark, sf):
    """hll_register_sketch: the register aggregate must partial-combine
    map-side (the bounded-memory mergeable claim), and the only joins
    are against the |days|+1-scope exact twins."""
    df = _df(spark, sf, "hll_register_sketch")
    assert has_partial_aggregate(df)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_split_doc_stitch_single_boundary_join(spark, sf):
    """split_doc_stitch: exactly one join (the boundary-hash equi-join)
    and no window — reassembly is linear in pages."""
    df = _df(spark, sf, "split_doc_stitch")
    plan = formatted_plan(df)
    joins = re.findall(r"^\(\d+\) \w*Join\w*", plan, re.M)
    assert len(joins) == 1, joins
    assert not re.findall(r"^\(\d+\) Window", plan, re.M)
    assert "CartesianProduct" not in plan


def test_template_clusters_single_shuffle_aggregate(spark, sf):
    """template_spam_clusters: one shape-keyed aggregate with map-side
    combine; no joins at all."""
    df = _df(spark, sf, "template_spam_clusters")
    assert has_partial_aggregate(df)
    plan = formatted_plan(df)
    assert not re.findall(r"^\(\d+\) \w*Join\w*", plan, re.M)


def test_ce_matrix_corpus_join_is_word_keyed(spark, sf):
    """cross_source_ce_matrix: the corpus-derived join is the word-
    keyed self-join (hash/sort-merge, never nested-loop on fact data);
    the only BNLJs are the catalog-bounded totals grid and the 1-row
    vocab scalar (whitelisted in the registry-wide guard)."""
    df = _df(spark, sf, "cross_source_ce_matrix")
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    # the word join must be a real equi-join
    assert re.findall(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", plan)


def test_span_repair_one_corpus_pass_no_similarity_join(spark, sf):
    """dedup_span_repair (VERDICT r08 item 4): position rows shuffle
    ONCE on the 16-byte window md5 (two Window nodes share that one
    exchange: min/max dup test + the canonical row_number); the island
    merge and span rollup run at removal-position grain on a doc_id
    partitioning; the repaired text is rebuilt by a higher-order
    aggregate, so there is no second Generate over the corpus and the
    only join is the doc-keyed repair join. No cartesian, no
    single-partition window."""
    df = _df(spark, sf, "dedup_span_repair")
    plan = formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 1
    joins = re.findall(r"^\(\d+\) \w*Join\w*", plan, re.M)
    assert len(joins) == 1 and "Cartesian" not in joins[0], joins
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 4
    assert shuffle_exchanges(df) <= 5  # fan_out + h + doc windows + rollup
    assert "SinglePartition" not in plan


def test_export_manifest_no_cartesian_no_global_order(spark, sf):
    """shard_export_manifest: the composed fate plan decides
    membership (its own pins hold elsewhere); the export layer itself
    adds only a doc-keyed semi-join, map-side md5 projections and ONE
    shard-keyed aggregate — shards are hash ranges of the shuffle
    key, so there is no global sort, no cartesian, no single-partition
    exchange. r15: the canonical election is folded into the flags
    frame as a conditional-min window behind the fw lazy checkpoint
    (pipeline._fate_frame), so the election's single h-keyed window no
    longer appears in the visible plan at all (the checkpoint
    truncates to a Scan ExistingRDD) and the export layer adds none —
    zero visible Window nodes, down from the r14 pin of two."""
    df = _df(spark, sf, "shard_export_manifest")
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
    windows = re.findall(r"^\(\d+\) Window", plan, re.M)
    assert len(windows) == 0, windows
    # composition bound: the fate plan's shuffles plus the export agg;
    # growth here means a stage stopped reusing the fate partitioning
    assert shuffle_exchanges(df) <= 13


def test_top_cost_diagnostics_no_cartesian_no_global_window(spark, sf):
    """Plan pins for the most expensive headline queries that predate
    per-query pins (r09 coverage sweep): none may plan a cartesian
    product, a single-partition window, or a Python operator outside
    the documented Arrow class, and their shuffle counts are bounded
    so a composition change can't silently multiply exchanges."""
    from dungbeetle_spark.plans.inspect import single_partition_windows

    bounds = {
        # composed 3-arm ANN calibration: exact arm materializes once
        # behind a lazy barrier; the Arrow sig/encode UDFs are the
        # documented Python class
        "ann_recall_calibration": (9, True),
        # banded candidates + candidate-bounded exact intersections
        "minhash_calibration": (6, False),
        # edge-linear power iteration (plan of the final frame)
        "pagerank_trade_graph": (5, False),
        # one checkpointed signature pass + per-config bucket joins
        "lsh_band_planner": (10, False),
        # staged fate composition: verdict scan + md5 agg + gram stage
        "corpus_fate_manifest": (13, False),
    }
    for name, (max_shuffles, py_ok) in bounds.items():
        df = _df(spark, sf, name)
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan, name
        assert not single_partition_windows(plan), name
        if not py_ok:
            assert "InPandas" not in plan and "EvalPython" not in plan, name
        assert shuffle_exchanges(df) <= max_shuffles, (
            name, shuffle_exchanges(df))


# Registry queries whose build still submits Spark jobs under
# plan_only(), each with its category (the four planmode's docstring
# names) and reason. Every other query builds and renders its plan
# with zero Spark jobs.
_WAREHOUSE = "warehouse table"
_LOOP = "action-driven loop"
_PULL = "driver pull"
_STREAM = "streaming drain"
_PLAN_ONLY_JOBS = {
    **{
        name: (_WAREHOUSE, "reads job-layer result tables, materialized on first use")
        for name in (
            "shard_export_from_manifest",
            "pii_audit_from_manifest",
            "release_datacard_from_manifest",
            "shard_export_diff_from_manifest",
            "fate_churn_summary",
            "release_datacard_diff",
            "fate_recompute_plan",
            "fate_reference_maintenance",
            "fate_apply_plan",
            "fate_deploy_cycle",
            "shard_export_diff_delta",
            "shard_export_apply_delta",
            "shard_export_diff_shipped",
            "canon_map_maintenance",
        )
    },
    **{
        name: (_LOOP, "connected_components stops when a round changes no label")
        for name in (
            "dedup_components",
            "dedup_canonical_keep",
            "dedup_cluster_histogram",
        )
    },
    **{
        name: (_LOOP, "_bpe_learn picks each merge from the counted pairs")
        for name in ("bpe_merge_ranks", "bpe_compression_by_source")
    },
    "ann_cosine_topk": (_PULL, "query vectors become literals"),
    "ann_ivf": (_PULL, "centroids and query vectors become literals"),
    "ann_pq": (_PULL, "codebook and query vectors become literals"),
    "ann_recall_calibration": (
        _PULL,
        "one bounded head pull: query vectors and IVF centroids",
    ),
    "dedup_embedding_cosine": (
        _PULL,
        "the exact sweep's closure carries the corpus matrix",
    ),
    "semdedup": (_PULL, "centroids become literals"),
    "kmeans_clusters": (_PULL, "seeds and the refined centroids become literals"),
    **{
        name: (_STREAM, "the build drains the stream into a frame")
        for name in (
            "streaming_sessionize",
            "streaming_segment_volume",
            "streaming_stream_stream_join",
            "streaming_distinct_daily",
            "streaming_minhash_ingest_gate",
            "streaming_corpus_fate_gate",
            "streaming_fuzzy_decon_gate",
            "streaming_pii_redaction_gate",
            "streaming_fate_gate_rollover",
            "streaming_incremental_mv",
            "streaming_hll_registers",
            "streaming_windowed_counts",
            "streaming_quality_filter",
        )
    },
}


def test_plan_only_constructs_fate_frame_without_spark_jobs(spark, sf_smoke):
    """The explain endpoint must not run Spark jobs to print a plan.
    With the tables loaded once, building every registry query under
    plan_only() and rendering its formatted plan submits ZERO Spark
    jobs, except the allowlisted queries above. The two-replay
    shard_export_diff exercises the threaded materialize_concurrently
    path: contextvars do not propagate to pool threads, so it runs its
    thunks inline under plan_only()."""
    from dungbeetle_spark.planmode import plan_only
    from dungbeetle_spark.sources.catalog import TABLES, load_tables

    assert set(_PLAN_ONLY_JOBS) <= set(SPECS)
    load_tables(spark, sf_smoke, TABLES)  # one schema job per table
    tracker = spark.sparkContext.statusTracker()
    offenders = {}
    for name, spec in SPECS.items():
        if name in _PLAN_ONLY_JOBS:
            continue
        before = set(tracker.getJobIdsForGroup(None))
        with plan_only():
            built = spec.build(spark, sf_smoke)
            built_plan = formatted_plan(built)
        new = set(tracker.getJobIdsForGroup(None)) - before
        if new:
            offenders[name] = len(new)
        if name == "corpus_fate_manifest":
            df, plan = built, built_plan
    assert not offenders, f"plan_only construction submitted Spark jobs: {offenders}"
    # the lazy construction still yields the real manifest schema and
    # a plan with the full visible lineage (no checkpoint truncation)
    assert [f.name for f in df.schema.fields] == [
        "doc_id",
        "fate",
        "quality_reason",
        "canonical_id",
        "n_contaminated",
        "fuzzy_matched_bands",
    ]
    assert "Scan parquet" in plan or "Scan ExistingRDD" in plan


def test_plan_only_ann_recall_calibration_runs_only_the_head_pull(spark, sf):
    """Under plan_only() the exact arm of ann_recall_calibration takes
    no checkpoint (even a lazy one materializes the shuffle stages
    below it under AQE), so building the composed frame and rendering
    its plan submits at most the one bounded head pull that defines
    the probe frames."""
    from dungbeetle_spark.planmode import plan_only
    from dungbeetle_spark.queries import _t

    _t(spark, sf, "embeddings")  # session-scoped table load
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    with plan_only():
        formatted_plan(_df(spark, sf, "ann_recall_calibration"))
    new_jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert len(new_jobs) <= 1, sorted(new_jobs)


def test_build_time_barriers_go_through_planmode():
    """planmode owns the barrier policy: outside it there is no raw
    ``.localCheckpoint(`` except in the action-driven loops below, and
    nothing but ``sources.catalog.fan_out`` reads plan-only mode."""
    import ast
    import pathlib

    import dungbeetle_spark

    # (module, function) -> why its checkpoints stay raw under plan_only()
    raw_checkpoint_loops = {
        ("operators/pipeline.py", "connected_components"): (
            "an isEmpty() per round decides convergence; each round's "
            "checkpoint truncates the lineage the next round re-reads"
        ),
        ("operators/text.py", "_bpe_learn"): (
            "the distributed loop collects each round's best pair; each "
            "round's checkpoint truncates the lineage of the rewritten symbols"
        ),
    }
    mode_readers = {("sources/catalog.py", "fan_out")}
    mode_names = {"is_plan_only", "_PLAN_ONLY"}
    pkg = pathlib.Path(dungbeetle_spark.__file__).parent
    raw, readers = set(), set()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "planmode.py":
            continue

        def walk(node, fn, rel=rel):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = node.name  # the innermost enclosing function
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "localCheckpoint"
            ):
                raw.add((rel, fn))
            if (isinstance(node, ast.Name) and node.id in mode_names) or (
                isinstance(node, ast.Attribute) and node.attr in mode_names
            ):
                readers.add((rel, fn))
            for child in ast.iter_child_nodes(node):
                walk(child, fn)

        walk(ast.parse(path.read_text()), None)
    assert raw <= set(raw_checkpoint_loops), sorted(raw - set(raw_checkpoint_loops))
    assert readers <= mode_readers, sorted(readers - mode_readers)
