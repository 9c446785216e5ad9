"""Plan-shape assertions (SURVEY.md §4): catch scale regressions at the plan
level — a query that silently loses pushdown, broadcast, or partial
aggregation would pass correctness but die at 100 TB."""

from __future__ import annotations

import pytest

from apachebeam_python_spark import queries as q
from apachebeam_python_spark.plans import inspect as P


def test_flagship_pushdown_and_pruning(spark, sf_dir):
    df = q.QUERIES["q_pricing_summary"](spark, sf_dir)
    pf = P.pushed_filters(df)
    assert "LessThanOrEqual(l_shipdate" in pf, pf
    rs = P.read_schema(df)
    assert "l_orderkey" not in rs, f"column pruning lost: {rs}"
    plan = P.executed_plan(df)
    assert plan.count("HashAggregate") >= 2, "partial+final aggregate expected"


def test_has_sees_fields_past_the_to_string_cut(spark, sf_dir):
    """q_fn_scalar's Project holds more than 25 fields, Spark's default
    `maxToStringFields` cut; its coalesce column sits past the cut. The
    plan renders whole and the session conf is left as it was."""
    key = "spark.sql.debug.maxToStringFields"
    before = spark.conf.get(key)
    df = q.QUERIES["q_fn_scalar"](spark, sf_dir)
    assert P.has(df, "coalesce(if (")
    assert "more fields" not in P.executed_plan(df)
    assert spark.conf.get(key) == before


def test_broadcast_join_stays_broadcast(spark, sf_dir):
    df = q.QUERIES["q_join_broadcast"](spark, sf_dir)
    assert P.has(df, "BroadcastHashJoin")
    # the fact side must not shuffle for the join: only agg exchange allowed
    assert P.count_exchanges(df) <= 1


def test_topk_per_key_uses_window_group_limit(spark, sf_dir):
    df = q.QUERIES["q_topk_per_key"](spark, sf_dir)
    assert P.has(df, "WindowGroupLimit")


def test_order_limit_uses_take_ordered(spark, sf_dir):
    df = q.QUERIES["q_order_limit"](spark, sf_dir)
    assert P.has(df, "TakeOrderedAndProject")


def test_semi_anti_plans(spark, sf_dir):
    """INTERSECT and EXCEPT are planned as semi and anti joins."""
    df = q.QUERIES["q_setops"](spark, sf_dir)
    assert P.has(df, "LeftSemi") and P.has(df, "LeftAnti")


def test_single_shuffle_aggregation(spark, sf_dir):
    """CombinePerKey must be exactly one shuffle (combiner lifting)."""
    df = q.QUERIES["q_agg_sum"](spark, sf_dir)
    assert P.count_exchanges(df) == 1, P.executed_plan(df)


def test_asof_join_single_shuffle(spark, sf_dir):
    """The union+window as-of join should shuffle once on the key."""
    df = q.QUERIES["q_join_asof"](spark, sf_dir)
    assert P.count_exchanges(df) <= 2  # union inputs may each report one


def test_merged_narrow_queries_zero_shuffle(spark, sf_dir):
    """The merged element-wise and scalar-function driver queries are pure
    narrow pipelines — any Exchange is a regression."""
    for name in ["q_elementwise", "q_fn_scalar"]:
        df = q.QUERIES[name](spark, sf_dir)
        assert P.count_exchanges(df) == 0, f"{name}: {P.executed_plan(df)}"


def test_win_functions_single_shuffle(spark, sf_dir):
    """All three §2.5 window specs share the user_id partitioning: ONE
    exchange serves ranking, navigation, and frame functions."""
    df = q.QUERIES["q_win_functions"](spark, sf_dir)
    assert P.count_exchanges(df) == 1, P.executed_plan(df)


def test_join_semi_anti_merged_plans(spark, sf_dir):
    df = q.QUERIES["q_join_semi_anti"](spark, sf_dir)
    assert P.has(df, "LeftSemi") and P.has(df, "LeftAnti")


def test_doc_features_single_shuffle(spark, sf_dir):
    """Per-doc features are narrow; the only exchange is the fingerprint
    window count."""
    df = q.QUERIES["q_doc_features"](spark, sf_dir)
    assert P.count_exchanges(df) == 1, P.executed_plan(df)


def test_dedup_clusters_pairs_have_no_gram_self_join(spark, sf_dir):
    """VERDICT r1 #5: the clusters pair generator must be the bucketed
    minhash path — no quadratic gram-explode self-join in the plan."""
    from apachebeam_python_spark.operators import dedup as D
    from apachebeam_python_spark.session import table

    pairs = D.minhash_lsh_pairs(
        table(spark, sf_dir, "documents"), "text", "doc_id",
        shingle_n=2, num_hashes=64, bands=32, threshold=0.5,
    )
    plan = P.executed_plan(pairs)
    assert "xxhash64" in plan, "minhash banding missing from plan"
    # the quadratic path (ngram_jaccard_pairs) shuffle-joins on the exploded
    # `gram` column; the bucketed path never shuffles on a gram
    assert "hashpartitioning(gram#" not in plan, (
        "gram self-join leaked into the clusters pair path"
    )


def test_curation_plan_shapes(spark, sf_dir):
    """Round-2 curation ops keep their designed shapes: chunking is a pure
    narrow explode (zero exchanges), mixture resampling spends its single
    exchange on the final census agg, decontamination broadcasts the
    benchmark gram set (never shuffle-joins corpus grams)."""
    chunks = q.QUERIES["q_doc_chunks"](spark, sf_dir)
    assert P.count_exchanges(chunks) == 0, P.executed_plan(chunks)

    mix = q.QUERIES["q_mixture_resample"](spark, sf_dir)
    assert P.count_exchanges(mix) == 1, P.executed_plan(mix)

    dec = q.QUERIES["q_decontaminate"](spark, sf_dir)
    plan = P.executed_plan(dec)
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan


def test_setops_reads_each_base_table_once(spark, sf_dir):
    """The fused q_setops must serve every arm from cached per-table
    aggregates (InMemoryTableScan), not re-scan parquet per arm."""
    df = q.QUERIES["q_setops"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert "InMemoryTableScan" in plan, plan


def test_salted_agg_two_stage_shuffles(spark, sf_dir):
    """Salted aggregation is exactly two exchanges: (key, salt) partial,
    then key final — the skew-spreading structure itself."""
    df = q.QUERIES["q_salted_agg"](spark, sf_dir)
    assert P.count_exchanges(df) == 2, P.executed_plan(df)


def test_merge_upsert_single_shuffle_no_sort(spark, sf_dir):
    """Latest-wins merge: one hash shuffle on the key, struct-max agg —
    no global sort, no window (those would add a sort at 100 TB)."""
    df = q.QUERIES["q_merge_upsert"](spark, sf_dir)
    assert P.count_exchanges(df) == 1, P.executed_plan(df)
    assert "Window" not in P.executed_plan(df)


def test_quantize_single_exchange(spark, sf_dir):
    """int8 quantization is narrow per-vector work; only the final 8-bucket
    report aggregates — exactly one exchange."""
    df = q.QUERIES["q_embedding_quantize"](spark, sf_dir)
    assert P.count_exchanges(df) == 1, P.executed_plan(df)


def test_incremental_dedup_is_anti_join(spark, sf_dir):
    """Cross-snapshot dedup must be a LeftAnti hash join on the digest —
    never a NOT IN nested loop."""
    plan = P.executed_plan(q.QUERIES["q_dedup_incremental"](spark, sf_dir))
    assert "LeftAnti" in plan, plan
    assert "NestedLoop" not in plan, plan


def test_bm25_topk_take_ordered(spark, sf_dir):
    """BM25 final top-k must be TakeOrderedAndProject (per-partition top-k
    + merge), with df/idf joined by broadcast — no shuffle for the tiny
    term-stats side."""
    plan = P.executed_plan(q.QUERIES["q_bm25"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_r3_corpus_lm_plan_shapes(spark, sf_dir):
    """Round-3 corpus-statistics family: the scale properties their
    docstrings claim must be visible in the physical plan."""
    # vocab build: top-V is TakeOrdered, never a global sort
    df = q.QUERIES["q_vocab_coverage"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    # corpus statistics broadcast back against the exploded token stream
    assert plan.count("BroadcastHashJoin") >= 1, plan


def test_r3_rollup_cascade_reuses_partials(spark, sf_dir):
    """The cascade's day level must aggregate the hour level, not re-scan
    raw events: exactly one scan of the events parquet feeds all grains."""
    df = q.QUERIES["q_rollup_cascade"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert plan.count("Scan parquet") <= 2, plan  # one per union branch max


def test_r3_mad_winsorize_broadcast_thresholds(spark, sf_dir):
    """Robust stats: percentile threshold tables join back via broadcast —
    the big event stream must never shuffle for the join."""
    for name in ["q_mad_outliers", "q_winsorize"]:
        df = q.QUERIES[name](spark, sf_dir)
        assert P.has(df, "BroadcastHashJoin"), name


def test_r3_second_wave_plan_shapes(spark, sf_dir):
    """Plan pins for the later round-3 operators."""
    # KMV sketches: bottom-k per key must be WindowGroupLimit (partial
    # bottom-k before the shuffle), stats joins broadcast
    df = q.QUERIES["q_kmv_sketch"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert "WindowGroupLimit" in plan, plan
    # EWMA: all 20 lags share ONE window over one user_id shuffle
    df = q.QUERIES["q_ewma"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert plan.count("Window") >= 1 and P.count_exchanges(df) == 1, plan
    # trending terms: one term-keyed shuffle + broadcast totals, nothing else
    df = q.QUERIES["q_trending_terms"](spark, sf_dir)
    assert P.count_exchanges(df) <= 2, P.executed_plan(df)


def test_r3_experiments_plan_shapes(spark, sf_dir):
    """Plan pins for the experiments/statistics wave (round 3, wave 3)."""
    # skyline: the scalable prefix-max scheme — no self-join, no cartesian
    df = q.QUERIES["q_skyline"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 1, plan  # survivors rejoin
    # TPC-H Q3 shape: broadcast dims + global top-10 never full-sorts
    df = q.QUERIES["q_shipping_priority"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # bloom decontamination: position set broadcast onto both probes;
    # corpus text never shuffles (only the per-doc verdict aggregates)
    df = q.QUERIES["q_bloom_decontaminate"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_r3_wave2_plan_shapes(spark, sf_dir):
    """Plan pins for CUPED / sequence mining / BFS / regex."""
    # CUPED: θ and mean(pre) arrive as a 1-row broadcast, never a shuffle
    df = q.QUERIES["q_cuped"](spark, sf_dir)
    assert P.has(df, "BroadcastNestedLoopJoin") or P.has(df, "BroadcastHashJoin"), \
        P.executed_plan(df)
    # sequence mining: the pair join must be a user-keyed hash join,
    # never a cartesian
    df = q.QUERIES["q_sequence_mining"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert "CartesianProduct" not in plan, plan
    # BFS: frontiers broadcast onto the edge table each hop
    df = q.QUERIES["q_bfs_reachability"](spark, sf_dir)
    assert P.executed_plan(df).count("BroadcastHashJoin") >= 2
    # regex family: fused into the scan — zero exchanges
    df = q.QUERIES["q_regex"](spark, sf_dir)
    assert P.count_exchanges(df) == 0, P.executed_plan(df)


def test_r3_wave4_plan_shapes(spark, sf_dir):
    """Plan pins for generator source / dead-letter / schema union."""
    # GenerateSequence: a pure Range source — no scan, no exchange
    df = q.QUERIES["q_generate_sequence"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert "Range" in plan and "Scan parquet" not in plan, plan
    assert P.count_exchanges(df) == 0, plan
    # dead-letter: narrow parse+route, single 2-group census agg
    df = q.QUERIES["q_dead_letter"](spark, sf_dir)
    assert "CartesianProduct" not in P.executed_plan(df)
    # unionByName: pure concatenation, zero exchanges
    df = q.QUERIES["q_union_by_name"](spark, sf_dir)
    assert P.count_exchanges(df) == 0, P.executed_plan(df)


def test_r3_wave5_plan_shapes(spark, sf_dir):
    """Plan pins for the temporal lookup + path analysis queries."""
    # SCD2 lookup: the union+window as-of — ONE user shuffle, no range
    # join, no nested loop
    df = q.QUERIES["q_scd2_lookup"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Window") >= 1, plan
    # funnel paths: both leads share one window sort; top-10 never
    # full-sorts
    df = q.QUERIES["q_funnel_paths"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Window") == 1, plan


def test_setsim_join_plan_has_no_cartesian(spark, sf_dir):
    df = q.QUERIES["q_setsim_join"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_sql_completeness_plan_shapes(spark, sf_dir):
    """Recursive CTE plans as the engine-owned UnionLoop; LATERAL
    decorrelates to the same WindowGroupLimit machinery as q_topk_per_key
    (never a per-outer-row rescan)."""
    df = q.QUERIES["q_recursive_cte"](spark, sf_dir)
    assert "UnionLoop" in P.executed_plan(df), P.executed_plan(df)
    df = q.QUERIES["q_lateral_topk"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tpch_wave_plan_shapes(spark, sf_dir):
    """The warehouse-benchmark wave: dimensions broadcast (never
    sort-merge at fixture scale), selective fact filters reach the scan,
    and ranked outputs collapse to TakeOrderedAndProject."""
    # Q7: both nation-filtered dim sides broadcast; fact shuffles once
    df = q.QUERIES["q_volume_shipping"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "GreaterThanOrEqual(l_shipdate" in P.pushed_filters(df)
    # Q10: returnflag pushdown + deterministic global top-20
    df = q.QUERIES["q_returned_items"](spark, sf_dir)
    assert "EqualTo(l_returnflag,R)" in P.pushed_filters(df)
    assert P.has(df, "TakeOrderedAndProject")
    # Q18: aggregated-membership semi join stays a semi join
    df = q.QUERIES["q_large_orders"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert "LeftSemi" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_bpe_apply_and_canonical_plan_shapes(spark, sf_dir):
    """BPE apply: the corpus-side replace chain is narrow — exactly one
    exchange (the per-doc rollup). Canonical selection: survivor election
    fires WindowGroupLimit and the corpus-side assignment join broadcasts
    (no corpus shuffle, no cartesian)."""
    df = q.QUERIES["q_bpe_apply"](spark, sf_dir)
    assert P.count_exchanges(df) <= 1, P.executed_plan(df)
    df = q.QUERIES["q_dedup_canonical"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_eval_and_survival_plan_shapes(spark, sf_dir):
    """The evaluation/survival wave: histogram-quantile and backtest stay
    at day-level row counts after one fact agg; AUC's only wide op is the
    rank sort; KM's sequential stage receives a duration-level (not
    event-level) input."""
    df = q.QUERIES["q_quantile_histogram_rollup"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert plan.count("HashAggregate") >= 2, plan  # partial+final day partials
    df = q.QUERIES["q_forecast_backtest"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert "CartesianProduct" not in plan, plan
    df = q.QUERIES["q_auc_brier"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert plan.count("HashAggregate") >= 1, plan
    # KM: the grouped-map (FlatMapGroupsInPandas) input is the risk-set
    # table, which has already been aggregated twice (user, duration)
    df = q.QUERIES["q_survival_km"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert "FlatMapGroupsInPandas" in plan, plan
    assert plan.count("HashAggregate") >= 4, plan


def test_tpch_completion_plan_shapes(spark, sf_dir):
    """The round-3 completion wave: Q4's EXISTS stays a semi join;
    Q15 reuses the revenue agg for both consumers (no second fact scan in
    the final plan); Q19's part-side residue (brand set) is still pushed
    below the join despite the straddling OR; Q21 never self-joins
    lineitem three times — one orderkey agg + one broadcast probe."""
    # Q4: EXISTS with a correlated date predicate stays LeftSemi
    df = q.QUERIES["q_priority_fulfillment"](spark, sf_dir)
    assert "LeftSemi" in P.executed_plan(df), P.executed_plan(df)
    # Q19: BOTH residues of the straddling OR are extracted and pushed —
    # the quantity-range disjunction to the lineitem scan (first scan's
    # PushedFilters) and the brand set to the part scan (formatted plan)
    df = q.QUERIES["q_bracket_revenue"](spark, sf_dir)
    assert "GreaterThanOrEqual(l_quantity,1.0)" in P.pushed_filters(df), (
        P.pushed_filters(df)
    )
    assert "EqualTo(p_brand,Brand#3)" in P.pushed_filters(df), (
        P.pushed_filters(df)
    )
    assert P.has(df, "BroadcastHashJoin")
    # Q21: decorrelated census — no triple lineitem self-join
    df = q.QUERIES["q_waiting_orders"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert plan.count("FileScan parquet") <= 3, plan  # lineitem, orders, supplier
    assert "TakeOrderedAndProject" in plan, plan


def test_binary_and_passage_plan_shapes(spark, sf_dir):
    """Binary Hamming retrieval: query codes broadcast, ranked top-k cuts
    through WindowGroupLimit pre-shuffle. Passage rewrite: the owner
    argmin is a partial+final agg on the passage key and reassembly adds
    exactly one more keyed exchange — no cartesian anywhere."""
    df = q.QUERIES["q_binary_hamming"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    df = q.QUERIES["q_passage_dedup_rewrite"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_ngram_jaccard_driver_plan_prefix_filtered(spark, sf_dir):
    """VERDICT r3 #1: the driver-declared exact-Jaccard plan must generate
    candidate pairs through the PPJoin rarity-ordered prefix filter — the
    row_number prefix window and the least/greatest length filter both
    appear in the executed plan, so the bare quadratic gram self-join can
    never silently return to the driver surface."""
    df = q.QUERIES["q_dedup_ngram_jaccard"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert "row_number" in plan, plan
    assert "least" in plan and "greatest" in plan, plan


def test_r4_stats_and_spatial_plan_shapes(spark, sf_dir):
    """Round-4 additions keep their designed shapes: the spatial join is
    a broadcast equi-join (never a theta-join explosion on coordinates);
    k-core's checkpointed edge list stops the per-round subtree re-plan;
    the bitmap rollup is the two-level partial-agg shape."""
    assert P.count_exchanges(q.QUERIES["q_activity_bitmap"](spark, sf_dir)) <= 2

    spatial = q.QUERIES["q_spatial_grid_join"](spark, sf_dir)
    plan = P.executed_plan(spatial)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert P.count_exchanges(spatial) <= 2

    kcore = q.QUERIES["q_kcore"](spark, sf_dir)
    assert P.count_exchanges(kcore) <= 10, (
        "edge-list checkpoint lost: peel rounds are re-planning the "
        "4-table edge build"
    )


def test_hive_partitioned_scan_prunes_partitions(spark, sf_dir):
    """q_scan_hive_partitioned's IN-filter must prune at PLAN time: the
    formatted plan carries PartitionFilters with event_type, and the data
    filter does NOT appear as a post-scan Filter over all partitions."""
    df = q.QUERIES["q_scan_hive_partitioned"](spark, sf_dir)
    fmt = P.formatted(df)
    pf = [l for l in fmt.splitlines() if "PartitionFilters" in l]
    assert pf and any("event_type" in l for l in pf), fmt


def test_broadcast_if_small_gates_on_row_count(spark, sf_dir):
    """session.broadcast_if_small (VERDICT r4 #3): under the gate the join
    plans as BroadcastHashJoin; over it the hint is withheld and the
    planner's own strategy (AQE runtime size check) decides instead."""
    from apachebeam_python_spark.session import broadcast_if_small

    left = spark.range(0, 100_000).withColumnRenamed("id", "k")
    small = spark.range(0, 50).withColumnRenamed("id", "k")
    gated = left.join(broadcast_if_small(small, limit_rows=1_000), "k")
    assert P.has(gated, "BroadcastHashJoin")
    big = spark.range(0, 10_000).withColumnRenamed("id", "k")
    # over the gate the input comes back IDENTICAL (no hint wrapper) — the
    # planner, not the hint, owns the strategy from here
    assert broadcast_if_small(big, limit_rows=1_000) is big


def test_spatial_grid_join_broadcast_is_gated(spark, sf_dir):
    """q_spatial_grid_join's POI×9 side goes through the size gate; at the
    fixture scale it still plans as a broadcast join (POIs are nation-sized),
    which this pin asserts — the gate must not cost the good local plan."""
    df = q.QUERIES["q_spatial_grid_join"](spark, sf_dir)
    assert P.has(df, "BroadcastHashJoin")


def test_round5_plan_shapes(spark, sf_dir):
    """Round-5 additions must keep their scale-safe shapes: blocking /
    grid / fingerprint joins are equi-joins (never a cartesian), and the
    haversine grid join stays broadcast at fixture scale."""
    linkage = q.QUERIES["q_record_linkage"](spark, sf_dir)
    assert not P.has(linkage, "CartesianProduct"), "linkage must block, not all-pairs"
    spans = q.QUERIES["q_substring_dedup_spans"](spark, sf_dir)
    assert not P.has(spans, "CartesianProduct")
    assert P.executed_plan(spans).count("HashAggregate") >= 2
    hav = q.QUERIES["q_spatial_haversine"](spark, sf_dir)
    assert P.has(hav, "BroadcastHashJoin")
    assert not P.has(hav, "CartesianProduct")


def test_round5_continuation_plan_shapes(spark, sf_dir):
    """Round-5 continuation wave keeps its designed shapes: the stats
    censuses are one data-sized shuffle plus metadata assembly; the geohash
    encode is pure codegen (exactly the one rollup exchange); MI/JSD
    marginal joins broadcast rather than shuffling the census; t-closeness'
    band spine never degenerates into a cartesian over the data."""
    assert P.count_exchanges(q.QUERIES["q_jarque_bera"](spark, sf_dir)) <= 3

    gh = q.QUERIES["q_geohash_rollup"](spark, sf_dir)
    assert not P.has(gh, "CartesianProduct")
    plan = P.executed_plan(gh)
    assert "pythonUDF" not in plan and "BatchEvalPython" not in plan, (
        "geohash encode must stay codegen-only"
    )

    mi = q.QUERIES["q_mutual_information"](spark, sf_dir)
    assert P.has(mi, "BroadcastHashJoin") or P.has(mi, "BroadcastNestedLoopJoin")

    jsd = q.QUERIES["q_js_divergence"](spark, sf_dir)
    assert P.has(jsd, "BroadcastHashJoin")
    assert not P.has(jsd, "CartesianProduct"), "JSD must stay vocab-sized (no sources x vocab)"

    tc = q.QUERIES["q_t_closeness"](spark, sf_dir)
    assert not P.has(tc, "CartesianProduct")


# --------------------------------------------------------------------------
# Round-5 continuation-wave plan pins
# --------------------------------------------------------------------------
def test_misra_gries_recount_is_candidate_bounded(spark, sf_dir):
    """q_misra_gries's exact recount must semi-join the token stream
    against the (broadcast) candidate set BEFORE aggregating — the plan
    that keeps the shuffle candidate-sized, never vocabulary-sized."""
    df = q.QUERIES["q_misra_gries"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert "LeftSemi" in plan, "candidate semi-join lost"
    assert "BroadcastHashJoin" in plan, "candidate set should broadcast"


def test_dbscan_window_runs_on_distinct_contraction(spark, sf_dir):
    """q_dbscan_1d's ordered window must consume the distinct-cents
    aggregate (domain-sized), not the raw event stream."""
    df = q.QUERIES["q_dbscan_1d"](spark, sf_dir)
    plan = P.executed_plan(df)
    w = plan.find("Window")
    agg = plan.find("HashAggregate")
    assert w > -1 and agg > -1
    assert plan.count("HashAggregate") >= 2, "distinct contraction expected"


def test_lake_dv_read_is_anti_join(spark, sf_dir, tmp_path):
    """Deletion-vector reads apply positions with one LEFT ANTI join and
    DV-free snapshots keep the plain scan path."""
    from apachebeam_python_spark.sources import laketable as LT

    path = str(tmp_path / "dvplan")
    LT.create_table(spark.range(0, 1000).selectExpr("id", "id * 2 AS v"), path)
    clean = LT.read_table(spark, path)
    assert "LeftAnti" not in P.executed_plan(clean), "DV-free read must stay plain"
    LT.delete_where_mor(spark, path, "id % 3 = 0")
    dv = LT.read_table(spark, path)
    assert "LeftAnti" in P.executed_plan(dv), "DV read must anti-join positions"
    assert dv.count() == 1000 - len([i for i in range(1000) if i % 3 == 0])


def test_r6_layout_wave_plan_shapes(spark, sf_dir):
    """Round-6 physical-layout wave: the bucketed join must be a
    SortMergeJoin with ZERO Exchange beneath it (the one remaining
    exchange is the final segment aggregate — bucketing pre-shuffled the
    join at write time), and the partitioned-layout read must carry the
    event_type predicate as a PartitionFilter (metadata pruning, not a
    data filter)."""
    bj = q.QUERIES["q_bucketed_join"](spark, sf_dir)
    assert P.has(bj, "SortMergeJoin"), "bucketed join lost its SMJ (broadcast flip?)"
    assert P.count_exchanges(bj) <= 1, "bucketed join re-shuffled a bucketed side"

    pp = q.QUERIES["q_partition_prune"](spark, sf_dir)
    pf = "\n".join(
        line.strip()
        for line in P.formatted(pp).splitlines()
        if "PartitionFilters" in line
    )
    assert "event_type" in pf and "purchase" in pf, f"partition pruning lost: {pf}"


def test_r6_dsir_and_ktruss_plan_shapes(spark, sf_dir):
    """DSIR's 256-row bucket-weight table must broadcast (the corpus side
    never shuffles for the scoring join) and the top-k must be a
    TakeOrdered, not a global sort."""
    ds = q.QUERIES["q_dsir_select"](spark, sf_dir)
    plan = P.executed_plan(ds)
    assert "BroadcastHashJoin" in plan, "bucket-weight join lost its broadcast"
    assert "TakeOrderedAndProject" in plan, "top-k became a global sort"


def test_ktruss_reaches_fixpoint(spark, sf_dir):
    """The 2 unrolled peel rounds must be a fixpoint on the fixture graph
    (the q_kcore discipline): a third peel of q_ktruss's survivor edges
    changes nothing. Gated on fixture richness — the sf0.001 graph has no
    4-truss (both engines agree on empty, which the parity sweep checks)."""
    from pyspark.sql import functions as F

    out = q.QUERIES["q_ktruss"](spark, sf_dir)
    edges = out.select("u", "v")
    n = edges.count()
    if n == 0:
        return  # tiny-fixture degenerate case: nothing to re-peel
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    e1 = sym.select(F.col("u").alias("a1"), F.col("v").alias("w1"))
    e2 = sym.select(F.col("u").alias("a2"), F.col("v").alias("w2"))
    sup3 = (
        edges.join(e1, edges.u == F.col("a1"))
        .join(e2, (edges.v == F.col("a2")) & (F.col("w2") == F.col("w1")))
        .groupBy("u", "v")
        .agg(F.count("*").alias("support"))
    )
    assert sup3.filter(F.col("support") >= 2).count() == n, "third peel not a no-op"


def test_r6_skew_and_binning_plan_shapes(spark, sf_dir):
    """The salted join's salt must be REAL in the plan (a SortMergeJoin
    keyed on (event_type, _salt) — not a broadcast that hides it), and the
    binned range join must be a broadcast hash join on bin (the metadata
    side replicated, events never shuffling for the join)."""
    sj = q.QUERIES["q_salted_join"](spark, sf_dir)
    plan = P.executed_plan(sj)
    assert "SortMergeJoin" in plan, "salted join got broadcast — salt demo lost"
    assert "_salt" in plan, "salt column missing from the join plan"

    rb = q.QUERIES["q_range_join_binned"](spark, sf_dir)
    plan = P.executed_plan(rb)
    assert "BroadcastHashJoin" in plan, "bands side lost its broadcast"
    assert "BroadcastNestedLoopJoin" not in plan, "range join degenerated to BNLJ"


def test_floored_balance_single_shuffle(spark, sf_dir):
    """Both window passes of the clamped balance share one (user_id)
    partitioning: exactly one exchange in the whole plan."""
    fb = q.QUERIES["q_floored_running_balance"](spark, sf_dir)
    assert P.count_exchanges(fb) <= 1, "the two window passes re-shuffled"


def test_sequence_pack_matches_local_greedy(spark, sf_dir):
    """Replay the greedy packer in plain Python over the collected doc
    sizes and compare bin-for-bin — pins the applyInPandas packer against
    the independent reference implementation (the oracle already pins it
    against the recursive-CTE replay)."""
    from pyspark.sql import functions as F

    from apachebeam_python_spark.session import table

    docs = (
        table(spark, sf_dir, "documents")
        .select(
            (F.col("doc_id") % 8).alias("shard"),
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        )
        .collect()  # |documents| rows of metadata at test scale
    )
    by_shard: dict[int, list] = {}
    for r in sorted(docs, key=lambda r: (r.shard, r.doc_id)):
        by_shard.setdefault(r.shard, []).append(r)
    expect = {}
    for shard, rows in by_shard.items():
        bin_idx, fill = 0, 0
        stats: dict[int, list] = {}
        for i, r in enumerate(rows):
            if i and fill + r.n_tok > 512:
                bin_idx += 1
                fill = 0
            fill += r.n_tok
            s = stats.setdefault(bin_idx, [0, 0, r.doc_id, r.doc_id])
            s[0] += 1
            s[1] += r.n_tok
            s[3] = r.doc_id
        for b, (n_docs, tot, first, last) in stats.items():
            expect[(shard, b)] = (n_docs, tot, first, last)
    got = {
        (r.shard, r.bin_idx): (r.n_docs, r.sum_tokens, r.first_doc, r.last_doc)
        for r in q.QUERIES["q_sequence_pack"](spark, sf_dir).collect()
    }
    assert got == expect


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """q_dynamic_partition_prune's fact scan must carry a runtime
    dynamicpruningexpression PartitionFilter — the dim predicate is on a
    non-key column, so static pruning cannot explain a pruned scan."""
    df = q.QUERIES["q_dynamic_partition_prune"](spark, sf_dir)
    plan = P.executed_plan(df)
    assert "dynamicpruning" in plan.lower(), "DPP did not fire on the fact scan"


def test_bucket_pruning_on_point_filter(spark, sf_dir):
    """A point predicate on the bucket key must prune buckets at the scan
    (SelectedBucketsCount < total) — the read-side dividend of
    q_bucketed_join's layout, beyond the join itself."""
    q.QUERIES["q_bucketed_join"](spark, sf_dir)  # materializes the tables
    from apachebeam_python_spark.queries.scans import _sfkey

    # autoBucketedScan turns the bucketed layout OFF for plans that don't
    # need its distribution (a plain filter) — disable it so the scan stays
    # bucketed and the planner can prune buckets by the point predicate
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        t = spark.table(f"graft_bkt.customer_bkt_{_sfkey(sf_dir)}")
        df = t.filter(t.c_custkey == 42)
        plan = P.executed_plan(df)
        assert "SelectedBucketsCount" in plan, f"bucket pruning absent: {plan[:400]}"
        import re

        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m and int(m.group(1)) < int(m.group(2)), (
            m.group(0) if m else plan[:200]
        )
    finally:
        spark.conf.set(key, prev)


def test_r6_single_shuffle_invariants(spark, sf_dir):
    """Round-6 queries whose whole value is sharing ONE shuffle: the OHLC
    bars (two row_number passes + the agg on one (type,bar) exchange), the
    disorder census (running max + rank + agg on one (type) exchange), and
    sequence packing (one shard exchange feeding the applyInPandas scan)."""
    for name in ["q_ohlc_bars", "q_disorder_census", "q_sequence_pack"]:
        df = q.QUERIES[name](spark, sf_dir)
        n = P.count_exchanges(df)
        assert n <= 1, f"{name}: {n} exchanges — lost its shared-shuffle shape"


def test_run_inference_map_only_pruned(spark, sf_dir):
    """RunInference (§2.10) must stay map-only: zero exchanges, the parquet
    scan pruned to exactly (doc_id, text) — rounding and argmax land in
    codegen Projects ABOVE the MapInPandas, never a second Python pass."""
    df = q.QUERIES["q_run_inference"](spark, sf_dir)
    assert P.count_exchanges(df) == 0, P.executed_plan(df)
    rs = P.read_schema(df)
    assert "text" in rs and "lang" not in rs and "n_chars" not in rs, rs
    plan = P.executed_plan(df)
    assert plan.count("MapInPandas") == 1, "model scoring must be ONE Python pass"


@pytest.mark.parametrize("name", ["q_waiting_orders", "q_profile_drift"])
def test_plan_fingerprint_ignores_session_history(spark, sf_dir, name):
    """plan_sha must not depend on what the session built before. Two
    count-distincts over different arguments in one aggregate plan an
    Expand whose groups Spark orders by expression-id hashes, so the
    fingerprint would move from build to build; these queries keep at
    most one distinct group per aggregate."""
    shas = [P.plan_fingerprint(q.QUERIES[name](spark, sf_dir)) for _ in range(8)]
    assert len(set(shas)) == 1, shas


#: Queries deleted because a remaining query's executed plan carries the
#: operator that made their primitive: {deleted query: (subsumer, needles)}.
#: A needle is a physical operator, join type, or aggregate, window or
#: scalar function as Spark prints it in the executed plan.
SUBSUMED = {
    # §2.1 sink → source round trips
    "q_scan_text": ("q_scan_formats", ("FileScan text",)),
    "q_scan_csv": ("q_scan_formats", ("FileScan csv",)),
    "q_scan_jsonl": ("q_scan_formats", ("FileScan json",)),
    # §2.2 element-wise
    "q_project": ("q_elementwise", ("Project [", "concat_ws(")),
    "q_filter": ("q_elementwise", ("Filter (",)),
    "q_flatmap_explode": ("q_elementwise", ("Generate explode(",)),
    # §2.3 aggregation
    "q_agg_multi": ("q_agg_combine", ("HashAggregate(", "partial_min(", "partial_max(",
                                      "count(distinct ")),
    "q_agg_global": ("q_agg_combine", ("HashAggregate(keys=[]", "Exchange SinglePartition")),
    "q_agg_avg": ("q_agg_combine", ("partial_avg(",)),
    "q_count_per_element": ("q_wordcount", ("HashAggregate(", "partial_count(1)")),
    "q_distinct": ("q_setops", ("HashAggregate(", "functions=[]")),
    "q_groupbykey_collect": ("q_groupbykey_batches", ("ObjectHashAggregate(", "collect_list(",
                                                      "collect_set(")),
    "q_group_into_batches": ("q_groupbykey_batches", ("collect_list(", "Generate ",
                                                      "explode(filter(transform(sequence(")),
    "q_topk_global": ("q_order_limit", ("TakeOrderedAndProject(",)),
    "q_rollup": ("q_cube", ("Expand [",)),
    "q_grouping_sets": ("q_cube", ("Expand [",)),
    "q_agg_median": ("q_agg_stats", ("ObjectHashAggregate(", "percentile(")),
    "q_approx_distinct": ("q_approx_sample", ("approx_count_distinct(user_id",
                                              "partial_approx_count_distinct(")),
    "q_approx_quantiles": ("q_approx_sample", ("percentile_approx(o_totalprice",
                                               "[0.5,0.9,0.99], 10000")),
    "q_sample": ("q_approx_sample", ("TakeOrderedAndProject(limit=100", "rand(42)")),
    # §2.4 joins
    "q_join_left": ("q_join_equi", ("LeftOuter",)),
    "q_join_semi": ("q_join_semi_anti", ("LeftSemi",)),
    "q_join_anti": ("q_join_semi_anti", ("LeftAnti",)),
    # §2.5 analytic windows
    "q_win_rank": ("q_win_functions", ("Window [", "row_number()", "[rank(", "dense_rank(",
                                       "ntile(", "percent_rank(")),
    "q_win_lag_lead": ("q_win_functions", ("lag(", "lead(", "first(")),
    "q_win_moving_avg": ("q_win_functions", ("avg(value", "RowFrame, -2, currentrow$()")),
    "q_win_cume_dist": ("q_win_functions", ("cume_dist()",)),
    # §2.6 set operations
    "q_union_all": ("q_setops", ("Union",)),
    "q_union_distinct": ("q_setops", ("Union", "functions=[]")),
    "q_intersect": ("q_setops", ("LeftSemi",)),
    "q_except": ("q_setops", ("LeftAnti",)),
    # §2.7 scalar functions
    "q_fn_string": ("q_fn_scalar", ("upper(", "length(", "substring(", "regexp_extract(",
                                    "concat_ws(", "lpad(", "replace(", "trim(", "instr(")),
    "q_fn_date": ("q_fn_scalar", ("year(", "month(", "dayofmonth(", "date_trunc(",
                                  "datediff(", "date_add(", "unix_timestamp(")),
    "q_fn_math": ("q_fn_scalar", ("SQRT(", "ln(", "FLOOR(", "CEIL(", "abs(", "SIGNUM(",
                                  "greatest(", "least(", " % 7)")),
    "q_fn_case": ("q_fn_scalar", ("CASE WHEN", "coalesce(if (")),
    # §2.8 event-time windows
    "q_sliding_window": ("q_windows_fixed_sliding", ("Expand [",)),
    # §2.11 per-document text features
    "q_token_count": ("q_doc_features", ("size(split(", "array_distinct(",
                                         "regexp_extract_all(")),
    "q_lang_id": ("q_doc_features", ("array_intersect(",)),
    "q_quality_score": ("q_doc_features", ("IN (the,a,of,and,or)",)),
    # §2.11 near-duplicate detection
    "q_dedup_simhash": ("q_dedup_sketch", ("xxhash64(tok", "(shiftright(simhash",
                                           "bit_count((simhash")),
    # §2.11 graph family
    "q_triangles": ("q_clustering_coeff", ("SortMergeJoin [b", "SortMergeJoin [a", "Union",
                                           "triangles#")),
    "q_harmonic_centrality": ("q_closeness_centrality", ("partial_sum((2520 div d",
                                                         "harmonic#")),
    # §2.3 statistical extensions: the needles are the deleted plan's
    # tokens that fewer than 15 % of registered plans carry; a plan with
    # none lists its operator nodes other than Project/Filter
    "q_anova": ("q_bootstrap_ci", ("HashAggregate(keys=[]", "Exchange SinglePartition",
                                   "Exchange hashpartitioning(")),
    "q_bartlett": ("q_mutual_info", ("ln(",)),
    "q_cochran_armitage": ("q_cross_correlation", ("SQRT(",)),
    "q_cochran_q": ("q_hits", ("LeftOuter", "coalesce(")),
    "q_cohen_kappa": ("q_seasonal_anomaly", ("HashAggregate(keys=[]", "Exchange SinglePartition")),
    "q_correlation": ("q_spearman", ("hour(", "SQRT(")),
    "q_dispersion_index": ("q_realized_vol", ("date_trunc(",)),
    "q_fleiss_kappa": ("q_bootstrap_ci", ("HashAggregate(keys=[]", "Exchange SinglePartition")),
    "q_icc": ("q_friedman", ("LeftSemi",)),
    "q_kendall_tau": ("q_mann_kendall", ("SQRT(", "datediff(")),
    "q_kruskal_wallis": ("q_friedman", ("rank(",)),
    "q_levene": ("q_pacf", ("abs(", "row_number(")),
    "q_ljung_box": ("q_pacf", ("Range", "datediff(", "row_number(")),
    "q_mcnemar": ("q_pacf", ("abs(",)),
    "q_mood_median": ("q_pacf", ("row_number(",)),
    "q_partial_correlation": ("q_cross_correlation", ("SQRT(", "datediff(")),
    "q_sprt": ("q_dbscan_1d", ("isnull(", "partial_min(", "row_number(")),
    "q_tukey_hsd": ("q_mann_kendall", ("SQRT(",)),
    "q_two_proportion": ("q_covariate_balance", ("SQRT(",)),
    "q_welch_ttest": ("q_cohens_d", ("SQRT(", "In(event_type")),
    # §2.11 experimentation tier, same needle rule
    "q_confusion_matrix": ("q_covariate_balance", ("SQRT(",)),
    "q_diff_in_diff": ("q_dbscan_1d", ("EqualTo(event_type,purchase)",)),
    "q_dp_counts": ("q_dp_median", ("greatest(", "least(")),
    "q_eb_shrinkage": ("q_bootstrap_ci", ("BroadcastNestedLoopJoin", "Cross",
                                          "BroadcastExchange IdentityBroadcastMode")),
    "q_granger": ("q_dickey_fuller", ("lag(", "datediff(")),
    "q_multiple_regression": ("q_pacf", ("datediff(",)),
    "q_srm_check": ("q_covariate_balance", ("functions=[]", "Exchange hashpartitioning(")),
    "q_stratified_kfold": ("q_dbscan_1d", ("partial_min(", "row_number(")),
    # pytest-only tier, same needle rule; `Exchange SinglePartition` is
    # pinned too where both the deleted plan and its subsumer carry it
    # aggregations
    "q_mode_per_key": ("q_kmv_sketch", ("WindowGroupLimit", "row_number(")),
    "q_stratified_sample": ("q_kmv_sketch", ("conv(", "md5(", "substring(")),
    "q_weighted_median": ("q_ohlc_bars", ("partial_min(",)),
    # analytics
    "q_activity_streaks": ("q_ohlc_bars", ("date_trunc(", "row_number(")),
    "q_assoc_rules": ("q_hybrid_search", ("SortMergeJoin", "Exchange SinglePartition",
                                          "BroadcastHashJoin")),
    "q_basket_growth": ("q_cohort_ltv", ("month(", "year(")),
    "q_hhi_concentration": ("q_cohort_ltv", ("BroadcastHashJoin",
                                             "BroadcastExchange HashedRelationBroadcastMode",
                                             "HashAggregate(", "Exchange hashpartitioning(")),
    "q_event_transitions": ("q_time_weighted_avg", ("lead(",)),
    "q_gini_concentration": ("q_changepoint", ("row_number(",)),
    "q_nelson_aalen": ("q_survival_km", ("datediff(", "partial_min(")),
    "q_proration": ("q_dbscan_1d", ("row_number(",)),
    # corpus statistics
    "q_domain_cap": ("q_hybrid_search", ("WindowGroupLimit", "row_number(")),
    "q_sparse_cosine": ("q_hybrid_search", ("explode(", "ln(", "split(", "BroadcastHashJoin")),
    "q_token_entropy": ("q_hybrid_search", ("explode(", "ln(", "split(")),
    # event time
    "q_bollinger_bands": ("q_dickey_fuller", ("SQRT(", "Exchange SinglePartition")),
    # experiments
    "q_ab_test": ("q_cohens_d", ("SQRT(", "Exchange SinglePartition")),
    "q_rolling_quantile": ("q_quantile_histogram_rollup", ("date_trunc(", "percentile(")),
    "q_sample_per_key": ("q_kmv_sketch", ("WindowGroupLimit", "md5(", "row_number(")),
    # finance
    "q_abc_classes": ("q_dbscan_1d", ("Window [", "Sort [", "HashAggregate(",
                                      "Exchange hashpartitioning(", "Exchange SinglePartition")),
    "q_max_drawdown": ("q_ohlc_bars", ("date_trunc(",)),
    # LLM pipeline
    "q_hard_negatives": ("q_cosine_topk", ("RoundRobinPartitioning(", "SQRT(",
                                           "WindowGroupLimit", "aggregate(", "lambdafunction(",
                                           "row_number(", "zip_with(")),
    "q_keywords_tfidf": ("q_hybrid_search", ("WindowGroupLimit", "explode(", "row_number(",
                                             "split(")),
    "q_knn_classifier": ("q_hybrid_search", ("RoundRobinPartitioning(", "SQRT(",
                                             "WindowGroupLimit", "aggregate(",
                                             "lambdafunction(", "row_number(", "zip_with(")),
    "q_target_encoding": ("q_hybrid_search", ("BroadcastNestedLoopJoin", "Cross",
                                              "BroadcastHashJoin",
                                              "BroadcastExchange IdentityBroadcastMode",
                                              "HashAggregate(keys=[]",
                                              "Exchange SinglePartition")),
    "q_tfidf": ("q_hybrid_search", ("explode(", "ln(", "split(")),
    "q_split_assign": ("q_decontaminate", ("pmod(",)),
    "q_split_leakage": ("q_corpus_curation", ("HashAggregate(", "Exchange hashpartitioning(")),
    # TPC-H
    "q_delay_priority_census": ("q_top_supplier", ("GreaterThanOrEqual(", "LessThan(")),
    "q_promo_revenue": ("q_top_supplier", ("GreaterThanOrEqual(", "LessThan(",
                                           "BroadcastHashJoin")),
    "q_forecast_revenue": ("q_bracket_revenue", ("GreaterThanOrEqual(",)),
    "q_small_qty_revenue": ("q_star_join", ("EqualTo(",)),
    # UDF surface
    "q_side_input_scalar": ("q_hybrid_search", ("partial_avg(",)),
}


@pytest.mark.parametrize("deleted", sorted(SUBSUMED))
def test_subsumer_plan_carries_deleted_operator(spark, sf_dir, deleted):
    """A query folded into another is deleted, not kept registered: the
    subsumer's executed plan must still carry its operator."""
    subsumer, needles = SUBSUMED[deleted]
    assert deleted not in q.QUERIES, f"{deleted} is registered again"
    plan = P.executed_plan(q.QUERIES[subsumer](spark, sf_dir))
    missing = [n for n in needles if n not in plan]
    assert not missing, f"{subsumer}'s plan lost {deleted}'s {missing}"
