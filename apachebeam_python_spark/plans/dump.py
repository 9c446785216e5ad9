"""Generate PLANS.md — physical-plan evidence for the headline queries.

Run: ``python -m apachebeam_python_spark.plans.dump [sf_dir]``

For each headline query this records the scale-relevant plan facts: shuffle
(Exchange) count, join strategies, scan pushdown (PushedFilters) and column
pruning (ReadSchema) — the things test_plans.py asserts, in reviewable form.
"""

from __future__ import annotations

import os
import re
import sys


def _join_lines(plan: str) -> list[str]:
    out = []
    for line in plan.splitlines():
        s = line.strip().lstrip("+-:* ")
        if s.startswith(
            ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
             "BroadcastNestedLoopJoin", "CartesianProduct", "WindowGroupLimit",
             "TakeOrderedAndProject")
        ):
            out.append(re.sub(r"#\d+L?", "", s.split(", [plan_id")[0])[:110])
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
    from apachebeam_python_spark import queries as q
    from apachebeam_python_spark.plans import inspect as P
    from apachebeam_python_spark.session import get_spark
    from bench import HEADLINE

    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")

    # merged driver-contract queries (round 2) — plan evidence beyond the
    # bench headline; clusters/streaming skipped (iterative / per-micro-batch)
    driver_extras = [
        "q_elementwise",
        "q_agg_combine",
        "q_groupbykey_batches",
        "q_join_equi",
        "q_join_semi_anti",
        "q_win_functions",
        "q_setops",
        "q_fn_scalar",
        "q_windows_fixed_sliding",
        "q_doc_features",
        # round-2 curation / UDF-surface additions (pytest-only queries,
        # included here as plan evidence)
        "q_decontaminate",
        "q_repetition_filter",
        "q_mixture_resample",
        "q_doc_chunks",
        "q_cogroup_apply",
        # round-2 scale patterns: skew salting + CDC merge
        "q_salted_agg",
        "q_salted_join",
        "q_merge_upsert",
        # round-2 retrieval / incremental-dedup / quantization additions
        "q_bm25",
        "q_hybrid_search",
        "q_mixture_diagnostics",
        "q_dedup_incremental",
        "q_embedding_quantize",
        "q_fuzzy_match",
        "q_weighted_sample",
        "q_novelty",
        # round-3 additions: sketch CMS, multimodal decode, sampling/profiling
        "q_heavy_hitters",
        "q_image_pipeline",
        "q_audio_pipeline",
        "q_dedup_containment",
        "q_histogram_equidepth",
        "q_scd2_dims",
        "q_rolling_distinct_hll",
        # round-3 experimentation/statistics waves
        "q_cuped",
        "q_ols_trend",
        "q_seasonal_anomaly",
        "q_skyline",
        "q_shipping_priority",
        "q_bloom_decontaminate",
        "q_sequence_mining",
        "q_bfs_reachability",
        "q_regex",
        "q_generate_sequence",
        "q_dead_letter",
        "q_union_by_name",
        "q_forecast_holt",
        "q_scd2_lookup",
        "q_funnel_paths",
        "q_pca_project",
        # round-3 fourth wave: TPC-H decision support + pipeline tails
        "q_volume_shipping",
        "q_market_share",
        "q_returned_items",
        "q_cust_order_distribution",
        "q_large_orders",
        "q_setsim_join",
        "q_bpe_apply",
        "q_dedup_canonical",
        # round-3 fifth wave: semi-structured, sketches, evaluation, survival
        "q_variant_json",
        "q_provenance",
        "q_quantile_histogram_rollup",
        "q_forecast_backtest",
        "q_markov_attribution",
        "q_auc_brier",
        "q_calibration",
        "q_survival_km",
        "q_theilsen",
        "q_bootstrap_ci",
        "q_communities_lpa",
        "q_covariate_balance",
        "q_rfm_segments",
        "q_fk_integrity",
        "q_incremental_agg",
        "q_cohort_ltv",
        "q_source_overlap",
        "q_interarrival",
        "q_concurrency_sweep",
        "q_fulfillment_sla",
        # round-3 TPC-H completion wave (Q2/Q4/Q6/Q9/Q11/Q12/Q15/Q16/Q19/
        # Q20/Q21/Q22 shapes — the full 22-query decision-support kit)
        "q_priority_fulfillment",
        "q_top_supplier",
        "q_bracket_revenue",
        "q_dormant_customers",
        "q_min_cost_supplier",
        "q_product_profit",
        "q_important_stock",
        "q_supplier_census",
        "q_dominant_suppliers",
        "q_waiting_orders",
        # round-3 sixth wave: graph link prediction + LLM training-data ops
        "q_link_prediction",
        "q_temperature_mix",
        "q_url_normalize",
        "q_binary_hamming",
        "q_passage_dedup_rewrite",
        "q_map_in_arrow",
        "q_xml_extract",
        "q_quality_classifier",
        "q_scan_avro",
        "q_png_pipeline",
        "q_export_webdataset",
        "q_export_tfrecord",
        "q_scan_avro_ds",
        "q_coreset_kcenter",
        "q_audio_spectral",
        "q_jpeg_pipeline",
        "q_gif_pipeline",
        "q_stream_custom_source",
    ]
    lines = [
        "# PLANS — physical-plan evidence for the headline queries",
        "",
        f"Auto-generated by `python -m apachebeam_python_spark.plans.dump` at {sf_dir}.",
        "Shuffle count excludes broadcast exchanges. Guarded by tests/test_plans.py.",
        "",
    ]
    for name in HEADLINE + driver_extras:
        if name.startswith("q_stream"):
            continue  # streaming plans are per-micro-batch; skip in the static dump
        df = q.QUERIES[name](spark, sf_dir)
        lines.append(f"## {name}")
        lines.append(f"- shuffles (Exchange): {P.count_exchanges(df)}")
        for j in _join_lines(P.executed_plan(df)):
            lines.append(f"- `{j}`")
        pf = P.pushed_filters(df)
        if pf:
            for row in sorted(set(pf.splitlines())):
                if "[]" not in row:
                    lines.append(f"- `{row[:110]}`")
        lines.append("")
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "PLANS.md")
    with open(out_path, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
