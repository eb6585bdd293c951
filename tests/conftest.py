from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("OAMAP_SPARK_TEST_SF", "/root/testdata/sf0.001")
SF_BENCH = "/root/testdata/sf0.1"


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: bench-scale (sf0.1) validation; skip with -m 'not slow'"
    )
    config.addinivalue_line(
        "markers",
        "smoke: fast driver-facing tier (`pytest -m smoke`, < 5 min): one "
        "oracle replay per operator family, one unit test per module, the "
        "fast plan pins, and the entry contract — the full suite takes "
        "~40 min and times out the driver's test gate (VERDICT r11 "
        "'Next round #6')",
    )


# The smoke tier, curated by nodeid. Selection rule: every operator
# family gets ONE sf0.001 oracle replay; every test module contributes
# its cheapest meaningful test; plan pins that check a single query's
# plan are in, the two full-registry sweeps (~190 s) are not. Keep
# each entry under ~3 s (measured via --durations) so the tier stays
# inside 5 minutes including session startup.
# tests/test_driver_contract.py::test_smoke_tier_nodeids_exist pins that
# every entry still resolves, so a rename cannot silently shrink the
# tier.
SMOKE_NODEIDS = frozenset(
    [
        # driver contract + entry
        "test_driver_contract.py::test_entry_smoke",
        "test_driver_contract.py::test_oracle_keys_subset_of_queries",
        "test_driver_contract.py::test_entry_smoke_sf_smoke_dir",
        # one oracle replay per operator family (sf0.001)
        "test_driver_contract.py::test_query_against_oracle[q1_pricing_summary]",
        "test_driver_contract.py::test_query_against_oracle[q3_shipping_priority]",
        "test_driver_contract.py::test_query_against_oracle[q15_top_suppliers]",
        "test_driver_contract.py::test_query_against_oracle[q21_lone_late_suppliers]",
        "test_driver_contract.py::test_query_against_oracle[lateral_top3_orders_per_customer]",
        "test_driver_contract.py::test_query_against_oracle[rollup_flag_status]",
        "test_driver_contract.py::test_query_against_oracle[percentile_approx_price]",
        "test_driver_contract.py::test_query_against_oracle[hll_weekly_users_from_daily_sketches]",
        "test_driver_contract.py::test_query_against_oracle[sessionize_events]",
        "test_driver_contract.py::test_query_against_oracle[doc_token_stats]",
        "test_driver_contract.py::test_query_against_oracle[heavy_hitter_terms]",
        "test_driver_contract.py::test_query_against_oracle[dedup_minhash_lsh]",
        "test_driver_contract.py::test_query_against_oracle[dedup_minhash_incremental_steady]",
        "test_driver_contract.py::test_query_against_oracle[dedup_containment_incremental_steady]",
        "test_driver_contract.py::test_query_against_oracle[dedup_span_removal]",
        "test_driver_contract.py::test_query_against_oracle[dedup_simhash_banded]",
        "test_driver_contract.py::test_query_against_oracle[dedup_embedding_banded]",
        "test_driver_contract.py::test_query_against_oracle[dedup_clusters_minid]",
        "test_driver_contract.py::test_query_against_oracle[dedup_keep_canonical_counts]",
        "test_driver_contract.py::test_query_against_oracle[nested_filter_define_reduce]",
        "test_driver_contract.py::test_query_against_oracle[nest_unnest_roundtrip]",
        "test_driver_contract.py::test_query_against_oracle[tomask_sentinel_nulls]",
        "test_driver_contract.py::test_query_against_oracle[pointer_deref_supplier_nation]",
        "test_driver_contract.py::test_query_against_oracle[recursive_cte_subtree_stats]",
        "test_driver_contract.py::test_query_against_oracle[compiled_nested_event_loop]",
        "test_driver_contract.py::test_query_against_oracle[json_extract_events]",
        "test_driver_contract.py::test_query_against_oracle[csv_source_roundtrip_agg]",
        "test_driver_contract.py::test_query_against_oracle[multimodal_decode_features]",
        "test_driver_contract.py::test_query_against_oracle[epoch_shuffle_positions]",
        "test_driver_contract.py::test_query_against_oracle[corpus_mixture_weighted]",
        "test_driver_contract.py::test_query_against_oracle[train_benchmark_overlap]",
        "test_driver_contract.py::test_query_against_oracle[ann_lsh_topk]",
        "test_driver_contract.py::test_query_against_oracle[cosine_topk_bruteforce]",
        "test_driver_contract.py::test_query_against_oracle[zorder_write_filtered_agg]",
        "test_driver_contract.py::test_query_against_oracle[batch_session_window_stats]",
        "test_driver_contract.py::test_query_against_oracle[salted_join_skewed_events]",
        "test_driver_contract.py::test_query_against_oracle[bloom_prefilter_join_agg]",
        "test_driver_contract.py::test_query_against_oracle[stream_tumbling_daily_counts]",
        "test_driver_contract.py::test_query_against_oracle[stream_foreachbatch_upsert_latest]",
        # single-query plan pins (NOT the two full-registry sweeps)
        "test_plans.py::test_q6_pushes_filters_to_scan",
        "test_plans.py::test_q5_broadcasts_dimension_tables",
        "test_plans.py::test_minhash_lsh_shuffles_bounded",
        "test_plans.py::test_steady_state_probe_reads_persisted_index",
        "test_plans.py::test_containment_steady_probe_reads_persisted_index",
        "test_plans.py::test_compiled_rowfn_stays_jvm_side",
        "test_plans.py::test_bloom_prefilter_below_join",
        # one unit test per operator/support module
        "test_cache.py::test_sweep_idempotent_and_clearcache_compatible",
        "test_schema.py::test_primitive_lowering",
        "test_structural_ops.py::test_fieldname_top",
        "test_fill.py::test_inference_widens_and_nullables",
        "test_links.py::test_pointer_deref_null_for_dangling",
        "test_kmeans.py::test_kmeans_centroids_on_grid",
        "test_sketches.py::test_sketch_table_schema_and_exactness",
        "test_npy.py::test_from_numpy_columns_and_nested",
        "test_staging.py::test_staging_paths_unique_and_tracked",
        "test_driver_contract.py::test_smoke_tier_nodeids_exist",
        "test_bench.py::test_measure_times_best_of_n_excluding_prepare_then_cleans_up",
        "test_driver_contract.py::test_queries_follow_registration_order",
        "test_metrics.py::test_observed_metrics_ride_the_query",
        "test_curation.py::test_chunks_cover_document_exactly",
        "test_compiler.py::test_arithmetic",
        "test_multimodal.py::test_frame_sample_never_scans_payload",
        "test_partitioning.py::test_co_partition_join_adds_no_exchange",
        "test_sources_formats.py::test_csv_roundtrip",
        "test_dataset.py::test_put_get_roundtrip_and_view",
        "test_edge_cases.py::test_minhash_lsh_on_empty_corpus",
        "test_dual_path.py::test_revenue_expression_native_vs_pandas_udf",
        "test_layout.py::test_count_le_matches_linear_scan",
        "test_streaming.py::test_streaming_oracles",
        "test_llm_ops.py::test_minhash_incremental_equals_filtered_batch",
        "test_llm_ops.py::test_incremental_dedup_batch_replay_is_idempotent",
        "test_sampling_clustering.py::test_apply_components_update_empty_batch_is_identity",
        "test_ops_property.py::test_compiler_string_subscript_matches_python",
        "test_plan_census.py::test_plan_counts_groupby_has_one_exchange",
        "test_migration_snippets.py::test_snippet_steady_cluster_merge",
    ]
)


def pytest_collection_modifyitems(config, items):
    for item in items:
        # nodeid relative to the tests dir, e.g.
        # "test_plans.py::test_q6_pushes_filters_to_scan"
        rel = item.nodeid.split("tests/")[-1]
        if rel in SMOKE_NODEIDS:
            item.add_marker(pytest.mark.smoke)


@pytest.fixture(scope="session")
def spark():
    from oamap_spark.session import get_spark, positive_int_env

    cpus = positive_int_env("SPARK_GRAFT_CPUS", "8", "local cores")
    s = get_spark("oamap-spark-tests", cpus=cpus)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
