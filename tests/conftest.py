from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    # small fixtures → a few local threads beat 32 (task-launch overhead
    # dominates); production parallelism is exercised by bench.py instead
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from genie_spark.session import get_spark

    s = get_spark(
        "genie_spark_tests",
        shuffle_partitions=4,
        extra_conf={"spark.default.parallelism": "4"},
    )
    yield s


# r16 (VERDICT r15 item 1): long-running tests, marked centrally so the
# default `pytest tests/` run fits the round driver's verify window
# (the full suite measured 43:51 — the driver's r15 tests gate was cut
# off mid-run at ~30%).  Membership comes from a measured
# --durations=0 run: every base test name whose (summed, for
# parametrized matrices) call time exceeded ~8.5 s.  The slow set
# remains fully runnable: `pytest tests/ -m slow` (or `-m ""` for
# everything) — see pytest.ini.
SLOW_TESTS = {
    "test_release_qc_stage",
    "test_release_qc_full_rule_matrix",
    "test_token_budget_matches_naive_window",
    "test_nightly_sweep",
    "test_bloom_decontaminate_superset_of_exact",
    "test_ingest_release_dashboard",
    "test_windowed_counts_watermark",
    "test_retraction_e2e",
    "test_count_min_never_underestimates",
    "test_near_dup_drop_list_matches_bfs",
    "test_corpus_dedup_command",
    "test_setsim_prefix_unique_ids_false_merges_duplicated_ids",
    "test_corpus_dedup_signature_store",
    "test_connected_components_matches_bfs",
    "test_upsert_store_sequence_equals_final_state_build",
    "test_duplicate_span_mask_matches_model",
    "test_connected_components",
    "test_near_dup_stream_against_store",
    "test_bm25_matches_integer_model",
    "test_release_data_guide",
    "test_kmeans_matches_sequential_lloyd",
    "test_winnow_upsert_sequence_equals_final_state_build",
    "test_lookup_annotator_e2e",
    "test_wordpiece_train_matches_model_and_roundtrips",
    "test_components_stream_store_split_parity",
    "test_asof_join_duplicate_tiebreak_is_deterministic",
    "test_upsert_algebra",
    "test_pair_functions_release_shingle_caches",
    "test_winnow_fingerprints_match_model",
    "test_release_qc_priority_and_split_clinical",
    "test_dedup_components_no_cartesian",
    "test_release_snapshot_version_ordering",
    "test_release_qc_meta_profile_rules",
    "test_stream_stream_join_time_bound",
    "test_streaming_ingest_upsert",
    "test_signature_store_compaction_via_bronze_seam",
    "test_value_count_decreases_matches_pandas_model",
    "test_setsim_prefix_equals_exact_all_pairs",
    "test_release_end_to_end",
    "test_interval_join_matches_bruteforce",
    "test_ivfpq_residual_candidate_restriction_law",
    "test_leakage_split_store_query_equals_inline",
    "test_connected_components_doubling_and_nonconvergence",
    "test_ivfpq_residual_beats_nonresidual_on_clustered_data",
    "test_winnow_store_sync_and_pairs",
    "test_corpus_dedup_normalize_flag",
    "test_temperature_mix_matches_sequential_model",
    "test_release_qc_profile_case_list_cross_refs",
    "test_validation_status_workflow",
    "test_ngram_jaccard_and_minhash_agree",
    "test_dedup_stream_within_watermark",
    "test_cross_file_validation",
    "test_asof_join_matches_bruteforce",
    "test_connected_components_fused_round_reach",
    "test_setsim_prefix_identical_docs_jaccard_one",
    "test_lm_bigram_matches_python_model",
    "test_ccnet_buckets_terciles_and_carry",
    "test_dsir_matches_python_model",
    "test_incremental_minhash_matches_batch",
    "test_vcf_sample_column_rules",
    "test_passage_dedup_matches_sequential_model",
    "test_dashboard_markdown_two_release_golden",
    "test_bpe_train_matches_sequential_on_md5_corpus",
    "test_workflow_writes_full_narrow_and_errors",
    "test_bpe_batched_matches_sequential_on_weighted_corpora",
    "test_minhash_map_side_equals_aggregate_form",
    "test_bpe_batched_prefix_matches_sequential",
    # second pass (the first fast-set run still measured 18:15; every
    # remaining base name over ~5.9 s call time moves to the slow set):
    "test_connected_components_materializes_pairs_once",
    "test_redaction_invariants",
    "test_ivf_cell_pairs_total_recall_vs_exact",
    "test_incremental_minhash_plan_never_reshingle_store",
    "test_ivf_store_build_query_append_parity",
    "test_pq_encode_codes_and_reconstruction",
    "test_ivfpq_residual_all_broadcast_no_cartesian",
    "test_leakage_safe_split_components_never_straddle",
    "test_cosine_topk_and_pairs",
    "test_signature_store_incremental_recomputes_only_delta",
    "test_ivfpq_subset_of_pq_with_same_scores",
    "test_soft_dedup_matches_python_model",
    "test_quantile_sketch_stream_store_and_compact",
    "test_grouped_quantile_store_and_rolling_ccnet_thresholds",
    "test_simhash_near_dups_close",
    "test_patient_rules",
    "test_kmeans_separates_blobs",
    "test_quantile_sketch_matches_sequential_model",
    "test_decontaminate_ngram",
    "test_token_budget_zero_token_docs_at_boundary",
    "test_ccnet_buckets_sample_only_window",
    "test_gopher_filter_matches_python_model",
    "test_semantic_dedup_lsh_matches_banded_model",
    "test_ccnet_buckets_unsampled_language_kept",
    "test_bloom_decontaminate_no_false_negatives",
    "test_semantic_dedup_matches_within_cluster_model",
    "test_release_qc_declared_datatype_vs_values",
    "test_unigram_seed_vocab_matches_python_model",
    "test_kmeans_empty_cluster_keeps_centroid",
    "test_commit_hook_writes_checkpoint_and_reads_stay_green",
    "test_maf_rule_failures",
    "test_temperature_mix_flattens_head_upsamples_tail",
    "test_partition_scoped_merge",
    "test_kmeans_arrow_omits_nan_rows_without_poisoning",
    "test_near_dup_stream_durable_txnlog_store",
    "test_ivf_topk_finds_near_dup",
    "test_unigram_encode_viterbi_model_ties_and_unk",
    "test_lm_bigram_backoff_semantics",
    "test_exact_duplicates",
    "test_bpe_train_histogram_loop_equals_table_loop",
    "test_shingles_unique_id_contract_guard",
    "test_signature_store_change_and_removal",
    "test_signature_store_full_then_noop",
    "test_release_mergecheck_flag_mode_and_public_common_variant",
    "test_winnow_stream_durable_store",
    "test_triangle_count_known_graphs",
    "test_semantic_dedup_greedy_witness_always_kept",
    "test_measured_plane_counts_bounds_volume_on_skewed_corpus",
    "test_sample_rule_failures",
    "test_ivf_probe_rule_matches_sequential_model_with_ties",
    "test_new_ops_empty_and_degenerate_inputs",
    "test_cluster_balanced_sample_bounds",
    "test_ivfpq_candidate_broadcast_guard_same_results",
    "test_release_germline_whitelist",
    "test_bpe_train_batched_phantom_prefix_adversary",
    "test_ann_index_cli",
    "test_ingest_correlate_command",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        base = getattr(item, "originalname", None) or item.name
        if base in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    # the default run leaves the slow set out (pytest.ini addopts); say
    # so at the end, where a reader looks for what did not run
    if config.getoption("markexpr") != "not slow":
        return
    slow = [
        item
        for item in terminalreporter.stats.get("deselected", [])
        if item.get_closest_marker("slow") is not None
    ]
    if slow:
        terminalreporter.write_line(
            f'{len(slow)} slow tests not run (pytest.ini default -m "not slow"); '
            'run the full suite with: pytest tests/ -m ""'
        )
