import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pypeman_spark.session import get_spark  # noqa: E402

# ---------------------------------------------------------------------------
# Slow-tier selection (round 15). The default pytest run (`addopts =
# -m "not slow"` in pytest.ini) must finish inside a bounded CI window;
# everything marked here still runs in the full tier
# (`-m "slow or not slow"`), which remains the release gate.
#
# Two classes are marked slow:
#  1. whole soak/chaos/robustness-matrix modules (SLOW_MODULES),
#  2. the heaviest individual tests by measured duration (SLOW_TESTS —
#     names, so a rename surfaces as "marked test not collected" in
#     the assertion below rather than silently running fast-tier).
# ---------------------------------------------------------------------------

SLOW_MODULES = {
    "test_streaming_fault.py",   # executor-loss / fault-injection soaks
    "test_dtype_robustness.py",  # timestamp-dtype matrix re-runs the query surface 3x
    "test_txtable_chaos.py",     # randomized crash-point chaos loops
    "test_txtable_dv_races.py",  # DV concurrency races
    "test_properties.py",        # property-based sweeps (many Spark jobs per test)
}

SLOW_TESTS = {
    "test_ivf_staleness_gauges_and_rebuild_trigger",
    "test_ivfpq_staleness_rebuild_refits_both_stages",
    "test_minhash_index_probe_incremental",
    "test_inject_all_entry_points",
    "test_stream_changes_admission_control_paces_backlog[file]",
    "test_stream_changes_max_bytes_per_trigger[file]",
    "test_medallion_cdc_chain_exactly_once[file]",
    "test_append_merge_delete_roundtrip[file]",
    "test_vacuum_refuses_under_mid_drain_stream[file]",
    "test_vacuum_after_truncate_reclaims_as_orphans[file]",
    "test_reload_restarts_on_change",
    "test_daemon_start_stop",
    "test_view_store_filter_typed_equality",
    "test_view_store_filters_distributed",
    "test_ttl_first_seen_expiry_reemits",
    "test_corpus_pipeline_example_funnel",
    "test_ws_admin_rpc_verbs",
    "test_index_sync_prunes_ghosts_then_reingests",
    "test_mock_stage_output",
    "test_truncated_stream_checkpoint_fails_loudly[file]",
    "test_truncate_floor_never_exceeds_consumer_offset[file]",
    "test_interleaved_overlapping_merge_retries_and_wins[file]",
    "test_merge_rewrites_only_touched_buckets[file]",
    "test_replace_where_region_overwrite[file]",
    "test_replay",
    "test_count_and_stats_from_log_only[file]",
    "test_incremental_ingest_sink_dedups_and_noops",
    "test_compact_folds_events",
    "test_dv_backlog_respects_bytes_admission[file]",
    "test_partitioned_stream_changes_carries_partition_values[file]",
    "test_checkpoint_bounds_replay[file]",
    "test_stream_changes_restart_resumes_at_offset[file]",
    "test_observe_outcomes",
    "test_mock_stage_passthrough",
    "test_checkpoint_compression_roundtrip_and_legacy[file]",
    "test_bpe_bytes_matches_independent_reference",
    "test_admin_shell_client",
    "test_dv_cdc_stream_matches_batch_feed[file]",
    "test_search_meta_filters",
    "test_codec_roundtrip_fusion_matches_chained",
    "test_spy_counts_rows",
    "test_handle_and_wait",
    "test_vacuum_pinned_snapshot_raises_cleanly[file]",
    "test_dv_update_cdc_stream_matches_batch[file]",
    "test_scd2_null_attr_changes_and_validate",
    "test_view_preview_and_404",
    "test_apply_retention_drops_old_partitions",
    "test_pq_kmeans_codebooks_reduce_quantization_error",
    "test_quality_flag_unique_and_fk_rows",
    "test_ingest_sink_schema_evolution_mid_stream",
    "test_replace_where_straddling_file_keeps_outside_rows[file]",
    "test_clone_reads_refresh_marker_and_pin_truncation[file]",
    "test_streaming_channel_end_to_end",
    "test_dv_merge_cdc_stream_matches_batch[file]",
    "test_ws_admin_named_params_and_shell",
    "test_incremental_corpus_example",
    "test_splits_integer_boundaries_bucket_899999",
    "test_merge_insert_as_is_evolves_schema[file]",
    "test_send_from_store_posts_payloads",
    "test_every_listed_promotion_reads_old_files[file]",
    "test_truncate_respects_retain_window_and_consumers[file]",
    "test_scan_files_mtime_repickup",
    "test_restore_cdc_stream_matches_batch_feed[file]",
    "test_truncate_drops_superseded_entries_and_guards_reads[file]",
    "test_dv_cdc_batch_newly_dead_diffing[file]",
    "test_ivfpq_index_append_equals_bulk_build",
    "test_compact_where_targets_region_only[file]",
    "test_streaming_channel_auto_retry_sweep",
    "test_dv_replace_matches_rewrite_semantics[file]",
    "test_restore_to_dv_carrying_version[file]",
    "test_bpe_matches_independent_reference",
    "test_minhash_fold_matches_aggregation_reference",
    "test_timestamp_below_truncation_floor_refuses[file]",
    "test_ttl_first_seen_dedup_across_batches",
    "test_timestamp_before_table_birth_is_valueerror_after_truncation[file]",
    "test_merge_conditional_delete_and_update_gate[file]",
    "test_retry_repark_doubles_backoff",
    "test_disjoint_bucket_merge_commits_without_restage[file]",
    "test_unpartitioned_tables_record_no_scopes[file]",
    "test_stream_changes_matches_batch_feed[file]",
    "test_version_at_skips_truncation_resolvable_range[file]",
    "test_clone_feed_starts_fresh[file]",
    "test_resample_fills_gaps_and_marks_generated_cells",
    "test_range_join_no_duplicate_pairs_on_random_data",
    "test_auto_retry_node_parks_at_stage",
    "test_store_meta_node_param",
    "test_partition_disjoint_commits_commute[file]",
    "test_kmeans_centroids_ivf_path",
    "test_funnel_hot_key_cap",
    "test_corpus_retention_recipe_cascades_o_deleted",
    "test_stream_changes_null_fills_pre_evolution_files[file]",
    "test_restore_below_log_floor_raises[file]",
    "test_merge_rejects_key_update_and_scopes_buckets[file]",
}


def pytest_collection_modifyitems(config, items):
    slow = pytest.mark.slow
    seen = set()
    for item in items:
        fname = os.path.basename(str(item.fspath))
        if fname in SLOW_MODULES or item.name in SLOW_TESTS:
            item.add_marker(slow)
            if item.name in SLOW_TESTS:
                seen.add(item.name)
    # when the whole suite is collected, a stale name in SLOW_TESTS
    # (e.g. after a rename) must fail loudly rather than silently
    # dropping the test back into the fast tier's time budget; a subset
    # run (a module, a node id) collects only some of the names
    if _collects_whole_suite(config):
        missing = SLOW_TESTS - seen
        assert not missing, f"SLOW_TESTS names not collected: {missing}"


def _collects_whole_suite(config) -> bool:
    """Does one of the run's path arguments (or, without any, the
    directory it was started in) hold this whole tests directory?"""
    here = os.path.dirname(os.path.abspath(__file__))
    start = str(config.invocation_params.dir)
    roots = [os.path.abspath(os.path.join(start, a)) for a in config.args]
    return any(
        here == r or here.startswith(r + os.sep) for r in roots or [start]
    )


@pytest.fixture(params=["file"])
def file_log(request):
    """The commit-log store the TxTable test modules run against (they
    use it via ``pytestmark``). FileLogStore is the only one; the
    parameter stays so those tests keep the ``[file]`` ids that
    SLOW_TESTS and earlier test reports name them by."""
    return request.param


@pytest.fixture(scope="session")
def spark():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    s = get_spark("pypeman_spark_tests", cpus=min(cpus, 8))
    yield s


@pytest.fixture()
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
