from __future__ import annotations

import pytest

from mypipe_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("mypipe_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


def drain_stream(q):
    """processAllAvailable + guaranteed stop — a raising drain must
    not leak a running StreamingQuery into the session-scoped spark
    fixture shared by later tests."""
    try:
        q.processAllAvailable()
    finally:
        q.stop()


# Round-9 verdict ask #5: the full suite is ~26-33 min and the builder
# runs it several times per round; the inner loop runs `-m "not slow"`
# and saves the full suite for close validation. The slow tier is the
# long composed/e2e tests (streaming rehearsals, stream-stream join
# parity, dirty-corpus cross-engine sweeps, whole-catalog plan sweeps)
# — marked centrally by exact test name so the tier is reviewable in
# one place; tests/test_slow_markers.py pins every name here to an
# existing def, so a rename can never silently demote a test out of
# the tier. Parametrized families are deliberately NOT listable (a
# bare name would mark every param); mark those at the def site.
# Matching is by bare name, so a name defined in several files marks
# ALL of them — currently true for exactly two names
# (test_stream_equals_batch_on_ordered_replay and
# test_null_ids_survive_the_arrow_boundary, each in test_thin.py AND
# test_ratelimit.py), and both copies of both are intended slow
# (7-11 s each in the round-10 durations reading): 64 collected items
# for 62 listed names.
SLOW_TESTS = frozenset(
    {
        # whole-catalog sweeps (every registered query, cross-engine)
        "test_documents_plane_dirty_corpus_cross_engine_sweep",
        "test_events_plane_dirty_corpus_cross_engine_sweep",
        "test_eager_dedup_plane_dirty_corpus_cross_engine_sweep",
        "test_every_query_is_total_on_empty_tables",
        "test_no_catalog_query_plans_a_cartesian_product",
        "test_only_declared_queries_leave_the_jvm",
        "test_zero_norm_vectors_score_zero_not_crash",
        "test_zero_norm_vectors_agree_with_oracles",
        # composed streaming rehearsals / multi-session e2e
        "test_streaming_audit_and_curation_compose_on_one_stream",
        "test_streaming_curation_replayed_epoch_is_idempotent",
        "test_streaming_curation_matches_batch_gates",
        "test_alter_orchestrator_live_trigger_mid_stream",
        "test_alter_orchestrator_registers_and_restarts",
        "test_partitioned_keyed_produce_preserves_per_key_order",
        "test_partition_count_is_topic_config_not_producer_option",
        "test_decode_specific_versioned_after_alter",
        "test_malformed_frames_route_to_dead_letter",
        # stream-stream joins / stateful gates across microbatches
        "test_stream_stream_outer_join_emits_unmatched_after_watermark",
        "test_stream_stream_attribution_join_matches_batch",
        "test_stream_stream_join_evicts_state_past_watermark",
        "test_windowed_counts_match_batch",
        "test_state_suppresses_across_microbatch_boundary",
        "test_bounded_state_gates_across_microbatch_boundary",
        "test_effectively_once_drops_redelivered_duplicates",
        "test_effectively_once_exempts_snapshot_preloads",
        "test_effectively_once_passes_null_seq_rows_through",
        "test_scd2_late_event_routes_to_dead_letter",
        "test_session_windows_per_txid",
        "test_tx_group_stream_open_tx_held_back",
        # heavy single-operator e2e
        "test_embedding_firewall_quarantines_and_unblocks_kernels",
        "test_compact_write_obeys_the_plan",
        "test_exact_ntile_matches_window_ntile",
        # bench.py end to end: the 15 headline queries at sf0.001
        "test_bench_main_prints_one_headline_json_line",
        # a library UDF from another working directory: its own JVM
        "test_library_udf_runs_from_any_working_directory",
        # second band (7-12 s each in the round-10 durations reading):
        # multi-microbatch streaming pipes, config-driven pipeline
        # composition, wire/codec roundtrips through the twin — all
        # covered more cheaply at the unit level by tests that stay
        # in the inner loop
        "test_kafka_consumer_resumes_by_offset_without_duplicates",
        "test_null_ids_survive_the_arrow_boundary",
        "test_unparseable_ts_is_excluded_not_a_crash",
        "test_specific_wire_roundtrip",
        "test_tx_stream_midbatch_rollback_sequencing",
        "test_tx_stream_subsecond_commit_ts_exact",
        "test_full_pipeline_composition_from_one_config",
        "test_encode_specific_split_diverts_controls_and_unregistered",
        "test_versioned_specific_decode_over_rest",
        "test_partitioned_unkeyed_produce_breaks_order",
        "test_kafka_producer_writes_framed_keyed_records",
        "test_kafka_pipe_routes_dead_letters_and_honors_codec",
        "test_stream_equals_batch_on_ordered_replay",
        "test_huge_ids_survive_null_peers_exactly",
        "test_csv_stream_equals_batch",
        "test_csv_dirty_lines_classify",
        "test_snapshot_preload_flows_through_tx_grouping",
        "test_kafka_consumer_starting_offsets_latest",
        "test_avro_dead_letter_split_classifies_bad_bodies",
        "test_same_microsecond_mantissa_tie_orders_exactly",
        "test_debounce_stream_equals_batch_on_dirty_typed_input",
        "test_partitioned_kafka_pipe_keeps_per_pk_latest",
        "test_tx_group_stream_grouped_matches_batch",
        "test_kafka_config_pipe_consumes_and_decodes",
        "test_specific_single_table_contract_and_cross_table_guard",
        "test_components_converge_in_log_diameter_rounds",
        "test_run_curation_near_dup_stage",
        "test_embedding_cell_split_parity_on_hot_cell",
    }
)


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.name.split("[")[0] in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
