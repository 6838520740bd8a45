from __future__ import annotations

import pytest

from clinvar_pipeline_spark.session import get_spark

# ---------------------------------------------------------------------
# Slow-tier marking (r12, VERDICT r11 item 3). Node ids measured at
# >= 10 s (setup+call+teardown) in the committed full-suite timing run
# (515 passed, 62:52 wall, --durations=0, idle 32-core box). Marked
# centrally so test files stay untouched and the list is auditable in
# one place; pytest.ini's addopts excludes `slow` from the default
# lane and documents the nightly invocation that runs everything.
# A renamed test silently drops off this list (fails open into the
# fast lane — safe: the default lane only ever grows).
# ---------------------------------------------------------------------
SLOW_TESTS = {
    "test_aac.py::test_ladder_disambiguates_adts_from_mp3",
    "test_annotate_plan.py::test_concept_path",
    "test_annotate_plan.py::test_diff_all_inserts_then_idempotent",
    "test_annotate_plan.py::test_stale_annot_guard_abort_keeps_existing",
    "test_bpe.py::test_bpe_batched_matches_reference_interacting",
    "test_cli.py::test_cli_chained_load_annotate_golden_counters",
    "test_cli.py::test_cli_corpus_prep",
    "test_cli.py::test_cli_corpus_prep_catches_planted_issues",
    "test_cli.py::test_cli_corpus_prep_jsonl_ingest",
    "test_cli.py::test_cli_corpus_prep_stream_equals_batch_stages",
    "test_cli.py::test_cli_corpus_prep_stream_jsonl",
    "test_cli.py::test_cli_corpus_prep_stream_model_frozen_across_reruns",
    "test_cli.py::test_cli_corpus_prep_warc_ingest",
    "test_cli.py::test_cli_event_report_lands_every_stage",
    "test_cli.py::test_cli_event_stream_equals_batch_temporal_queries",
    # NOT test_cli_load_writes_snapshot (20 s): it creates the snap1
    # snapshot that test_cli_add_rs_ids_and_vcf / _default_xdb_path
    # (fast, in-lane) read — deselecting the producer broke the
    # default lane (caught in r12's lane re-run).
    "test_cli.py::test_cli_nightly_chain_equals_separate_modes",
    "test_cli.py::test_cli_nightly_with_rs_and_vcf_stages",
    "test_cli.py::test_cli_warehouse_report_lands_every_stage",
    "test_compaction.py::test_compaction_randomized_model_equivalence",
    "test_index_drift.py::test_cli_corpus_prep_retrains_only_on_drift",
    "test_kill9_streaming.py::test_sigkill_between_land_and_commit",
    "test_kill9_streaming.py::test_sigkill_mid_compact_manifest_window",
    "test_llm_queries.py::test_sequence_packing_properties",
    "test_llm_queries_r8.py::test_token_count_stream_serves_entropy",
    "test_load_plan.py::test_first_run_inserts",
    "test_load_plan.py::test_idempotent_second_run",
    "test_load_plan.py::test_stale_xdb_guard_abort_keeps_rows",
    "test_load_plan.py::test_stale_xdb_guard_deletes_below_threshold",
    "test_properties.py::test_normalized_tokens_single_pass_equivalent",
    "test_shuffle_baseline.py::test_broadcast_decay_trips_gate",
    "test_streaming_clusters.py::test_compaction_folds_preserve_labels_and_reingest_safety",
    "test_streaming_clusters.py::test_label_epoch_pruning_keeps_a_committed_base",
    "test_streaming_clusters.py::test_reingested_doc_is_idempotent_and_df_cap_uninflated",
    "test_streaming_clusters.py::test_replayed_batch_is_a_noop",
    "test_streaming_clusters.py::test_two_batch_drain_equals_batch_cc",
    "test_temporal.py::test_asof_forward_and_tolerance",
    "test_temporal.py::test_asof_null_event_times_match_nothing",
    "test_temporal.py::test_asof_property_matches_merge_asof",
    "test_temporal.py::test_asof_stream_equals_batch_on_two_batch_drop",
    "test_temporal.py::test_asof_tiebreak_col_is_deterministic_across_partitionings",
    "test_temporal.py::test_funnel_stream_equals_batch_on_two_batch_drop",
    "test_temporal.py::test_range_join_property_matches_brute_force",
    "test_temporal.py::test_range_live_stream_native_join_equals_batch",
    "test_temporal.py::test_range_live_stream_pairs_across_micro_batches",
    "test_term_rank.py::test_same_branch_higher_rank_wins",
    "test_text_stats.py::test_containment_matches_pure_python_and_is_asymmetric",
    "test_timeseries.py::test_active_users_stream_equals_batch",
    "test_timeseries.py::test_active_users_vs_pandas",
    "test_timeseries.py::test_anomalies_live_stream_drain_equals_batch",
    "test_timeseries.py::test_daily_count_stream_serves_three_calendar_reports",
    "test_timeseries.py::test_dow_seasonality_matches_pandas_twin",
    "test_timeseries.py::test_gap_fill_invariants_sf0001",
    "test_timeseries.py::test_gap_fill_property_vs_python",
    "test_timeseries.py::test_gap_fill_spine_locf_interp",
    "test_timeseries.py::test_ohlc_stream_equals_batch_on_two_batch_drain",
    "test_timeseries.py::test_rfm_ntile_arithmetic_edges",
    "test_timeseries.py::test_rfm_segments_invariants",
    "test_timeseries.py::test_rolling_anomalies_vs_numpy",
    "test_timeseries.py::test_rolling_stats_vs_pandas",
    "test_timeseries.py::test_transitions_live_stream_drain_equals_batch",
    "test_timeseries.py::test_transitions_live_stream_watermark_correct",
    "test_timeseries.py::test_transitions_property_vs_python",
    "test_timeseries.py::test_trend_test_verdicts_on_constructed_series",
    "test_timeseries.py::test_trigram_live_stream_drain_equals_batch",
    "test_timeseries.py::test_trigram_live_stream_split_semantics",
    "test_timeseries.py::test_type_correlation_vs_numpy",
    "test_warehouse.py::test_pagerank_matches_pure_python_power_iteration",
    "test_warehouse.py::test_scd2_frame_matches_pure_python_run_collapse",
    "test_warehouse.py::test_zorder_prunes_both_dimensions",
    "test_xml_fuzz.py::test_fuzz_conservation",
    "test_xml_fuzz.py::test_fuzz_unicode_names",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        # nodeid is like "tests/test_cli.py::test_cli_corpus_prep";
        # the set stores it relative to tests/ so the hook works from
        # either rootdir spelling
        nid = item.nodeid.split("/")[-1]
        if nid in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="clinvar-pipeline-spark-tests", master="local[4]",
                  shuffle_partitions="4")
    yield s
    s.stop()


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
