from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graphragdatapipeline_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_session("graphrag-spark-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


# ---------------------------------------------------------------------------
# Suite budget (r14, VERDICT r13 item 2): the full suite outgrew the driver's
# pytest verification budget (36m21s measured; the r13 driver run timed out
# red at ~82%). The rungs below are auto-marked `slow` and excluded from the
# default run (pytest.ini addopts), keeping the default path under ~15 min.
# Selection rule — a rung is marked ONLY if its coverage is redundant with a
# cheaper kept rung or with evidence produced every round anyway:
#   * oracle-parity rungs: the driver itself hash-checks a rotating 50-query
#     window against DuckDB each round, and scripts/driver_sim.py replays the
#     full 155-query contract at every commit gate — the marked parity rungs
#     are the slowest duplicates of that evidence (each >10 s; the other
#     ~45 parity rungs stay in the default run);
#   * 100x-fixture / property-replica rungs (entity resolution recall,
#     incremental==one-shot, python replicas, stream==batch equivalences
#     >10 s): each has a smaller-fixture sibling that pins the same contract
#     in the default path;
#   * full-registry sweeps (the 155-plan Python-boundary audit): the same
#     antipattern columns are regenerated each round into
#     plans/r*/plan_audit.tsv by scripts/audit_plans.py.
# Run the marked rungs with `python -m pytest tests/ -m slow` (CI/nightly
# cadence); `-m ""` runs everything. Durations: /tmp-measured r14 baseline,
# recorded in OPTIMIZATION_r14.md; curation_end_to_end re-timed once its
# oracle's CTEs read twice were materialized, graph_louvain_distributed
# re-timed over three runs, all above 10 s (CHANGES.md).
SLOW_TESTS = {
    # full-registry sweeps
    "test_no_row_at_a_time_python_in_any_query",        # 228.5 s
    # oracle-parity duplicates of driver_sim / driver window evidence
    "test_oracle_parity[graph_pagerank]",               # 221.1 s
    "test_oracle_parity[graph_louvain_ladder]",         # 55.1 s
    "test_oracle_parity[curation_end_to_end]",          # 24.9 s
    "test_oracle_parity[graph_louvain_distributed]",    # 11.2 s
    # 100x-fixture / replica / equivalence property rungs
    "test_entity_resolution_prefix_filter_is_recall_preserving",  # 85.6 s
    "test_substring_incremental_equals_one_shot_any_split",       # 60.2 s
    "test_quality_classifier_matches_python_replica",             # 40.0 s
    "test_quality_classifier_deterministic_weights",              # 23.9 s
    "test_louvain_ladder_nested_and_weighted_semantics",          # 28.6 s
    "test_jaccard_candidate_keyed_equals_filtered_full_join",     # 25.0 s
    "test_remove_duplicated_spans_matches_reference",             # 24.2 s
    "test_weighted_pagerank_equals_parallel_edges",               # 15.7 s
    "test_scd2_merge_matches_reference",                          # 12.8 s
    "test_word_repetition_stats_match_reference",                 # 12.6 s
    "test_funnel_conversions_match_reference",                    # 11.2 s
    "test_split_disjoint_exhaustive_and_stable",                  # 11.2 s
    # stream==batch equivalences with cheaper kept siblings
    "test_stream_stream_join_equals_batch",                       # 35.3 s
    "test_state_history_stream_equals_batch",                     # 15.4 s
    "test_funnel_stream_equals_batch_conversions",                # 15.3 s
    "test_stateful_lifetime_agg_stream_equals_batch",             # 13.8 s
    "test_funnel_stream_ttl_forgets_idle_users",                  # 13.5 s
    "test_windowed_distinct_users_stream_equals_batch",           # 10.8 s
    "test_tumbling_stream_equals_batch",                          # 10.8 s
    # vector-index sink deep rungs (the cheap commit/read/compact
    # contract rungs and the pq/knn read paths all stay default)
    "test_vector_index_probe_tail_bounded_equals_resolved_view",  # 53.7 s
    "test_vector_index_delete_tombstones",                        # 23.7 s
    "test_vector_index_custom_columns_auto_compact",              # 17.0 s
    "test_vector_index_adc_probe_with_stored_codes",              # 14.8 s
    "test_vector_index_auto_compact_mid_stream_equals_one_shot",  # 13.2 s
    "test_read_vector_index_tail_bounded_equals_full_window",     # 11.3 s
    "test_substring_index_compaction_equals_streamed",            # 11.0 s
    "test_vector_index_gc_reclaims_commit_markers",               # 10.2 s
    # composed end-to-end wall (the driver-fixture sibling stays)
    "test_domain_pipeline_end_to_end",                            # 18.1 s
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.name in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
