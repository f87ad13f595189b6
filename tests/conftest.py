from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from build_a_cloud_based_batch_etl_pipeline_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# Slow tier (VERDICT r16 item 7): the full suite takes ~31 min — past
# the driver's verify budget, so its timeout left every test unwitnessed
# (tests_ok=false at ~96% passed with zero failures). The multi-minute
# sweeps below (measured with --durations on the committed full run;
# everything >=19 s) are SKIPPED by default so the default `pytest
# tests/` finishes in ~15 min; set SPARK_GRAFT_FULL_TESTS=1 to run all
# of them — the round's full-gate pass does, and commits the log as
# evidence. Names are matched with parametrization stripped.
SLOW_TESTS = {
    "test_bpe_delta_lineage_bounded_at_production_k",  # 128 s
    "test_no_query_exceeds_committed_shuffle_budget",  # 127 s
    "test_global_windows_only_over_bounded_inputs",  # 95 s
    "test_float_aggs_stable_under_partitioning",  # 91+82 s (2 params)
    "test_no_query_plans_cartesian",  # 90 s
    "test_unique_output_columns",  # 81 s
    "test_train_bpe_dispatches_by_measured_crossover",  # 60 s
    "test_tiled_serving_bit_equals_untiled_beyond_query_cap",  # 52 s
    "test_tiled_serving_materialized_path",  # 51 s
    "test_pq_incremental_loader_includes_epochs_over_file_uri",  # 40 s
    "test_cache_once_queries_plan_identically_cold_and_warm",  # 38 s
    "test_asof_join_forward_and_tolerance_match_bruteforce",  # 22 s
    "test_pq_purge_stops_serving_and_is_replay_safe",  # 21 s
    "test_bpe_canonical_merge_three_engines",  # 21 s
    "test_pq_index_build_load_query_contract",  # 20 s
}


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: multi-minute sweep; skipped unless SPARK_GRAFT_FULL_TESTS=1",
    )


def pytest_collection_modifyitems(config, items):
    # the marker is attached in every mode so `-m slow` / `-m 'not
    # slow'` select the tier; only the skip depends on the env var
    slow = [it for it in items if it.name.split("[")[0] in SLOW_TESTS]
    for item in slow:
        item.add_marker(pytest.mark.slow)
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow tier — set SPARK_GRAFT_FULL_TESTS=1 (run and "
        "committed by the round's full-gate pass)"
    )
    for item in slow:
        item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL
