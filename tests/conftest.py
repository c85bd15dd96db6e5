from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_connect_jsonata_spark.engine import get_spark

SF_DIR = "/root/testdata/sf0.001"

# The slowest large-scale stress/parity tests (>= ~20 s each; ~36 min of
# the 49-min full suite, measured quiet-host 2026-08-18), deselected by
# default via pytest.ini's `-m "not stress"` so the default run fits the
# driver's verify budget. Centralized here (by nodeid suffix) instead of
# scattering marks so parameterized cases can be targeted individually.
# Run them with: pytest tests/ -m stress
_STRESS_NODEIDS = (
    "test_oracle_sweep.py::test_full_registry_oracle_sweep_sf0001",
    "test_streaming.py::test_stream_incremental_dedup_inline_maintenance",
    "test_streaming.py::test_compact_sketch_store_preserves_semantics",
    "test_streaming.py::test_sketch_store_auto_maintenance_growth",
    "test_streaming.py::test_swap_dirs_crash_states_recover",
    "test_streaming.py::test_sketch_store_delete_no_ghost_matches",
    "test_streaming.py::test_sketch_store_scan_bytes_sublinear",
    "test_streaming.py::test_stream_incremental_dedup_pruned_layout_parity",
    "test_streaming.py::test_sketch_store_double_append_is_semantically_idempotent",
    "test_streaming.py::test_stream_incremental_dedup_exactly_once_stamp",
    "test_streaming.py::test_sketch_store_delete_crash_states_recover",
    "test_streaming.py::test_sketch_store_match_parity_with_flat",
    "test_streaming.py::test_sketch_store_delete_text_drift_fallback",
    "test_streaming.py::test_sketch_store_delete_mid_stream",
    "test_streaming.py::test_maintain_sketch_store_small_file_decay",
    "test_jsonata_conformance.py::test_dual_tier_constant_corpus_sweep",
    "test_jsonata_conformance.py::test_dual_tier_context_corpus_sweep",
    "test_queries_smoke.py::test_query_runs[stream_incremental_dedup_docs]",
    "test_round10_compile.py::test_format_integer_pictures_compile[$formatInteger(n, 'w;o')-data8]",
    "test_round10_compile.py::test_format_integer_pictures_compile[$formatInteger(n, 'w;o')-data9]",
    "test_round10_compile.py::test_format_integer_pictures_compile[$formatInteger(n, 'w;o')-data10]",
    "test_round10_compile.py::test_format_integer_pictures_compile[$formatInteger(n, 'w;o')-data11]",
    "test_plans.py::test_skew_split_join_matches_plain_join_all_types",
    "test_round14_opt.py::test_incremental_fused_bucket_cap_divergence_is_recall_only",
    "test_round13_opt.py::test_incremental_fused_edge_cases",
)


def pytest_collection_modifyitems(config, items):
    for item in items:
        if any(item.nodeid.endswith(s) for s in _STRESS_NODEIDS):
            item.add_marker(pytest.mark.stress)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
