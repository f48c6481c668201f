from __future__ import annotations

import os
import uuid

import pytest

from feature_store_fraud_detection_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------------
# `-m core` fast tier (round 10): the full suite is ~26 min and grows every
# round; this curated set touches every operator family once (hand fixtures
# and end-to-end paths, never hypothesis sweeps) in ~5 min so round-close
# verification stays cheap. Every non-property test module must contribute
# at least one entry — enforced as a failing test in test_registry_gates.py
# (property-sweep modules are exempt: their operators' hand fixtures in the
# fixture modules carry the family coverage; the sweeps are cross-checks).
# ---------------------------------------------------------------------------
CORE_TESTS: frozenset[str] = frozenset(
    {
        # flagship end-to-end
        "test_flagship_hand_fixture",
        "test_flagship_on_testdata",
        # ANN / scoring
        "test_ivf_topk_finds_identical_vector",
        "test_exact_auc_matches_brute_force",
        # bloom
        "test_bloom_semi_join_equals_plain_semi_join",
        # BPE
        "test_bpe_train_matches_python_reference",
        # corpus dedup
        "test_chunk_dedup_first_occurrence_wins",
        "test_incremental_dedup_batch_vs_corpus",
        # decay / deterministic sampling
        "test_decayed_user_value_hand_case",
        "test_train_test_hash_split_disjoint_total_and_append_stable",
        # encoders
        "test_target_encode_oof_excludes_own_fold_and_smooths",
        # graph + sketches
        "test_pagerank_two_cycle_exact_fixed_point",
        "test_bfs_levels_chain_and_cap",
        "test_relaxation_regimes_agree",
        "test_hll_sketch_estimate_accuracy_and_merge",
        # LLM-data ops
        "test_exact_dedup_groups",
        "test_ngram_jaccard_and_minhash_agree",
        "test_bm25_ranking_and_exact_score",
        # MLlib pipeline
        "test_train_evaluate_score",
        # multimodal seams
        "test_pcm_energy_windows_hand_fixture",
        # testdata loader
        "test_load_table_infers_each_file_version_once",
        # numpy trainer
        "test_backward_matches_finite_differences",
        # plan-shape gates
        "test_point_lookup_pushes_filter",
        "test_flagship_single_window_shuffle",
        "test_store_point_reads_run_one_job_and_prune_one_bucket",
        "test_bulk_scoring_keeps_top_k_below_scorer",
        "test_bfs_levels_small_graph_runs_one_pass",
        "test_loop_operators_leave_only_their_result",
        # quality / inference fixtures
        "test_chi2_independence_hand_fixture",
        "test_kaplan_meier_hand_fixture",
        "test_fleiss_kappa_hand_fixtures",
        # regression
        "test_ridge_matches_numpy_solve",
        # r12 optimization equivalences
        "test_nearest_centroid_exprs_match_crossjoin_window",
        # r13 optimization equivalences
        "test_rank_stats_sharded_equals_unsharded",
        # SQL-text operator builds
        "test_sql_text_builds_stay_in_py4j_budget",
        # registry drift gates (cheap, no Spark)
        "test_no_duplicate_registry_names",
        "test_grading_priority_is_valid",
        # sampling
        "test_hash_sample_deterministic_and_expandable",
        "test_stratified_hash_sample_rates_and_determinism",
        # skew / serving
        "test_salted_stats_matches_plain",
        "test_cohort_retention_matrix",
        # stateful streaming join
        "test_emit_on_update_join",
        # stores
        "test_offline_store_roundtrip",
        "test_online_store_upsert_and_ttl",
        "test_store_reads_see_every_mutation",
        # streaming
        "test_stream_windowed_stats_matches_batch",
        "test_streaming_jobs_start_in_one_function",
        # temporal joins
        "test_asof_join_semantics",
        "test_interval_join_matches_naive",
    }
)


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.name.split("[")[0] in CORE_TESTS:
            item.add_marker(pytest.mark.core)
        # two-tier policy (round 12; the full suite crossed the r10
        # verdict's 45-minute line): every hypothesis property-sweep
        # module is `slow`. Merge gate = `-m "not slow"` (fixtures,
        # oracles, plan gates — the correctness signal); the sweeps run
        # once per round via `-m slow`. Module NAME is the tier signal
        # so new sweep modules inherit it mechanically.
        if "_properties" in item.module.__name__:
            item.add_marker(pytest.mark.slow)


def jobs_of(spark, action):
    """Run ``action`` in a fresh job group; return its result and the
    number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"job-gate-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "4"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
