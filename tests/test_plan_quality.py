"""Physical-plan quality gates — the scale properties the engine promises.

These assert on the optimized plan, not timings, so they hold on any
hardware: filter/column pushdown into scans, single-shuffle windows,
broadcast joins for dims, window-group-limit for top-N.
"""

from __future__ import annotations

import pytest

from conftest import jobs_of

from feature_store_fraud_detection_spark.plans.registry import QUERIES


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _analyzed(df) -> str:
    return df._jdf.queryExecution().toString()


def test_point_lookup_pushes_filter(spark, sf_dir):
    df = QUERIES["point_lookup"].fn(spark, sf_dir)
    plan = _analyzed(df)
    assert "DataFilters: [isnotnull(user_id" in plan
    assert "(user_id" in plan and "= 7)" in plan


def test_pricing_prunes_columns(spark, sf_dir):
    df = QUERIES["pricing_summary"].fn(spark, sf_dir)
    plan = _analyzed(df)
    # only the 7 needed lineitem columns reach the scan (16-col table)
    scan_line = next(l for l in plan.split("\n") if "FileScan" in l)
    assert "l_orderkey" not in scan_line
    assert "l_shipdate" in scan_line


def test_flagship_single_window_shuffle(spark, sf_dir):
    df = QUERIES["flagship_features"].fn(spark, sf_dir)
    plan = _physical(df)
    # all range frames share ONE partitionBy(cc_num) exchange and ONE sort;
    # Spark may split the frames across Window nodes (the decimal-cast sum
    # needs its own pre-projection) but never re-exchanges or re-sorts
    assert plan.count("Exchange") == 1
    assert plan.count("+- Sort") == 1
    assert 1 <= plan.count("Window") <= 2


def test_latest_n_uses_window_group_limit(spark, sf_dir):
    df = QUERIES["latest5_per_key"].fn(spark, sf_dir)
    assert "WindowGroupLimit" in _physical(df)


def test_revenue_joins_broadcast(spark, sf_dir):
    df = QUERIES["revenue_by_nation"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_disjunctive_hull_filters_reach_scans(spark, sf_dir):
    """q19 flavor: the hand-stated convex-hull conjuncts must reach both
    parquet scans as data filters (Catalyst cannot factor them out of the
    cross-side OR on its own)."""
    df = QUERIES["disjunctive_revenue"].fn(spark, sf_dir)
    plan = _analyzed(df)
    scans = [l for l in plan.split("\n") if "FileScan" in l]
    li_scan = next(l for l in scans if "lineitem.parquet" in l)
    pa_scan = next(l for l in scans if "/part.parquet" in l)
    assert "l_quantity" in li_scan and "PushedFilters: [" in li_scan
    assert "p_size" in pa_scan and "p_brand" in pa_scan


def test_no_driver_collect_in_streaming_sources():
    """The streaming hot path must never materialize rows on the driver:
    state merges go through the bucket-partitioned ParquetOnlineStore, not
    collect()/createDataFrame round-trips. Guarded at the source level so a
    regression is caught even where no test exercises the specific sink."""
    import pathlib

    import feature_store_fraud_detection_spark.streaming as streaming_pkg

    pkg_dir = pathlib.Path(streaming_pkg.__file__).parent
    for src in pkg_dir.glob("*.py"):
        assert ".collect()" not in src.read_text(), f"driver collect in {src.name}"


def test_large_orders_reuses_agg_partitioning(spark, sf_dir):
    """q18 flavor: the HAVING aggregate leaves the big side partitioned on
    l_orderkey; the join back to orders must not re-exchange it. With two
    scans + one agg + two joins, 3 exchanges (agg, orders side, customer
    side at most) is the ceiling — a 4th would mean the agg output was
    re-shuffled."""
    df = QUERIES["large_orders"].fn(spark, sf_dir)
    plan = _physical(df)
    assert plan.count("Exchange hashpartitioning") <= 3


def test_double_role_nation_joins_broadcast(spark, sf_dir):
    """q7/q8 flavors join the nation dim twice under different roles; every
    dim side must broadcast — the lineitem fact shuffles only for the agg."""
    for name in ("nation_trade_volume", "market_share"):
        plan = _physical(QUERIES[name].fn(spark, sf_dir))
        assert "SortMergeJoin" not in plan, name
        assert plan.count("BroadcastHashJoin") >= 4, name


def test_part_value_threshold_broadcasts_scalar(spark, sf_dir):
    """q11 flavor: the global threshold is one row — it must arrive at the
    filter via broadcast, never a shuffled join."""
    plan = _physical(QUERIES["part_value_threshold"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_broadcasts_stats_and_filters_in_scan_stage(spark, sf_dir):
    """BM25: the df table and corpus stats are tiny — both must broadcast
    (the postings side never re-shuffles for them), and the query-term
    filter must sit in the same stage as the explode so non-matching tokens
    never leave the scan stage."""
    plan = _physical(QUERIES["bm25_topk"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats cross join
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k, no global sort


def test_pack_sequences_single_shard_exchange(spark, sf_dir):
    """Sequence packing must shuffle exactly once — by shard — and sort
    once for the prefix-sum window; a global (unpartitioned) window would
    serialize the corpus through one task."""
    plan = _physical(QUERIES["pack_sequences"].fn(spark, sf_dir))
    exchanges = plan.split("Exchange hashpartitioning")[1:]
    # one shard exchange + (small-input runs only) the doc-id fan-out
    # repartition below it — nothing else, and never a single partition
    assert 1 <= len(exchanges) <= 2
    assert any("shard" in e[:80] for e in exchanges)
    for e in exchanges:
        assert "shard" in e[:80] or "doc_id" in e[:80], e[:80]
    assert plan.count("Exchange SinglePartition") == 0


def test_dup_ngram_stats_shuffles_digests_not_text(spark, sf_dir):
    """The inverted-index exchanges must carry the md5 digest column, never
    the raw shingle text (32-char keys at 100 TB, not documents)."""
    plan = _physical(QUERIES["dup_ngram_stats"].fn(spark, sf_dir))
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        keys = seg[:120]
        assert "shingle#" not in keys, keys


def test_trending_topk_uses_window_group_limit(spark, sf_dir):
    """Per-window top-N must prune per partition (WindowGroupLimit) before
    the rank sort — the plan that keeps 'trending per window' cheap when
    windows hold millions of candidates."""
    plan = _physical(QUERIES["trending_topk"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_training_set_pipeline_single_wide_stage(spark, sf_dir):
    """The composite training-set build must add NO wide stage beyond the
    flagship window's one hash exchange — winsorize cut points arrive as a
    broadcast, the split is a scan-side expression."""
    plan = _physical(QUERIES["training_set_pipeline"].fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastNestedLoopJoin" in plan  # 1-row cut points


def test_weighted_topk_sample_no_global_sort(spark, sf_dir):
    """A-ES exact-k sampling must plan TakeOrderedAndProject (per-partition
    top-k heaps) — an Exchange-then-Sort global order would serialize the
    corpus at scale."""
    plan = _physical(QUERIES["weighted_topk_sample"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_cms_probe_broadcasts_sketch(spark, sf_dir):
    """The count-min probe join must broadcast the (depth x width)-cell
    sketch — shuffling the probe side by cell would move the item stream
    for a constant-size lookup table."""
    plan = _physical(QUERIES["cms_heavy_hitters"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-20, no global sort


def test_pagerank_iteration_moves_ranks_not_edges(spark, sf_dir):
    """One PageRank round over a pre-keyed edge table: the |E|-row side
    must reuse its existing hash partitioning — the only NEW exchanges an
    iteration may add are keyed by the contribution target (dst) and the
    rank/node tables. An exchange keyed on src would mean the edge table
    re-shuffles every round."""
    from feature_store_fraud_detection_spark.operators.graph import (
        pagerank_iteration,
    )
    from feature_store_fraud_detection_spark.plans.registry import _trade_edges
    from pyspark.sql import functions as F

    e = _trade_edges(spark, sf_dir).repartition("src")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = e.join(deg, "src")
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    ranks = nodes.select("node", F.lit(1000).cast("long").alias("rank_scaled"))
    out = pagerank_iteration(ed, nodes, ranks, base=10, damping_pct=85)
    plan = _physical(out)
    exchanges = plan.split("Exchange hashpartitioning")[1:]
    # src-keyed exchanges may appear only as the operator's own explicit
    # pre-keying (REPARTITION_BY_COL; duplicated across subtree references,
    # deduped by ReuseExchange at runtime) — a join-forced
    # ENSURE_REQUIREMENTS exchange on src would mean the |E| table
    # re-shuffles every iteration
    src_keyed = [x[:120] for x in exchanges if "src#" in x[:120]]
    assert src_keyed, "edge pre-keying missing entirely"
    for x in src_keyed:
        assert "REPARTITION_BY_COL" in x, x


def _plan_tree(df):
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    return plan


def _children(n):
    # a persisted intermediate appears as InMemoryTableScan; the property
    # every tree gate checks (aggregation-boundedness, window placement)
    # holds THROUGH a cache, so traverse into the cached plan — the r12
    # duplicated-subtree persists must not hide the shapes being audited
    if n.nodeName() == "InMemoryTableScan":
        cached = n.relation().cachedPlan()
        if cached.nodeName() == "AdaptiveSparkPlan":
            cached = cached.initialPlan()
        return [cached]
    ch = n.children()
    return [ch.apply(i) for i in range(ch.size())]


def _nodes(plan):
    stack = [plan]
    while stack:
        n = stack.pop()
        yield n
        stack.extend(_children(n))


def _aggregated_below(n) -> bool:
    """True iff every path from this node to a leaf passes through an
    aggregate — i.e. the node's input frame is bounded by group count,
    never raw table rows."""
    if "Aggregate" in n.nodeName():
        return True
    # an explicit LIMIT bounds the frame just as hard as a group-by
    if n.nodeName() in (
        "GlobalLimit", "Limit", "TakeOrderedAndProject", "CollectLimit"
    ):
        return True
    kids = _children(n)
    if not kids:
        # leaves: a LocalTableScan literal is bounded; a file scan is not
        return n.nodeName() == "LocalTableScan"
    return all(_aggregated_below(c) for c in kids)


# every registry query that legitimately contains a partition-less window;
# the gate proves each such window reads a post-aggregation frame, so the
# WindowExec "No Partition Defined" warning is whitelisted noise (see
# bench.py) and any NEW global window over raw rows fails this list-driven
# audit when added here — or trips the warning in bench, prompting review.
GLOBAL_WINDOW_QUERIES = [
    "exact_auc",              # distinct-score groups (evaluation.py)
    "dict_encode",            # distinct keys only (stats.py)
    "feature_drift_ks",       # n_bins cumulative rows (stats.py)
    "feature_drift_psi",      # n_bins rows
    "fraud_capture_curve",    # 10 decile bins (registry)
    "calibration_bins",       # 10 bins
    "mutual_info_value",      # n_bins x 2 joint-count frame (stats.py)
    "chi2_event_weekend",     # categories x 2 contingency cells (stats.py)
    "rrf_fusion",             # rank/fuse over bounded top-k lists (retrieval.py)
    "k_anonymity",            # cumulative share over the bounded class-size
                              # histogram (validate.py)
    "feature_audit",          # composes mutual_info/drift_ks screens — same
                              # bounded bin frames (registry)
    "user_survival",          # at-risk suffix sum over the bounded lifetime
                              # histogram (timeseries.py)
    "sequential_ab",          # cumulative sums over the n_checkpoints-row
                              # frame (evaluation.py)
    "fairness_report",        # gap windows over the bounded group frame
                              # (evaluation.py)
    "mann_whitney_events",    # bucket offsets over the n_buckets-row
                              # totals table (stats.py mann_whitney_u)
    "ks_two_sample",          # same bucket-offsets window (stats.py
                              # ks_two_sample)
    "kruskal_event_types",    # same bucket-offsets window over the
                              # distinct-value table (stats.py kruskal_wallis)
    "spearman_order_size",    # two bucket-offsets windows, one per margin
                              # (stats.py spearman_rho)
    "wilcoxon_user_shift",    # bucket-offsets window over distinct |d|
                              # (stats.py wilcoxon_signed_rank)
    "avg_precision_purchase", # distinct-score prefix window, exact_auc's
                              # surface (evaluation.py average_precision)
]


def test_global_windows_only_over_aggregated_frames(spark, sf_dir):
    for name in GLOBAL_WINDOW_QUERIES:
        plan = _plan_tree(QUERIES[name].fn(spark, sf_dir))
        n_global = 0
        for n in _nodes(plan):
            if n.nodeName() == "Window" and n.partitionSpec().size() == 0:
                n_global += 1
                assert all(_aggregated_below(c) for c in _children(n)), (
                    f"{name}: partition-less Window over a raw-row frame"
                )
        # at least exact_auc/dict_encode genuinely use one; a query listed
        # here with zero global windows is stale whitelist (keep it honest)
        assert n_global >= 1 or name in (
            "feature_drift_psi", "calibration_bins"
        ), name


def test_value_rank_profile_windows_are_bucket_bounded(spark, sf_dir):
    """The rank profile must never sort a whole event_type in one task:
    its row_number windows partition on (event_type, quantile bucket); the
    only event_type-level windows are the offset/total sums over the
    bounded per-bucket counts table."""
    plan = _plan_tree(QUERIES["value_rank_profile"].fn(spark, sf_dir))
    saw_bucketed_rownum = False
    for n in _nodes(plan):
        if n.nodeName() != "Window":
            continue
        spec = n.partitionSpec().toString()
        if "row_number" in n.toString().split("\n")[0]:
            assert "__bin" in spec, f"raw-row window spec: {spec}"
            saw_bucketed_rownum = True
        elif n.partitionSpec().size() <= 1:
            # offsets/totals windows: event_type alone is fine ONLY over
            # the aggregated counts frame
            assert all(_aggregated_below(c) for c in _children(n)), spec
    assert saw_bucketed_rownum


def test_chunk_dedup_shuffles_digests_not_text(spark, sf_dir):
    """The chunk-dedup election exchanges must carry md5 digests and
    positions only — chunk text stays in the narrow chunking stage."""
    df = QUERIES["chunk_dedup"].fn(spark, sf_dir)
    plan = _physical(df)
    for line in plan.split("\n"):
        if "Exchange hashpartitioning" in line:
            assert "chunk_text" not in line
    assert "md5" in plan


def test_hist_quantiles_two_keyed_exchanges_only(spark, sf_dir):
    """Histogram sketch: one (key, bin) pre-aggregation exchange plus the
    per-key assembly — no global sort, no window over raw rows."""
    df = QUERIES["hist_quantiles"].fn(spark, sf_dir)
    plan = _physical(df)
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Exchange rangepartitioning" not in plan
    assert "Window" not in plan


def test_kmv_overlap_pair_join_broadcasts_sketches(spark, sf_dir):
    """The |keys|^2 pair join runs over kilobyte sketch rows and must
    broadcast — never a shuffled join of sketch state."""
    df = QUERIES["kmv_overlap"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_source_mix_gate_is_scan_stage(spark, sf_dir):
    """The mixing gate joins a broadcast per-group weight table; the fact
    side must not exchange before the gate filter."""
    df = QUERIES["source_mix_sample"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_gopher_flags_scan_stage_only(spark, sf_dir):
    """The Gopher gate must be a pure scan-stage projection — no Join, no
    Window, and no exchange except load_docs' explicit few-input fan-out
    (REPARTITION_BY_COL — a no-op at scale where the scan has many splits)."""
    df = QUERIES["gopher_flags"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "Join" not in plan and "Window" not in plan
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        assert "REPARTITION_BY" in seg[:120], seg[:120]
    assert "Exchange rangepartitioning" not in plan


def test_stratified_topn_uses_window_group_limit(spark, sf_dir):
    """Exact-n-per-stratum sampling must prune per partition before the
    stratum sort (WindowGroupLimit), not sort whole strata."""
    df = QUERIES["stratified_topn"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "WindowGroupLimit" in plan


def test_pq_topk_joins_are_broadcast(spark, sf_dir):
    """PQ encode + ADC: every codebook/distance-table join must broadcast
    the tiny side — the corpus is never sort-merge-joined."""
    df = QUERIES["pq_topk"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hash_split_and_rebalance_are_narrow(spark, sf_dir):
    """The md5-threshold keep decisions are scan-stage filters: no Window,
    no sort; rebalance adds only the broadcast of the 1-row threshold."""
    split = QUERIES["train_test_hash_split"].fn(spark, sf_dir)
    plan = _physical(split)
    assert "Window" not in plan and "Sort" not in plan.replace("SortMerge", "")
    reb = QUERIES["rebalance_hash"].fn(spark, sf_dir)
    rplan = _physical(reb)
    assert "Window" not in rplan
    assert "SortMergeJoin" not in rplan  # threshold joins via broadcast


def test_decayed_value_single_keyed_exchange(spark, sf_dir):
    """Decay weights are a narrow projection; the per-key rollup is ONE
    hash exchange on the key (plus the 1-row 'now' broadcast)."""
    df = QUERIES["decayed_user_value"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "SortMergeJoin" not in plan
    n_hash_ex = plan.count("Exchange hashpartitioning")
    assert n_hash_ex <= 1, plan[:2000]


def test_sequence_patterns_single_window_sort(spark, sf_dir):
    """All the pattern's lead() columns must share ONE key-sorted window —
    exactly one Window operator and one hash exchange below the final agg."""
    df = QUERIES["sequence_patterns"].fn(spark, sf_dir)
    plan = _physical(df)
    assert plan.count("Window") == 1
    # exchanges: the window's key sort + the (AQE-planned) agg reuse it
    assert plan.count("Exchange hashpartitioning") <= 2


def test_ridge_fit_is_one_aggregate_no_join_no_window(spark, sf_dir):
    """Closed-form ridge = ONE map-side-combined moment aggregate + scalar
    math: no Join, no Window, at most one partial/final HashAggregate pair
    in the whole training plan."""
    df = QUERIES["ridge_fit"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") <= 2


def test_temperature_mix_gate_is_broadcast_plus_scan(spark, sf_dir):
    """The T=2 rebalance joins only BROADCAST group-probability rows onto
    the scan — no sort-merge join, no shuffle of the data rows beyond the
    tiny group-count aggregate."""
    df = QUERIES["temperature_mix_sample"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_training_sequences_single_window_no_join(spark, sf_dir):
    """The sequence-pair constructor is ONE key-sorted bounded-ROWS window
    — no join, exactly one Window operator."""
    df = QUERIES["training_sequences"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "Join" not in plan
    assert plan.count("Window") == 1


def test_curriculum_boundaries_broadcast_no_global_window(spark, sf_dir):
    """Difficulty staging must NOT use a global-sort window (ntile): the
    band boundaries come from an aggregate and broadcast back."""
    df = QUERIES["curriculum_stages"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "Window" not in plan  # no ntile/global sort anywhere
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_quantile_normalize_windows_are_group_partitioned(spark, sf_dir):
    """QN's ntile must sort WITHIN each source partition (never a global
    single-partition window), and the remap table joins back broadcast."""
    df = QUERIES["quantile_normalize_sources"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "Window" in plan
    # a partition-less window plans as Exchange SinglePartition + Sort
    assert "SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan


def test_holt_theil_sen_single_keyed_aggregate_no_join(spark, sf_dir):
    """Both per-key series folds reduce to daily totals then ONE keyed
    aggregate of array-local math — no join, no window anywhere."""
    for name in ("holt_forecast", "theil_sen_trend"):
        plan = _physical(QUERIES[name].fn(spark, sf_dir))
        assert "Join" not in plan, name
        assert "Window" not in plan, name


def test_nb_scoring_broadcasts_label_stats_only(spark, sf_dir):
    """NB's L-row per-label stats table must broadcast into the scoring
    fan-out; the gram-keyed model join must NOT be a nested-loop."""
    df = QUERIES["nb_lang_confusion"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "BroadcastNestedLoopJoin" in plan  # the k-row stats fan-out
    assert "CartesianProduct" not in plan


def test_hll_is_single_keyed_aggregate(spark, sf_dir):
    """HLL = one hash aggregation to registers, one to the estimate —
    no join, no window, exactly the register exchange + estimate
    exchange."""
    df = QUERIES["hll_distinct_users"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "Join" not in plan and "Window" not in plan


def test_attribution_position_shares_one_keyed_sort(spark, sf_dir):
    """The journey id (reversed cumulative count), forward rank, and
    journey size must all come from windows over ONE user-keyed
    exchange family — no join, no single-partition window."""
    df = QUERIES["attribution_position"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "Join" not in plan
    assert "SinglePartition" not in plan


def test_mann_whitney_no_raw_row_sort(spark, sf_dir):
    """The rank prefix sum must run over the distinct-value AGGREGATE,
    sharded by broadcast quantile cuts — never a sort-merge join or a
    global sort of raw event rows. (Its two bounded windows — bucket
    offsets, within-bucket prefix — are covered by the aggregated-frame
    window gate below.)"""
    df = QUERIES["mann_whitney_events"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_ks_no_raw_row_sort(spark, sf_dir):
    """KS shares mann-whitney's scale shape: distinct-value aggregate,
    broadcast-cut sharded prefix windows, two bounded scalar aggregates
    for the argmax — never a sort-merge join or global raw-row sort."""
    df = QUERIES["ks_two_sample"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_anova_is_one_aggregate_plus_broadcast(spark, sf_dir):
    """ANOVA = one keyed moment aggregate; the 1-row global stats fan
    back over the k-row group table via broadcast. No window, no
    sort-merge join anywhere."""
    df = QUERIES["anova_priority"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats x k groups


def test_holt_winters_single_keyed_aggregate_no_join(spark, sf_dir):
    """Holt-Winters keeps holt_forecast's shape: daily totals then ONE
    keyed aggregate of array-local fold math — no join, no window (the
    seasonal queue rides the fold, it is not a self-join)."""
    plan = _physical(QUERIES["holt_winters_forecast"].fn(spark, sf_dir))
    assert "Join" not in plan
    assert "Window" not in plan


def test_seasonal_strength_no_window_no_cartesian(spark, sf_dir):
    """Two keyed aggregates + a bounded per-key rollup join — no window
    anywhere, no cartesian product; the grand-mean side broadcasts."""
    plan = _physical(QUERIES["seasonal_strength"].fn(spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_dsir_broadcasts_totals_and_bounds_topk(spark, sf_dir):
    """DSIR's scalar totals broadcast into the contribution fan-out (the
    vocabulary itself must NEVER broadcast — term stats join stays
    keyed), and the top-k finishes in TakeOrderedAndProject, not a
    global sort."""
    df = QUERIES["dsir_selection"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row totals
    assert "TakeOrderedAndProject" in plan


def test_t_closeness_windows_partition_by_qi(spark, sf_dir):
    """The class-size window partitions by the QI columns (never
    SinglePartition over raw rows) and the |V|-row global distribution
    joins in broadcast."""
    df = QUERIES["t_closeness"].fn(spark, sf_dir)
    plan = _plan_tree(df)
    for n in _nodes(plan):
        if n.nodeName() == "Window":
            assert n.partitionSpec().size() > 0, (
                "t_closeness window must partition by the QI columns"
            )
    phys = _physical(df)
    assert "BroadcastHashJoin" in phys or "BroadcastNestedLoopJoin" in phys
    assert "SortMergeJoin" not in phys


def test_ratio_metric_is_two_aggregates_no_window(spark, sf_dir):
    """Delta-method readout = one keyed per-unit aggregate + one 1-row
    moment aggregate; no window, no join of any kind."""
    plan = _physical(QUERIES["ratio_metric_ci"].fn(spark, sf_dir))
    assert "Window" not in plan
    assert "Join" not in plan


def test_linkage_pairs_join_is_blocked_not_cartesian(spark, sf_dir):
    """Candidate generation must be a keyed equi-join on the block
    columns — never a cartesian product — and the top-k must finish in
    TakeOrderedAndProject."""
    plan = _physical(QUERIES["linkage_pairs"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_linkage_em_pattern_aggregate_is_blocked_not_cartesian(spark, sf_dir):
    """EM's sufficient statistic — the agreement-pattern count — must
    come from the SAME blocked keyed equi-join as linkage_pairs (never
    a cartesian product), collapsing straight into a <=2^k-row hash
    aggregate; the EM loop itself is bounded driver arithmetic over
    that table, so nothing else may touch data rows."""
    from feature_store_fraud_detection_spark.operators.linkage import (
        _agree_flag,
        _blocked_pairs,
    )
    from feature_store_fraud_detection_spark.plans.registry import (
        _linkage_profiles,
    )
    from pyspark.sql import functions as F

    prof = _linkage_profiles(spark, sf_dir)
    fields = ["peak_hour", "v_bucket", "n_bucket", "wk_bucket"]
    pats = (
        _blocked_pairs(prof, "user_id", ["modal_type"], fields)
        .select(
            *[
                _agree_flag(f).cast("int").alias(f"__a{i}")
                for i, f in enumerate(fields)
            ]
        )
        .groupBy(*[f"__a{i}" for i in range(len(fields))])
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    plan = _physical(pats)
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_t_closeness_emd_grid_is_broadcast_and_keyed(spark, sf_dir):
    """The dense class x value grid must come from a BROADCAST of the
    bounded |V|-row global histogram (the ordered-domain threat model's
    own bound) and a KEYED join against the sparse class-value counts —
    never a non-broadcast cartesian product; the per-class prefix runs
    in a QI-partitioned window (no single-partition window over the
    grid; the global histogram's |V|-row prefix is the one sanctioned
    single-partition frame and stays under the broadcast)."""
    df = QUERIES["t_closeness_emd"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Window" in plan


def test_kaplan_meier_no_subject_row_sort(spark, sf_dir):
    """Subjects collapse to ONE keyed aggregate; the day table is the
    only windowed/folded frame (bounded by the max_days cap) — never a
    sort-merge join or cartesian product over subject rows; the global
    cutoff broadcasts."""
    df = QUERIES["kaplan_meier_users"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_drift_fdr_is_group_keyed_with_broadcast_totals(spark, sf_dir):
    """Each group's KS runs in a group-partitioned prefix window over
    the distinct-value aggregate; totals broadcast back; BH's two
    windows ride the bounded m-row test table — no sort-merge join, no
    cartesian product anywhere."""
    df = QUERIES["drift_fdr"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_logrank_no_subject_row_sort(spark, sf_dir):
    """Log-rank shares kaplan_meier's shape: one keyed subject
    aggregate (the orders x customer join is the only row-scale join,
    keyed on the customer key), then windows/folds over the bounded
    death-day table only — no cartesian product, totals broadcast."""
    df = QUERIES["logrank_segments"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_isotonic_is_one_aggregate_plus_bounded_folds(spark, sf_dir):
    """Isotonic calibration = ONE hash aggregate to <= n_bins rows;
    the minimax runs as array folds over that bounded table — no join,
    no row-scale window, no iteration."""
    df = QUERIES["isotonic_calibration"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_stratified_ate_is_one_keyed_aggregate(spark, sf_dir):
    """ATE = one (stratum) hash aggregate of exact moments; the
    weighted-diff fold and the replicated global ride the bounded
    stratum table via broadcast — no window, no sort-merge join."""
    df = QUERIES["stratified_ate"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_pettitt_ranks_never_sort_raw_rows(spark, sf_dir):
    """Pettitt's ranks come from the per-(key, value) DISTINCT
    aggregate with key-partitioned prefix windows (mann_whitney's
    discipline) — no single-partition window, no cartesian product;
    the argmax join broadcasts the bounded per-key max table."""
    df = QUERIES["pettitt_priority"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_acf_pairs_join_is_keyed_on_day_number(spark, sf_dir):
    """ACF's lag pairs come from ONE self-join co-partitioned on
    (key, day-number) — never a cartesian product; the moments collapse
    in one (key, lag) hash aggregate with no window."""
    df = QUERIES["acf_priority"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_group_sequential_explodes_units_not_events(spark, sf_dir):
    """The look explode rides the per-UNIT aggregate (units x K rows),
    never raw events; window bounds broadcast as a 1-row scalar; no
    sort-merge join, no cartesian product (the scalar cross joins are
    BroadcastNestedLoopJoin)."""
    df = QUERIES["group_sequential"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_split_novelty_shuffles_digests_not_text(spark, sf_dir):
    """The train-index probe must join on md5 DIGESTS (32-byte keys at
    100 TB), never raw shingle text, and never a cartesian product or
    broadcast-of-the-corpus assumption."""
    df = QUERIES["split_novelty"].fn(spark, sf_dir)
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        assert "shingle#" not in seg[:120], seg[:120]


def test_store_point_reads_run_one_job_and_prune_one_bucket(spark, tmp_path):
    """A warm online point get is one job over one key bucket: the online
    frame's ``__kb = bucket(key)`` predicate folds with the lookup's key
    equality into ONE ``__kb = N`` partition filter, N being the bucket the
    writer put the key in, and the resolved relation spares the listing and
    footer-schema jobs. A warm offline ``by_key`` is one job too. A NULL-key
    row still satisfies the bucket predicate, so a full read returns it."""
    import datetime as dt
    import re

    from pyspark.sql import functions as F

    from feature_store_fraud_detection_spark.operators.relational import point_lookup
    from feature_store_fraud_detection_spark.sources.offline_store import OfflineStore
    from feature_store_fraud_detection_spark.sources.online_store import (
        BUCKET_COL,
        ParquetOnlineStore,
    )

    t0 = dt.datetime(2024, 1, 1, 10)
    rows = [(k, float(k), t0 + dt.timedelta(days=k % 3)) for k in range(1, 41)]
    rows.append((None, -1.0, t0))
    batch = spark.createDataFrame(rows, "cc_num long, amt double, ts timestamp")

    path = str(tmp_path / "online")
    online = ParquetOnlineStore(spark, path, ts="ts", retention_seconds=None, num_buckets=16)
    online.upsert(batch)
    key = 7
    written = (
        spark.read.parquet(path).filter(F.col("cc_num") == key).select(BUCKET_COL).first()[0]
    )

    def get():
        return point_lookup(online.read(), "cc_num", key)

    get().collect()  # warm: resolves the table
    got, jobs = jobs_of(spark, lambda: get().collect())
    assert [r.amt for r in got] == [7.0]
    assert jobs == 1
    plan = _physical(get())
    part_filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert len(part_filters) == 1
    assert re.findall(rf"{BUCKET_COL}#\d+ = (\d+)", part_filters[0]) == [str(written)]

    full = online.read().collect()
    assert len(full) == len(rows)
    assert [r.amt for r in full if r.cc_num is None] == [-1.0]

    offline = OfflineStore(spark, str(tmp_path / "offline"), ts_col="ts")
    offline.write(batch)
    offline.by_key("cc_num", key).collect()
    got, jobs = jobs_of(spark, lambda: offline.by_key("cc_num", key).collect())
    assert [r.amt for r in got] == [7.0]
    assert jobs == 1


def test_bulk_scoring_keeps_top_k_below_scorer(spark, tmp_path):
    """Scoring a bulk export is one Spark job: the scorer's ``MapInArrow``
    sits above the export's ``orderBy().limit()``, which stays one top-k
    (``TakeOrderedAndProject``), so there is no range-bounds sampling job,
    no range shuffle and no global sort under the scorer. The rows are the
    first ``n`` in key-then-timestamp order, scored as ``forward()`` would."""
    import datetime as dt

    import numpy as np

    from feature_store_fraud_detection_spark.ml.torch_scoring import (
        forward,
        init_weights,
        score_dataframe,
    )
    from feature_store_fraud_detection_spark.sources.offline_store import OfflineStore

    t0 = dt.datetime(2024, 1, 1, 10)
    rows = [
        (k, float(k * 10 + j), j, t0 + dt.timedelta(days=j, hours=k % 5))
        for k in range(40, 0, -1)
        for j in range(4)
    ]
    batch = spark.createDataFrame(
        rows, "cc_num long, amt double, n int, feature_timestamp timestamp"
    ).repartition(4)
    store = OfflineStore(spark, str(tmp_path / "offline"))
    store.write(batch)
    cols, n = ["amt", "n"], 50
    w = init_weights(n_features=len(cols), seed=3)

    def scored():
        return score_dataframe(store.bulk("cc_num", n), cols, w)

    scored().toPandas()  # warm: resolves the table
    pdf, jobs = jobs_of(spark, lambda: scored().toPandas())
    assert jobs == 1
    plan = _physical(scored())
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan

    want = sorted(rows, key=lambda r: (r[0], r[3]))[:n]
    assert list(zip(pdf["cc_num"], pdf["n"])) == [(r[0], r[2]) for r in want]
    x = np.array([[r[1], r[2]] for r in want], dtype=np.float64)
    assert np.allclose(pdf["fraud_prob"].to_numpy(), forward(x, w), rtol=0, atol=1e-12)


def test_bfs_levels_small_graph_runs_one_pass(spark):
    """A warm small-graph BFS is the edge count plus one grouped-map pass,
    not a checkpointed job chain per round: 7 jobs for build and collect on
    this chain (18 with a join + min-aggregate job chain over its 4 rounds).
    It leaves one persisted RDD: the checkpoint it returns."""
    from feature_store_fraud_detection_spark.operators.graph import bfs_levels

    chain = spark.createDataFrame(
        [(c, chr(ord(c) + 1)) for c in "abcdef"], "src string, dst string"
    )
    seeds = spark.createDataFrame([("a",)], "node string")

    def run():
        return bfs_levels(chain, seeds, max_hops=4).collect()

    run()  # warm
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keySet())
    out = bfs_levels(chain, seeds, max_hops=4)
    assert len(set(persisted().keySet()) - before) <= 1
    assert sorted((r.node, r.level) for r in out.collect()) == [
        ("a", 0), ("b", 1), ("c", 2), ("d", 3), ("e", 4)
    ]
    _, jobs = jobs_of(spark, run)
    assert jobs <= 7, jobs


def _cache_entries(spark) -> int:
    """How many DataFrame caches the session's CacheManager holds."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    for f in cm.getClass().getDeclaredFields():
        if str(f.getName()).endswith("cachedData"):
            f.setAccessible(True)
            return int(f.get(cm).size())
    raise AssertionError("CacheManager has no cachedData field")


def _dedup_chain(spark, sf_dir):
    """dedup_clusters over a 6-node pair chain: the minimum label travels
    one hop per round, so the loop runs 6 rounds (the last finds no
    change)."""
    from feature_store_fraud_detection_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, 6)], "id_a int, id_b int")
    ids = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id int")
    return dedup_clusters(pairs, ids, "doc_id")


@pytest.mark.parametrize(
    "name",
    [
        "pagerank",
        "textrank_keywords",
        "markov_stationary",
        "kcore_members",
        "coreness",
        "bfs_levels",
        "sssp_nations",
        "dbscan_clusters",
        "bpe_merges",
        "dedup_clusters_chain",
    ],
)
def test_loop_operators_leave_only_their_result(spark, sf_dir, name):
    """A driver loop's build plus its action leaves at most the checkpoint
    it returns persisted (bpe_merges none: its merge table is built on the
    driver) and no DataFrame cache: superseded cuts and the loop's input
    caches are released by the operator, not by a later GC or clearCache."""
    build = _dedup_chain if name == "dedup_clusters_chain" else QUERIES[name].fn
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    rdds, caches = set(persisted().keySet()), _cache_entries(spark)
    build(spark, sf_dir).write.format("noop").mode("overwrite").save()
    left = set(persisted().keySet()) - rdds
    assert len(left) <= (0 if name == "bpe_merges" else 1), left
    assert _cache_entries(spark) <= caches


def test_iterate_cuts_releases_and_stops(spark):
    """``lineage.iterate``: zero rounds return the checkpointed input; with
    ``cut_every=5`` the only jobs are the cuts (rounds 5 and 4 -> 1, rounds
    5, 10 and 12 -> 3); ``until`` sees each cut's row count and stops the
    loop; a raising step or ``until`` leaves nothing persisted."""
    from pyspark.sql import functions as F

    from feature_store_fraud_detection_spark.lineage import iterate, release

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    base = spark.range(10)

    def inc(df):
        return df.select((F.col("id") + 1).alias("id"))

    before = set(persisted().keySet())
    out = iterate(inc, base, 0)
    assert sorted(r.id for r in out.collect()) == list(range(10))
    assert len(set(persisted().keySet()) - before) == 1
    release(out)

    for rounds, cuts in ((4, 1), (12, 3)):
        before = set(persisted().keySet())
        out, jobs = jobs_of(spark, lambda: iterate(inc, base, rounds, cut_every=5))
        assert jobs == cuts, (rounds, jobs)
        assert len(set(persisted().keySet()) - before) == 1
        assert sorted(r.id for r in out.collect()) == list(range(rounds, rounds + 10))
        release(out)

    seen = []

    def shrinking(df):
        return inc(df).filter(F.col("id") < 10)

    out = iterate(shrinking, base, 20, until=lambda ckpt, n: seen.append(n) or n == 7)
    assert seen == [9, 8, 7]
    assert sorted(r.id for r in out.collect()) == list(range(3, 10))
    release(out)

    def failing_step(df):
        failing_step.calls += 1
        if failing_step.calls == 3:
            raise RuntimeError("round 3")
        return inc(df)

    def failing_until(ckpt, n):
        raise RuntimeError("until")

    for step, until in ((failing_step, None), (inc, failing_until)):
        failing_step.calls = 0
        before = set(persisted().keySet())
        with pytest.raises(RuntimeError):
            iterate(step, base, 5, until=until)
        assert set(persisted().keySet()) <= before


def test_coreness_job_count(spark, sf_dir):
    """coreness at the test scale: each peel round is one checkpoint job
    whose row count is the fixpoint test, and each sweep's graded nodes one
    more. 67 jobs measured for build plus action under AQE on local[4]
    (133 with a count job per round and three checkpoints per sweep); the
    bound leaves 8 for AQE planning drift."""
    _, jobs = jobs_of(
        spark,
        lambda: QUERIES["coreness"].fn(spark, sf_dir).write.format("noop").mode("overwrite").save(),
    )
    assert jobs <= 75, jobs
