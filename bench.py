"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "subtotals": {...}, "sf": sf, ...}.

Each query executes fully via the noop sink (no driver-side collect cost in
the measurement, all executor work included). Session build + JVM warmup are
excluded from per-query times, matching how the reference reports its own
numbers (BASELINE.md measures compute, not process startup).

Warmup policy: before timing, every headline query runs once at sf0.001.
That compiles the whole-stage-codegen for each query's expression trees
(md5/HOF-heavy queries like minhash pay ~5 s of ONE-TIME Janino compilation
otherwise) and fills Catalyst's caches. At any real scale this cost is
amortized noise; the timed numbers are the steady-state per-query cost the
cluster would actually see. The warmup runs on 100x less data, so it adds
little wall time while removing compile jitter from the measurement.

Noise policy (round 6): every headline query is timed on N=3 interleaved
whole-set passes ($SPARK_GRAFT_BENCH_PASSES to override) and the reported
number is the per-query MINIMUM — this box is co-tenant and contention only
adds time, so the min is the engine's own cost; a load spike inflates one
pass, never all of one query's samples. The JSON carries the per-query
max/min noise quantiles and /proc/loadavg before/after as the co-tenant
pressure record.

Round-over-round comparability: the headline set GROWS each round, so the
grand total is not comparable across rounds. Every query is tagged with the
round it entered the bench, and the output carries a ``subtotals`` map
(``r2_set``/``r3_set``/``r4_set``) — regressions are visible by comparing
the SAME subtotal across BENCH_r{N}.json files, never the grand total.

Two scenario rows beyond the per-query timings:

* ``skew`` — a planted 30%-mass hot key (the "hot card" motivation for the
  bucketed window decomposition): wall-time of the plain key-partitioned
  trailing window vs ``bucketed_trailing_aggs`` on the same skewed input.
  The plain form serializes the hot key on one reducer; the bucketed form
  shuffles on (key, hour-bucket) and must win on this input.
* ``streaming`` — a PINNED 150k-event feed in fixed 25k-row micro-batches
  (rate-micro-batch source) through the watermarked sliding-window
  aggregate into the online-store merge (windowed_stats ->
  OnlineStoreSink), reporting sustained events/s + per-event cost + a
  per-batch noise marker; at the end every row of the online store is
  checked against a batch recompute of the same windows (stream == batch
  on the processed prefix). Round 9 pinned both the feed SIZE and the
  batch SIZE — earlier rounds' streaming rows are not comparable. Round
  10 made the row min-of-N full scenario runs ($SPARK_GRAFT_STREAM_RUNS,
  default 3) with the cross-run spread in the JSON: same-day r9 runs at
  the identical pinned shape spread 15.0 -> 3.75 s/100k, which a
  within-run marker cannot see.
* ``host_canary_sec`` — a fixed DATA-INDEPENDENT micro-benchmark
  (generated-range hash aggregate + sort at pinned size, min-of-3) whose
  work never changes across rounds: the canary ratio between two bench
  files is the host-speed ratio, and tools/bench_compare.py divides it
  out of subtotal ratios before flagging regressions.
* ``skew_join`` — the join twin of ``skew``: a 90%-mass hot fact key joined
  many-to-many against a non-broadcastable versioned dim (output
  amplification — the skew AQE cannot see, because it splits by INPUT
  partition bytes while the hot partition's input is small). Plain SMJ vs
  ``salted_join`` vs AQE skew-split, checksum-verified equal.
* ``ann_quality`` — recall@5 of the documented ANN default
  ``ivfpq_topk(init='kmeans', m=32)`` against exact L2 at the bench sf,
  with the md5-sampled oracle shape's recall alongside for contrast.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from feature_store_fraud_detection_spark.plans.registry import QUERIES
from feature_store_fraud_detection_spark.session import get_spark

# Headline set: the flagship feature pipeline plus the heaviest operators of
# each family, tagged with the round each entered the bench (subtotals key
# off the tag; grand totals across rounds are NOT comparable).
HEADLINE: list[tuple[str, int]] = [
    ("flagship_features", 2),
    ("pricing_summary", 2),
    ("revenue_by_nation", 2),
    ("top_customers", 2),
    ("latest5_per_key", 2),
    ("stats_with_latest", 2),
    ("dict_encode", 2),
    ("sync_offline_online", 2),
    ("sliding_window_aggs", 2),
    ("asof_join_features", 2),
    ("minhash_lsh_pairs", 2),
    ("simhash_fingerprints", 2),
    ("text_profile", 2),
    ("cosine_topk", 2),
    ("token_tfidf", 2),
    ("salted_stats", 2),
    # round-3 additions (regressions here must be visible)
    ("bm25_topk", 3),
    ("pack_sequences", 3),
    ("geo_proximity_pairs", 3),
    ("fuzzy_pairs", 3),
    ("sq8_topk", 3),
    ("value_rank_profile", 3),
    ("ngram_jaccard_pairs", 3),
    ("pagerank", 3),
    ("bfs_levels", 3),
    ("cms_heavy_hitters", 3),
    ("bigram_nll", 3),
    ("dbscan_clusters", 3),
    ("cusum_changepoints", 3),
    ("weighted_topk_sample", 3),
    ("chunk_dedup", 3),
    ("bloom_semi_join", 3),
    ("hist_quantiles", 3),
    ("hard_negatives", 3),
    ("source_mix_sample", 3),
    ("kmv_overlap", 3),
    ("bpe_merges", 3),
    ("multiprobe_topk", 3),
    ("incremental_neardup", 3),
    # round-4 additions: PQ compressed-domain ANN, time-decay features,
    # deterministic exact-n stratified sampling
    ("pq_topk", 4),
    ("ivfpq_topk", 4),
    ("decayed_user_value", 4),
    ("stratified_topn", 4),
    ("sequence_patterns", 4),
    ("ngram_containment", 4),
    ("ridge_fit", 5),
    ("temperature_mix_sample", 5),
    ("curriculum_stages", 5),
    ("training_sequences", 5),
    # round-5 second batch: feature screens + hybrid retrieval (kcore is
    # graded by the oracle gate; its iterative loop is too heavy for the
    # headline, like prefix_filter_pairs/triangle_stats)
    ("woe_iv", 5),
    ("chi2_event_weekend", 5),
    ("keyness_g2", 5),
    ("rrf_fusion", 5),
    # round-6 additions: trend-aware forecasting, robust trend, corpus
    # harmonization, checked HLL, readability, multi-touch attribution,
    # TextRank, multi-changepoint segmentation (markov_stationary and
    # nb_lang_confusion are graded by the oracle gate; their fixed
    # iteration/join structure is headline-heavy like kcore)
    ("holt_forecast", 6),
    ("theil_sen_trend", 6),
    ("quantile_normalize_sources", 6),
    ("hll_distinct_users", 6),
    ("readability_scores", 6),
    ("attribution_position", 6),
    ("textrank_keywords", 6),
    ("cusum_segments", 6),
    # round-7 additions: rank/variance inference, seasonal smoothing,
    # weighted shortest paths, DSIR data selection
    ("mann_whitney_events", 7),
    ("anova_priority", 7),
    ("holt_winters_forecast", 7),
    ("sssp_nations", 7),
    ("dsir_selection", 7),
    ("t_closeness", 7),
    ("ratio_metric_ci", 7),
    ("linkage_pairs", 7),
    ("brier_report", 7),
    ("experiment_power", 7),
    ("ks_two_sample", 7),
    ("seasonal_strength", 7),
    # round-8 additions: EM-estimated linkage weights (20-iteration
    # driver EM over the blocked-pair pattern table) and numeric-EMD
    # t-closeness (dense class x value-band prefix sums); the two gate
    # canaries are deliberately absent — they measure the harness, not
    # the engine
    ("linkage_em_weights", 8),
    ("t_closeness_emd", 8),
    ("kaplan_meier_users", 8),
    ("drift_fdr", 8),
    ("logrank_segments", 8),
    ("isotonic_calibration", 8),
    ("stratified_ate", 8),
    ("pettitt_priority", 8),
    ("acf_priority", 8),
    ("group_sequential", 8),
    ("split_novelty", 8),
    # round-9 additions: supervised Fellegi-Sunter m over the planted
    # shadow-account fixture; the categorical-inference family
    ("linkage_supervised_m", 9),
    ("cmh_urgent_highvalue", 9),
    ("mcnemar_value_rules", 9),
    ("kappa_lang_id", 9),
    ("conformal_events", 9),
    # round-9 second batch: rank/shape/agreement/causal inference —
    # each a bounded-table fold after one hash aggregate or one
    # distinct-value prefix, so expect sub-second fixed-overhead costs
    ("kruskal_event_types", 9),
    ("spearman_order_size", 9),
    ("brown_forsythe_events", 9),
    ("jarque_bera_events", 9),
    ("ljung_box_priority", 9),
    ("fleiss_doc_quality", 9),
    ("did_user_split", 9),
    ("kendall_priority_price", 9),
    ("welch_t_events", 9),
    ("avg_precision_purchase", 9),
    ("cochran_q_event_rules", 9),
    ("ca_trend_priority", 9),
    ("cronbach_doc_signals", 9),
    ("krippendorff_doc_panel", 9),
    ("decomposition_priority", 9),
    ("wilcoxon_user_shift", 9),
    ("classification_value_rule", 9),
    ("nelson_aalen_users", 9),
    ("hosmer_lemeshow_hour", 9),
]

#: planted-skew scenario: this fraction of rows remaps to one hot key
SKEW_REPLICATION = 20
SKEW_WINDOW_SEC = 3600

#: streaming scenario: PINNED feed — the measurement processes exactly
#: STREAM_TARGET_EVENTS events in fixed STREAM_ROWS_PER_BATCH-row
#: micro-batches (VERDICT r8: a wall-clock-bounded rate-source feed grew
#: 125k->175k across runs AND let a contended trigger balloon one batch,
#: so ev/s confounded feed size, batch size, and engine speed; the
#: rate-micro-batch source fixes both degrees of freedom, so the row is
#: comparable round-over-round and also reports per-event cost).
#: NOTE: not comparable to the r2-r8 BENCH rows, which measured variable
#: (often single-giant-batch) feeds — see PERF.md round-9 note.
STREAM_ROWS_PER_BATCH = 25_000
STREAM_TARGET_EVENTS = 150_000
#: state partitions for the measured stream — sized to the 50-key feed
#: (see streaming_scenario); recorded in the JSON row
STREAM_STATE_PARTITIONS = 4
STREAM_MAX_WALL = 60  # abort guard if the box stalls the feed
STREAM_BASE_EPOCH = 1_700_000_000  # fixed event-time origin (determinism)


def _skewed_events(spark, sf_dir):
    """The events table amplified x{SKEW_REPLICATION} with ~30% of rows
    remapped to ONE hot key — the "one hot card" histogram the bucketed
    window decomposition exists for. Deterministic (replica index jitters
    the timestamp; no RNG)."""
    from feature_store_fraud_detection_spark.schemas import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    return (
        ev.withColumn(
            "rep", F.explode(F.sequence(F.lit(1), F.lit(SKEW_REPLICATION)))
        )
        .select(
            (F.col("event_id") * SKEW_REPLICATION + F.col("rep")).alias(
                "event_id"
            ),
            (F.col("ts") + F.make_interval(secs=F.col("rep"))).alias("ts"),
            F.when(F.col("user_id") % 10 < 3, F.lit(0))
            .otherwise(F.col("user_id"))
            .alias("user_id"),
            "value",
        )
    )


def skew_scenario(spark, sf_dir) -> dict[str, float]:
    """Time the plain key-partitioned trailing window vs the bucketed exact
    decomposition on the planted-hot-key input. Returns both wall times."""
    from feature_store_fraud_detection_spark.operators.windows import (
        bucketed_trailing_aggs,
        trailing_range_aggs,
    )

    big = _skewed_events(spark, sf_dir).persist()
    n = big.count()  # materialize outside both measurements
    t0 = time.time()
    trailing_range_aggs(
        big,
        "user_id",
        "ts",
        [
            (F.count(F.lit(1)), SKEW_WINDOW_SEC, "cnt_w"),
            (F.avg("value"), SKEW_WINDOW_SEC, "avg_w"),
        ],
    ).write.format("noop").mode("overwrite").save()
    plain = round(time.time() - t0, 3)
    t0 = time.time()
    bucketed_trailing_aggs(
        big, "user_id", "ts", "value", SKEW_WINDOW_SEC, "event_id"
    ).write.format("noop").mode("overwrite").save()
    bucketed = round(time.time() - t0, 3)
    big.unpersist()
    return {"rows": n, "plain_window_sec": plain, "bucketed_window_sec": bucketed}


#: skew-join scenario: hot-key mass and dim versions (output amplification)
SKEW_JOIN_HOT_PCT = 9  # user_id % 10 < 9 -> 90% of facts on one key
SKEW_JOIN_DIM_VERSIONS = 512


def skew_join_scenario(spark, sf_dir) -> dict[str, float]:
    """Plain SMJ vs salted_join vs AQE skew-split on an output-amplified
    hot key: 90% of facts share one key, and the dim carries
    {SKEW_JOIN_DIM_VERSIONS} rows per key, so the hot reduce task must
    produce ~90% of the join output alone. AQE's skew splitting keys off
    INPUT partition bytes — the hot partition's input is small, so AQE
    leaves it whole and only the explicit salt spreads the OUTPUT work.
    All three outputs are checksum-compared (order-insensitive xxhash sum).
    """
    from feature_store_fraud_detection_spark.operators.skew import salted_join
    from feature_store_fraud_detection_spark.schemas import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    facts = ev.select(
        "event_id",
        F.when(F.col("user_id") % 10 < SKEW_JOIN_HOT_PCT, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        "value",
    ).persist()
    n = facts.count()
    dim = (
        facts.select("user_id")
        .distinct()
        .withColumn(
            "version",
            F.explode(F.sequence(F.lit(1), F.lit(SKEW_JOIN_DIM_VERSIONS))),
        )
        .select(
            "user_id",
            "version",
            F.md5(F.concat_ws("|", F.col("user_id"), F.col("version"))).alias(
                "attr"
            ),
        )
        .persist()
    )
    dim.count()

    def checksum(df) -> int:
        return int(
            df.select(
                F.sum(
                    F.xxhash64("event_id", "user_id", "value", "attr").cast(
                        "decimal(38,0)"
                    )
                ).alias("h")
            ).first()["h"]
        )

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        # dim is non-broadcastable by scenario contract; keep all 32 reduce
        # tasks so the hot task is visible (AQE would coalesce this small
        # shuffle to ONE task and serialize every variant equally)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        t0 = time.time()
        facts.join(dim, "user_id").write.format("noop").mode(
            "overwrite"
        ).save()
        plain = round(time.time() - t0, 3)
        t0 = time.time()
        salted_join(facts, dim, "user_id", num_salts=32).write.format(
            "noop"
        ).mode("overwrite").save()
        salted = round(time.time() - t0, 3)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m"
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m"
        )
        t0 = time.time()
        facts.join(dim, "user_id").write.format("noop").mode(
            "overwrite"
        ).save()
        aqe = round(time.time() - t0, 3)
        hash_equal = checksum(facts.join(dim, "user_id")) == checksum(
            salted_join(facts, dim, "user_id", num_salts=32)
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        facts.unpersist()
        dim.unpersist()
    return {
        "fact_rows": n,
        "plain_smj_sec": plain,
        "salted_join_sec": salted,
        "aqe_skew_sec": aqe,
        "hash_equal": hash_equal,
    }


def ann_quality_scenario(spark, sf_dir) -> dict[str, float]:
    """Mean recall@5 vs exact L2 for the documented ANN default
    (ivfpq_topk init='kmeans', m=32, n_probe=4) and, for contrast, the
    md5-sampled oracle shape (m=16, n_probe=2) — the number USAGE.md's
    quality table quotes. Both searches are scored against one exact
    ``l2_topk`` ground truth with ``recall_at_k``."""
    from feature_store_fraud_detection_spark.operators.similarity import (
        ivfpq_topk,
        l2_topk,
        recall_at_k,
    )
    from feature_store_fraud_detection_spark.schemas import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = l2_topk(emb, "vec_id", "embedding", query_max_id=10)
    out: dict[str, float] = {}
    for label, kwargs in (
        (
            "ivfpq_kmeans_recall_at_5",
            dict(init="kmeans", m=32, k_per_sub=64, n_probe=4),
        ),
        (
            "ivfpq_sampled_recall_at_5",
            dict(init="md5_sample", m=16, k_per_sub=64, n_probe=2),
        ),
    ):
        t0 = time.time()
        approx = ivfpq_topk(
            emb, "vec_id", "embedding", query_max_id=10, **kwargs
        )
        avg = (
            recall_at_k(exact, approx)
            .agg(F.avg("recall").alias("r"))
            .first()["r"]
        )
        out[label] = round(float(avg), 3)
        out[label.replace("recall_at_5", "sec")] = round(time.time() - t0, 3)
    return out


def _rate_to_events(raw):
    """Deterministic event derivation from the rate source's row number:
    event time advances 250 rows per event-second from a fixed origin, 50
    cards round-robin, amount a fixed residue — so a batch job over
    range(N) reproduces the exact event set the stream processed."""
    return raw.select(
        F.timestamp_seconds(
            F.lit(STREAM_BASE_EPOCH) + F.expr("value div 250")
        ).alias("event_time"),
        F.concat(F.lit("cc"), (F.col("value") % 50).cast("string")).alias(
            "cc_num"
        ),
        ((F.col("value") % 997).cast("double") * 0.5).alias("amount"),
    )


def streaming_scenario(spark) -> dict[str, float]:
    """Run :func:`_streaming_scenario_run` with the session's
    shuffle-partition conf saved and restored in a try/finally — the
    scenario right-sizes state partitions for its own feed, and an
    exception mid-scenario must not leave every subsequent benchmark
    query running at that setting (nor hard-code the restore value)."""
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        return _streaming_scenario_run(spark)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)


def _streaming_scenario_run(spark) -> dict[str, float]:
    """Drive windowed_stats -> OnlineStoreSink from the rate source at
    fixed {STREAM_ROWS_PER_BATCH}-row micro-batches until exactly
    {STREAM_TARGET_EVENTS} events have been processed (pinned feed — ev/s
    is comparable round-over-round); report
    sustained events/s, per-event cost, a per-batch noise marker, and
    verify every online-store row against a batch recompute of the same
    windows over the exact processed prefix (stream == batch)."""
    from feature_store_fraud_detection_spark.streaming.pipeline import (
        COUNT_WINDOW,
        OnlineStoreSink,
        windowed_stats,
    )

    # pre-warm the STREAMING machinery the way the batch queries pre-warm
    # codegen: a throwaway run of the same pipeline shape (rate source ->
    # windowed_stats -> foreachBatch merge) compiles the stateful-agg
    # codegen and initializes a state-store provider, so the measured
    # query's first data batch does real work instead of one-time setup
    warm_sink = OnlineStoreSink(key="cc_num", ts="window_end")
    warm_q = (
        windowed_stats(
            _rate_to_events(
                spark.readStream.format("rate")
                .option("rowsPerSecond", 1000)
                .option("numPartitions", 1)
                .load()
            )
        )
        .writeStream.outputMode("append")
        .foreachBatch(warm_sink)
        .trigger(processingTime="1 second")
        .start()
    )
    warm_deadline = time.time() + 20
    while time.time() < warm_deadline:
        if any(p["numInputRows"] > 0 for p in warm_q.recentProgress):
            break
        time.sleep(0.25)
    warm_q.stop()
    warm_q.awaitTermination()

    # rate-micro-batch emits EXACTLY rowsPerBatch rows per trigger (the
    # plain rate source accumulates unread rows while a trigger runs, so
    # under contention one batch balloons and the volume pin overshoots);
    # with fixed-size batches the measurement prefix crosses the target at
    # exactly STREAM_TARGET_EVENTS every round.
    # State partitions are RIGHT-SIZED to the feed: the scenario's
    # keyspace is 50 cc_nums, and each state partition costs a state-store
    # instance + commit per micro-batch — at the session default (32) that
    # fixed overhead dominated a 25k-row batch (measured 4.2k ev/s at 32
    # partitions vs 8.2k at 4, same feed; PERF.md round-9 streaming note).
    # At a real keyspace/throughput this number scales UP with the keys —
    # it is pinned per-checkpoint at first run, exactly like production.
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    raw = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", STREAM_ROWS_PER_BATCH)
        .option("numPartitions", 4)
        .load()
    )
    sink = OnlineStoreSink(key="cc_num", ts="window_end")
    q = (
        windowed_stats(_rate_to_events(raw))
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        # no pacing trigger: fire each fixed-size batch as soon as the
        # previous finishes, so ev/s measures ENGINE capacity over a
        # deterministic feed, not the trigger interval
        .trigger(processingTime="0 seconds")
        .start()
    )
    # wait for the first DATA batch before opening the measurement window —
    # under host contention query startup alone can eat several seconds,
    # which would understate throughput (or merge nothing at all)
    t0 = time.time()
    deadline = t0 + 30
    while time.time() < deadline:
        if any(p["numInputRows"] > 0 for p in q.recentProgress):
            break
        time.sleep(0.5)
    # volume-bounded measurement: run until the cumulative input crosses
    # STREAM_TARGET_EVENTS, so the measured feed is pinned across rounds
    # instead of riding wall-clock drift. In-flight batches still drain
    # after stop(), so the REPORTED metrics are computed over the exact
    # batch PREFIX that first crosses the target (pinned to within one
    # trigger); the stream==batch verification below covers everything
    # actually processed. recentProgress is a rolling buffer — accumulate
    # by batchId so a long run can't silently drop early batches.
    seen: dict[int, dict] = {}

    def _harvest() -> int:
        for p in q.recentProgress:
            if p["numInputRows"] > 0:
                seen[p["batchId"]] = p
        return sum(p["numInputRows"] for p in seen.values())

    hard_deadline = t0 + STREAM_MAX_WALL
    while time.time() < hard_deadline:
        if _harvest() >= STREAM_TARGET_EVENTS:
            break
        time.sleep(0.25)
    q.stop()
    q.awaitTermination()
    wall = time.time() - t0
    _harvest()
    all_batches = [seen[b] for b in sorted(seen)]
    # measurement prefix: the smallest batch prefix crossing the target
    progs, cum = [], 0
    for p in all_batches:
        progs.append(p)
        cum += p["numInputRows"]
        if cum >= STREAM_TARGET_EVENTS:
            break
    # everything processed (for the exact-prefix batch twin)
    n_rows = sum(p["numInputRows"] for p in all_batches)
    rate = round(cum / wall)
    # steady-state: exclude query-startup dead time by clocking from the
    # first data batch's timestamp to the last (ISO-8601 w/ trailing Z)
    sustained = None
    if len(progs) >= 2:
        import datetime as dt

        def _ts(p):
            return dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))

        span = (_ts(progs[-1]) - _ts(progs[0])).total_seconds()
        if span > 0:
            sustained = round(sum(p["numInputRows"] for p in progs[1:]) / span)

    # stream == batch: every merged store row must equal the batch twin's
    # aggregate for that exact window over the processed prefix [0, N)
    state = sink.state
    assert state is not None and not state.isEmpty(), "no windows were merged"
    size, slide = COUNT_WINDOW
    twin = (
        _rate_to_events(spark.range(n_rows).withColumnRenamed("id", "value"))
        .groupBy(F.window("event_time", size, slide), F.col("cc_num"))
        .agg(
            F.count(F.lit(1)).alias("t_count"),
            F.avg("amount").alias("t_avg"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "cc_num",
            "t_count",
            "t_avg",
        )
    )
    n_state = state.count()
    matched = (
        state.join(twin, ["cc_num", "window_start", "window_end"])
        .filter(
            (F.col("txn_count") == F.col("t_count"))
            & (F.abs(F.col("avg_amount") - F.col("t_avg")) < 1e-9)
        )
        .count()
    )
    assert matched == n_state, (
        f"stream==batch violated: {matched}/{n_state} store rows match"
    )
    # per-batch noise marker (the flagship loop's pattern): max/min of
    # per-trigger throughput across the steady batches — >~1.5 marks a
    # contended feed, so read events_per_sec as a lower bound there
    per_batch = [
        p["numInputRows"] / (p["durationMs"]["triggerExecution"] / 1000.0)
        for p in progs[1:]
        if p.get("durationMs", {}).get("triggerExecution", 0) > 0
    ]
    stream_noise = (
        round(max(per_batch) / min(per_batch), 3) if per_batch else None
    )
    ev_s = sustained if sustained else rate
    # (shuffle-partition restore happens in streaming_scenario's finally)
    return {
        # primary = steady-state (first data batch -> last); the
        # wall-inclusive number charges query startup to throughput and
        # can halve under host contention without the engine being slower
        "events_per_sec": ev_s,
        "events_per_sec_incl_startup": rate,
        # pinned feed: events_total ~= events_total_target every round
        # (one trigger of overshoot), so ev/s is comparable across rounds;
        # per-event cost is feed-size-free either way. events_processed
        # counts the post-stop drain too — it's what the twin verified.
        "events_total": cum,
        "events_total_target": STREAM_TARGET_EVENTS,
        "events_processed": n_rows,
        "sec_per_100k_events": round(1e5 / ev_s, 3) if ev_s else None,
        "rows_per_batch": STREAM_ROWS_PER_BATCH,
        "state_partitions": STREAM_STATE_PARTITIONS,
        "stream_noise_max_over_min": stream_noise,
        "state_rows_verified": n_state,
    }


def host_canary(spark) -> dict[str, float]:
    """Fixed, DATA-INDEPENDENT micro-benchmark: a generated-range hash
    aggregate + sort at pinned size (100M rows, 32 input slices, the
    session's 32 shuffle partitions), min-of-5 via the noop sink.
    Measured ~0.5-0.7 s per sample on the round-10 boxes (ADVICE r10:
    the earlier "~1 s" claim was wrong) — sub-second samples DO admit
    scheduler jitter (observed max/min up to 1.36x across same-day
    runs), which is why (a) the min is taken over FIVE samples, not 3,
    and (b) the max/min marker ships so bench_compare can refuse to
    normalize by a noisy canary. The WORK stays pinned at the round-10
    shape: changing it would break the cross-round canary ratio that is
    this row's whole purpose.

    Why: rounds 8->9 needed a hand-run same-day A/B of the old commit to
    separate host drift (~30% slower box, 1-4% KVM steal) from code
    drift. This row makes that mechanical: the canary's work never
    changes across rounds, so ``host_canary_sec(r10)/host_canary_sec(r9)``
    IS the host-speed ratio, and tools/bench_compare.py divides it out
    of every subtotal ratio before flagging regressions — but only when
    the canary's own noise marker says the sample is trustworthy.
    """
    samples: list[float] = []
    for _ in range(5):
        t0 = time.time()
        (
            spark.range(0, 100_000_000, 1, 32)
            .selectExpr("id % 97 AS k", "id AS v")
            .groupBy("k")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
            .orderBy("k")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        samples.append(time.time() - t0)
    return {
        "host_canary_sec": round(min(samples), 3),
        "host_canary_noise_max_over_min": round(
            max(samples) / min(samples), 3
        ),
    }


def _loadavg() -> list[float]:
    """Co-tenant load proxy (1/5/15-min runnable-task averages)."""
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    load_start = _loadavg()
    spark = get_spark(app_name="bench")
    # Quiet the log tail: the only WARN-level noise these queries emit is
    # WindowExec's "No Partition Defined" — every partition-less window in
    # the registry runs over a bounded post-aggregation frame (distinct
    # scores / bins / keys), asserted by
    # tests/test_plan_quality.py::test_global_windows_only_over_aggregated_frames,
    # so the warning is expected-and-safe here, not a single-partition bug.
    spark.sparkContext.setLogLevel("ERROR")
    # JVM/codegen warmup outside the measurement: compile every headline
    # query's codegen once against the tiny sf (see module docstring)
    spark.range(1000).selectExpr("sum(id)").collect()
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name, _ in HEADLINE:
            spec = QUERIES.get(name)
            if spec is not None:
                spec.fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
    # Drop every persisted intermediate the warmups left behind (operators
    # like minhash persist a shared base). Leaked cache entries accumulate
    # across the 16+ query runs below and the resulting old-gen GC pauses
    # add multi-second noise to later queries' timings.
    spark.catalog.clearCache()

    # Noise floor: the box is co-tenant and PERF.md documents same-HEAD
    # whole-set swings of +-25% and single-query swings of 3-10x under
    # load. A single sample cannot distinguish a real 20% regression from
    # contention. So: N interleaved passes over the WHOLE set (a load
    # spike inflates one pass, not one query's every sample) and report
    # the per-query MINIMUM — contention only ever ADDS time, so the min
    # is the engine's own cost. max/min per query is emitted as the noise
    # diagnostic, and /proc/loadavg around the run records the co-tenant
    # pressure the samples were taken under.
    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    samples: dict[str, list[float]] = {}
    rounds: dict[str, int] = {}
    for _ in range(n_passes):
        for name, rnd in HEADLINE:
            spec = QUERIES.get(name)
            if spec is None:
                continue
            t0 = time.time()
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.setdefault(name, []).append(time.time() - t0)
            rounds[name] = rnd
            spark.catalog.clearCache()
    timings = {n: round(min(s), 3) for n, s in samples.items()}
    noise = sorted(
        round(max(s) / min(s), 3) for s in samples.values() if min(s) > 0
    )
    total = round(sum(timings.values()), 3)
    subtotals = {
        f"r{r}_set": round(
            sum(t for n, t in timings.items() if rounds[n] == r), 3
        )
        for r in sorted(set(rounds.values()))
    }
    # steady-state feature throughput (2nd run excludes plan-compile cost;
    # reference baseline: pandas computes the same features at ~2.9k rows/s,
    # BASELINE.md 451s / 1.3M rows)
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    # best of 3 steady-state runs: a single run is hostage to co-tenant
    # load spikes (observed 3x swings); the minimum is the engine's
    # number. The loop carries its OWN noise marker (max/min of its 3
    # samples, the streaming row's events_total pattern): VERDICT r7
    # observed the driver artifact reporting 86.9k rows/s while the
    # same-HEAD idle run gave 179k — without this field a reader of
    # BENCH_r{N}.json alone cannot tell contention from regression.
    flagship_samples: list[float] = []
    for _ in range(3):
        t0 = time.time()
        QUERIES["flagship_features"].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        flagship_samples.append(time.time() - t0)
    steady = min(flagship_samples)
    flagship_noise = round(max(flagship_samples) / steady, 3)

    skew = skew_scenario(spark, sf_dir)
    spark.catalog.clearCache()
    skew_join = skew_join_scenario(spark, sf_dir)
    spark.catalog.clearCache()
    ann_quality = ann_quality_scenario(spark, sf_dir)
    spark.catalog.clearCache()
    # Streaming: min-of-N FULL scenario runs (round 10). Same-day r9
    # runs at the identical pinned shape spread 15.0 -> 3.75 s/100k
    # across runs — the within-run per-batch marker cannot see cross-run
    # variance (state-store/JVM warmth + co-tenant load between runs).
    # Like the batch queries, contention only ever ADDS time, so the min
    # run is the engine's cost; the cross-run spread ships in the JSON.
    n_stream_runs = int(os.environ.get("SPARK_GRAFT_STREAM_RUNS", "3"))
    stream_runs = [streaming_scenario(spark) for _ in range(n_stream_runs)]
    cross = [
        r["sec_per_100k_events"]
        for r in stream_runs
        if r.get("sec_per_100k_events")
    ]
    streaming = dict(
        min(
            stream_runs,
            key=lambda r: r.get("sec_per_100k_events") or float("inf"),
        )
    )
    streaming["stream_runs"] = n_stream_runs
    streaming["cross_run_sec_per_100k"] = [round(c, 3) for c in cross]
    streaming["stream_cross_run_max_over_min"] = (
        round(max(cross) / min(cross), 3) if cross else None
    )
    canary = host_canary(spark)
    # the parallelism the session actually got, so a core-count check reads
    # the honoured value instead of inferring it from timings
    parallelism = {
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
    }

    # Key order matters: the driver's BENCH_r{N}.json captures only the
    # TAIL of stdout (front-truncation ate the r5/r6 summaries —
    # VERDICT r6 item 2), so the big per-query dict goes FIRST and every
    # summary field (subtotals, streaming, value) goes LAST where the
    # surviving tail bytes are. The complete document is ALSO written to
    # .benchmarks/bench_latest.json (tracked) so tools/bench_compare.py
    # never depends on the driver's capture at all.
    result = {
        "metric": "headline_queries_total_wall",
        "unit": "sec",
        "queries": timings,
        "passes": n_passes,
        "noise_max_over_min_p50": noise[len(noise) // 2]
        if noise
        else None,
        "noise_max_over_min_max": noise[-1] if noise else None,
        "loadavg_start": load_start,
        "loadavg_end": _loadavg(),
        "flagship_rows_per_sec": round(n_events / steady),
        # >~1.3 marks a contended flagship loop: read rows_per_sec as a
        # lower bound, not a regression (same rule as the streaming
        # row's events_total feed marker)
        "flagship_noise_max_over_min": flagship_noise,
        "skew": skew,
        "skew_join": skew_join,
        "ann_quality": ann_quality,
        "streaming": streaming,
        # fixed data-independent micro-benchmark: divides host drift out
        # of cross-round subtotal ratios (see host_canary docstring)
        **canary,
        "subtotals": subtotals,
        **parallelism,
        "sf": sf,
        "value": total,
    }
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     ".benchmarks", "bench_latest.json"),
    )
    try:
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        with open(out_path, "w") as f:
            json.dump(result, f, indent=1)
            f.write("\n")
        # Per-core-count copy (r13, VERDICT r12 item 3): the driver runs
        # the bench at 32 cores AND at a lower core count, and the second
        # run used to overwrite bench_latest.json — destroying the
        # per-query timings PERF needs for its per_query/scaling blocks.
        # One artifact per core count survives both runs.
        cpus_label = os.environ.get("SPARK_GRAFT_CPUS", "all")
        root, ext = os.path.splitext(out_path)
        with open(f"{root}_c{cpus_label}{ext}", "w") as f:
            json.dump(result, f, indent=1)
            f.write("\n")
    except OSError as exc:  # never let artifact IO kill the stdout line
        print(f"bench: could not write {out_path}: {exc}", file=sys.stderr)
    print(json.dumps(result))
    # Compact summary as the LAST stdout line (VERDICT r10 task 3): the
    # driver's BENCH_r{N}.json keeps only a 2,000-byte TAIL of stdout, so
    # the full ~4.4 KB line above always arrives front-truncated and
    # unparseable ("parsed": null in r9/r10). This line carries every
    # cross-round comparison field under 1,800 bytes so the tail always
    # contains one COMPLETE JSON document; tools/bench_compare.py prefers
    # it when recovering driver artifacts. The trim loop is a guard for
    # future growth (subtotals gain ~20 bytes per round).
    compact = {
        "metric": result["metric"],
        "unit": "sec",
        "value": total,
        "sf": sf,
        **parallelism,
        "compact": True,
        "queries_n": len(timings),
        "subtotals": subtotals,
        **canary,
        "flagship_rows_per_sec": result["flagship_rows_per_sec"],
        "flagship_noise_max_over_min": flagship_noise,
        "streaming": {
            "sec_per_100k_events": streaming.get("sec_per_100k_events"),
            "events_per_sec": streaming.get("events_per_sec"),
            "events_total": streaming.get("events_total"),
            "stream_cross_run_max_over_min": streaming.get(
                "stream_cross_run_max_over_min"
            ),
        },
        "noise_max_over_min_p50": result["noise_max_over_min_p50"],
        "noise_max_over_min_max": result["noise_max_over_min_max"],
        "full": os.path.relpath(out_path, os.path.dirname(os.path.abspath(__file__)))
        if out_path.startswith(os.path.dirname(os.path.abspath(__file__)))
        else out_path,
    }
    # drop optional fields until the line fits the driver's tail capture
    for drop in ("full", "noise_max_over_min_p50", "noise_max_over_min_max",
                 "queries_n", "subtotals"):
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) < 1800:
            break
        compact.pop(drop, None)
    # Per-query timings in the compact line (r13, VERDICT r12 item 3):
    # PERF's round-over-round per_query comparison read the compact line
    # and found no "queries" field (n_common: 0). All 108 entries at 2dp
    # are ~2.5 KB — over the driver's 2,000-byte tail capture — so ship
    # the SLOWEST queries first (where a per-query comparison carries
    # signal) and fill greedily to the byte budget. The full dict is
    # unchanged in the big line above and in the .benchmarks artifacts.
    compact["queries"] = {}
    budget = 1800 - len(json.dumps(compact, separators=(",", ":")))
    for name, sec in sorted(timings.items(), key=lambda kv: -kv[1]):
        entry = len(name) + len(f"{sec:.2f}") + 4  # quotes, colon, comma
        if budget - entry < 0:
            break
        compact["queries"][name] = round(sec, 2)
        budget -= entry
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
