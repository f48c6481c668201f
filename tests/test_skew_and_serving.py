"""Salted aggregates/joins (skew path) + FeatureServer facade + CSV reader."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from feature_store_fraud_detection_spark.operators.skew import (
    salted_join,
    salted_stats,
)
from feature_store_fraud_detection_spark.plans.batch_pipeline import (
    compute_features,
    events_as_transactions,
)
from feature_store_fraud_detection_spark.plans.serving import FeatureServer
from feature_store_fraud_detection_spark.schemas import load_table
from feature_store_fraud_detection_spark.sources.offline_store import OfflineStore
from feature_store_fraud_detection_spark.sources.readers import read_transactions_csv


def test_salted_stats_matches_plain(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    salted = salted_stats(ev, "user_id", "value", num_salts=8)
    plain = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("value").alias("sum_v"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )
    j = salted.alias("s").join(plain.alias("p"), "user_id")
    assert j.count() == plain.count()
    assert (
        j.filter(
            (F.col("s.cnt") != F.col("p.cnt"))
            | (F.abs(F.col("s.sum_v") - F.col("p.sum_v")) > 1e-6)
            | (F.col("s.min_v") != F.col("p.min_v"))
            | (F.col("s.max_v") != F.col("p.max_v"))
        ).count()
        == 0
    )


def test_salted_join_matches_plain(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(F.avg("value").alias("dim_avg"))
    salted = salted_join(ev.select("event_id", "user_id"), dim, "user_id", num_salts=4)
    plain = ev.select("event_id", "user_id").join(dim, "user_id")
    assert salted.count() == plain.count()
    assert salted.join(plain, ["event_id", "user_id", "dim_avg"]).count() == plain.count()


def test_salt_spreads_hot_key_on_single_partition_input(spark):
    """Regression: the salt must come from a ROW hash, not
    spark_partition_id — a single-partition input (one small parquet file,
    one cached partition: exactly what a hot-key fact table coalesced by
    AQE looks like) previously put EVERY row in salt 0, silently
    degenerating the salted path to the plain hot-key shuffle."""
    from feature_store_fraud_detection_spark.operators.skew import _row_salt

    one_part = (
        spark.range(10_000)
        .coalesce(1)
        .select(F.col("id").alias("event_id"), F.lit(0).alias("user_id"))
    )
    n_salts = (
        one_part.withColumn("__salt", _row_salt(one_part, 16))
        .select("__salt")
        .distinct()
        .count()
    )
    assert n_salts == 16, f"hot key only spread over {n_salts}/16 salts"


def test_feature_server_routes(spark, sf_dir, tmp_path):
    feats = compute_features(
        events_as_transactions(load_table(spark, sf_dir, "events"))
    )
    store = OfflineStore(spark, str(tmp_path / "offline"))
    store.write(feats)
    srv = FeatureServer(spark, store)
    assert srv.features_by_key(3).count() == feats.filter(F.col("cc_num") == 3).count()
    rng = srv.features_by_date_range("2024-01-05", "2024-01-07")
    assert rng.count() > 0
    bulk = srv.bulk_features(limit=50).collect()
    assert len(bulk) == 50
    # ordered by key then timestamp: the key cut by the limit returns the
    # same rows on every call
    assert Counter(srv.bulk_features(limit=50).collect()) == Counter(bulk)


def test_csv_reader_roundtrip(spark, sf_dir, tmp_path):
    txns = events_as_transactions(load_table(spark, sf_dir, "events"))
    path = str(tmp_path / "txns_csv")
    txns.write.mode("overwrite").option("header", True).csv(path)
    back = read_transactions_csv(spark, path)
    assert back.count() == txns.count()
    assert [f.dataType for f in back.schema.fields] == [
        f.dataType for f in txns.schema.fields
    ]
    # values survive the round-trip (a bad timestampFormat nulls silently)
    assert back.filter(F.col("trans_date_trans_time").isNull()).count() == 0
    assert (
        back.agg(F.sum("amt")).first()[0] == txns.agg(F.sum("amt")).first()[0]
    )


def test_robust_outliers_median_mad(spark):
    from feature_store_fraud_detection_spark.operators.stats import robust_outliers

    rows = [(i, 1, 10.0 + (i % 5) * 0.1) for i in range(20)] + [(99, 1, 500.0)]
    rows += [(200 + i, 2, 7.0) for i in range(5)]  # constant key: MAD = 0
    df = spark.createDataFrame(rows, "event_id long, user_id long, value double")
    out = {r.event_id: r for r in robust_outliers(df, "user_id", "value").collect()}
    assert out[99].is_outlier == 1          # the 500.0 spike
    assert out[0].is_outlier == 0
    # constant-valued key: MAD 0 -> NULL z, not a crash, and never an outlier
    assert out[200].robust_z is None and out[200].is_outlier == 0


def test_activity_bursts_streaks(spark):
    import datetime as dt

    from feature_store_fraud_detection_spark.operators.windows import activity_bursts

    def e(eid, uid, day, hour, minute=0):
        return (eid, uid, dt.datetime(2024, 1, day, hour, minute))

    rows = [
        # user 1: 3 events in one hour (burst), active days 1,2,3 then 5
        e(1, 1, 1, 9), e(2, 1, 1, 9, 10), e(3, 1, 1, 9, 20),
        e(4, 1, 2, 8), e(5, 1, 3, 8), e(6, 1, 5, 8),
        # user 2: one event per day, days 10 and 12 (no streak, no burst)
        e(7, 2, 10, 9), e(8, 2, 12, 9),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = {r.user_id: r for r in activity_bursts(df, "user_id", "ts").collect()}
    assert out[1].max_hourly_events == 3
    assert out[1].n_burst_hours == 1
    assert out[1].longest_day_streak == 3
    assert out[2].max_hourly_events == 1
    assert out[2].n_burst_hours == 0
    assert out[2].longest_day_streak == 1


def test_funnel_counts_strict_order(spark):
    import datetime as dt

    from feature_store_fraud_detection_spark.operators.funnel import funnel_counts

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    rows = [
        # user 1 completes the funnel in order
        (1, "view", t(0)), (1, "click", t(5)), (1, "purchase", t(9)),
        # user 2 clicks BEFORE viewing -> click doesn't count; no purchase
        (2, "click", t(0)), (2, "view", t(5)),
        # user 3 views only
        (3, "view", t(1)),
        # user 4 purchases without ever viewing -> not even step 1
        (4, "purchase", t(2)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    out = {r.step: r for r in funnel_counts(
        df, "user_id", "event_type", "ts", ["view", "click", "purchase"]
    ).collect()}
    assert out["view"].n_users == 3
    assert out["click"].n_users == 1      # only user 1 clicked after viewing
    assert out["purchase"].n_users == 1
    assert out["view"].conversion == 1.0
    assert abs(out["click"].conversion - 0.3333) < 1e-9


def test_cohort_retention_matrix(spark):
    from feature_store_fraud_detection_spark.operators.funnel import (
        cohort_retention,
    )

    # weeks starting Mon 2024-01-01, 2024-01-08, 2024-01-15
    rows = [
        (1, "2024-01-02 10:00:00"),  # cohort W0, active W0
        (1, "2024-01-09 10:00:00"),  # ... and W1
        (2, "2024-01-03 10:00:00"),  # cohort W0, active W0 only
        (3, "2024-01-10 10:00:00"),  # cohort W1, active W1
        (3, "2024-01-16 10:00:00"),  # ... and W2
    ]
    df = spark.createDataFrame(rows, "user_id long, t string").select(
        "user_id", F.to_timestamp("t").alias("ts")
    )
    out = {
        (str(r.cohort_week), r.week_offset): (r.n_active, r.n_cohort, r.retention)
        for r in cohort_retention(df, "user_id", "ts").collect()
    }
    assert out[("2024-01-01", 0)] == (2, 2, 1.0)
    assert out[("2024-01-01", 1)] == (1, 2, 0.5)
    assert out[("2024-01-08", 0)] == (1, 1, 1.0)
    assert out[("2024-01-08", 1)] == (1, 1, 1.0)
    assert len(out) == 4


def test_winsorize_clips_at_exact_percentiles(spark):
    from feature_store_fraud_detection_spark.operators.stats import winsorize

    df = spark.range(1, 101).select(
        F.col("id").alias("event_id"), F.col("id").cast("double").alias("value")
    )
    out = winsorize(df, "value", 0.10, 0.90, id_cols=("event_id",)).collect()
    # exact linear-interpolated percentiles of 1..100: p10=10.9, p90=90.1
    clipped = [r.clipped_value for r in out]
    assert min(clipped) == 10.9 and max(clipped) == 90.1
    n_clipped = sum(r.was_clipped for r in out)
    assert n_clipped == 20  # values 1..10 and 91..100
    # interior values pass through unchanged
    by_id = {r.event_id: r for r in out}
    assert by_id[50].clipped_value == 50.0 and by_id[50].was_clipped == 0


def test_key_skew_profile_identifies_hot_key(spark):
    from feature_store_fraud_detection_spark.operators.skew import (
        key_skew_profile,
    )

    df = spark.range(100).select(
        F.when(F.col("id") < 60, F.lit(7)).otherwise(F.col("id")).alias("k")
    )
    out = key_skew_profile(df, "k", top_n=3).collect()
    assert out[0].k == 7 and out[0].cnt == 60
    assert out[0].share == 0.6
    # 41 distinct keys, uniform would be 100/41 rows; key 7 carries 60
    assert out[0].ratio_to_uniform == round(60 * 41 / 100, 4)
    assert all(r.cnt == 1 for r in out[1:])


def test_event_transitions_probabilities(spark):
    from feature_store_fraud_detection_spark.plans.registry import QUERIES  # noqa
    from pyspark.sql import Window

    rows = [
        (1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "b"),
        (2, 1, "a"), (2, 2, "a"),
    ]
    df = spark.createDataFrame(rows, "user_id long, seq int, event_type string").select(
        "user_id",
        F.to_timestamp(F.concat(F.lit("2024-01-0"), F.col("seq"))).alias("ts"),
        F.col("seq").cast("long").alias("event_id"),
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = df.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    counts = {
        (r.from_type, r.to_type): r.n
        for r in pairs.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # user1: a->b, b->a, a->b; user2: a->a
    assert counts == {("a", "b"): 2, ("b", "a"): 1, ("a", "a"): 1}


def test_behavior_entropy_bounds(spark):
    import math

    from feature_store_fraud_detection_spark.plans.registry import (
        _q_behavior_entropy,
    )

    # user 1: uniform over 2 types -> ln(2); user 2: single type -> 0
    rows = [
        (1, "2024-01-01 00:00:00", "a"), (1, "2024-01-02 00:00:00", "b"),
        (2, "2024-01-01 00:00:00", "a"), (2, "2024-01-02 00:00:00", "a"),
    ]
    df = spark.createDataFrame(rows, "user_id long, t string, event_type string").select(
        "user_id", F.to_timestamp("t").alias("ts"), "event_type"
    )
    counts = df.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    totals = counts.groupBy("user_id").agg(F.sum("n").alias("total"))
    terms = counts.join(totals, "user_id").select(
        "user_id",
        (-(F.col("n") / F.col("total")) * F.log(F.col("n") / F.col("total"))).alias("t"),
    )
    s = F.aggregate(F.array_sort(F.collect_list("t")), F.lit(0.0), lambda a, x: a + x)
    from feature_store_fraud_detection_spark.functions.numeric import round4_stable

    out = {
        r.user_id: r.entropy
        for r in terms.groupBy("user_id").agg(round4_stable(s).alias("entropy")).collect()
    }
    assert out[1] == math.floor(math.log(2) * 10000 + 0.5) / 10000
    assert out[2] == 0.0


def test_proximity_pairs_radius_and_cell_boundary(spark):
    from feature_store_fraud_detection_spark.operators.spatial import (
        proximity_pairs,
    )

    # B is ~0.69 mi north of A; D sits just across A's grid-cell boundary
    # (cover join must still find it); C is ~69 mi away
    rows = [
        (1, 40.000, -100.0),
        (2, 40.010, -100.0),
        (3, 41.000, -100.0),
        (4, 39.999, -100.0),
    ]
    df = spark.createDataFrame(rows, "pid long, lat double, lon double")
    out = {(r.id_a, r.id_b): r.dist for r in proximity_pairs(
        df, "pid", "lat", "lon", radius_miles=1.0, cell_deg=0.05
    ).collect()}
    assert set(out) == {(1, 2), (1, 4), (2, 4)}
    assert abs(out[(1, 2)] - 0.6917) < 0.01
    # exactly once per pair (the cover join must not double-count)
    assert len(out) == 3


def test_approx_percentile_tolerance_for_scale_swap(spark, sf_dir):
    """The 100 TB story for exact-percentile operators (winsorize, robust
    outliers, deciles) is a percentile_approx swap; assert the approximate
    cut points actually land within tolerance of exact on real data."""
    ev = load_table(spark, sf_dir, "events")
    row = ev.agg(
        F.percentile("value", F.lit(0.5)).alias("exact"),
        F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("approx"),
        F.percentile("value", F.lit(0.99)).alias("exact99"),
        F.percentile_approx("value", F.lit(0.99), F.lit(10000)).alias("approx99"),
    ).collect()[0]
    spread = ev.agg((F.max("value") - F.min("value")).alias("s")).collect()[0].s
    assert abs(row.exact - row.approx) <= 0.01 * spread
    assert abs(row.exact99 - row.approx99) <= 0.01 * spread


def test_leakage_scan_flags_perfect_leak(spark):
    from feature_store_fraud_detection_spark.operators.stats import leakage_scan

    df = spark.range(200).select(
        (F.col("id") % 2).cast("int").alias("is_fraud"),
        ((F.col("id") % 2) * 100).cast("double").alias("leaky"),   # == label*100
        (F.col("id") % 7).cast("double").alias("benign"),
    )
    out = {r.feature: r for r in leakage_scan(df, ["leaky", "benign"], "is_fraud").collect()}
    assert out["leaky"].abs_corr == 1.0      # perfect point-biserial correlation
    assert out["benign"].abs_corr < 0.2


def test_attribution_last_touch_credits_preceding_event(spark):
    from feature_store_fraud_detection_spark.plans.registry import (  # noqa
        _q_attribution_last_touch,
    )
    from pyspark.sql import Window

    rows = [
        (1, 1, "view", 0.0), (1, 2, "purchase", 10.0),   # credit: view
        (1, 3, "click", 0.0), (1, 4, "purchase", 5.0),   # credit: click
        (2, 5, "purchase", 7.0),                         # no touch -> dropped
        (2, 6, "view", 0.0), (2, 7, "purchase", 3.0),    # credit: view
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, value double"
    ).withColumn("ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(mins=F.col("event_id").cast("int")))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    touched = df.withColumn(
        "last_touch",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w),
    )
    out = {
        r.channel: (r.n_purchases, float(r.revenue))
        for r in touched.filter(
            (F.col("event_type") == "purchase") & F.col("last_touch").isNotNull()
        )
        .groupBy(F.col("last_touch").alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("revenue"),
        )
        .collect()
    }
    assert out == {"view": (2, 13.0), "click": (1, 5.0)}


def test_proximity_pairs_rejects_undersized_grid(spark):
    """Longitude cells narrow by cos(lat): a grid whose cell is narrower
    than the radius at the declared max latitude would silently miss
    cross-cell pairs, so the operator must refuse it up front."""
    import pytest

    from feature_store_fraud_detection_spark.operators.spatial import (
        proximity_pairs,
    )

    df = spark.createDataFrame(
        [(1, 59.0, 10.0)], "pid long, lat double, lon double"
    )
    # 0.05 deg * 69 mi * cos(60 deg) ~= 1.72 mi < 2.0 mi radius
    with pytest.raises(ValueError, match="exceeds the longitude cell"):
        proximity_pairs(
            df, "pid", "lat", "lon", radius_miles=2.0, cell_deg=0.05
        )
    # same radius is fine with a wide-enough cell
    proximity_pairs(
        df, "pid", "lat", "lon", radius_miles=2.0, cell_deg=0.06
    ).collect()


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE skew-join (enabled in session defaults) must split a planted hot
    key's partition at runtime: with one key carrying ~90% of a large fact
    side under a sort-merge join, the final adaptive plan marks the join
    skew=true — the runtime complement to the explicit salted_join path."""
    from pyspark.sql import functions as F

    fact = spark.range(0, 400_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(0, 50_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("dim_val")
    )
    conf = spark.conf
    old_thresh = conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_factor = conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
    old_bytes = conf.get(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
    )
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        # the split size target is advisoryPartitionSizeInBytes — it must be
        # smaller than the hot partition or AQE "splits" it into one chunk
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        joined = fact.join(dim, "k")
        # execute THIS DataFrame's plan (count() would build a separate
        # aggregate plan and leave joined's adaptive plan unfinalized)
        n = len(joined.collect())
        # 360k rows carry the hot key 7 (in dim); of the 40k pass-through
        # ids, only those < 50000 match dim -> 5000
        assert n == 365_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:800]
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", old_factor)
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", old_bytes
        )
        conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")


def test_contiguous_pattern_matches_semantics(spark):
    """Contiguity is literal: a gapped view..click..purchase must NOT
    match (that's the funnel's job); the span bound and the same-timestamp
    tiebreak are honored; overlapping matches each count."""
    import datetime as dt

    from feature_store_fraud_detection_spark.operators.funnel import (
        contiguous_pattern_matches,
    )

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        # u1: exact contiguous match
        (1, 1, "view", t(0)), (1, 2, "click", t(1)), (1, 3, "purchase", t(2)),
        # u2: gapped by an error event -> NO match
        (2, 4, "view", t(0)), (2, 5, "error", t(1)),
        (2, 6, "click", t(2)), (2, 7, "purchase", t(3)),
        # u3: contiguous but span exceeds the bound -> NO match
        (3, 8, "view", t(0)), (3, 9, "click", t(1)),
        (3, 10, "purchase", dt.datetime(2024, 1, 3)),
        # u4: two overlapping matches via view,click,purchase,click,purchase?
        # -> contiguous windows: (v,c,p) at 0 and (p,c,p) no; plant two
        (4, 11, "view", t(10)), (4, 12, "click", t(11)),
        (4, 13, "purchase", t(12)),
        (4, 14, "view", t(20)), (4, 15, "click", t(21)),
        (4, 16, "purchase", t(22)),
        # u5: same-timestamp events — event_id tiebreak orders them
        (5, 17, "view", t(5)), (5, 18, "click", t(5)), (5, 19, "purchase", t(5)),
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, event_type string, ts timestamp"
    )
    got = {
        r["user_id"]: r["n_matches"]
        for r in contiguous_pattern_matches(
            df, "user_id", "event_type", "ts",
            ["view", "click", "purchase"], within_sec=3600,
            tiebreak="event_id",
        ).collect()
    }
    assert got == {1: 1, 4: 2, 5: 1}
