"""Offline store round-trip + serving queries; online store upsert/TTL."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from feature_store_fraud_detection_spark.plans.batch_pipeline import (
    compute_features,
    events_as_transactions,
)
from feature_store_fraud_detection_spark.schemas import load_table
from feature_store_fraud_detection_spark.sources.offline_store import OfflineStore
from feature_store_fraud_detection_spark.sources.online_store import (
    ParquetOnlineStore,
    upsert_latest_state,
)


def test_offline_store_roundtrip(spark, sf_dir, tmp_path):
    feats = compute_features(
        events_as_transactions(load_table(spark, sf_dir, "events"))
    )
    store = OfflineStore(spark, str(tmp_path / "offline"))
    store.write(feats)
    n = feats.count()
    assert store.read().count() == n

    # partition pruning: by_date_range only reads matching partitions
    scan = store.by_date_range("2024-01-05", "2024-01-07")
    expected = feats.filter(
        F.col("feature_timestamp").between("2024-01-05 00:00:00", "2024-01-07 23:59:59.999999")
    ).count()
    assert scan.count() == expected
    plan = scan.explain(extended=False) or ""
    # by_key returns only that key's rows, same columns as written
    one = store.by_key("cc_num", 3)
    assert one.count() == feats.filter(F.col("cc_num") == 3).count()
    assert set(one.columns) == set(feats.columns)

    # append doubles the row count; clear empties
    store.append(feats)
    assert store.read().count() == 2 * n

    # appending an EMPTY batch onto the existing partitioned table must be
    # a no-op: writing an empty flat part file at the table root (next to
    # feature_date=... dirs) would break partition discovery on read()
    # (round-11 advice). Table stays readable with the same count.
    store.append(feats.filter(F.lit(False)))
    assert store.read().count() == 2 * n

    store.clear()
    assert store.read().count() == 0

    # empty append on a MISSING table still leaves a readable schema footer
    fresh = OfflineStore(spark, str(tmp_path / "offline_fresh"))
    fresh.append(feats.filter(F.lit(False)))
    assert fresh.read().count() == 0


def test_bucketed_join_skips_shuffle(spark, sf_dir):
    feats = compute_features(
        events_as_transactions(load_table(spark, sf_dir, "events"))
    )
    store = OfflineStore(spark, "unused")
    store.write_bucketed(feats, "feat_bucketed_a", "cc_num", num_buckets=4)
    store.write_bucketed(
        feats.select("cc_num", "amt"), "feat_bucketed_b", "cc_num", num_buckets=4
    )
    a = spark.table("feat_bucketed_a")
    b = spark.table("feat_bucketed_b").groupBy("cc_num").agg(
        F.avg("amt").alias("avg_amt")
    )
    joined = a.join(b, "cc_num")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # co-located: neither side shuffles for the join OR the aggregation
    assert "Exchange hashpartitioning" not in plan
    assert joined.count() == feats.count()
    spark.sql("DROP TABLE feat_bucketed_a")
    spark.sql("DROP TABLE feat_bucketed_b")


def test_online_store_upsert_and_ttl(spark):
    def mk(rows):
        return spark.createDataFrame(rows, "cc_num long, ts timestamp, amt double")

    t0 = dt.datetime(2024, 1, 2, 12, 0, 0)
    cur = mk([(1, t0, 10.0), (2, t0, 20.0)])
    # batch: newer row for key 1, stale row for key 2, new key 3
    batch = mk(
        [
            (1, t0 + dt.timedelta(hours=1), 11.0),
            (2, t0 - dt.timedelta(hours=2), 19.0),
            (3, t0 + dt.timedelta(hours=2), 30.0),
        ]
    )
    out = {r.cc_num: r for r in upsert_latest_state(cur, batch, "cc_num", "ts", None).collect()}
    assert out[1].amt == 11.0  # newer wins
    assert out[2].amt == 20.0  # stale loses
    assert out[3].amt == 30.0  # new key inserted

    # TTL: retention 1 hour from max event time (t0+2h) evicts keys 1 and 2
    out2 = upsert_latest_state(cur, batch, "cc_num", "ts", retention_seconds=3600)
    keys = {r.cc_num for r in out2.collect()}
    assert keys == {1, 3}  # key 1 at t0+1h is exactly on the horizon (inclusive)


def test_parquet_online_store_upserts_and_survives_sessions(spark, tmp_path):
    """The durable online store: bucket-partitioned parquet state that (a)
    merges latest-per-key across upserts with a deterministic tiebreak, (b)
    rewrites only touched buckets, and (c) outlives the SparkSession that
    wrote it."""

    def mk(rows):
        return spark.createDataFrame(rows, "cc_num long, ts timestamp, amt double, txn_id string")

    path = str(tmp_path / "pq_online")
    store = ParquetOnlineStore(
        spark, path, key="cc_num", ts="ts", retention_seconds=None,
        num_buckets=8, tiebreak="txn_id",
    )
    t0 = dt.datetime(2024, 1, 2, 12, 0, 0)
    store.upsert(mk([(1, t0, 10.0, "a"), (2, t0, 20.0, "a")]))
    # second batch: newer for key 1, same-ts redelivery for key 2 (tiebreak
    # picks the max txn_id), new key 3
    store.upsert(
        mk(
            [
                (1, t0 + dt.timedelta(hours=1), 11.0, "b"),
                (2, t0, 19.0, "z"),
                (3, t0 + dt.timedelta(hours=2), 30.0, "c"),
            ]
        )
    )
    out = {r.cc_num: r for r in store.read().collect()}
    assert out[1].amt == 11.0   # newer wins
    assert out[2].amt == 19.0   # same ts -> max txn_id ('z') wins, deterministically
    assert out[3].amt == 30.0

    # one row per key, and the table is bucket-partitioned on disk
    assert store.read().count() == 3
    import os

    assert any(d.startswith("__kb=") for d in os.listdir(path))

    # state survives a fresh session (new session state, same path)
    spark2 = spark.newSession()
    store2 = ParquetOnlineStore(
        spark2, path, key="cc_num", ts="ts", retention_seconds=None,
        num_buckets=8, tiebreak="txn_id",
    )
    again = {r.cc_num: r.amt for r in store2.read().collect()}
    assert again == {1: 11.0, 2: 19.0, 3: 30.0}

    # retention applies on upsert: a far-future event evicts old keys in
    # the buckets it touches AND keeps untouched buckets' rows intact
    bucket_of = {
        r.k: r.b
        for r in spark.createDataFrame([(1,), (2,), (3,)], "k long")
        .select(
            "k",
            F.pmod(F.xxhash64(F.col("k").cast("string")), F.lit(8)).cast("int").alias("b"),
        )
        .collect()
    }
    store3 = ParquetOnlineStore(
        spark, path, key="cc_num", ts="ts", retention_seconds=3600,
        num_buckets=8, tiebreak="txn_id",
    )
    store3.upsert(mk([(1, t0 + dt.timedelta(days=30), 99.0, "d")]))
    final = {r.cc_num: r.amt for r in store3.read().collect()}
    assert final[1] == 99.0
    for k in (2, 3):
        if bucket_of[k] == bucket_of[1]:
            assert k not in final   # same bucket: old row aged out by TTL
        else:
            assert k in final       # untouched bucket preserved verbatim


def test_compact_leaves_one_file_per_partition(spark, tmp_path):
    """Small-file compaction: after N appends a date partition holds N part
    files; compact() rewrites each date to exactly one file with content
    unchanged."""
    import os

    store = OfflineStore(spark, str(tmp_path / "cmp_store"), ts_col="feature_timestamp")
    day1 = dt.datetime(2024, 1, 1, 10)
    day2 = dt.datetime(2024, 1, 2, 10)
    for i in range(3):  # three appends -> >=3 files per touched date
        store.append(
            spark.createDataFrame(
                [(i, float(i), day1), (10 + i, float(10 + i), day2)],
                "cc_num long, amt double, feature_timestamp timestamp",
            )
        )

    def files_per_date():
        root = str(tmp_path / "cmp_store")
        return {
            d: len([f for f in os.listdir(os.path.join(root, d)) if f.startswith("part-")])
            for d in os.listdir(root)
            if d.startswith("feature_date=")
        }

    before = files_per_date()
    assert all(n >= 3 for n in before.values())
    rows_before = sorted((r.cc_num, r.amt) for r in store.read().collect())

    store.compact(sort_cols=["cc_num"])
    after = files_per_date()
    assert set(after) == set(before)
    assert all(n == 1 for n in after.values())
    assert sorted((r.cc_num, r.amt) for r in store.read().collect()) == rows_before


def test_backfill_overwrites_only_touched_partitions(spark, tmp_path):
    store = OfflineStore(spark, str(tmp_path / "bf_store"), ts_col="feature_timestamp")
    day1 = dt.datetime(2024, 1, 1, 10)
    day2 = dt.datetime(2024, 1, 2, 10)
    initial = spark.createDataFrame(
        [(1, 10.0, day1), (2, 20.0, day1), (3, 30.0, day2)],
        "cc_num long, amt double, feature_timestamp timestamp",
    )
    store.write(initial)

    # recompute day 2 only: one corrected row replaces the old day-2 content
    fixed = spark.createDataFrame(
        [(3, 99.0, day2), (4, 44.0, day2)],
        "cc_num long, amt double, feature_timestamp timestamp",
    )
    store.backfill(fixed)

    rows = {r.cc_num: r.amt for r in store.read().collect()}
    # day 1 untouched; day 2 fully replaced (old row 3 gone, not appended-to)
    assert rows == {1: 10.0, 2: 20.0, 3: 99.0, 4: 44.0}
    assert store.read().count() == 4


def test_morton_key_reference_and_locality(spark, sf_dir):
    """morton_key matches a bit-twiddling python reference, and sorting by
    it clusters BOTH dimensions: consecutive chunks of the z-sorted table
    have far smaller (user x value) bounding boxes than a time-sorted
    layout — the property that makes 2-D row-group pruning work."""
    from feature_store_fraud_detection_spark.functions.zorder import (
        clamp_bits,
        morton_key,
    )
    from feature_store_fraud_detection_spark.schemas import load_table

    ev = load_table(spark, sf_dir, "events")
    zx = clamp_bits(F.col("user_id"), 10)
    zy = clamp_bits(F.floor(F.col("value")), 10)
    rows = (
        ev.select(
            F.col("user_id"),
            F.col("value"),
            F.col("ts"),
            zx.alias("zx"),
            zy.alias("zy"),
            morton_key(zx, zy, 10).alias("zkey"),
        )
        .collect()
    )

    def py_morton(x, y):
        z = 0
        for i in range(10):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    for r in rows[:500]:
        assert r.zkey == py_morton(r.zx, r.zy)

    def chunked_bbox_area(seq, chunk=100):
        areas = []
        for i in range(0, len(seq) - chunk, chunk):
            c = seq[i : i + chunk]
            xs = [r.zx for r in c]
            ys = [r.zy for r in c]
            areas.append((max(xs) - min(xs) + 1) * (max(ys) - min(ys) + 1))
        return sum(areas) / len(areas)

    z_sorted = sorted(rows, key=lambda r: r.zkey)
    t_sorted = sorted(rows, key=lambda r: r.ts)
    # z-order keeps consecutive rows inside small 2-D tiles; time order
    # scatters them across the full (user x value) plane
    assert chunked_bbox_area(z_sorted) * 5 < chunked_bbox_area(t_sorted)


def test_incremental_state_merge_equals_full_recompute(spark):
    from feature_store_fraud_detection_spark.operators.incremental import (
        aggregate_state,
        merge_aggregate_state,
    )

    rows = [
        (1, "2024-01-01 00:00:00", 10.0),
        (1, "2024-01-02 00:00:00", 20.0),
        (2, "2024-01-03 00:00:00", 5.0),
        (1, "2024-01-10 00:00:00", 1.5),   # batch 2
        (3, "2024-01-11 00:00:00", 99.0),  # batch 2, NEW key
        (2, "2024-01-20 00:00:00", 0.25),  # batch 3
    ]
    df = spark.createDataFrame(rows, "user_id long, t string, value double").select(
        "user_id", F.to_timestamp("t").alias("ts"), "value"
    )
    full = aggregate_state(df, "user_id", "ts", "value")
    # replay as three chained daily merges
    state = aggregate_state(df.filter("ts < '2024-01-05'"), "user_id", "ts", "value")
    for lo, hi in [("2024-01-05", "2024-01-15"), ("2024-01-15", "2024-01-25")]:
        b = aggregate_state(
            df.filter(f"ts >= '{lo}' and ts < '{hi}'"), "user_id", "ts", "value"
        )
        state = merge_aggregate_state(state, b, "user_id")
    as_rows = lambda d: {
        r.user_id: (r.txn_count, str(r.value_sum), r.value_min, r.value_max, r.last_ts)
        for r in d.collect()
    }
    assert as_rows(state) == as_rows(full)
    # merging an EMPTY batch is the identity
    empty = aggregate_state(df.filter("value < 0"), "user_id", "ts", "value")
    assert as_rows(merge_aggregate_state(state, empty, "user_id")) == as_rows(full)


def test_sliding_distinct_counts_fixture(spark):
    from feature_store_fraud_detection_spark.operators.windows import (
        sliding_distinct_counts,
    )

    rows = [
        (1, "2024-01-01 09:00:00"),
        (2, "2024-01-01 10:00:00"),
        (1, "2024-01-05 09:00:00"),
        (3, "2024-01-09 09:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, t string").select(
        "user_id", F.to_timestamp("t").alias("ts")
    )
    out = {
        str(r.day): r.n_active
        for r in sliding_distinct_counts(df, "user_id", "ts", window_days=7).collect()
    }
    # only observed days appear; each counts the trailing 7-day distinct set
    assert out == {
        "2024-01-01": 2,          # users 1,2 on the day itself
        "2024-01-05": 2,          # users 1,2 (Jan 1) + 1 (Jan 5) -> {1,2}
        "2024-01-09": 2,          # user 3 (Jan 9) + user 1 (Jan 5 within 7d)
    }


def test_table_diff_change_types(spark):
    from feature_store_fraud_detection_spark.operators.diff import table_diff

    old = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, None, "c")],
        "k long, v int, s string",
    )
    new = spark.createDataFrame(
        [(2, 21, "b"), (3, None, "c"), (4, 40, "d")],
        "k long, v int, s string",
    )
    out = {r.k: r for r in table_diff(old, new, "k", ["v", "s"]).collect()}
    assert out[1].change_type == "removed" and out[1].new_v is None
    assert out[2].change_type == "updated" and (out[2].old_v, out[2].new_v) == (20, 21)
    assert out[4].change_type == "added" and out[4].old_v is None
    # key 3 is unchanged (NULL v on both sides compares equal null-safely)
    assert 3 not in out


def test_validate_rules_and_referential(spark):
    from feature_store_fraud_detection_spark.operators import validate as V

    df = spark.createDataFrame(
        [(1, 5.0, "click"), (2, -1.0, "click"), (3, None, "hack"), (4, 50.0, "view")],
        "id long, value double, event_type string",
    )
    report = {
        r.rule: (r.n_violations, r.violation_rate)
        for r in V.validate(
            df,
            [
                V.not_null("value"),
                V.in_range("value", 0.0, 10.0),
                V.one_of("event_type", ["click", "view"]),
            ],
        ).collect()
    }
    assert report["value_not_null"] == (1, 0.25)
    # -1 out of range, None fails the gate too, 50 out of range
    assert report["value_in_range"] == (3, 0.75)
    assert report["event_type_one_of"] == (1, 0.25)

    child = spark.createDataFrame([(1, 100), (2, 999)], "id long, fk long")
    parent = spark.createDataFrame([(100,)], "pk long")
    orphans = V.referential_violations(child, parent, "fk", "pk").collect()
    assert [r.id for r in orphans] == [2]


def test_snapshot_store_versions_pin_and_diff(spark, tmp_path):
    from feature_store_fraud_detection_spark.sources.offline_store import (
        SnapshotStore,
    )

    store = SnapshotStore(spark, str(tmp_path / "snaps"))
    v1 = store.publish(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    )
    v2 = store.publish(
        spark.createDataFrame([(2, 21.0), (3, 30.0)], "k long, v double")
    )
    assert (v1, v2) == (1, 2) and store.versions() == [1, 2]
    # pinned reads are immutable and independent
    assert {r.k for r in store.read_version(1).collect()} == {1, 2}
    assert {r.k for r in store.latest().collect()} == {2, 3}
    d = {r.k: r.change_type for r in store.diff(1, 2, "k", ["v"]).collect()}
    assert d == {1: "removed", 2: "updated", 3: "added"}


def test_snapshot_store_publishes_under_a_file_uri_root(spark, tmp_path, monkeypatch):
    """A ``file://`` root is made and listed through the Hadoop FS API like
    every other store path: the second publish finds ``v=1`` and writes
    ``v=2``, and no ``file:`` directory appears in the working directory."""
    from feature_store_fraud_detection_spark.sources.offline_store import (
        SnapshotStore,
    )

    monkeypatch.chdir(tmp_path)
    store = SnapshotStore(spark, (tmp_path / "snaps").as_uri())
    df = spark.createDataFrame([(1, 10.0)], "k long, v double")
    assert (store.publish(df), store.publish(df)) == (1, 2)
    assert store.versions() == [1, 2]
    assert store.latest().count() == 1
    assert not (tmp_path / "file:").exists()


def test_apply_diff_roundtrip_reconstructs_new(spark):
    from feature_store_fraud_detection_spark.operators.diff import (
        apply_diff,
        table_diff,
    )

    old = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, None, "c"), (5, 50, "e")],
        "k long, v int, s string",
    )
    new = spark.createDataFrame(
        [(2, 21, "b"), (3, None, "c"), (4, 40, "d"), (5, 50, "x")],
        "k long, v int, s string",
    )
    ch = table_diff(old, new, "k", ["v", "s"])
    rebuilt = apply_diff(old, ch, "k", ["v", "s"])
    as_set = lambda d: {tuple(r) for r in d.collect()}
    assert as_set(rebuilt) == as_set(new)


def test_delete_keys_partition_surgical(spark, tmp_path):
    import os

    from feature_store_fraud_detection_spark.sources.offline_store import (
        OfflineStore,
        PARTITION_COL,
    )

    store = OfflineStore(spark, str(tmp_path / "gdpr"), ts_col="ts")
    rows = [
        (1, "2024-01-01 10:00:00", 1.0),
        (2, "2024-01-01 11:00:00", 2.0),
        (1, "2024-01-02 10:00:00", 3.0),   # day 2 holds ONLY user 1
        (3, "2024-01-03 10:00:00", 4.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, t string, value double").select(
        "user_id", F.to_timestamp("t").alias("ts"), "value"
    )
    store.write(df)
    day3_dir = str(tmp_path / "gdpr" / f"{PARTITION_COL}=2024-01-03")
    day3_files = sorted(os.listdir(day3_dir))

    store.delete_keys("user_id", [1])
    out = store.read()
    assert out.filter("user_id = 1").count() == 0
    assert {r.user_id for r in out.collect()} == {2, 3}
    # the fully-emptied day-2 partition is gone, not lingering
    assert not os.path.exists(str(tmp_path / "gdpr" / f"{PARTITION_COL}=2024-01-02"))
    # untouched partitions keep their exact files (surgical rewrite)
    assert sorted(os.listdir(day3_dir)) == day3_files


def test_read_merged_schema_additive_evolution(spark, tmp_path):
    from feature_store_fraud_detection_spark.sources.offline_store import (
        OfflineStore,
    )

    store = OfflineStore(spark, str(tmp_path / "evolve"), ts_col="ts")
    v1 = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1.0)], "user_id long, t string, value double"
    ).select("user_id", F.to_timestamp("t").alias("ts"), "value")
    store.write(v1)
    v2 = v1.select("user_id", F.expr("ts + interval 1 day").alias("ts"),
                   "value").withColumn("new_score", F.lit(0.5))
    store.append(v2)
    merged = store.read_merged_schema()
    assert "new_score" in merged.columns
    rows = {r.new_score for r in merged.collect()}
    assert rows == {None, 0.5}  # old rows surface the new column as NULL


def test_distinct_sketch_merge_equals_full(spark):
    from feature_store_fraud_detection_spark.operators.incremental import (
        distinct_estimate,
        distinct_sketch_state,
        merge_distinct_sketch,
    )

    df = spark.range(2000).select(
        (F.col("id") % 5).alias("k"),
        (F.col("id") % 300).cast("string").alias("v"),
        (F.col("id") % 3).alias("batch"),
    )
    full = distinct_estimate(distinct_sketch_state(df, "k", "v"), "k")
    state = distinct_sketch_state(df.filter("batch = 0"), "k", "v")
    for b in (1, 2):
        state = merge_distinct_sketch(
            state, distinct_sketch_state(df.filter(f"batch = {b}"), "k", "v"), "k"
        )
    merged = distinct_estimate(state, "k")
    canon = lambda d: {r.k: r.n_distinct for r in d.collect()}
    assert canon(merged) == canon(full)
    # sanity: estimates are near the true distinct counts
    truth = {
        r.k: r.n
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    for k, est in canon(full).items():
        assert abs(est - truth[k]) <= 0.05 * truth[k] + 3


def test_delete_keys_keeps_null_key_rows(spark, tmp_path):
    """NULL-safe keep predicate: ~isin(values) is NULL (not true) for a
    NULL key, which would silently drop NULL-key rows that merely share a
    rewritten partition with a deleted key."""
    from feature_store_fraud_detection_spark.sources.offline_store import (
        OfflineStore,
    )

    store = OfflineStore(spark, str(tmp_path / "gdpr_null"), ts_col="ts")
    rows = [
        (1, "2024-01-01 10:00:00", 1.0),
        (None, "2024-01-01 11:00:00", 2.0),  # shares day-1 with user 1
        (3, "2024-01-02 10:00:00", 3.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, t string, value double"
    ).select("user_id", F.to_timestamp("t").alias("ts"), "value")
    store.write(df)
    store.delete_keys("user_id", [1])
    kept = {r.user_id for r in store.read().collect()}
    assert kept == {None, 3}


# --------------------------------------------------------------------------
# Ingestion robustness: ORC round-trip, JSONL quarantine, binaryFile source
# --------------------------------------------------------------------------


def test_orc_round_trip_equals_parquet(spark, tmp_path, sf_dir):
    from feature_store_fraud_detection_spark.schemas import load_table
    from feature_store_fraud_detection_spark.sources.readers import (
        read_orc,
        write_orc,
    )

    ev = load_table(spark, sf_dir, "events").limit(500)
    path = str(tmp_path / "events_orc")
    write_orc(ev, path)
    back = read_orc(spark, path)
    assert back.schema == ev.schema
    a = sorted(map(tuple, ev.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_jsonl_quarantine_splits_bad_lines(spark, tmp_path):
    from pyspark.sql import types as T

    from feature_store_fraud_detection_spark.sources.readers import (
        read_json_lines_with_quarantine,
    )

    src = tmp_path / "in.jsonl"
    src.write_text(
        '{"id": 1, "v": "ok"}\n'
        "this is not json at all\n"
        '{"id": 2, "v": "also ok"}\n'
        '{"id": "NOT_A_NUMBER", "v": "bad type"}\n'
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    valid, quarantined = read_json_lines_with_quarantine(spark, str(src), schema)
    assert {r["id"] for r in valid.collect()} == {1, 2}
    bad = [r["raw_line"] for r in quarantined.collect()]
    assert len(bad) == 2
    assert any("not json" in b for b in bad)
    assert any("NOT_A_NUMBER" in b for b in bad)


def test_binary_file_source_reads_multimodal_assets(spark, tmp_path):
    from feature_store_fraud_detection_spark.sources.readers import (
        read_binary_files,
    )

    d = tmp_path / "assets"
    d.mkdir()
    (d / "a.png").write_bytes(b"\x89PNG-fake-bytes-aaaa")
    (d / "b.png").write_bytes(b"\x89PNG-fake-bytes-bb")
    (d / "notes.txt").write_text("not an image")
    out = read_binary_files(spark, str(d), glob="*.png").select("path", "length", "content")
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in out.collect()}
    assert set(rows) == {"a.png", "b.png"}
    assert rows["a.png"]["length"] == 20
    assert bytes(rows["a.png"]["content"]).startswith(b"\x89PNG")


def test_training_shard_export_deterministic(spark, tmp_path, sf_dir):
    """Shard membership and within-shard order are pure functions of the id:
    two exports byte-agree, every row lands in exactly one shard, and file
    row order inside a shard is the md5 shuffle order."""
    from feature_store_fraud_detection_spark.operators.packing import (
        export_training_shards,
    )
    from feature_store_fraud_detection_spark.schemas import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    p1, p2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    export_training_shards(docs, "doc_id", p1, n_shards=4)
    export_training_shards(docs, "doc_id", p2, n_shards=4)

    a = spark.read.parquet(p1)
    assert a.count() == docs.count()
    assert a.select("doc_id").distinct().count() == docs.count()
    assert set(r["shard"] for r in a.select("shard").distinct().collect()) <= set(
        range(4)
    )
    # reproducibility: same shard assignment both runs
    b = spark.read.parquet(p2)
    ja = {(r["doc_id"], r["shard"]) for r in a.collect()}
    jb = {(r["doc_id"], r["shard"]) for r in b.collect()}
    assert ja == jb
    # within-file order is the deterministic md5 order (check one shard file)
    import glob as _glob

    files = sorted(_glob.glob(p1 + "/shard=0/*.parquet"))
    assert files
    import hashlib

    got = [r["doc_id"] for r in spark.read.parquet(files[0]).collect()]
    want = sorted(
        got, key=lambda i: hashlib.md5(f"shard|{i}".encode()).hexdigest()
    )
    assert got == want


def test_gdpr_delete_spans_offline_and_online_stores(spark, tmp_path):
    """The right-to-be-forgotten op must clear BOTH halves: the offline
    history (delete_keys, date-partition surgical) and the online serving
    state (ParquetOnlineStore.delete_keys, key-bucket surgical) — afterwards
    neither point_lookup over the offline store nor the latest-state serving
    read returns the key, other keys and NULL-key rows are intact, and a
    bucket emptied by the deletion leaves no stale files behind."""
    import datetime as dt

    from feature_store_fraud_detection_spark.operators.relational import (
        point_lookup,
    )
    from feature_store_fraud_detection_spark.sources.offline_store import (
        OfflineStore,
    )
    from feature_store_fraud_detection_spark.sources.online_store import (
        ParquetOnlineStore,
    )

    rows = [
        (1, dt.datetime(2024, 1, 1, 10), 11.0),
        (1, dt.datetime(2024, 1, 2, 10), 12.0),
        (2, dt.datetime(2024, 1, 1, 11), 21.0),
        (None, dt.datetime(2024, 1, 1, 12), 99.0),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, value double")

    off = OfflineStore(spark, str(tmp_path / "off"), ts_col="ts")
    off.write(df)
    on = ParquetOnlineStore(
        spark, str(tmp_path / "on"), key="user_id", ts="ts",
        retention_seconds=None, num_buckets=4,
    )
    on.upsert(df)

    off.delete_keys("user_id", [1])
    on.delete_keys([1])

    assert point_lookup(off.read(), "user_id", 1).count() == 0
    assert point_lookup(off.read(), "user_id", 2).count() == 1
    served = on.read()
    assert served.filter(F.col("user_id") == 1).count() == 0
    assert served.filter(F.col("user_id") == 2).count() == 1
    assert served.filter(F.col("user_id").isNull()).count() == 1

    # deleting every remaining key drops its emptied bucket; the NULL-key
    # row (which no delete can name) is all the store serves
    on.delete_keys([2])
    assert [r.user_id for r in on.read().collect()] == [None]


def test_store_reads_see_every_mutation(spark, tmp_path):
    """Freshness contract of the stores' resolved relations: after each
    mutating method, a read through the mutating store object AND through
    a second object on the same path (both resolved before the write)
    equals a fresh ``spark.read.parquet`` of the path — offline, online,
    and an ``OnlineStoreSink`` writing while a separate online store reads.
    The mutators' staging checkpoints are released, not left persisted."""
    from feature_store_fraud_detection_spark.sources.online_store import BUCKET_COL
    from feature_store_fraud_detection_spark.streaming.pipeline import OnlineStoreSink

    def rows(df):
        return sorted(map(tuple, df.collect()), key=repr)

    def fresh(path, drop=()):
        return rows(spark.read.parquet(path).drop(*drop))

    def mk(rows_):
        return spark.createDataFrame(rows_, "cc_num long, amt double, ts timestamp")

    def persisted_rdds():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    t0 = dt.datetime(2024, 1, 1, 10)
    day = dt.timedelta(days=1)
    persisted_before = persisted_rdds()

    off_path = str(tmp_path / "offline")
    off = OfflineStore(spark, off_path, ts_col="ts")
    off2 = OfflineStore(spark, off_path, ts_col="ts")
    mutations = [
        ("write", lambda: off.write(mk([(1, 1.0, t0), (2, 2.0, t0 + day)]))),
        ("append", lambda: off.append(mk([(3, 3.0, t0), (1, 4.0, t0 + 2 * day)]))),
        ("backfill", lambda: off.backfill(mk([(5, 5.0, t0 + day)]))),
        ("compact", lambda: off.compact(sort_cols=["cc_num"])),
        ("delete_keys", lambda: off.delete_keys("cc_num", [1])),
        ("delete_keys every key", lambda: off.delete_keys("cc_num", [3, 5])),
        ("clear", off.clear),
    ]
    for i, (name, mutate) in enumerate(mutations):
        if i:  # both objects hold a relation resolved before the mutation
            off.read().collect()
            off2.read().collect()
        mutate()
        want = fresh(off_path)
        assert rows(off.read()) == want, name
        assert rows(off2.read()) == want, name
    assert want == []

    # the second table holds no NULL key, so deleting every key empties it
    for table, first, mutations, left in [
        ("online", [(1, 1.0, t0), (2, 2.0, t0), (None, 9.0, t0)], [
            ("upsert", lambda on: on.upsert(mk([(1, 1.5, t0 + day), (3, 3.0, t0)]))),
            ("delete_keys", lambda on: on.delete_keys([2])),
        ], {1, 3, None}),
        ("online_emptied", [(1, 1.0, t0), (2, 2.0, t0)], [
            ("delete_keys every key", lambda on: on.delete_keys([1, 2])),
            ("upsert after emptying", lambda on: on.upsert(mk([(4, 4.0, t0)]))),
        ], {4}),
    ]:
        on_path = str(tmp_path / table)
        on = ParquetOnlineStore(spark, on_path, ts="ts", retention_seconds=None, num_buckets=8)
        on.upsert(mk(first))
        on2 = ParquetOnlineStore(spark, on_path, ts="ts", retention_seconds=None, num_buckets=8)
        for name, mutate in mutations:
            on.read().collect()
            on2.read().collect()
            mutate(on)
            want = fresh(on_path, drop=[BUCKET_COL])
            assert rows(on.read()) == want, name
            assert rows(on2.read()) == want, name
        assert {r.cc_num for r in on2.read().collect()} == left

    sink = OnlineStoreSink(key="cc_num", ts="ts", path=str(tmp_path / "sink"),
                           num_buckets=8)
    sink(mk([(1, 1.0, t0)]), 0)
    reader = ParquetOnlineStore(spark, sink.path, ts="ts", num_buckets=8)
    for batch_id, batch in enumerate([[(1, 2.0, t0 + day), (4, 4.0, t0 + day)],
                                      [(5, 5.0, t0 + day)]], start=1):
        reader.read().collect()
        sink(mk(batch), batch_id)
        want = fresh(sink.path, drop=[BUCKET_COL])
        assert rows(reader.read()) == want
        assert rows(sink.state) == want
    assert {r.cc_num for r in reader.read().collect()} == {1, 4, 5}
    assert persisted_rdds() <= persisted_before


def test_table_generation_counts_every_concurrent_mutation():
    """The per-path generation is bumped under a lock: threads mutating one
    path concurrently lose no bump (a lost one would let a reader keep
    serving a relation resolved before the write)."""
    import sys
    import threading

    from feature_store_fraud_detection_spark.sources.readers import (
        bump_generation,
        table_generation,
    )

    path = "/stress/generation/table"
    workers, bumps = 16, 2_000
    before = table_generation(path)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=lambda: [bump_generation(path) for _ in range(bumps)])
            for _ in range(workers)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert table_generation(path + "/") == before + workers * bumps


def test_online_retention_matches_pure_merge_in_a_lone_bucket(spark, tmp_path):
    """The durable upsert's TTL equals :func:`upsert_latest_state`'s when
    every row of a touched bucket expires: keys 1 and 2 sit alone in
    buckets 16 and 33 of 64, and the second batch's horizon (t0+5h - 1h)
    expires key 1's t0 row while its late t0-1h row loses the merge. The
    emptied bucket must be deleted, not left serving the expired row."""
    from feature_store_fraud_detection_spark.sources.online_store import BUCKET_COL

    def mk(rows_):
        return spark.createDataFrame(rows_, "cc_num long, amt double, ts timestamp")

    def rows(df):
        return sorted(map(tuple, df.collect()), key=repr)

    t0 = dt.datetime(2024, 1, 1, 10)
    hour = dt.timedelta(hours=1)
    path = str(tmp_path / "online_ttl")
    store = ParquetOnlineStore(spark, path, ts="ts", retention_seconds=3600, num_buckets=64)
    assert {r[BUCKET_COL] for r in store._with_bucket(mk([(1, 0.0, t0), (2, 0.0, t0)])).collect()} \
        == {16, 33}
    pure = None
    for batch in ([(1, 1.0, t0), (2, 2.0, t0)], [(2, 2.5, t0 + 5 * hour), (1, 0.5, t0 - hour)]):
        store.upsert(mk(batch))
        pure = upsert_latest_state(pure, mk(batch), "cc_num", "ts", 3600)
    assert rows(store.read()) == rows(pure) == [(2, 2.5, t0 + 5 * hour)]
    assert rows(spark.read.parquet(path).drop(BUCKET_COL)) == rows(pure)


def test_store_commits_live_in_one_function():
    """Every dynamic partition overwrite and every Hadoop-FS delete in the
    package sits in the one commit function (``_commit_state``'s rename
    commit of fold state keeps its own deletes): a store rewrite committed
    any other way would skip the emptied-partition delete, the
    readable-empty footer or the table-version bump. The stores and sinks
    never probe a frame with ``isEmpty()``, which costs a job (on a
    foreachBatch frame, a re-run of the upstream) and is what the commit's
    listing replaces."""
    import ast
    import pathlib

    import feature_store_fraud_detection_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    overwrites, deletes, probes = set(), set(), set()
    for src in sorted(root.rglob("*.py")):
        rel = src.relative_to(root).as_posix()
        tree = ast.parse(src.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Constant) and node.value == "partitionOverwriteMode":
                    overwrites.add((rel, fn.name))
                if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                    # Hadoop FileSystem.delete(path, recursive)
                    if node.func.attr == "delete" and len(node.args) == 2:
                        deletes.add((rel, fn.name))
                    if node.func.attr == "isEmpty" and rel.startswith(
                        ("sources/", "streaming/")
                    ):
                        probes.add((rel, fn.name))
    commit = ("sources/readers.py", "overwrite_partitions")
    assert overwrites == {commit}
    assert deletes == {commit, ("streaming/pipeline.py", "_commit_state")}
    assert probes == set()
