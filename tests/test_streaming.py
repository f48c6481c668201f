"""Structured Streaming pipeline: typed ingest, watermarked windows,
foreachBatch online-store upsert — exercised end-to-end with a file source
and availableNow trigger (deterministic, no sleeps)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from feature_store_fraud_detection_spark.streaming.pipeline import (
    OnlineStoreSink,
    enrich,
    parse_stream,
    run_stream_to_online_store,
    windowed_stats,
)
from feature_store_fraud_detection_spark.streaming.producer import synthetic_batch


def _write_jsonl(tmp_path, events):
    src = tmp_path / "stream_src"
    src.mkdir()
    with open(src / "part-0.json", "w") as f:
        for e in events:
            f.write(json.dumps({"value": json.dumps(e)}) + "\n")
    return str(src)


def _mk_events():
    base = "2024-01-01T00:{m:02d}:{s:02d}"
    out = []
    for i in range(60):
        out.append(
            {
                "txn_id": f"txn_{i}",
                "cc_num": i % 3,
                "amount": float(10 + i),
                "lat": 38.0, "long": -90.0,
                "merch_lat": 39.0, "merch_long": -91.0,
                "timestamp": base.format(m=i // 6, s=(i % 6) * 10),
            }
        )
    return out


def test_stream_windowed_stats_matches_batch(spark, tmp_path):
    events = _mk_events()
    src = _write_jsonl(tmp_path, events)
    raw_stream = spark.readStream.schema("value string").json(src)
    stats = windowed_stats(enrich(parse_stream(raw_stream)))
    q = (
        stats.writeStream.format("memory")
        .queryName("win_stats")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("win_stats")

    # batch twin over the identical data (same code path, batch DataFrame)
    raw_batch = spark.read.schema("value string").json(src)
    expected = windowed_stats(enrich(parse_stream(raw_batch)))
    # streaming append emits only watermark-closed windows; every emitted
    # window must match the batch result exactly
    joined = got.join(
        expected.withColumnRenamed("txn_count", "exp_count").withColumnRenamed(
            "avg_amount", "exp_avg"
        ),
        ["window_start", "window_end", "cc_num"],
        "inner",
    )
    n_got = got.count()
    assert n_got > 0
    assert joined.count() == n_got
    assert joined.filter(
        (F.col("txn_count") != F.col("exp_count"))
        | (F.abs(F.col("avg_amount") - F.col("exp_avg")) > 1e-9)
    ).count() == 0


def test_stream_to_online_store_end_to_end(spark, tmp_path):
    events = _mk_events()
    src = _write_jsonl(tmp_path, events)
    raw_stream = spark.readStream.schema("value string").json(src)
    sink = OnlineStoreSink()
    q = run_stream_to_online_store(
        raw_stream, sink, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    state = sink.state
    assert state is not None
    rows = {r.cc_num: r for r in state.collect()}
    assert set(rows) == {0, 1, 2}
    # latest event per key: keys cycle 0,1,2 -> latest for key 2 is txn_59
    assert rows[2].latest_txn_id == "txn_59"
    assert rows[2].latest_amount == 69.0
    assert rows[0].latest_txn_id == "txn_57"


def test_stats_to_online_store(spark, tmp_path):
    from feature_store_fraud_detection_spark.streaming.pipeline import (
        run_stats_to_online_store,
    )

    src = _write_jsonl(tmp_path, _mk_events())
    raw = spark.readStream.schema("value string").json(str(src))
    sink = OnlineStoreSink(key="cc_num", ts="window_end")
    q = run_stats_to_online_store(raw, sink, checkpoint_dir=str(tmp_path / "ck2"))
    q.awaitTermination(120)
    state = sink.state
    assert state is not None
    rows = {r.cc_num: r for r in state.collect()}
    # one row per key: its latest closed window's stats
    assert set(rows) == {0, 1, 2}
    for r in rows.values():
        assert r.txn_count >= 1 and r.avg_amount > 0
        assert r.window_end > r.window_start


def test_dedupe_stream_drops_duplicate_ids(spark, tmp_path):
    from feature_store_fraud_detection_spark.streaming.pipeline import dedupe_stream

    events = _mk_events()
    dup_events = events + events[:10]  # re-deliver the first 10
    src = _write_jsonl(tmp_path, dup_events)
    raw = spark.readStream.schema("value string").json(src)
    deduped = dedupe_stream(parse_stream(raw))
    q = (
        deduped.writeStream.format("memory")
        .queryName("deduped")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("deduped")
    assert got.count() == len(events)
    assert got.select("txn_id").distinct().count() == len(events)


def test_streaming_session_windows(spark, tmp_path):
    from feature_store_fraud_detection_spark.operators.windows import (
        session_window_aggs,
    )

    src = _write_jsonl(tmp_path, _mk_events())
    raw = spark.readStream.schema("value string").json(str(src))
    ev = parse_stream(raw).withWatermark("event_time", "5 seconds")
    # per-key events are 30s apart; a 15s gap closes every session as the
    # watermark passes it (a gap larger than the spacing would leave one
    # open session per key and emit nothing in append mode)
    sessions = session_window_aggs(
        ev, key="cc_num", ts="event_time", gap="15 seconds",
        aggs=[F.count(F.lit(1)).alias("n_events")],
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("sessions")
    # batch twin over the same data must agree on every closed session
    batch_ev = parse_stream(spark.read.schema("value string").json(str(src)))
    expected = session_window_aggs(
        batch_ev, key="cc_num", ts="event_time", gap="15 seconds",
        aggs=[F.count(F.lit(1)).alias("n_events")],
    )
    n = got.count()
    assert n > 0
    assert got.join(
        expected, ["session_start", "session_end", "cc_num", "n_events"]
    ).count() == n


def test_synthetic_producer_distributions(spark):
    df = synthetic_batch(spark, 20_000, seed=42)
    stats = df.agg(
        F.avg("amount").alias("avg_amt"),
        F.avg("lat").alias("avg_lat"),
        F.stddev("lat").alias("std_lat"),
        F.countDistinct("cc_num").alias("n_keys"),
    ).first()
    assert abs(stats.avg_amt - 70.0) < 3.0     # Exp(70) mean
    assert abs(stats.avg_lat - 38.5) < 0.2     # N(38.5, 5.1)
    assert abs(stats.std_lat - 5.1) < 0.2
    assert stats.n_keys > 900                  # 983-key pool mostly covered


def test_stream_stream_join_bounded_state(spark, tmp_path):
    """J2 append-mode: watermarked stream-stream join with time-range bound
    must equal the identical join over the same data in batch."""
    from feature_store_fraud_detection_spark.streaming.pipeline import (
        stream_stream_join,
    )

    events = _mk_events()
    src = _write_jsonl(tmp_path, events)

    def sides(reader):
        parsed = parse_stream(reader.schema("value string").json(src))
        txns = parsed.select("txn_id", "cc_num", "amount", "event_time")
        companion = parsed.select("cc_num", "event_time", "lat")
        return txns, companion

    t_s, c_s = sides(spark.readStream)
    q = (
        stream_stream_join(t_s, c_s, max_lag="1 minute")
        .writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("ssj")

    t_b, c_b = sides(spark.read)
    exp = stream_stream_join(t_b, c_b, max_lag="1 minute")
    assert got.count() == exp.count() > 0
    # spot-check join semantics: txn_0 (t=00:00:00) matches only the
    # companion event at its own timestamp (prior events for card 0: none)
    assert got.filter(F.col("txn_id") == "txn_0").count() == 1
    # txn_57 (card 0, t=00:09:30) has card-0 companions at 09:30, 09:00,
    # 08:30 within the trailing minute -> 3 matches
    assert got.filter(F.col("txn_id") == "txn_57").count() == 3


def test_stream_point_in_time_enrich_matches_batch(spark, tmp_path):
    """Per-micro-batch as-of enrichment == the batch asof_join over the same
    data: snapshot visibility is a pure function of event time, so arrival
    batching cannot change the result."""
    from feature_store_fraud_detection_spark.operators.temporal import asof_join
    from feature_store_fraud_detection_spark.streaming.pipeline import (
        run_point_in_time_enrich,
    )

    events = _mk_events()
    src = _write_jsonl(tmp_path, events)
    # per-key snapshots: every 7th txn acts as a feature-state write
    feats = spark.createDataFrame(
        [
            (e["cc_num"], e["timestamp"], e["amount"], e["txn_id"])
            for i, e in enumerate(events)
            if i % 7 == 0
        ],
        "cc_num bigint, t string, snap_value double, snap_id string",
    ).select("cc_num", F.to_timestamp("t").alias("snap_ts"), "snap_value", "snap_id")

    out_dir = str(tmp_path / "enriched")
    raw_stream = spark.readStream.schema("value string").json(src)
    q = run_point_in_time_enrich(
        raw_stream,
        feats,
        out_dir,
        checkpoint_dir=str(tmp_path / "ckpt_pit"),
        value_cols=("snap_value", "snap_id"),
        tiebreak="snap_id",
    )
    q.awaitTermination(120)
    got = {
        r.txn_id: (r.snap_id, r.snap_value)
        for r in spark.read.parquet(out_dir).collect()
    }

    raw_batch = spark.read.schema("value string").json(src)
    from feature_store_fraud_detection_spark.streaming.pipeline import (
        enrich as _enrich,
        parse_stream as _parse,
    )

    expected_df = asof_join(
        _enrich(_parse(raw_batch)),
        feats,
        key="cc_num",
        left_ts="event_time",
        right_ts="snap_ts",
        value_cols=["snap_value", "snap_id"],
        tiebreak="snap_id",
    )
    expected = {
        r.txn_id: (r.snap_id, r.snap_value) for r in expected_df.collect()
    }
    assert len(got) == 60
    assert got == expected


def test_idempotent_sink_replay_does_not_duplicate(spark, tmp_path):
    from feature_store_fraud_detection_spark.streaming.pipeline import (
        IdempotentBatchSink,
    )

    sink = IdempotentBatchSink(str(tmp_path / "idem"))
    b0 = spark.range(10).select(F.col("id"), F.lit("a").alias("v"))
    b1 = spark.range(10, 15).select(F.col("id"), F.lit("b").alias("v"))
    sink(b0, 0)
    sink(b0, 0)  # re-delivery of the SAME batch after a simulated failure
    assert sink.read(spark).count() == 10
    sink(b1, 1)
    sink(b0, 0)  # late replay of an old batch is still idempotent
    got = sink.read(spark)
    assert got.count() == 15
    assert got.filter("batch_id = 1").count() == 5

    # no emptiness probe: an empty first batch writes no partition and
    # leaves a readable empty table, which the next batch adds to
    fresh = IdempotentBatchSink(str(tmp_path / "idem_empty"))
    fresh(b0.limit(0), 0)
    assert fresh.read(spark).count() == 0
    fresh(b1, 1)
    assert sorted(r.id for r in fresh.read(spark).collect()) == list(range(10, 15))


def test_idempotent_sink_through_stream(spark, tmp_path):
    from feature_store_fraud_detection_spark.streaming.pipeline import (
        IdempotentBatchSink,
    )

    src = _write_jsonl(tmp_path, _mk_events())
    raw = spark.readStream.schema("value string").json(str(src))
    events = parse_stream(raw)
    sink = IdempotentBatchSink(str(tmp_path / "idem_stream"))
    q = (
        events.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_idem"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sink.read(spark).count() == 60  # every event exactly once


def test_stream_neardup_filter_matches_batch_probe(spark, tmp_path):
    """The streaming LSH ingest filter must keep exactly the documents the
    batch probe would keep on the union of batches (per-doc decisions are
    independent of arrival batching), dropping planted near-dups."""
    import json

    from feature_store_fraud_detection_spark.operators.dedup import (
        minhash_doc_state,
        minhash_probe,
    )
    from feature_store_fraud_detection_spark.streaming.pipeline import (
        run_stream_neardup_filter,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(1, base), (2, "totally unrelated corpus text about joins and scans")],
        "doc_id bigint, text string",
    )
    corpus_state = minhash_doc_state(corpus, "doc_id", "text").localCheckpoint()

    incoming = [
        (10, base + " tonight"),          # near-dup of corpus doc 1 -> drop
        (11, "fresh unique document with brand new words entirely"),
        (12, "another novel document mentioning streams and buckets"),
    ]
    src = tmp_path / "docs_src"
    src.mkdir()
    with open(src / "batch.jsonl", "w") as f:
        for i, t in incoming:
            f.write(json.dumps({"doc_id": i, "text": t}) + "\n")

    raw = spark.readStream.schema("doc_id bigint, text string").json(str(src))
    out_dir = str(tmp_path / "curated")
    q = run_stream_neardup_filter(
        raw, corpus_state, out_dir, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    got = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    batch_df = spark.createDataFrame(incoming, "doc_id bigint, text string")
    dup = {
        r["new_id"]
        for r in minhash_probe(
            minhash_doc_state(batch_df, "doc_id", "text"), corpus_state, "doc_id"
        ).collect()
    }
    want = {i for i, _ in incoming} - dup
    assert got == want
    assert 10 not in got and {11, 12} <= got


def test_stream_neardup_filter_replay_is_idempotent(spark, tmp_path):
    """A replayed micro-batch must REPLACE its own output, not double-append:
    running the filter twice over the same source with no checkpoint (so the
    second run reprocesses everything) leaves exactly one copy of each
    surviving document — the IdempotentBatchSink contract."""
    import json

    from feature_store_fraud_detection_spark.operators.dedup import (
        minhash_doc_state,
    )
    from feature_store_fraud_detection_spark.streaming.pipeline import (
        run_stream_neardup_filter,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(1, base)], "doc_id bigint, text string"
    )
    corpus_state = minhash_doc_state(corpus, "doc_id", "text").localCheckpoint()

    src = tmp_path / "docs_src2"
    src.mkdir()
    with open(src / "batch.jsonl", "w") as f:
        for i, t in [
            (10, base + " tonight"),  # near-dup -> dropped
            (11, "fresh unique document with brand new words entirely"),
            (12, "another novel document mentioning streams and buckets"),
        ]:
            f.write(json.dumps({"doc_id": i, "text": t}) + "\n")

    out_dir = str(tmp_path / "curated2")
    for _ in range(2):  # second run replays batch 0 from scratch
        raw = spark.readStream.schema("doc_id bigint, text string").json(str(src))
        q = run_stream_neardup_filter(raw, corpus_state, out_dir)
        q.awaitTermination(120)

    rows = spark.read.parquet(out_dir).groupBy("doc_id").count().collect()
    assert {r["doc_id"]: r["count"] for r in rows} == {11: 1, 12: 1}


def test_point_in_time_enrich_replay_is_idempotent(spark, tmp_path):
    """A replayed micro-batch of the point-in-time enrichment must REPLACE
    its own output: two runs over the same source with no checkpoint (the
    second re-delivers batch 0) leave each transaction exactly once."""
    from feature_store_fraud_detection_spark.streaming.pipeline import (
        run_point_in_time_enrich,
    )

    src = _write_jsonl(tmp_path, _mk_events()[:5])
    feats = spark.createDataFrame(
        [(c, "2023-12-31T00:00:00", float(c)) for c in range(3)],
        "cc_num bigint, t string, snap_value double",
    ).select("cc_num", F.to_timestamp("t").alias("snap_ts"), "snap_value")

    out_dir = str(tmp_path / "enriched_replay")
    for _ in range(2):
        raw = spark.readStream.schema("value string").json(src)
        run_point_in_time_enrich(raw, feats, out_dir).awaitTermination(120)

    rows = spark.read.parquet(out_dir).groupBy("txn_id").count().collect()
    assert {r.txn_id: r["count"] for r in rows} == {
        f"txn_{i}": 1 for i in range(5)
    }


def test_kafka_reader_contract_is_pinned(spark):
    """The one reference execution path no container can run end-to-end
    (no broker, no spark-sql-kafka jar) is at least contract-pinned:
    (a) the option map matches the reference consumer config
    (stream_processing/pipeline.py:33-42 — bootstrap servers + the
    'transactions' topic), and (b) kafka_stream really routes those options
    into format('kafka') — the load fails ONLY on the missing kafka
    artifact, not on option plumbing."""
    import pytest

    from feature_store_fraud_detection_spark.streaming.sources import (
        kafka_reader_options,
        kafka_stream,
    )

    opts = kafka_reader_options("localhost:9092")
    assert opts == {
        "kafka.bootstrap.servers": "localhost:9092",
        "subscribe": "transactions",
        "startingOffsets": "latest",
    }
    assert kafka_reader_options(
        "b1:9092,b2:9092", topic="tx2", starting_offsets="earliest"
    ) == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "tx2",
        "startingOffsets": "earliest",
    }
    with pytest.raises(Exception) as exc:
        kafka_stream(spark, "localhost:9092")
    msg = str(exc.value)
    assert "kafka" in msg.lower(), msg
    # the failure is the missing DATA SOURCE artifact, not a config error
    assert "FAILED_TO_FIND" in msg or "Failed to find" in msg, msg


def test_stream_pattern_alerts_match_batch_across_boundaries(spark, tmp_path):
    """Streaming contiguous-pattern alerts == batch detection over the same
    events, including runs that STRADDLE micro-batch boundaries (found
    exactly once via the persisted per-key tail state)."""
    from feature_store_fraud_detection_spark.operators.funnel import (
        contiguous_pattern_hits,
    )
    from feature_store_fraud_detection_spark.streaming.pipeline import (
        run_stream_pattern_alerts,
    )

    pattern = ["view", "click", "purchase"]
    # user 1: one run fully inside file A, one STRADDLING A|B (view/click in
    # A, purchase in B); user 2: a run inside B; user 3: broken run (no hit)
    t0 = 1_700_000_000
    file_a = [
        (1, "view", t0 + 0, 100),
        (1, "click", t0 + 10, 101),
        (1, "purchase", t0 + 20, 102),
        (1, "view", t0 + 30, 103),
        (1, "click", t0 + 40, 104),
        (3, "view", t0 + 5, 300),
        (3, "purchase", t0 + 6, 301),
    ]
    file_b = [
        (1, "purchase", t0 + 50, 105),
        (2, "view", t0 + 60, 200),
        (2, "click", t0 + 61, 201),
        (2, "purchase", t0 + 62, 202),
        (3, "click", t0 + 70, 302),
    ]
    src = tmp_path / "pattern_src"
    src.mkdir()
    for i, (name, rows) in enumerate((("a.jsonl", file_a), ("b.jsonl", file_b))):
        with open(src / name, "w") as f:
            for uid, et, ts, eid in rows:
                f.write(
                    json.dumps(
                        {"user_id": uid, "event_type": et, "ts": ts, "event_id": eid}
                    )
                    + "\n"
                )
        # the file source batches oldest-mtime-first; pin the order so the
        # straddling run really arrives split across two micro-batches
        os.utime(src / name, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    schema = "user_id bigint, event_type string, ts bigint, event_id bigint"
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .select(
            "user_id", "event_type",
            F.timestamp_seconds("ts").alias("ts"), "event_id",
        )
    )
    out_dir = str(tmp_path / "alerts")
    q = run_stream_pattern_alerts(
        raw,
        out_dir,
        state_dir=str(tmp_path / "tail_state"),
        pattern=pattern,
        within_sec=3600,
        checkpoint_dir=str(tmp_path / "ckpt_pat"),
    )
    q.awaitTermination(120)

    got = sorted(
        (r["user_id"], r["anchor_event_id"])
        for r in spark.read.parquet(out_dir).collect()
    )
    batch_all = spark.read.schema(schema).json(str(src)).select(
        "user_id", "event_type", F.timestamp_seconds("ts").alias("ts"), "event_id"
    )
    want = sorted(
        (r["user_id"], r["anchor_event_id"])
        for r in contiguous_pattern_hits(
            batch_all, "user_id", "event_type", "ts", pattern, 3600, "event_id"
        ).collect()
    )
    assert got == want
    # the straddling run (anchor 103, completed by event 105 in batch B) is
    # present exactly once, proving the tail state carried it over
    assert (1, 103) in got and got.count((1, 103)) == 1
    assert want == [(1, 100), (1, 103), (2, 200)]


def test_stream_drift_monitor_equals_batch_psi(spark, tmp_path):
    """The streaming drift monitor's accumulated-counts PSI must be
    BIT-identical to the batch categorical_drift_psi over all rows ever
    seen (category counts are additive), including across a multi-batch
    fold where categories appear in later batches only."""
    from feature_store_fraud_detection_spark.operators.stats import (
        categorical_drift_psi,
    )
    from feature_store_fraud_detection_spark.streaming.pipeline import (
        run_stream_drift_monitor,
        stream_drift_report,
    )

    cats = ["click", "view", "purchase", "refund"]
    rows = [
        (i, cats[i % 3] if i < 60 else cats[i % 4]) for i in range(100)
    ]  # 'refund' only appears in the second half -> later batches
    src = tmp_path / "drift_src"
    src.mkdir()
    for part in range(4):
        with open(src / f"p{part}.jsonl", "w") as f:
            for rid, c in rows[part::4]:
                f.write(json.dumps({"rid": rid, "cat": c}) + "\n")
        os.utime(src / f"p{part}.jsonl", (1_700_000_000 + part,) * 2)

    counts_dir = str(tmp_path / "drift_counts")
    raw = (
        spark.readStream.schema("rid bigint, cat string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = run_stream_drift_monitor(
        raw, counts_dir, "cat", checkpoint_dir=str(tmp_path / "ckpt_drift")
    )
    q.awaitTermination(120)

    baseline = spark.createDataFrame(
        [(i, cats[i % 2]) for i in range(80)], "rid bigint, cat string"
    )
    got = {
        r.cat: r
        for r in stream_drift_report(
            spark, baseline, counts_dir, "cat"
        ).collect()
    }
    all_rows = spark.createDataFrame(rows, "rid bigint, cat string")
    want = {
        r.cat: r for r in categorical_drift_psi(baseline, all_rows, "cat").collect()
    }
    assert set(got) == set(want) == set(cats)
    for c in want:
        assert got[c].n_base == want[c].n_base
        assert got[c].n_curr == want[c].n_curr
        assert got[c].psi_term == want[c].psi_term  # bit-identical


def test_stream_hist_monitor_equals_batch_sketch(spark, tmp_path):
    """Streaming histogram-sketch fold: quantile estimates from the
    accumulated state must be BIT-identical to one batch sketch over all
    rows ever seen (bin counts are additive), including keys that only
    appear in later micro-batches."""
    from feature_store_fraud_detection_spark.operators.sketches import (
        hist_quantiles,
        hist_sketch,
    )
    from feature_store_fraud_detection_spark.streaming.pipeline import (
        run_stream_hist_monitor,
        stream_quantile_report,
    )

    rows = [
        (i, "a" if i % 3 else "b", float((i * 37) % 500))
        for i in range(300)
    ] + [(1000 + j, "late", float(j)) for j in range(40)]  # late-only key
    src = tmp_path / "hist_src"
    src.mkdir()
    for part in range(4):
        with open(src / f"p{part}.jsonl", "w") as f:
            for rid, k, v in rows[part::4]:
                f.write(json.dumps({"rid": rid, "k": k, "v": v}) + "\n")
        os.utime(src / f"p{part}.jsonl", (1_700_000_000 + part,) * 2)

    state_dir = str(tmp_path / "hist_state")
    raw = (
        spark.readStream.schema("rid bigint, k string, v double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = run_stream_hist_monitor(
        raw, state_dir, "k", "v", lo=0.0, hi=500.0,
        checkpoint_dir=str(tmp_path / "ckpt_hist"),
    )
    q.awaitTermination(120)

    got = {
        r.k: r
        for r in stream_quantile_report(
            spark, state_dir, "k", lo=0.0, hi=500.0
        ).collect()
    }
    all_rows = spark.createDataFrame(rows, "rid bigint, k string, v double")
    want = {
        r.k: r
        for r in hist_quantiles(
            hist_sketch(all_rows, "k", "v", 0.0, 500.0), "k", 0.0, 500.0
        ).collect()
    }
    assert set(got) == set(want) == {"a", "b", "late"}
    for k in want:
        assert got[k].n == want[k].n
        for c in ("p50", "p90", "p99"):
            assert got[k][c] == want[k][c]  # bit-identical


def test_stream_kmv_monitor_equals_batch_sketch(spark, tmp_path):
    """The KMV monitor's folded sketch state (and hence every distinct
    estimate) must be BIT-identical to one batch sketch over all rows
    ever seen — KMV merge is exactly union-of-point-sets."""
    from feature_store_fraud_detection_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch,
    )
    from feature_store_fraud_detection_spark.streaming.pipeline import (
        run_stream_kmv_monitor,
        stream_distinct_report,
    )

    rows = [
        (i, "a" if i % 2 else "b", i % 97) for i in range(400)
    ] + [(1000 + j, "late", j) for j in range(30)]
    src = tmp_path / "kmv_src"
    src.mkdir()
    for part in range(3):
        with open(src / f"p{part}.jsonl", "w") as f:
            for rid, kk, v in rows[part::3]:
                f.write(json.dumps({"rid": rid, "k": kk, "v": v}) + "\n")
        os.utime(src / f"p{part}.jsonl", (1_700_000_000 + part,) * 2)

    state_dir = str(tmp_path / "kmv_state")
    raw = (
        spark.readStream.schema("rid bigint, k string, v int")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = run_stream_kmv_monitor(
        raw, state_dir, "k", "v", k=64,
        checkpoint_dir=str(tmp_path / "ckpt_kmv"),
    )
    q.awaitTermination(120)

    got = {
        r.k: r for r in stream_distinct_report(spark, state_dir, "k", 64).collect()
    }
    all_rows = spark.createDataFrame(rows, "rid bigint, k string, v int")
    want = {
        r.k: r
        for r in kmv_estimate(
            kmv_sketch(all_rows, "k", "v", 64), "k", 64
        ).collect()
    }
    assert set(got) == set(want) == {"a", "b", "late"}
    for kk in want:
        assert tuple(got[kk]) == tuple(want[kk])  # bit-identical
    # small keys are exact: 'late' has 30 distinct values < k
    assert got["late"].distinct_est == 30.0


def test_replay_guarded_fold_skips_redelivered_batch(spark, tmp_path):
    """foreachBatch is at-least-once: a batch re-delivered after a failure
    between state overwrite and checkpoint commit must fold AT MOST once.
    Folding batch_id=1 twice must leave the state bit-identical to folding
    it once; a NEW batch_id still folds; first-batch state starts clean."""
    from feature_store_fraud_detection_spark.streaming.pipeline import (
        _replay_guarded_fold,
        read_fold_state,
    )

    state_dir = str(tmp_path / "fold_state")
    assert read_fold_state(spark, state_dir) is None  # absent dir -> None

    def fold_add(n):
        def _f(prev):
            batch = spark.createDataFrame([(n,)], "n bigint")
            if prev is None:
                return batch
            return (
                prev.unionByName(batch)
                .agg(F.sum("n").alias("n"))
            )
        return _f

    def total():
        st = read_fold_state(spark, state_dir)
        return st.agg(F.sum("n")).first()[0]

    _replay_guarded_fold(spark, state_dir, 0, fold_add(10))
    assert total() == 10
    _replay_guarded_fold(spark, state_dir, 1, fold_add(5))
    assert total() == 15
    # replay of batch 1 (and a stale batch 0) must be no-ops
    _replay_guarded_fold(spark, state_dir, 1, fold_add(5))
    _replay_guarded_fold(spark, state_dir, 0, fold_add(10))
    assert total() == 15
    # the next real batch still folds
    _replay_guarded_fold(spark, state_dir, 2, fold_add(7))
    assert total() == 22


def test_stream_cms_monitor_equals_batch_sketch(spark, tmp_path):
    """The CMS monitor's folded counters (and hence every frequency
    estimate) must be BIT-identical to one batch sketch over all rows
    ever seen — CMS merge is cell-wise addition."""
    from feature_store_fraud_detection_spark.operators.sketches import (
        cms_query,
        cms_sketch,
    )
    from feature_store_fraud_detection_spark.streaming.pipeline import (
        run_stream_cms_monitor,
        stream_heavy_hitters_report,
    )

    # skewed stream: 'hot' dominates, the tail spreads across 40 items
    rows = [(i, "hot" if i % 3 else f"item_{i % 40}") for i in range(600)]
    src = tmp_path / "cms_src"
    src.mkdir()
    for part in range(3):
        with open(src / f"p{part}.jsonl", "w") as f:
            for rid, it in rows[part::3]:
                f.write(json.dumps({"rid": rid, "item": it}) + "\n")
        os.utime(src / f"p{part}.jsonl", (1_700_000_000 + part,) * 2)

    state_dir = str(tmp_path / "cms_state")
    raw = (
        spark.readStream.schema("rid bigint, item string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = run_stream_cms_monitor(
        raw, state_dir, "item", depth=4, width=128,
        checkpoint_dir=str(tmp_path / "ckpt_cms"),
    )
    q.awaitTermination(120)

    all_rows = spark.createDataFrame(rows, "rid bigint, item string")
    probes = all_rows.select("item").distinct()
    got = {
        r.item: r.cms_est
        for r in stream_heavy_hitters_report(
            spark, state_dir, probes, "item", depth=4, width=128
        ).collect()
    }
    want = {
        r.item: r.cms_est
        for r in cms_query(
            cms_sketch(all_rows, "item", 4, 128), probes, "item", 4, 128
        ).collect()
    }
    assert got == want  # folded state == one-pass sketch, bit-identical
    true_hot = sum(1 for _, it in rows if it == "hot")
    assert got["hot"] >= true_hot  # CMS never undercounts
    assert got["hot"] <= true_hot + len(rows) * 2 / 128  # and stays tight


def test_stream_hll_monitor_equals_batch_sketch(spark, tmp_path):
    """The HLL monitor's folded register state (and hence every
    cardinality estimate) must be BIT-identical to one batch sketch over
    all rows ever seen — HLL merge is element-wise register max, which is
    associative, commutative and idempotent."""
    from feature_store_fraud_detection_spark.operators.sketches import (
        hll_estimate,
        hll_sketch,
    )
    from feature_store_fraud_detection_spark.streaming.pipeline import (
        run_stream_hll_monitor,
        stream_hll_report,
    )

    # two high-cardinality keys + one tiny late key; values overlap
    # across micro-batches so idempotence of the register max matters
    rows = [
        (i, "a" if i % 2 else "b", i % 977) for i in range(900)
    ] + [(2000 + j, "late", j) for j in range(25)]
    src = tmp_path / "hll_src"
    src.mkdir()
    for part in range(3):
        with open(src / f"p{part}.jsonl", "w") as f:
            for rid, kk, v in rows[part::3]:
                f.write(json.dumps({"rid": rid, "k": kk, "v": v}) + "\n")
        os.utime(src / f"p{part}.jsonl", (1_700_000_000 + part,) * 2)

    state_dir = str(tmp_path / "hll_state")
    raw = (
        spark.readStream.schema("rid bigint, k string, v int")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = run_stream_hll_monitor(
        raw, state_dir, "k", "v",
        checkpoint_dir=str(tmp_path / "ckpt_hll"),
    )
    q.awaitTermination(120)

    all_rows = spark.createDataFrame(rows, "rid bigint, k string, v int")
    # register state itself is bit-identical to the one-pass sketch
    folded_regs = {
        (r.k, r.reg): r.m_j
        for r in spark.read.parquet(state_dir).collect()
    }
    want_regs = {
        (r.k, r.reg): r.m_j
        for r in hll_sketch(all_rows, "k", "v").collect()
    }
    assert folded_regs == want_regs
    # and so are the estimates
    got = {r.k: tuple(r) for r in stream_hll_report(spark, state_dir, "k").collect()}
    want = {
        r.k: tuple(r)
        for r in hll_estimate(hll_sketch(all_rows, "k", "v"), "k").collect()
    }
    assert got == want
    assert set(got) == {"a", "b", "late"}
    # sanity: the estimates sit near the true cardinalities
    true = {"a": 450, "b": 450, "late": 25}
    for kk, n in true.items():
        est = got[kk][-1]
        assert abs(est - n) / n < 0.15, (kk, est, n)


def test_stream_srm_monitor_equals_batch_check(spark, tmp_path):
    """The SRM monitor's accumulated unit set must make
    stream_srm_report BIT-identical to srm_check over all rows ever
    seen — set union is idempotent, so duplicate units across batches
    (and replays) cannot skew the arm counts."""
    from feature_store_fraud_detection_spark.operators.evaluation import (
        srm_check,
    )
    from feature_store_fraud_detection_spark.streaming.pipeline import (
        run_stream_srm_monitor,
        stream_srm_report,
    )

    # 900 units, each with 1-3 events spread ACROSS micro-batches, plus a
    # planted imbalance: drop a slice of one arm's units
    rows = []
    for u in range(900):
        if u % 10 < 2 and u % 2 == 0:
            continue  # broken logging on part of one hash slice
        for j in range(1 + u % 3):
            rows.append((u * 1000 + j, u))
    src = tmp_path / "srm_src"
    src.mkdir()
    for part in range(3):
        with open(src / f"p{part}.jsonl", "w") as f:
            for rid, u in rows[part::3]:
                f.write(json.dumps({"rid": rid, "user_id": u}) + "\n")
        os.utime(src / f"p{part}.jsonl", (1_700_000_000 + part,) * 2)

    state_dir = str(tmp_path / "srm_state")
    raw = (
        spark.readStream.schema("rid bigint, user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = run_stream_srm_monitor(
        raw, state_dir, "user_id",
        checkpoint_dir=str(tmp_path / "ckpt_srm"),
    )
    q.awaitTermination(120)

    got = stream_srm_report(spark, state_dir, "user_id").collect()[0]
    all_rows = spark.createDataFrame(rows, "rid bigint, user_id bigint")
    want = srm_check(all_rows, "user_id").collect()[0]
    assert tuple(got) == tuple(want)  # bit-identical incl. chi2
    assert got.n_units == len({u for _, u in rows})


def test_stream_ks_report_equals_batch(spark, tmp_path):
    """The order-aware KS readout over the drift monitor's accumulated
    band counts must be BIT-identical to ks_two_sample over (baseline
    rows as control) + (all streamed rows as treatment) — band counts
    are additive, and the KS statistic only sees the histogram."""
    from pyspark.sql import functions as F

    from feature_store_fraud_detection_spark.operators.stats import (
        ks_two_sample,
    )
    from feature_store_fraud_detection_spark.streaming.pipeline import (
        run_stream_drift_monitor,
        stream_ks_report,
    )

    # streamed bands drift one notch up vs the baseline's
    rows = [(i, (i % 10) + 1) for i in range(120)]
    src = tmp_path / "ks_src"
    src.mkdir()
    for part in range(3):
        with open(src / f"p{part}.jsonl", "w") as f:
            for rid, b in rows[part::3]:
                f.write(json.dumps({"rid": rid, "band": b}) + "\n")
        os.utime(src / f"p{part}.jsonl", (1_700_000_000 + part,) * 2)

    counts_dir = str(tmp_path / "ks_counts")
    raw = (
        spark.readStream.schema("rid bigint, band int")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = run_stream_drift_monitor(
        raw, counts_dir, "band", checkpoint_dir=str(tmp_path / "ckpt_ks")
    )
    q.awaitTermination(120)

    baseline = spark.createDataFrame(
        [(i, i % 10) for i in range(200)], "rid bigint, band int"
    )
    got = stream_ks_report(spark, baseline, counts_dir, "band").collect()[0]

    combined = spark.createDataFrame(
        [(b, 1) for _, b in rows] + [(i % 10, 0) for i in range(200)],
        "band int, is_live int",
    )
    want = ks_two_sample(combined, "is_live", "band", 1, 1).collect()[0]
    assert got == want  # every column, bit-for-bit
    assert got.d_scaled > 0  # the planted one-notch shift is visible


def _run_monitor(spark, tmp_path, start):
    """Fold 120 rows (3 micro-batches) of ``(rid, band, v)`` through the
    monitor ``start(raw, state_dir, checkpoint_dir)`` starts; returns
    the state dir."""
    src = tmp_path / "monitor_src"
    src.mkdir()
    rows = [(i, (i % 10) + 1, i % 37) for i in range(120)]
    for part in range(3):
        with open(src / f"p{part}.jsonl", "w") as f:
            for rid, b, v in rows[part::3]:
                f.write(json.dumps({"rid": rid, "band": b, "v": v}) + "\n")
        os.utime(src / f"p{part}.jsonl", (1_700_000_000 + part,) * 2)
    raw = (
        spark.readStream.schema("rid bigint, band int, v int")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    state_dir = str(tmp_path / "monitor_state")
    start(raw, state_dir, str(tmp_path / "ckpt_monitor")).awaitTermination(120)
    return state_dir


def test_fold_state_dir_with_trailing_slash(spark, tmp_path):
    """A fold monitor given its state dir with a trailing slash keeps the
    commit's ``.tmp`` / ``.old`` siblings outside the live dir: two
    micro-batches fold, and the report equals the run without the slash."""
    from feature_store_fraud_detection_spark.streaming import pipeline as p

    src = tmp_path / "slash_src"
    src.mkdir()
    for part in range(2):
        with open(src / f"p{part}.jsonl", "w") as f:
            for rid in range(part * 10, part * 10 + 10):
                f.write(json.dumps({"rid": rid, "band": rid % 3}) + "\n")
        os.utime(src / f"p{part}.jsonl", (1_700_000_000 + part,) * 2)
    baseline = spark.createDataFrame(
        [(i, i % 4) for i in range(40)], "rid bigint, band int"
    )

    def report(name, suffix):
        raw = (
            spark.readStream.schema("rid bigint, band int")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        counts_dir = str(tmp_path / name) + suffix
        p.run_stream_drift_monitor(
            raw, counts_dir, "band", str(tmp_path / f"ckpt_{name}")
        ).awaitTermination(120)
        return sorted(
            p.stream_drift_report(spark, baseline, counts_dir, "band").collect()
        )

    want = report("plain", "")
    assert want
    assert report("slashed", "/") == want
    assert not {".tmp", ".old"} & set(os.listdir(tmp_path / "slashed"))
    assert not {"slashed.tmp", "slashed.old"} & set(os.listdir(tmp_path))


@pytest.mark.parametrize("case", ["drift", "ks", "kmv"])
def test_stream_reports_read_the_parked_state_generation(spark, tmp_path, case):
    """A report taken between the state commit's two renames (the live dir
    parked at ``<dir>.old``, none in place) must equal the report taken
    before: every report reads through ``read_fold_state``, which falls
    back to ``.old``, and none sees the batch-id column."""
    from feature_store_fraud_detection_spark.streaming import pipeline as p

    baseline = spark.createDataFrame(
        [(i, i % 10) for i in range(200)], "rid bigint, band int"
    )

    def drift(raw, state_dir, ckpt):
        return p.run_stream_drift_monitor(raw, state_dir, "band", ckpt)

    def kmv(raw, state_dir, ckpt):
        return p.run_stream_kmv_monitor(raw, state_dir, "band", "v", 8, ckpt)

    start, report = {
        "drift": (drift, lambda d: p.stream_drift_report(spark, baseline, d, "band")),
        "ks": (drift, lambda d: p.stream_ks_report(spark, baseline, d, "band")),
        "kmv": (kmv, lambda d: p.stream_distinct_report(spark, d, "band", 8)),
    }[case]
    state_dir = _run_monitor(spark, tmp_path, start)
    before = sorted(report(state_dir).collect())
    assert before
    os.rename(state_dir, state_dir + ".old")
    assert sorted(report(state_dir).collect()) == before
    os.rename(state_dir + ".old", state_dir + ".gone")
    with pytest.raises(FileNotFoundError, match=r"^stream_\w+_report: "):
        report(state_dir)


def test_streaming_jobs_start_in_one_function():
    """``streaming/pipeline.py`` starts every query in ``_start``, folds
    every monitor through ``_run_fold`` and reads parquet only in
    ``read_fold_state`` and ``IdempotentBatchSink.read``: a job started,
    folded or read any other way would skip the checkpoint option, the
    replay guard or the ``.old`` fallback."""
    import ast
    import pathlib

    from feature_store_fraud_detection_spark.streaming import pipeline

    tree = ast.parse(pathlib.Path(pipeline.__file__).read_text())
    starts, folds, reads = set(), set(), set()

    def visit(node, scope):
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            scope = f"{scope}.{node.name}" if scope else node.name
        if isinstance(node, ast.Attribute) and node.attr in ("writeStream", "trigger"):
            starts.add(scope)
        if isinstance(node, ast.Call):
            if ast.unparse(node.func) == "_replay_guarded_fold":
                folds.add(scope)
            if ast.unparse(node.func).endswith("read.parquet"):
                reads.add(scope)
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(tree, "")
    assert starts == {"_start"}
    assert folds == {"_run_fold._fold"}
    assert reads == {"read_fold_state", "IdempotentBatchSink.read"}
