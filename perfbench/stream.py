"""stream_ingest: a closed-loop micro-batch feed into the online store while a
second thread reads it. It runs in the traced run of ``feature_serving``,
after that workload's timed part, as a per-layer diagnostic: a micro-batch
takes seconds on four cores, so a run window holds too few batches and reads
for steady end-to-end figures, and some reads fail when an upsert replaces a
file they listed (counted in ``reads_failed``).

The feed is ``rate-micro-batch`` with a fixed number of rows per batch and no
trigger pacing. Each row number is hashed with the seed into one event for
one of 983 cards, serialized to the reference's JSON wire format, and goes
``parse_stream -> windowed_stats -> OnlineStoreSink``. A reader thread runs
closed-loop online gets with uniformly drawn cards against the same store.
At the end every store row, and every row a reader saw, is checked against a
batch recompute of its window over the processed prefix (stream == batch).
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np

from perfbench import stats

ROWS_PER_BATCH = 2_000
#: event time advances one second per this many rows, so each batch moves
#: event time 200 s and closes ten 20-second window slides
ROWS_PER_EVENT_SECOND = 50
N_CARDS = 983
BASE_EPOCH = 1_700_000_000
#: batches the query runs before the measured batches (the first is cold)
WARM_BATCHES = 1
#: state partitions of the feed, sized to its 983 keys (the count is
#: pinned in the checkpoint at first start, as in a deployment)
STATE_PARTITIONS = 4
READ_KIND = "online_get_under_ingest"
#: the feed must reach the first committed store before reads start
START_TIMEOUT_S = 60
#: the measured window, longer than a run's: a micro-batch takes seconds
WINDOW_S = 15


def card_id(i):
    """Card number of card index ``i`` (array or Column)."""
    return 4_000_000_000_000_000 + i * 7919


def events(raw, seed: int):
    """Rate-source rows -> JSON event strings in column ``value``."""
    from pyspark.sql import functions as F

    v = F.col("value")
    h = lambda salt: F.pmod(F.xxhash64(v, F.lit(seed), F.lit(salt)), F.lit(1_000_000))  # noqa: E731
    ev = F.struct(
        F.concat(F.lit("t"), v.cast("string")).alias("txn_id"),
        card_id(F.pmod(F.xxhash64(v, F.lit(seed)), F.lit(N_CARDS))).alias("cc_num"),
        (h(1) / F.lit(100.0)).alias("amount"),
        (F.lit(38.5) + h(2) / F.lit(1e5)).alias("lat"),
        (F.lit(-90.2) + h(3) / F.lit(1e5)).alias("long"),
        (F.lit(38.5) + h(4) / F.lit(1e5)).alias("merch_lat"),
        (F.lit(-90.2) + h(5) / F.lit(1e5)).alias("merch_long"),
        F.timestamp_seconds(F.lit(BASE_EPOCH) + F.floor(v / ROWS_PER_EVENT_SECOND)).alias("timestamp"),
    )
    return raw.select(F.to_json(ev).alias("value"))


class TimedSink:
    """Wraps the package's sink callable: times each call and, when
    tracing, counts the batch's jobs and the store buckets it rewrote."""

    def __init__(self, sink, r):
        self.sink, self.r = sink, r
        self.calls: list[dict] = []
        self._cv = threading.Condition()
        self._in_call = False

    def stop_between_batches(self, q, timeout: float = START_TIMEOUT_S) -> None:
        """Stop the query while no sink call runs: interrupting the stream
        thread inside the Python callback aborts the batch mid-upsert;
        between two calls the stream thread only commits and plans."""
        with self._cv:
            self._cv.wait_for(lambda: not self._in_call, timeout)
        q.stop()
        q.awaitTermination()

    def wrote_rows(self) -> bool:
        """A finished call has left store files behind."""
        return bool(self.calls) and _buckets_written_since(self.sink.path, 0) > 0

    def __call__(self, batch_df, batch_id):
        with self._cv:
            self._in_call = True
        try:
            self._call(batch_df, batch_id)
        finally:
            with self._cv:
                self._in_call = False
                self._cv.notify_all()

    def _call(self, batch_df, batch_id):
        sc = batch_df.sparkSession.sparkContext
        group = prev = None
        if self.r.trace:
            prev = sc.getLocalProperty("spark.jobGroup.id")
            group = f"sink-{batch_id}"
            sc.setJobGroup(group, group)
        t0 = time.time()
        with self.r.spans.span("streaming.OnlineStoreSink.call", op=f"batch-{batch_id}"):
            self.sink(batch_df, batch_id)
        t1 = time.time()
        row = {"batch_id": batch_id, "call_ms": (t1 - t0) * 1e3}
        if self.r.trace:
            sc.setLocalProperty("spark.jobGroup.id", prev)
            self.r.counters.drain()
            jobs, tasks = self.r.counters.jobs_and_tasks(group)
            row.update(jobs=len(jobs), tasks=tasks,
                       buckets_touched=_buckets_written_since(self.sink.path, t0))
        self.calls.append(row)


def _buckets_written_since(path: str, t0: float) -> int:
    n = 0
    if not os.path.isdir(path):
        return 0
    for d in os.listdir(path):
        full = os.path.join(path, d)
        if d.startswith("__kb=") and any(
            f.startswith("part-") and os.path.getmtime(os.path.join(full, f)) >= t0
            for f in os.listdir(full)
        ):
            n += 1
    return n


def _files_per_bucket(path: str) -> float:
    counts = [sum(1 for f in os.listdir(os.path.join(path, d)) if f.startswith("part-"))
              for d in os.listdir(path) if d.startswith("__kb=")]
    return stats.median(counts) if counts else 0.0


def _start(r, root: str):
    from feature_store_fraud_detection_spark.streaming.pipeline import (
        OnlineStoreSink,
        parse_stream,
        windowed_stats,
    )

    raw = (r.spark.readStream.format("rate-micro-batch")
           .option("rowsPerBatch", ROWS_PER_BATCH).option("numPartitions", 4).load())
    sink = TimedSink(OnlineStoreSink(key="cc_num", ts="window_end", path=f"{root}/state"), r)
    with r.spans.span("streaming.pipeline.build"):
        stats_df = windowed_stats(parse_stream(events(raw, r.seed)))
    conf = r.spark.conf
    shuffle = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    try:
        q = (stats_df.writeStream.outputMode("append").foreachBatch(sink)
             .option("checkpointLocation", f"{root}/checkpoint")
             .trigger(processingTime="0 seconds").start())
    finally:
        conf.set("spark.sql.shuffle.partitions", shuffle)
    return q, sink


def ingest_beside_reads(r) -> None:
    """Run the feed for ``WINDOW_S`` in ``r``'s session with a reader thread
    beside it, check stream == batch, and record the result under
    ``r.detail["stream_ingest"]`` and the streaming layers. The reads are
    kept apart from ``r.samples``: they are diagnostics, not the
    workload's ops."""
    from feature_store_fraud_detection_spark.operators.relational import point_lookup
    from feature_store_fraud_detection_spark.sources.online_store import ParquetOnlineStore
    from pyspark.sql import functions as F

    spark = r.spark
    own_samples, r.samples = r.samples, []
    try:
        # one query: its first batches warm the pipeline, then the timed
        # window opens at a batch boundary together with the reader thread
        t_warm = time.perf_counter()
        root = f"{r.work}/stream"
        q, sink = _start(r, root)
        deadline = time.time() + START_TIMEOUT_S
        while (len(sink.calls) < WARM_BATCHES or not sink.wrote_rows()) and time.time() < deadline:
            time.sleep(0.05)
        if not sink.wrote_rows():
            sink.stop_between_batches(q)
            raise RuntimeError("stream_ingest: no store rows within the start timeout")
        warm_calls = len(sink.calls)
        warmup_s = time.perf_counter() - t_warm
        gc0 = r.counters.gc_ms() if r.counters else None
        store = ParquetOnlineStore(spark, f"{root}/state", ts="window_end")
        rng = np.random.default_rng(r.seed + 2)
        keys = [int(card_id(i)) for i in rng.integers(0, N_CARDS, 100_000)]
        seen_rows: list = []
        stop = threading.Event()

        def reader():
            def check(rows):
                if len(rows) > 1:
                    return f"online_get: {len(rows)} rows for one card"
                seen_rows.extend(rows)
                return None

            i = 0
            while not stop.is_set():
                key = keys[i]
                r.op(READ_KIND, f"{READ_KIND}-{i}", "sources.online_store.read",
                     lambda: point_lookup(store.read(), "cc_num", key),
                     "action.collect", lambda df: df.collect(), check)
                i += 1

        t_read = threading.Thread(target=reader, name="reader")
        t0 = time.time()
        t_read.start()
        time.sleep(WINDOW_S)
        stop.set()
        t_read.join()
        t1 = time.time()
        sink.stop_between_batches(q)
        # data batches only; far fewer than the 100 progress reports kept
        batches = sorted((p for p in q.recentProgress if p["numInputRows"] > 0),
                         key=lambda p: p["batchId"])
        # batches that started after the warm-up calls finished
        timed = [p for p in batches if p["batchId"] > sink.calls[warm_calls - 1]["batch_id"]]
        gc_ms = (r.counters.gc_ms() - gc0) if r.counters else None

        # -- correctness: stream == batch over the processed prefix -----------
        from feature_store_fraud_detection_spark.streaming.pipeline import (
            COUNT_WINDOW,
            parse_stream,
        )

        n_rows = sum(p["numInputRows"] for p in batches)
        size, slide = COUNT_WINDOW
        twin = (parse_stream(events(spark.range(n_rows).withColumnRenamed("id", "value"), r.seed))
                .groupBy(F.window("event_time", size, slide), F.col("cc_num"))
                .agg(F.count(F.lit(1)).alias("t_count"), F.avg("amount").alias("t_avg"))
                .select(F.col("window.start").alias("window_start"),
                        F.col("window.end").alias("window_end"), "cc_num", "t_count", "t_avg"))
        same = ((F.col("txn_count") == F.col("t_count"))
                & (F.abs(F.col("avg_amount") - F.col("t_avg")) < 1e-9))
        state = store.read()
        n_state = state.count()
        matched = state.join(twin, ["cc_num", "window_start", "window_end"]).filter(same).count()
        read_matched = 0 if not seen_rows else (
            spark.createDataFrame(seen_rows, state.schema)
            .join(twin, ["cc_num", "window_start", "window_end"]).filter(same).count())

        # -- report --------------------------------------------------------------
        trig = [p["durationMs"].get("triggerExecution", 0) for p in timed]
        lat = r.latency_summary()
        reads = r.samples
        r.detail["stream_ingest"] = {
            "inputs": {"rows_per_batch": ROWS_PER_BATCH, "keys": N_CARDS,
                       "rows_per_event_second": ROWS_PER_EVENT_SECOND,
                       "events_processed": n_rows},
            "loop": "closed feed (processingTime 0 seconds) beside 1 closed-loop reader "
                    "thread with uniform keys",
            "warmup_s": warmup_s,
            "window_s": t1 - t0,
            "batches": len(batches),
            "timed_batches": len(timed),
            "batch_ms": {p["batchId"]: p["durationMs"] for p in batches},
            "ingest_events_per_s": (sum(p["numInputRows"] for p in timed) / (sum(trig) / 1e3)
                                    if trig else None),
            "ingest_batch_p50_ms": stats.median(trig) if trig else None,
            "online_get_p50_ms": lat.get(READ_KIND, {}).get("p50_ms"),
            "latency": lat,
            "reads_attempted": len(reads),
            "reads_failed": sum(not s.ok for s in reads),
            "read_errors": sorted({s.error for s in reads if s.error})[:5],
            "store_rows": n_state,
            "read_rows": len(seen_rows),
        }
        r.detail.setdefault("end_checks", {}).update({
            "stream_store_rows_equal_batch_recompute": n_state > 0 and matched == n_state,
            "stream_read_rows_equal_batch_recompute": read_matched == len(seen_rows),
        })
        _trace_layers(r, timed, sink, f"{root}/state", gc_ms)
    finally:
        r.samples = own_samples


def _trace_layers(r, batches, sink, state_path, gc_ms):
    from perfbench.serving import _per_kind

    calls = [c for c in sink.calls if "jobs" in c]
    med = lambda xs: stats.median(xs) if xs else None  # noqa: E731
    r.layer("sources.online_store.upsert", {
        "jobs_per_batch": med([c["jobs"] for c in calls]),
        "tasks_per_batch": med([c["tasks"] for c in calls]),
        "buckets_touched_per_batch": med([c["buckets_touched"] for c in calls]),
        "files_per_bucket": _files_per_bucket(state_path),
    }, "ingest_batch_p50_ms, ingest_events_per_s (stream_ingest)")
    d = [p["durationMs"] for p in batches]
    so = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
    r.layer("streaming.pipeline", {
        "OnlineStoreSink.call_ms": med([c["call_ms"] for c in sink.calls]),
        "progress.add_batch_ms": med([x.get("addBatch", 0) for x in d]),
        "progress.planning_ms": med([x.get("queryPlanning", 0) for x in d]),
        "progress.get_batch_ms": med([x.get("getBatch", 0) for x in d]),
        "progress.wal_commit_ms": med([x.get("walCommit", 0) for x in d]),
        "state.commit_ms": med([s.get("commitTimeMs", 0) for s in so]),
        "state.rows": med([s.get("numRowsTotal", 0) for s in so]),
        "state.memory_bytes": med([s.get("memoryUsedBytes", 0) for s in so]),
    }, "ingest_batch_p50_ms, ingest_events_per_s (stream_ingest)")
    online = _per_kind(r, READ_KIND)
    online["read_failed"] = sum(not s.ok for s in r.samples)
    r.layer("sources.online_store.read (under ingest)", online,
            "online_get_p50_ms, read_p90_ms (stream_ingest)")
    r.layer("spark.scheduler (stream_ingest)", {
        f"jobs_per_op.{READ_KIND}": online.get("jobs_per_op"),
        f"tasks_per_op.{READ_KIND}": online.get("tasks_per_op"),
        "jvm.gc_ms": gc_ms,
    }, "online_get_p50_ms, read_p90_ms, peak_rss_mb (stream_ingest)")
