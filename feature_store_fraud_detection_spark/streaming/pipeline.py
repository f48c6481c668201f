"""Streaming feature pipeline (reference ``stream_processing/pipeline.py``).

Reference architecture: Kafka JSON -> Flink map(json.loads) -> per-record
Python haversine -> two sliding-window operators (W3/W4) -> two stateful
CoProcessFunction joins (J1/J2) -> per-record Redis writes. Four keyed
shuffles, every hop crossing JVM<->Python, unbounded ValueState (T4), and
processing-time windows despite configured watermarks (T1 — dead code).

This engine (SURVEY §3.2 "Spark lifecycle equivalent"):

    readStream -> from_json(typed schema) -> shared feature exprs
    -> withWatermark(5s)
    -> ONE groupBy(window, key).agg(count, avg)        [replaces W3+W4+J1]
    -> foreachBatch MERGE into the keyed online store   [replaces J2+Redis]

One keyed shuffle total; watermarks actually bound state and late data; no
per-record Python anywhere. The same feature expressions as batch — the
reference's three divergent implementations collapse to one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_store_fraud_detection_spark.functions.geo import haversine_miles
from feature_store_fraud_detection_spark.lineage import checkpointed
from feature_store_fraud_detection_spark.schemas import STREAM_EVENT_SCHEMA
from feature_store_fraud_detection_spark.session import hadoop_fs
from feature_store_fraud_detection_spark.sources.readers import (
    _table_key,
    overwrite_partitions,
)

# Reference window geometry (pipeline.py:61,66) — kept, but event-time.
COUNT_WINDOW = ("2 minutes", "20 seconds")
AVG_WINDOW = ("5 minutes", "1 minute")
WATERMARK_DELAY = "5 seconds"  # pipeline.py:47 bounded out-of-orderness


def parse_stream(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Typed ingest: JSON strings -> STREAM_EVENT_SCHEMA columns.

    Replaces the reference's stringly pipeline (every field a string end to
    end, re-parsed ad hoc; ``pipeline.py:44``, ``stream_features.py:14``).
    Works identically on a streaming or batch DataFrame.
    """
    return (
        raw.select(
            F.from_json(F.col(value_col).cast("string"), STREAM_EVENT_SCHEMA).alias(
                "e"
            )
        )
        .select("e.*")
        .withColumnRenamed("timestamp", "event_time")
    )


def enrich(events: DataFrame) -> DataFrame:
    """Per-event derived columns (the streaming twin of the batch scalar
    features — same shared expressions, reference ``pipeline.py:51-57``)."""
    return events.withColumn(
        "distance_to_merchant",
        haversine_miles("lat", "long", "merch_lat", "merch_long"),
    )


def windowed_stats(events: DataFrame, window=COUNT_WINDOW) -> DataFrame:
    """The single watermarked sliding-window aggregate.

    The reference computes count and avg in two separate window operators
    with different geometries and then joins them statefully (J1). Computing
    both in ONE agg removes the join, its state, and two shuffles; SURVEY
    §2.5 J1 marks this re-design as preferred. Window geometry follows the
    count window; the avg over the same pane preserves the semantic intent
    ("recent count and recent average per card").
    """
    size, slide = window
    return (
        events.withWatermark("event_time", WATERMARK_DELAY)
        .groupBy(F.window("event_time", size, slide), F.col("cc_num"))
        .agg(
            F.count(F.lit(1)).alias("txn_count"),
            F.avg("amount").alias("avg_amount"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "cc_num",
            "txn_count",
            "avg_amount",
        )
    )


def dedupe_stream(events: DataFrame, id_col: str = "txn_id") -> DataFrame:
    """Exactly-once event semantics over an at-least-once source: drop
    duplicate txn ids within the watermark horizon. State is bounded by the
    watermark (old ids age out) — the streaming twin of exact dedup."""
    return events.withWatermark("event_time", WATERMARK_DELAY).dropDuplicatesWithinWatermark(
        [id_col]
    )


def stream_stream_join(
    txns: DataFrame,
    companion: DataFrame,
    max_lag: str = "1 minute",
) -> DataFrame:
    """Reference J2 (``stream_features.py:34-47``) as the append-mode
    alternative SURVEY §2.5 names: a watermark-bounded stream-stream INNER
    join on ``cc_num`` with a time-range condition — each transaction joins
    companion events for the same card from the trailing ``max_lag``.

    The reference's CoProcessFunction keeps one unbounded ValueState per key
    per side (SURVEY §2.9 T4); here both sides' state is provably evictable:
    the watermark plus the time-range bound tell Spark exactly how long a
    buffered row can still match, so state is dropped as event time
    advances. Emit-on-update last-value semantics live in
    ``streaming/stateful.py``; this form trades per-update re-emission for
    bounded state and exactly-once append output — the right default at
    100 TB stream volumes.

    ``companion`` must have columns (cc_num, event_time, ...); its
    non-key columns are joined in with a ``c_`` prefix.
    """
    t = txns.withWatermark("event_time", WATERMARK_DELAY)
    c = companion.select(
        F.col("cc_num").alias("c_cc_num"),
        F.col("event_time").alias("c_event_time"),
        *[
            F.col(n).alias(f"c_{n}")
            for n in companion.columns
            if n not in ("cc_num", "event_time")
        ],
    ).withWatermark("c_event_time", WATERMARK_DELAY)
    cond = (
        (t["cc_num"] == c["c_cc_num"])
        & (c["c_event_time"] >= t["event_time"] - F.expr(f"INTERVAL {max_lag}"))
        & (c["c_event_time"] <= t["event_time"])
    )
    return t.join(c, cond, "inner").drop("c_cc_num")


def latest_txn(events: DataFrame) -> DataFrame:
    """Per-key latest transaction (the Redis ZSET timeline head, W5) as a
    streaming-safe aggregate: max_by over the watermarked stream.

    The ordering key is (event_time, txn_id) — a TOTAL order. With
    event_time alone, two events on the same timestamp (e.g. a redelivered
    batch) would leave the winner to aggregation order; the struct tiebreak
    keeps the result deterministic (the Redis ZSET analog breaks score ties
    lexically by member)."""
    order = F.struct(F.col("event_time"), F.col("txn_id"))
    return (
        events.withWatermark("event_time", WATERMARK_DELAY)
        .groupBy("cc_num")
        .agg(
            F.max("event_time").alias("latest_ts"),
            F.max_by("amount", order).alias("latest_amount"),
            F.max_by("txn_id", order).alias("latest_txn_id"),
        )
    )


def _start(frame: DataFrame, batch_fn, mode: str, checkpoint_dir: str | None):
    """Start ``frame`` as a ``foreachBatch(batch_fn)`` query in output
    ``mode`` that processes everything available and stops
    (``availableNow``); ``checkpoint_dir`` is its checkpoint location, if
    given. Returns the StreamingQuery."""
    writer = (
        frame.writeStream.outputMode(mode)
        .foreachBatch(batch_fn)
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


class OnlineStoreSink:
    """foreachBatch sink: MERGE each micro-batch of per-key stats into the
    keyed online store with event-time retention (replaces RedisWriter's
    per-record HSET/ZADD/EXPIRE, ``redis_writer.py:17-44``).

    State lives in a ``ParquetOnlineStore`` — a bucket-partitioned parquet
    table where each upsert reads and rewrites only the key buckets the
    micro-batch touches (dynamic partition overwrite). No state rows ever
    cross the driver, and the table outlives the SparkSession; point
    ``path`` somewhere durable for a real deployment (default: a temp dir
    owned by the sink, right for tests).

    ``tiebreak`` (e.g. the txn id) makes same-timestamp redelivery
    deterministic — without it, which duplicate survives is engine whim.
    """

    def __init__(
        self,
        key: str = "cc_num",
        ts: str = "latest_ts",
        retention_seconds: int = 86_400,
        path: str | None = None,
        tiebreak: str | None = None,
        num_buckets: int = 64,
    ):
        import tempfile

        self.key = key
        self.ts = ts
        self.retention_seconds = retention_seconds
        self.tiebreak = tiebreak
        self.num_buckets = num_buckets
        self._tmpdir = None
        if path is None:
            self._tmpdir = tempfile.TemporaryDirectory(prefix="online_store_")
            path = f"{self._tmpdir.name}/state"
        self.path = path
        self._store = None

    def _store_for(self, spark) -> "ParquetOnlineStore":
        from feature_store_fraud_detection_spark.sources.online_store import (
            ParquetOnlineStore,
        )

        if self._store is None:
            self._store = ParquetOnlineStore(
                spark,
                self.path,
                key=self.key,
                ts=self.ts,
                retention_seconds=self.retention_seconds,
                num_buckets=self.num_buckets,
                tiebreak=self.tiebreak,
            )
        return self._store

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        # no isEmpty() probe: on a foreachBatch frame it re-evaluates the
        # whole stateful aggregation just to learn there are rows, and the
        # store's upsert already short-circuits an empty batch off the
        # touched-bucket collect it needs anyway
        self._store_for(batch_df.sparkSession).upsert(batch_df)

    @property
    def state(self) -> DataFrame | None:
        """The current state table (None before the first non-empty batch)."""
        if self._store is None or not self._store.exists():
            return None
        return self._store.read()


def run_stream_to_online_store(
    raw: DataFrame,
    sink: OnlineStoreSink | None = None,
    checkpoint_dir: str | None = None,
):
    """Wire the full streaming job: typed ingest -> enrich -> per-key latest
    state -> foreachBatch upsert. Returns the StreamingQuery."""
    sink = sink or OnlineStoreSink(tiebreak="latest_txn_id")
    events = enrich(parse_stream(raw))
    latest = latest_txn(events)
    return _start(latest, sink, "update", checkpoint_dir)


def run_stats_to_online_store(
    raw: DataFrame,
    sink: OnlineStoreSink | None = None,
    checkpoint_dir: str | None = None,
):
    """The stats half of the reference's online store (Redis
    ``txn:{cc}:stats`` hash): watermarked sliding-window count+avg per key,
    keeping each key's most recent closed window in the keyed state table
    (the J2 merge, minus the stateful join the single-agg design removed).
    """
    sink = sink or OnlineStoreSink(key="cc_num", ts="window_end")
    events = enrich(parse_stream(raw))
    stats = windowed_stats(events)
    return _start(stats, sink, "append", checkpoint_dir)


def run_point_in_time_enrich(
    raw: DataFrame,
    features: DataFrame,
    out_dir: str,
    checkpoint_dir: str | None = None,
    key: str = "cc_num",
    event_ts: str = "event_time",
    feature_ts: str = "snap_ts",
    value_cols: tuple[str, ...] = ("snap_value",),
    tiebreak: str | None = None,
    tolerance_sec: int | None = None,
):
    """Streaming twin of the offline point-in-time join: every incoming
    transaction is enriched with the newest feature snapshot at-or-before
    its OWN event time (``operators/temporal.asof_join``), then written to
    a parquet feature log through :class:`IdempotentBatchSink` (one
    ``batch_id=N`` partition per micro-batch, so a replayed batch replaces
    its own rows instead of appending them twice).

    The as-of join runs per micro-batch inside ``foreachBatch`` against the
    static ``features`` table, so the result is batch-equivalent by
    construction (a snapshot visible to an event is a pure function of the
    event's timestamp, not of arrival batching) — asserted in
    ``tests/test_streaming.py``. At scale the features side is the offline
    store's bucketed layout; the per-batch window carry-forward shuffles
    only the micro-batch plus the relevant feature partitions.
    """
    from feature_store_fraud_detection_spark.operators.temporal import asof_join

    events = enrich(parse_stream(raw))
    sink = IdempotentBatchSink(out_dir)

    def _enrich_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = asof_join(
            batch_df,
            features,
            key=key,
            left_ts=event_ts,
            right_ts=feature_ts,
            value_cols=list(value_cols),
            tiebreak=tiebreak,
            tolerance_sec=tolerance_sec,
        )
        sink(out, batch_id)

    return _start(events, _enrich_batch, "append", checkpoint_dir)


class IdempotentBatchSink:
    """foreachBatch sink with exactly-once REPLAY semantics.

    Structured Streaming's foreachBatch is at-least-once: after a failure,
    the last uncommitted micro-batch is re-delivered with the SAME
    batch_id. A plain append would duplicate it. This sink writes every
    batch into its own ``batch_id=N`` partition with dynamic partition
    overwrite, so a re-delivered batch REPLACES its own partition — output
    equals exactly-once regardless of retries. (The same idempotence
    contract a Delta `txnVersion`/MERGE gives; expressed here on plain
    partitioned parquet.)

    Scale: each micro-batch touches only its own partition; no read-back,
    no state, no driver materialization. The batch is evaluated once (no
    emptiness probe): an empty batch writes no partition, and an empty
    first batch leaves a readable empty table.
    """

    def __init__(self, path: str):
        self.path = path

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        overwrite_partitions(
            batch_df.withColumn("batch_id", F.lit(batch_id)), self.path, "batch_id"
        )

    def read(self, spark) -> DataFrame:
        return spark.read.parquet(self.path)


_STATE_META_COL = "__last_batch_id"


def read_fold_state(spark, state_dir: str) -> DataFrame | None:
    """Read a foreachBatch parquet state table, or None if absent/empty.

    Discovery is by ATTEMPTING the read, not ``os.listdir``: the state dir
    may live on HDFS/S3 where the driver-local filesystem sees nothing (a
    listdir probe there would silently report "no state" and reset
    accumulation every batch). Spark's own reader resolves the path through
    the Hadoop FileSystem API, so this works on any supported scheme; a
    missing or empty path surfaces as AnalysisException, which is the
    "no state yet" signal.
    """
    from pyspark.errors import AnalysisException

    state_dir = _table_key(state_dir)
    try:
        return spark.read.parquet(state_dir)
    except AnalysisException:
        # two-generation fallback: a crash between _replay_guarded_fold's
        # two renames leaves the live state parked at ".old" (see its
        # docstring's crash matrix) — without this probe that window
        # would silently reset accumulation to None
        try:
            return spark.read.parquet(state_dir + ".old")
        except AnalysisException:
            return None


def _report_state(spark, state_dir: str, report: str) -> DataFrame:
    """The fold state a ``report`` reads: :func:`read_fold_state` (so the
    ``.old`` generation still serves inside the commit's rename window)
    without the batch-id column; raises a ``FileNotFoundError`` naming
    ``report`` when no state exists yet."""
    state = read_fold_state(spark, state_dir)
    if state is None:
        raise FileNotFoundError(f"{report}: no fold state at {state_dir}")
    return state.drop(_STATE_META_COL)


def _replay_guarded_fold(spark, state_dir: str, batch_id: int, fold_fn) -> None:
    """Fold one micro-batch into an additive parquet state EXACTLY ONCE.

    foreachBatch is at-least-once: after a failure between the state
    overwrite and the checkpoint commit, the same batch_id is re-delivered.
    For append sinks, :class:`IdempotentBatchSink` makes the replay replace
    its own partition; for FOLDED state (moments / counts / sketches) a
    second fold would silently double-count. So the state carries the last
    folded batch_id in a ``__last_batch_id`` column, and a re-delivered
    batch (``batch_id <= last``) is skipped outright — the state already
    contains it. Structured Streaming batch_ids are monotonically
    increasing and only the last uncommitted batch can replay, so the
    ``<=`` test is exact.

    ``fold_fn(prev_or_none)`` receives the previous state WITHOUT the meta
    column (or None on the first batch) and returns the new state; the
    meta column is re-stamped here. The returned frame is checkpointed
    BEFORE the directory dance so no lazy read still points at the paths
    being renamed, and the checkpoint is released once the state commits.

    Durability: the state is COMMITTED by directory renames, never by
    overwriting in place (a plain ``mode("overwrite")`` deletes the old
    directory before the new write commits — a crash in that window loses
    ALL accumulated state and the replayed batch folds into None,
    silently resetting the accumulator). Sequence: (1) write the new
    state to ``<dir>.tmp`` (overwrite — replaces any orphan), (2) park
    the live dir at ``<dir>.old``, (3) rename tmp into place, (4) drop
    ``.old``. Crash matrix (reader = live dir, else ``.old`` —
    :func:`read_fold_state`): in (1) live state untouched; between (2)
    and (3) the reader falls back to ``.old`` and the replayed batch
    re-folds correctly; between (3) and (4) the live dir already carries
    this batch_id so the replay is skipped and the stale ``.old`` is
    swept on the next fold. Renames are atomic on local filesystems and
    HDFS; on S3A a rename is copy+delete — run state dirs on a
    rename-atomic store (or S3+committer) for the full guarantee.
    """
    prev = read_fold_state(spark, state_dir)
    if prev is not None and _STATE_META_COL in prev.columns:
        last = prev.agg(F.max(_STATE_META_COL)).first()[0]
        if last is not None and batch_id <= last:
            return
        prev = prev.drop(_STATE_META_COL)
    new = fold_fn(prev)
    with checkpointed(
        new.withColumn(_STATE_META_COL, F.lit(int(batch_id)))
    ) as staged:
        _commit_state(spark, staged, state_dir)


def _commit_state(spark, staged: DataFrame, state_dir: str) -> None:
    """Replace a parquet state directory via the tmp/.old rename dance
    (crash matrix in :func:`_replay_guarded_fold`). ``staged`` must
    already be materialized (``lineage.checkpointed``) — no lazy read may still
    point at the paths being renamed. A trailing slash on ``state_dir`` is
    dropped first, so the siblings are never spelled inside the live dir."""
    state_dir = _table_key(state_dir)
    tmp_dir, old_dir = state_dir + ".tmp", state_dir + ".old"
    staged.write.mode("overwrite").parquet(tmp_dir)
    # Hadoop FileSystem API (not os.*): state dirs may be HDFS/S3 paths
    # invisible to the driver-local filesystem
    fs, live = hadoop_fs(spark, state_dir)
    tmp, old = hadoop_fs(spark, tmp_dir)[1], hadoop_fs(spark, old_dir)[1]
    if fs.exists(live):
        if fs.exists(old):
            fs.delete(old, True)
        fs.rename(live, old)
    fs.rename(tmp, live)
    if fs.exists(old):
        fs.delete(old, True)


def _run_fold(raw_rows: DataFrame, state_dir: str, merge, checkpoint_dir: str | None):
    """Start a fold monitor over ``raw_rows``: every micro-batch folds into
    the parquet state at ``state_dir`` exactly once
    (:func:`_replay_guarded_fold`), ``merge(batch_df, prev)`` returning
    the new state from the batch and the previous state (None on the first
    batch). Returns the StreamingQuery."""

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        _replay_guarded_fold(
            batch_df.sparkSession, state_dir, batch_id,
            lambda prev: merge(batch_df, prev),
        )

    return _start(raw_rows, _fold, "append", checkpoint_dir)


def run_stream_neardup_filter(
    raw_docs: DataFrame,
    corpus_state: DataFrame,
    out_dir: str,
    checkpoint_dir: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.2,
):
    """Streaming ingest dedup: every micro-batch of incoming documents is
    probed against the static MinHash-LSH corpus index
    (``operators/dedup.minhash_doc_state`` persisted once); documents with a
    near-duplicate at/above ``threshold`` are DROPPED, survivors append to
    the curated parquet log.

    The decision for a document is a pure function of (document, corpus
    index) — independent of arrival batching — so the stream output equals
    the batch probe on the union of batches (asserted in
    ``tests/test_streaming.py``). Within-batch duplicates of each other are
    both kept here (they are not in the index yet); the downstream exact
    digest dedup (``corpus.incremental_corpus_dedup``) owns that case — at
    scale you fold accepted docs back into the index between batches.

    Shape per batch: the batch side sketches itself (narrow), broadcast-joins
    the corpus band keys, verifies candidates with exact Jaccard — the
    corpus is never re-sketched; its text is never read.

    Survivors are written through :class:`IdempotentBatchSink` (each
    micro-batch overwrites its own ``batch_id=N`` partition), so a replayed
    micro-batch after failure/restart REPLACES rather than double-appends —
    the same exactly-once contract as every other foreachBatch sink here.
    """
    from feature_store_fraud_detection_spark.operators.dedup import (
        minhash_doc_state,
        minhash_probe,
    )

    sink = IdempotentBatchSink(out_dir)

    def _filter_batch(batch_df: DataFrame, batch_id: int) -> None:
        state = minhash_doc_state(batch_df, id_col, text_col)
        dup_ids = minhash_probe(
            state, corpus_state, id_col, threshold=threshold
        ).select(F.col("new_id").alias(id_col)).distinct()
        kept = batch_df.join(dup_ids, id_col, "left_anti")
        sink(kept, batch_id)
        # minhash_probe persists the batch state (it feeds both the band
        # index and the exact verify); drop THIS batch's entry once the
        # sink action has run, or a long stream accumulates one cached
        # sketch per micro-batch (the shared corpus_state cache stays —
        # that reuse across batches is the point of the index)
        state.unpersist()

    return _start(raw_docs, _filter_batch, "append", checkpoint_dir)


def run_stream_pattern_alerts(
    raw_events: DataFrame,
    out_dir: str,
    state_dir: str,
    pattern: list[str],
    within_sec: int,
    checkpoint_dir: str | None = None,
    key: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak: str = "event_id",
):
    """Streaming MATCH_RECOGNIZE-style alerts: emit one row per contiguous
    pattern completion (the streaming twin of
    ``funnel.contiguous_pattern_matches`` / the ``sequence_patterns``
    oracle query), with matches that STRADDLE micro-batch boundaries found
    exactly once.

    Cross-batch correctness: the per-key TAIL (last ``len(pattern)-1``
    events of the stream so far) persists in ``state_dir``. Each batch
    runs detection over tail ∪ batch — a contiguous per-key suffix of the
    true stream, so boundary-straddling runs are contiguous in it iff they
    are in the stream. Dedup rule: a match is emitted only when its LAST
    element is a new-batch row; a match ending inside the tail existed
    wholly in a previous batch's union and was emitted then (contiguity
    makes "ends in tail" imply "entirely in tail"). Alerts append through
    :class:`IdempotentBatchSink` (replayed batches replace their own
    partition).

    Scale per batch: one window sort over |tail ∪ batch| =
    O(batch + active_keys * (k-1)) rows; the corpus of past events is
    never re-read. State writes rewrite only the tail table (bounded by
    keys * (k-1) rows).

    IN-ORDER ASSUMPTION (the contract the exactly-once claim rests on):
    events must arrive across micro-batches in per-key ``(ts, tiebreak)``
    order — i.e. every event in batch N+1 sorts after every batch-N event
    of the same key. An event LATER batches deliver that sorts BEFORE the
    persisted tail can (a) complete a match whose final element is a tail
    row (``last_is_new=false`` — never emitted) or (b) need context older
    than the k-1-row tail (missed entirely). Upstream must enforce
    ordering — e.g. feed this from a watermarked, event-time-sorted
    stage, the same discipline ``transformWithState`` timers would
    require. Out-of-order delivery degrades to at-most-once for the
    straddling matches; it never double-emits.
    """
    from feature_store_fraud_detection_spark.operators.funnel import (
        contiguous_pattern_hits,
    )

    sink = IdempotentBatchSink(out_dir)
    k = len(pattern)

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        spark = batch_df.sparkSession
        batch = batch_df.select(key, type_col, ts_col, tiebreak).withColumn(
            "is_new", F.lit(True)
        )
        state = read_fold_state(spark, state_dir)
        if state is not None:
            tail = (
                state
                .select(key, type_col, ts_col, tiebreak)
                .withColumn("is_new", F.lit(False))
            )
            # REPLAY safety: a re-delivered micro-batch's last rows are
            # already in the tail — keep the tail copy (is_new=False, so a
            # replay emits nothing new; the alert sink's batch_id
            # partition overwrite dedupes the alerts themselves) and drop
            # the batch duplicate, or duplicated events would fabricate
            # adjacencies in the window. Rides the window's key shuffle.
            union = (
                tail.unionByName(batch)
                .withColumn(
                    "__dup_rn",
                    F.row_number().over(
                        Window.partitionBy(key, tiebreak).orderBy(
                            F.col("is_new").asc()
                        )
                    ),
                )
                .filter(F.col("__dup_rn") == 1)
                .drop("__dup_rn")
            )
        else:
            union = batch
        hits = contiguous_pattern_hits(
            union, key, type_col, ts_col, pattern, within_sec, tiebreak,
            carry_last_col="is_new",
        )
        sink(
            hits.filter(F.col("last_is_new")).select(
                key, "anchor_ts", f"anchor_{tiebreak}", "last_ts"
            ),
            batch_id,
        )
        if k > 1:
            w = Window.partitionBy(key).orderBy(
                F.col(ts_col).desc(), F.col(tiebreak).desc()
            )
            new_tail = (
                union.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") < k)
                .select(key, type_col, ts_col, tiebreak)
            )
            # materialize BEFORE replacing the directory it reads, with the
            # same crash-safe commit as the folded monitors: an in-place
            # overwrite torn mid-write would drop the cross-batch tail
            # and silently miss patterns spanning the restart
            with checkpointed(new_tail) as staged:
                _commit_state(union.sparkSession, staged, state_dir)

    return _start(raw_events, _batch, "append", checkpoint_dir)


def run_stream_regression_fit(
    raw_rows: DataFrame,
    state_dir: str,
    x1_col: str,
    x2_col: str,
    y_col: str,
    checkpoint_dir: str | None = None,
):
    """Streaming EXACT model training: fold each micro-batch's regression
    moments (``operators/regression.regression_moments`` — additive
    integer/DECIMAL sums) into a 1-row parquet state. At any point,
    ``ridge_from_moments(read_fold_state(spark, state_dir))`` yields a model
    BIT-identical to retraining on every row ever seen (pinned in
    ``tests/test_regression.py``) — the streaming counterpart of the
    reference's batch retrain, with per-batch cost O(|batch|) and no
    history re-read. Replay-safe: a micro-batch re-delivered after a
    failure between state overwrite and checkpoint commit is folded at
    most once (``_replay_guarded_fold`` batch_id watermark).
    """
    from feature_store_fraud_detection_spark.operators.regression import (
        merge_regression_moments,
        regression_moments,
    )

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        m = regression_moments(batch_df, x1_col, x2_col, y_col)
        return m if prev is None else merge_regression_moments(prev, m)

    return _run_fold(raw_rows, state_dir, merge, checkpoint_dir)


def _counts(df: DataFrame, col: str, alias: str) -> DataFrame:
    """Rows per non-NULL ``col`` value, counted into ``alias``."""
    return df.filter(F.col(col).isNotNull()).groupBy(col).agg(
        F.count(F.lit(1)).alias(alias)
    )


def run_stream_drift_monitor(
    raw_rows: DataFrame,
    counts_dir: str,
    cat_col: str,
    checkpoint_dir: str | None = None,
):
    """Streaming drift monitoring: fold each micro-batch's category counts
    into an additive parquet state. ``stream_drift_report`` then computes
    categorical PSI of everything-seen-so-far against any fixed baseline —
    numbers IDENTICAL to recomputing over all rows ever seen (category
    counts are additive; pinned in test_streaming). Per-batch cost is one
    keyed count of the batch + a category-set merge, O(|batch| + |cats|);
    the state table is category-sized, never row-sized — the shape that
    holds when the stream is 100k events/s for a year. Replay-safe via
    ``_replay_guarded_fold`` (re-delivered batch_ids fold at most once).
    """

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        m = _counts(batch_df, cat_col, "n")
        if prev is None:
            return m
        return (
            prev.unionByName(m)
            .groupBy(cat_col)
            .agg(F.sum("n").alias("n"))
        )

    return _run_fold(raw_rows, counts_dir, merge, checkpoint_dir)


def stream_drift_report(
    spark, baseline: DataFrame, counts_dir: str, cat_col: str
) -> DataFrame:
    """Categorical PSI of the monitor's accumulated counts vs a baseline
    of raw rows — read the state, reuse the exact batch PSI core."""
    from feature_store_fraud_detection_spark.operators.stats import (
        categorical_psi_from_counts,
    )

    b = _report_state(spark, counts_dir, "stream_drift_report").select(
        cat_col, F.col("n").alias("n_curr")
    )
    return categorical_psi_from_counts(
        _counts(baseline, cat_col, "n_base"), b, cat_col
    )


def run_stream_hist_monitor(
    raw_rows: DataFrame,
    state_dir: str,
    key_col: str,
    val_col: str,
    lo: float,
    hi: float,
    bins: int = 64,
    checkpoint_dir: str | None = None,
):
    """Streaming quantile monitoring: fold each micro-batch's per-key
    histogram sketch (operators/sketches.hist_sketch — additive
    fixed-layout bin counts) into a parquet state via hist_merge.
    ``stream_quantile_report`` then answers per-key p50/p90/p99 from the
    state alone — estimates IDENTICAL to sketching all rows ever seen in
    one batch pass (bin counts are additive; pinned in test_streaming).
    Per-batch cost is one (key, bin) count of the batch + a key-sized
    merge join; the state is (keys x bins) counters, never row-sized.
    Replay-safe via ``_replay_guarded_fold``.
    """
    from feature_store_fraud_detection_spark.operators.sketches import (
        hist_merge,
        hist_sketch,
    )

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        m = hist_sketch(batch_df, key_col, val_col, lo, hi, bins)
        return m if prev is None else hist_merge(prev, m, key_col)

    return _run_fold(raw_rows, state_dir, merge, checkpoint_dir)


def stream_quantile_report(
    spark,
    state_dir: str,
    key_col: str,
    lo: float,
    hi: float,
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-key quantile estimates from the monitor's accumulated sketch
    state — the serving-side read, no raw data touched."""
    from feature_store_fraud_detection_spark.operators.sketches import (
        hist_quantiles,
    )

    return hist_quantiles(
        _report_state(spark, state_dir, "stream_quantile_report"),
        key_col, lo, hi, probs,
    )


def run_stream_kmv_monitor(
    raw_rows: DataFrame,
    state_dir: str,
    key_col: str,
    value_col: str,
    k: int = 256,
    checkpoint_dir: str | None = None,
):
    """Streaming distinct-count monitoring: fold each micro-batch's
    per-key KMV sketch (operators/sketches — md5-deterministic k-minimum
    values, so unlike HLL the STATE itself is cross-engine comparable)
    into a parquet state via kmv_merge. ``stream_distinct_report`` then
    answers per-key distinct estimates — and, because KMV merge is
    exactly union-of-point-sets, the folded state is BIT-identical to
    sketching all rows ever seen in one pass (pinned in
    test_streaming). Completes the additive-state monitor family next
    to the drift (categorical PSI) and quantile (histogram) monitors.
    Per-batch cost: one keyed sketch of the batch + a key-sized merge;
    state is keys x k hashes, never row-sized. Replay-safe via
    ``_replay_guarded_fold``.
    """
    from feature_store_fraud_detection_spark.operators.sketches import (
        kmv_merge,
        kmv_sketch,
    )

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        m = kmv_sketch(batch_df, key_col, value_col, k)
        return m if prev is None else kmv_merge(prev, m, key_col, k)

    return _run_fold(raw_rows, state_dir, merge, checkpoint_dir)


def stream_distinct_report(
    spark, state_dir: str, key_col: str, k: int = 256
) -> DataFrame:
    """Per-key distinct estimates from the monitor's sketch state."""
    from feature_store_fraud_detection_spark.operators.sketches import (
        kmv_estimate,
    )

    return kmv_estimate(
        _report_state(spark, state_dir, "stream_distinct_report"), key_col, k
    )


def run_stream_cms_monitor(
    raw_rows: DataFrame,
    state_dir: str,
    item_col: str,
    depth: int = 4,
    width: int = 512,
    checkpoint_dir: str | None = None,
):
    """Streaming heavy-hitter monitoring — the fourth additive-state
    monitor, completing the sketch-monitor matrix (drift=categorical
    counts, quantiles=histogram, distincts=KMV, frequencies=CMS): fold
    each micro-batch's count-min sketch into parquet state by cell-wise
    ADDITION, the CMS merge law, so the folded state is BIT-identical to
    sketching every row ever seen in one pass.
    ``stream_heavy_hitters_report`` then point-queries any candidate set
    against the accumulated sketch. Per-batch cost: one depth*width-cell
    aggregate + a sketch-sized merge; state is depth*width counters,
    never row-sized. Replay-safe via ``_replay_guarded_fold``.
    """
    from feature_store_fraud_detection_spark.operators.sketches import (
        cms_sketch,
    )

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        m = cms_sketch(batch_df, item_col, depth, width)
        if prev is None:
            return m
        return (
            prev.unionByName(m)
            .groupBy("row", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )

    return _run_fold(raw_rows, state_dir, merge, checkpoint_dir)


def stream_heavy_hitters_report(
    spark,
    state_dir: str,
    items: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Frequency estimates for ``items`` from the monitor's accumulated
    sketch state (CMS guarantee: never under the true count)."""
    from feature_store_fraud_detection_spark.operators.sketches import (
        cms_query,
    )

    state = _report_state(spark, state_dir, "stream_heavy_hitters_report")
    return cms_query(state, items, item_col, depth, width)


def run_stream_hll_monitor(
    raw_rows: DataFrame,
    state_dir: str,
    key_col: str,
    value_col: str,
    checkpoint_dir: str | None = None,
):
    """Streaming high-cardinality distinct monitoring — the fifth
    additive-state monitor (drift=categorical counts, quantiles=
    histogram, distincts=KMV, frequencies=CMS, big distincts=HLL): fold
    each micro-batch's per-key HLL register state into parquet state by
    element-wise register MAX, the HLL merge law (associative,
    commutative, idempotent), so the folded state is BIT-identical to
    sketching every row ever seen in one pass. Use this over the KMV
    monitor when per-key cardinality is huge: state is <= 4096 small
    ints per key regardless of how many distincts flow through, vs
    KMV's k exact hashes. ``stream_hll_report`` then answers per-key
    cardinality estimates from the accumulated registers. Per-batch
    cost: one keyed register aggregate of the batch + a register-sized
    merge; state never row-sized. Replay-safe via
    ``_replay_guarded_fold``.
    """
    from feature_store_fraud_detection_spark.operators.sketches import (
        hll_merge,
        hll_sketch,
    )

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        m = hll_sketch(batch_df, key_col, value_col)
        return m if prev is None else hll_merge(prev, m, key_col)

    return _run_fold(raw_rows, state_dir, merge, checkpoint_dir)


def stream_hll_report(spark, state_dir: str, key_col: str) -> DataFrame:
    """Per-key HLL cardinality estimates from the monitor's accumulated
    register state."""
    from feature_store_fraud_detection_spark.operators.sketches import (
        hll_estimate,
    )

    state = _report_state(spark, state_dir, "stream_hll_report")
    return hll_estimate(state, key_col)


def run_stream_srm_monitor(
    raw_rows: DataFrame,
    state_dir: str,
    unit_col: str,
    checkpoint_dir: str | None = None,
):
    """Streaming sample-ratio-mismatch monitoring — the sixth
    additive-state monitor, watching experiment HEALTH while the
    experiment runs instead of at readout time: fold each micro-batch's
    DISTINCT unit ids into parquet state (union + distinct — set union
    is associative, commutative and IDEMPOTENT, so the folded state is
    bit-identical to the distinct-unit set of all rows ever seen, and
    even a replayed batch could not corrupt it; the
    ``_replay_guarded_fold`` batch-id guard still skips the wasted
    work). ``stream_srm_report`` then runs the exact
    ``operators.evaluation.srm_check`` over the accumulated units —
    arms re-derive from the same salted md5 hash, so the streaming
    report is BIT-identical to the batch one (pinned in
    test_streaming).

    Unlike the sketch monitors this state is unit-sized, not
    constant-sized — the same per-key-state budget as the online store;
    swap the unit set for per-arm HLL registers if unit cardinality
    ever outgrows that budget (the report then carries sketch error).

    Per-batch cost: one distinct over the batch + a set-sized merge.
    """

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        m = batch_df.select(F.col(unit_col)).distinct()
        return m if prev is None else prev.unionByName(m).distinct()

    return _run_fold(raw_rows, state_dir, merge, checkpoint_dir)


def stream_srm_report(
    spark,
    state_dir: str,
    unit_col: str,
    salt: str = "exp1",
    expected_a: float = 0.5,
) -> DataFrame:
    """SRM health report over the monitor's accumulated unit set — the
    exact batch ``srm_check`` (same salted-md5 arms), bit-identical to
    running it over all rows ever seen."""
    from feature_store_fraud_detection_spark.operators.evaluation import (
        srm_check,
    )

    return srm_check(
        _report_state(spark, state_dir, "stream_srm_report"), unit_col, salt,
        expected_a,
    )


def stream_ks_report(
    spark, baseline: DataFrame, counts_dir: str, band_col: str
) -> DataFrame:
    """Order-AWARE drift readout over the same accumulated count state
    :func:`run_stream_drift_monitor` folds: exact two-sample KS between
    the baseline's band histogram and everything-seen-so-far
    (operators/stats.ks_from_histograms). PSI (stream_drift_report)
    cannot tell "every value moved up one band" from "values scattered"
    — the CDF gap can, so ordered bands get both readouts from ONE
    state. Bit-identical to ks_two_sample over all rows ever seen
    (band counts are additive; pinned in test_streaming)."""
    from feature_store_fraud_detection_spark.operators.stats import (
        ks_from_histograms,
    )

    live = _report_state(spark, counts_dir, "stream_ks_report").select(
        band_col, "n"
    )
    return ks_from_histograms(live, _counts(baseline, band_col, "n"), band_col, "n")
