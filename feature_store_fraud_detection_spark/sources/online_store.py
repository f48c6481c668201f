"""Online feature store: keyed latest-state table.

Replaces the reference's Redis online store (hashes ``txn:{cc}:stats`` /
``txn:{cc}:data:{id}`` + ZSET timeline, ``redis_writer.py:17-44``) with an
engine-native keyed table:

- state = one row per key (latest by event time, with an optional tiebreak
  column so ordering is total — equal-timestamp redelivery would otherwise
  make the surviving row nondeterministic);
- upsert = MERGE-style union + latest-per-key;
- TTL (Redis EXPIRE 86400, ``redis_writer.py:25,38``) = retention filter on
  event time — state older than (max event time - retention) drops out on
  the next upsert; event-time-driven, so deterministic and replayable.

Two forms:

- :func:`upsert_latest_state` — the pure DataFrame merge (state in, state
  out), used directly by batch serving paths and tests;
- :class:`ParquetOnlineStore` — the durable form the streaming sink uses: a
  parquet table hash-partitioned into key buckets. Each upsert touches ONLY
  the buckets present in the micro-batch (dynamic partition overwrite — the
  same trick ``OfflineStore.backfill`` uses for date partitions), so per
  batch the engine reads |touched buckets| worth of state and rewrites the
  same, never the full table and never through the driver. On a cluster the
  identical pattern targets a Delta/Iceberg MERGE; bucket-partitioned
  parquet keeps it runnable everywhere (no Delta in this container).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from feature_store_fraud_detection_spark.lineage import checkpointed
from feature_store_fraud_detection_spark.operators.windows import latest_n_per_key
from feature_store_fraud_detection_spark.sources.readers import (
    ResolvedTable,
    overwrite_partitions,
    path_exists,
)

BUCKET_COL = "__kb"


def upsert_latest_state(
    current: DataFrame | None,
    batch: DataFrame,
    key: str,
    ts: str,
    retention_seconds: int | None = 86_400,
    tiebreak: str | None = None,
) -> DataFrame:
    """Merge a micro-batch of per-key rows into the keyed state table.

    Latest row per key wins (by ``ts``, then ``tiebreak`` descending when
    given — pass the txn id so equal-timestamp redelivery is deterministic,
    matching the batch serving paths which tiebreak on ``event_id``). The
    per-key reduction is one hash shuffle on the key; the retention horizon
    is a scalar aggregate (cheap, partial-agg'd) evaluated per upsert, not a
    global window funnel.
    """
    unioned = batch if current is None else current.unionByName(batch)
    latest = latest_n_per_key(unioned, key, ts, n=1, tiebreak=tiebreak).drop("rn")
    if retention_seconds is not None:
        # horizon folded into the plan as a broadcast scalar (the repo's
        # 1-row crossJoin idiom) instead of a per-upsert driver action:
        # in a foreachBatch sink every extra action re-evaluates the
        # micro-batch's stateful aggregation, and the action was ~a
        # whole extra job per batch. NULL horizon (no non-null ts in the
        # union) keeps every row, matching the old skip-the-filter path.
        horizon = unioned.agg(F.max(F.col(ts)).alias("__horizon_ts"))
        latest = (
            latest.crossJoin(F.broadcast(horizon))
            .filter(
                F.col("__horizon_ts").isNull()
                | (
                    F.col(ts)
                    >= F.col("__horizon_ts")
                    - F.expr(f"INTERVAL {retention_seconds} SECONDS")
                )
            )
            .drop("__horizon_ts")
        )
    return latest


class ParquetOnlineStore:
    """Durable keyed latest-state table over bucket-partitioned parquet.

    Layout: ``{path}/__kb={0..num_buckets-1}/part-*.parquet`` where
    ``__kb = pmod(xxhash64(key), num_buckets)``. An upsert:

    1. computes the batch's touched buckets (distinct bucket ids — at most
       ``num_buckets`` small ints cross the driver, never rows);
    2. reads ONLY those buckets of the existing state (partition pruning on
       the bucket column);
    3. merges latest-per-key + retention via :func:`upsert_latest_state`;
    4. rewrites ONLY the touched buckets with dynamic partition overwrite
       (``readers.overwrite_partitions``), deleting a touched bucket whose
       every row expired.

    State volume per upsert is |keys in touched buckets|, independent of
    total state size; nothing materializes on the driver. Retention only
    ages out rows of the touched buckets: an untouched bucket keeps its
    rows until a batch touches it.

    Every reader and writer of a path must use the same ``num_buckets``:
    the bucket a key lives in is a function of it, so an upsert with a
    different count merges against the wrong buckets, and a read with a
    different count filters rows out (see :meth:`read`).

    Freshness: :meth:`read` is built from one resolved relation per table
    version, so a read costs no directory listing or footer-schema job.
    ``upsert`` and ``delete_keys`` bump the path's version when they finish,
    and leave a readable (possibly empty) table, so the next read through
    ANY store object or ``OnlineStoreSink`` on this path in this process
    sees the write. A writer in another process is not seen: this object
    keeps serving the listing it resolved (out of scope; build a new store
    object to pick such a write up).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str = "cc_num",
        ts: str = "latest_ts",
        retention_seconds: int | None = 86_400,
        num_buckets: int = 64,
        tiebreak: str | None = None,
    ):
        self.spark = spark
        self.path = path
        self.key = key
        self.ts = ts
        self.retention_seconds = retention_seconds
        self.num_buckets = num_buckets
        self.tiebreak = tiebreak
        self._table = ResolvedTable(
            spark,
            path,
            lambda df: df.filter(F.col(BUCKET_COL) == self._bucket()).drop(BUCKET_COL),
        )

    def _bucket(self) -> Column:
        return F.pmod(
            F.xxhash64(F.col(self.key).cast("string")), F.lit(self.num_buckets)
        ).cast("int")

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(BUCKET_COL, self._bucket())

    def exists(self) -> bool:
        return path_exists(self.spark, self.path)

    def read(self) -> DataFrame:
        """Full state scan (serving S12 'all keys'), from the relation
        resolved for the table's current version.

        The frame carries the predicate ``__kb = <bucket of key>`` before
        dropping ``__kb``. Every stored row satisfies it (upsert writes
        ``__kb`` with the same expression, NULL keys included), so a full
        scan returns every row; but a key-equality filter on top, such as
        ``point_lookup(store.read(), key, v)``, lets the optimizer fold the
        predicate into one ``__kb = N`` partition filter, and the lookup
        scans one bucket's files instead of all of them."""
        return self._table.frame()

    def upsert(self, batch: DataFrame) -> None:
        # materialize the batch ONCE: in a foreachBatch sink the incoming
        # frame is backed by the stateful aggregation, and every separate
        # action (emptiness probe, touched-bucket scan, merge) would
        # re-run that aggregation from the state store. One eager
        # localCheckpoint pins the 25k-ish rows in block storage; the
        # touched-bucket collect and the merge then read memory. An empty
        # batch falls out of the same collect (no separate isEmpty pass).
        with checkpointed(self._with_bucket(batch)) as b:
            touched = [r[0] for r in b.select(BUCKET_COL).distinct().collect()]
            if not touched:
                return
            cur = None
            if self.exists():
                cur = self.spark.read.parquet(self.path).filter(
                    F.col(BUCKET_COL).isin(touched)
                )
            merged = upsert_latest_state(
                cur, b, self.key, self.ts, self.retention_seconds, self.tiebreak
            )
            # cluster by the partition column BEFORE the partitioned write
            # (guide §6): without it every merge task holds rows of MANY
            # buckets, so each touched bucket directory collects one file
            # PER TASK per upsert (t*b tiny files written, and read back
            # by every later upsert of that bucket); keyed on __kb each
            # bucket lands in exactly one task — one file per touched
            # bucket. Same rows, same merge semantics; r12 optimization.
            # Only retention can empty a touched bucket (without it every
            # touched bucket keeps its batch rows), so only then is the
            # commit asked to check for emptied buckets.
            overwrite_partitions(
                merged.repartition(F.col(BUCKET_COL)), self.path, BUCKET_COL,
                touched if self.retention_seconds is not None else (),
            )

    def delete_keys(self, values: list) -> None:
        """Targeted key deletion on the SERVING state (the online half of
        the right-to-be-forgotten op — ``OfflineStore.delete_keys`` handles
        the history; this clears what ``point_lookup``/``stream_latest_state``
        serve). Rewrites ONLY the key buckets the deleted keys hash into,
        anti-filtered NULL-safely, via dynamic partition overwrite, and
        deletes a bucket left with no row — cost is |touched buckets| of
        state, independent of table size (Redis DEL / Delta DELETE analog on
        bucket-partitioned parquet). Deleting every key leaves a readable
        empty table, which later upserts merge into."""
        if not values or not self.exists():
            return
        state = self.spark.read.parquet(self.path)
        key_type = state.schema[self.key].dataType.simpleString()
        vals = self.spark.createDataFrame(
            [(v,) for v in values], f"`{self.key}` {key_type}"
        )
        touched = [
            r[0]
            for r in self._with_bucket(vals).select(BUCKET_COL).distinct().collect()
        ]
        # NULL-safe keep predicate: ~isin evaluates to NULL for NULL keys,
        # which would silently drop NULL-key rows sharing a bucket
        remaining = state.filter(F.col(BUCKET_COL).isin(touched)).filter(
            F.col(self.key).isNull() | ~F.col(self.key).isin(values)
        )
        overwrite_partitions(remaining, self.path, BUCKET_COL, touched)
