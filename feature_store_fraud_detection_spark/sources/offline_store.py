"""Offline feature store: date-partitioned parquet table.

Replaces the reference's Postgres offline store and its whole ingestion chain
(Spark -> CSV part files -> pandas -> chunked HTTP POST -> per-row Prisma
INSERT; ``insert_offline.py:18-54``, ``app/routes/feature.py:25-54``) with a
single bulk columnar write.

Scale design:
- partitioned by feature_date (daily) -> dynamic partition pruning makes the
  serving date-range scan (P5) touch only the matching partitions;
- optional bucketing by key (saveAsTable) -> the per-key serving lookup (P4)
  and key-key joins avoid a shuffle entirely;
- append/overwrite modes; "clear" (reference S11 delete_many) is overwrite
  with an empty frame, kept as a table op rather than row deletes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feature_store_fraud_detection_spark.lineage import checkpointed
from feature_store_fraud_detection_spark.operators.relational import (
    point_lookup,
    range_scan,
)
from feature_store_fraud_detection_spark.sources.readers import (
    ResolvedTable,
    mutates_table,
)

PARTITION_COL = "feature_date"


class OfflineStore:
    """A partitioned parquet feature table with the reference's serving
    access patterns (by-key, by-date-range, bulk, clear) as engine queries.

    Freshness: every serving read (``read``, ``by_key``, ``by_date_range``,
    ``bulk``) is built from one resolved relation per table version, so a
    read costs no directory listing or footer-schema job. Each mutating
    method (``write``, ``append``, ``backfill``, ``compact``,
    ``delete_keys``, ``clear``) bumps the path's version when it finishes,
    so the next read through ANY store object on this path in this process
    sees the write. A writer in another process is not seen: this object
    keeps serving the listing it resolved (out of scope; build a new store
    object to pick such a write up).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        ts_col: str = "feature_timestamp",
        compression: str = "zstd",
    ):
        self.spark = spark
        self.path = path
        self.ts_col = ts_col
        # zstd: ~parquet-snappy read speed at notably better ratio — at
        # 100 TB the scan is IO-bound, so the ratio IS the scan speed
        self.compression = compression
        self._table = ResolvedTable(spark, path)

    # -- write path ---------------------------------------------------------

    @mutates_table
    def write(
        self,
        features: DataFrame,
        mode: str = "overwrite",
        sort_cols: list[str] | None = None,
    ) -> None:
        """Bulk write, partitioned by day of the feature timestamp.

        ``sort_cols`` (e.g. the serving key) sorts within output files so
        parquet row-group min/max stats become selective — point lookups
        then skip most row groups inside each date partition, the poor
        man's clustering when bucketing's catalog dependency is unwanted.
        """
        df = features.withColumn(PARTITION_COL, F.to_date(F.col(self.ts_col)))
        if df.isEmpty():
            # a PARTITIONED write of zero rows leaves no part files at
            # all (only _SUCCESS), so a later read() cannot infer the
            # schema (round-11 empty-one-side probe). A plain empty
            # write leaves a readable schema footer — same trick as
            # clear(). isEmpty() is a take(1): negligible next to the
            # write it guards.
            #
            # But only when the table does not already exist: an empty
            # APPEND onto an existing partitioned table would drop a
            # flat part file (with feature_date as a physical column)
            # at the table root, next to feature_date=... directories —
            # Spark's partition discovery then fails on the next read()
            # with "conflicting directory structures". Existing table +
            # empty frame = no-op (same rule as backfill()).
            if mode == "append":
                try:
                    self.read()
                    return  # table already readable; nothing to add
                except Exception:  # noqa: BLE001 — missing/footerless path
                    pass
            empty = self.spark.createDataFrame([], df.schema)
            empty.write.mode(mode).parquet(self.path)
            return
        if sort_cols:
            df = df.sortWithinPartitions(*sort_cols)
        (
            df.write.mode(mode)
            .option("compression", self.compression)
            .partitionBy(PARTITION_COL)
            .parquet(self.path)
        )

    def append(self, features: DataFrame) -> None:
        self.write(features, mode="append")

    @mutates_table
    def backfill(self, features: DataFrame) -> None:
        """Incremental backfill: overwrite ONLY the date partitions present
        in ``features`` (dynamic partition overwrite), leaving every other
        partition untouched. This is the daily-recompute pattern that keeps
        a 100 TB feature table maintainable — re-running one day rewrites
        one directory, not the table. Plain ``mode("overwrite")`` without
        the option would drop ALL partitions first (the reference's
        equivalent is delete-everything-then-reinsert)."""
        df = features.withColumn(PARTITION_COL, F.to_date(F.col(self.ts_col)))
        if df.isEmpty():
            # nothing to overwrite; but if the table doesn't exist yet,
            # leave a readable empty footer instead of nothing (the
            # empty-one-side probe's read()-after-backfill case)
            try:
                self.read()
            except Exception:  # noqa: BLE001 — missing/footerless path
                empty = self.spark.createDataFrame([], df.schema)
                empty.write.mode("overwrite").parquet(self.path)
            return
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("compression", self.compression)
            .partitionBy(PARTITION_COL)
            .parquet(self.path)
        )

    def write_bucketed(
        self,
        features: DataFrame,
        table_name: str,
        key_col: str = "cc_num",
        num_buckets: int = 32,
    ) -> None:
        """Bucketed + sorted variant (saveAsTable; bucketing needs catalog
        metadata). Joins and aggregations keyed on ``key_col`` between
        bucketed tables with matching bucket counts skip the shuffle
        entirely — at 100 TB this is the difference between a network-bound
        and a scan-bound feature join. Verified shuffle-free in
        tests/test_stores.py."""
        (
            features.write.mode("overwrite")
            .bucketBy(num_buckets, key_col)
            .sortBy(key_col)
            .format("parquet")
            .saveAsTable(table_name)
        )

    @mutates_table
    def compact(self, sort_cols: list[str] | None = None) -> None:
        """Rewrite the table so each date partition holds ONE file (small-
        file compaction — the maintenance op that keeps a long-lived 100 TB
        table scannable after months of incremental appends, each of which
        leaves per-batch part files). ``repartition(feature_date)`` routes
        every date to exactly one task, so the dynamic-partition overwrite
        emits one file per date directory; ``sort_cols`` re-establishes
        within-file clustering for row-group pruning at the same time.

        At real scale, run per date range (``by_date_range`` + ``backfill``)
        instead of whole-table, and raise the per-date file count by adding
        a salt column to the repartition when one day exceeds a task.

        The read is materialized (``localCheckpoint``) before the write —
        Spark refuses to overwrite a path it is still lazily reading from;
        a cluster job would stage into executor-local blocks the same way
        (or write to a sibling dir and swap).
        """
        with checkpointed(self.read().repartition(F.col(PARTITION_COL))) as df:
            if sort_cols:
                df = df.sortWithinPartitions(*sort_cols)
            (
                df.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .option("compression", self.compression)
                .partitionBy(PARTITION_COL)
                .parquet(self.path)
            )

    @mutates_table
    def delete_keys(self, key_col: str, values: list) -> None:
        """Targeted key deletion (the right-to-be-forgotten op): rewrite
        ONLY the date partitions that contain the keys, anti-joined against
        the deletion set, via dynamic partition overwrite — every other
        partition's files are untouched. Cost is proportional to the
        partitions the keys appear in, not the table (at 100 TB: one user's
        history lives in a few hundred daily directories, not 36,000).

        The touched-partition read is materialized (localCheckpoint) before
        overwriting the same path, like ``compact``. On a lakehouse this is
        a Delta DELETE; the partition-surgical rewrite here is the same
        physical plan Delta executes without the transaction log.
        """
        df = self.read()
        touched = [
            r[0]
            for r in df.filter(F.col(key_col).isin(values))
            .select(PARTITION_COL)
            .distinct()
            .collect()
        ]
        if not touched:
            return
        # keep predicate must be NULL-safe: ~isin(values) evaluates to NULL
        # (not true) for NULL keys, which would silently drop NULL-key rows
        # that merely share a partition with a deleted key.
        with checkpointed(
            df.filter(F.col(PARTITION_COL).isin(touched)).filter(
                F.col(key_col).isNull() | ~F.col(key_col).isin(values)
            )
        ) as remaining:
            (
                remaining.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .option("compression", self.compression)
                .partitionBy(PARTITION_COL)
                .parquet(self.path)
            )
            # dynamic overwrite only replaces partitions PRESENT in the
            # written data — a partition whose every row was deleted
            # produces no rows and would silently keep its old files. Drop
            # those directories explicitly (Hadoop FS API, so the same code
            # runs on HDFS/S3A).
            kept = {
                r[0]
                for r in remaining.select(PARTITION_COL).distinct().collect()
            }
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        for p in set(touched) - kept:
            hpath = jvm.org.apache.hadoop.fs.Path(
                f"{self.path}/{PARTITION_COL}={p}"
            )
            hpath.getFileSystem(conf).delete(hpath, True)

    def read_merged_schema(self) -> DataFrame:
        """Schema-evolution read: union the footers of every file so rows
        written before a column existed surface it as NULL (additive
        evolution on plain parquet; renames/drops need a rewrite)."""
        return self.spark.read.option("mergeSchema", "true").parquet(self.path)

    @mutates_table
    def clear(self) -> None:
        """Reference S11 (``feature.py:20-23`` delete_many with no filter):
        drop all rows — overwrite the table with an empty frame. The schema
        is captured first (a fresh empty frame, not a self-referential
        limit(0) read, which Spark refuses to overwrite); no partitionBy so
        the empty write still leaves a readable schema footer."""
        schema = self.read().schema
        empty = self.spark.createDataFrame([], schema)
        empty.write.mode("overwrite").parquet(self.path)

    # -- read / serving path ------------------------------------------------

    def read(self) -> DataFrame:
        """The whole table, from the relation resolved for its current
        version (see the class docstring)."""
        return self._table.frame()

    def by_key(self, key_col: str, key_value) -> DataFrame:
        """Point lookup (reference P4/S9). The key predicate pushes to
        parquet row-group stats; with a bucketed table it prunes buckets."""
        return point_lookup(self.read().drop(PARTITION_COL), key_col, key_value)

    def by_date_range(self, start_date: str, end_date: str) -> DataFrame:
        """Date-range scan (reference P5) — the partition filter prunes
        whole directories before any file is opened."""
        df = self.read()
        pruned = df.filter(
            F.col(PARTITION_COL).between(F.lit(start_date), F.lit(end_date))
        )
        return range_scan(pruned, self.ts_col, start_date, end_date).drop(PARTITION_COL)

    def bulk(self, order_by: str, limit: int = 100_000) -> DataFrame:
        """Bulk export (reference S12/P8): the first ``limit`` rows ordered by
        ``order_by`` then the feature timestamp, so a key cut by the limit
        returns its earliest rows on every call. Rows equal on both columns
        still come back in arbitrary order."""
        df = self.read().drop(PARTITION_COL)
        # df[name] binds a column in one gateway call; a bare name costs ~14
        return df.orderBy(df[order_by], df[self.ts_col]).limit(limit)


class SnapshotStore:
    """Versioned immutable snapshots over plain parquet — the "training
    dataset version" contract a feature store owes its consumers: publish
    writes a new numbered snapshot, readers PIN a version (reproducible
    training/backtests), latest() serves the current one, and two versions
    diff into a changeset.

    Layout: ``<root>/v=<N>/`` parquet dirs, one per version, never mutated
    after publish (publish writes to the next free N). On a lakehouse this
    is Delta/Iceberg time travel; the contract here is identical on plain
    parquet, with the version listing coming from the directory names (a
    production deployment would record them in a catalog table — the
    read/pin/diff API is unchanged).
    """

    def __init__(self, spark: SparkSession, root: str):
        import os

        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def versions(self) -> list[int]:
        import os

        return sorted(
            int(d[2:])
            for d in os.listdir(self.root)
            if d.startswith("v=") and d[2:].isdigit()
        )

    def publish(self, df: DataFrame) -> int:
        vs = self.versions()
        v = (vs[-1] + 1) if vs else 1
        df.write.mode("errorifexists").parquet(f"{self.root}/v={v}")
        return v

    def read_version(self, v: int) -> DataFrame:
        return self.spark.read.parquet(f"{self.root}/v={v}")

    def latest(self) -> DataFrame:
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"no snapshots under {self.root}")
        return self.read_version(vs[-1])

    def diff(
        self, v_old: int, v_new: int, key: str, compare_cols: list[str]
    ) -> DataFrame:
        from feature_store_fraud_detection_spark.operators.diff import table_diff

        return table_diff(
            self.read_version(v_old), self.read_version(v_new), key, compare_cols
        )
