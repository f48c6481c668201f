"""Typed batch readers (reference S1-S4), and the table versions the stores
serve from.

The reference reads its raw CSV with ``inferSchema=True`` (an extra full scan
and nondeterministic typing, ``batch_processing.py:21``) and re-reads Spark
output part-files with pandas glob+concat (``model/training.py:57-58``,
``insert_offline.py:18-21``). Here every format reads through one explicit
schema — no inference job, no driver-side concatenation (Spark unions a
directory of part files natively).

The stores (``offline_store``, ``online_store``) resolve their parquet table
once per *table version* (:class:`ResolvedTable`) instead of once per read:
resolving lists the directory tree and infers the schema from footers, which
dominated a point get's latency. A version is a per-path generation counter.
Every store rewrite commits through :func:`write_partitions` or
:func:`overwrite_partitions`, which bump it when they finish, so any store
object or sink in this process sees a write on its next read. A writer in
another process bumps nothing and is not seen.
"""

from __future__ import annotations

import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from feature_store_fraud_detection_spark.lineage import checkpointed
from feature_store_fraud_detection_spark.schemas import TRANSACTIONS_SCHEMA
from feature_store_fraud_detection_spark.session import hadoop_fs

_generations: dict[str, int] = {}
_generations_lock = threading.Lock()


def _table_key(path: str) -> str:
    return path.rstrip("/") or path


def table_generation(path: str) -> int:
    """How many store commits of ``path`` this process has finished."""
    return _generations.get(_table_key(path), 0)


def bump_generation(path: str) -> None:
    """Mark ``path`` rewritten: every resolved frame of it is re-resolved on
    its next read. Called by the commit functions below once their write
    returns or raises (a failed write may still have replaced files)."""
    key = _table_key(path)
    with _generations_lock:
        _generations[key] = _generations.get(key, 0) + 1


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def _stay_readable(spark: SparkSession, path: str, part_col: str,
                   schema: T.StructType) -> None:
    """Leave ``path`` readable after a commit: when the root lists no
    ``part_col=`` directory and no data file (a partitioned write of zero
    rows leaves only ``_SUCCESS``, and deleting the last partitions leaves
    nothing), append one schema-only file, so a read returns an empty frame
    of ``schema`` instead of failing to infer one. The file sits at the
    root beside any partition directories a later write adds; Spark reads
    that layout."""
    fs, root = hadoop_fs(spark, path)
    if fs.exists(root):
        for status in fs.listStatus(root):
            name = status.getPath().getName()
            if (name.startswith(f"{part_col}=") if status.isDirectory()
                    else not name.startswith(("_", "."))):
                return
    spark.createDataFrame([], schema).write.mode("append").parquet(path)


def _writer(df: DataFrame, part_col: str, compression: str | None):
    writer = df.write.partitionBy(part_col)
    return writer.option("compression", compression) if compression else writer


def write_partitions(df: DataFrame, path: str, part_col: str, mode: str,
                     compression: str | None = None) -> None:
    """Commit ``df`` to the parquet table at ``path``, partitioned by
    ``part_col``, with a plain save ``mode`` (``overwrite`` replaces the
    table, ``append`` adds files), and keep the table readable. With
    ``overwrite``, ``df`` must not read ``path`` lazily: the overwrite
    deletes the table's files before its job reads them."""
    try:
        _writer(df, part_col, compression).mode(mode).parquet(path)
        _stay_readable(df.sparkSession, path, part_col, df.schema)
    finally:
        bump_generation(path)


def overwrite_partitions(df: DataFrame, path: str, part_col: str,
                         touched=(), compression: str | None = None) -> None:
    """Commit ``df`` as the new content of the ``part_col`` partitions it
    holds (dynamic partition overwrite: every other partition keeps its
    files), delete each ``touched`` partition ``df`` no longer holds, and
    keep the table readable.

    Dynamic overwrite only replaces the partitions present in the written
    rows, so a partition whose every row was deleted or expired would keep
    its old files; callers name the partitions they rewrote in ``touched``.

    ``df`` is checkpointed first: with ``touched`` it is read twice (the
    write and the kept-partition collect), and a foreachBatch frame must
    not be re-evaluated. Reading the target path lazily would be safe: the
    dynamic write stages its files and replaces partitions only after the
    job has read its input."""
    spark = df.sparkSession
    try:
        with checkpointed(df) as staged:
            (
                _writer(staged, part_col, compression)
                .mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(path)
            )
            kept = (
                {r[0] for r in staged.select(part_col).distinct().collect()}
                if touched else set()
            )
        for value in set(touched) - kept:
            fs, hpath = hadoop_fs(spark, f"{path}/{part_col}={value}")
            fs.delete(hpath, True)
        _stay_readable(spark, path, part_col, df.schema)
    finally:
        bump_generation(path)


class ResolvedTable:
    """``serve(spark.read.parquet(path))``, resolved once per generation of
    ``path`` and reused by every read in between.

    The generation is read BEFORE resolving: a write that commits while the
    table is being resolved leaves the frame tagged with the older
    generation, so the next read resolves again instead of serving a
    listing taken mid-write.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        serve: Callable[[DataFrame], DataFrame] = lambda df: df,
    ):
        self.spark = spark
        self.path = path
        self._serve = serve
        self._resolved: tuple[int, DataFrame] | None = None

    def frame(self) -> DataFrame:
        generation = table_generation(self.path)
        resolved = self._resolved
        if resolved is not None and resolved[0] == generation:
            return resolved[1]
        df = self._serve(self.spark.read.parquet(self.path))
        self._resolved = (generation, df)
        return df


def read_transactions_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType = TRANSACTIONS_SCHEMA,
    timestamp_format: str | None = None,
) -> DataFrame:
    """CSV scan with explicit schema (replaces reference S1's inferSchema).

    ``path`` may be a file, directory, or glob — a directory of part files is
    read as one DataFrame (replaces reference S3's pandas glob+concat).
    ``timestamp_format`` defaults to Spark's own (round-trips Spark-written
    CSV); the reference's raw dump uses "yyyy-MM-dd HH:mm:ss", which that
    default also parses.
    """
    reader = spark.read.option("header", True).schema(schema)
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    return reader.csv(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan — the preferred storage format (columnar, predicate
    pushdown, column pruning; reference S2's CSV sink is replaced by parquet
    in sources/offline_store.py)."""
    return spark.read.parquet(path)


def read_json_lines(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Typed JSON-lines scan (batch twin of the streaming from_json ingest)."""
    return spark.read.schema(schema).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same columnar properties as parquet (predicate pushdown,
    column pruning, vectorized read); supported so warehouses standardized
    on ORC can feed the engine without a conversion pass."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def read_json_lines_with_quarantine(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """Production JSONL ingest: parse with an explicit schema in PERMISSIVE
    mode, route malformed lines to a quarantine frame instead of failing the
    job or silently dropping them (DROPMALFORMED) — the poison-pill pattern:
    one bad upstream line must cost one quarantined row, never a pipeline.

    Returns (valid, quarantined): ``valid`` has exactly ``schema``'s
    columns for rows that parsed clean; ``quarantined`` carries the raw
    offending line for replay/debugging. Both derive from ONE scan lineage
    (the corrupt-record column is populated by the same parse pass).
    """
    with_corrupt = T.StructType(
        schema.fields + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    raw = (
        spark.read.schema(with_corrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        # Spark requires caching/materializing before referencing the
        # corrupt-record column in a filter (SPARK-21610)
        .cache()
    )
    valid = raw.filter(raw["_corrupt_record"].isNull()).drop("_corrupt_record")
    quarantined = raw.filter(raw["_corrupt_record"].isNotNull()).select(
        raw["_corrupt_record"].alias("raw_line")
    )
    return valid, quarantined


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Binary-file source for multimodal assets: each file becomes one row
    (path, modificationTime, length, content binary) — the ingest side of
    ``operators/multimodal`` (which treats images/audio/video as opaque
    binary columns with typed metadata). ``glob`` filters by pattern, e.g.
    ``*.png``. Backed by Spark's binaryFile source: splittable listing,
    per-file rows, no driver-side file loops.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
