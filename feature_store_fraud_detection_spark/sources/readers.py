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
dominated a point get's latency. A version is a per-path generation counter
that every store mutation bumps (:func:`mutates_table`), so any store object
or sink in this process sees a write on its next read. A writer in another
process bumps nothing and is not seen.
"""

from __future__ import annotations

import functools
import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from feature_store_fraud_detection_spark.schemas import TRANSACTIONS_SCHEMA

_generations: dict[str, int] = {}
_generations_lock = threading.Lock()


def _table_key(path: str) -> str:
    return path.rstrip("/") or path


def table_generation(path: str) -> int:
    """How many store mutations of ``path`` this process has finished."""
    return _generations.get(_table_key(path), 0)


def mutates_table(method):
    """Decorate a store method that rewrites the table at ``self.path``: the
    path's generation is bumped once the method returns or raises (a failed
    write may still have replaced files), so every resolved frame of the
    path is re-resolved on its next read."""

    @functools.wraps(method)
    def wrapper(self, *args, **kwargs):
        try:
            return method(self, *args, **kwargs)
        finally:
            key = _table_key(self.path)
            with _generations_lock:
                _generations[key] = _generations.get(key, 0) + 1

    return wrapper


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
