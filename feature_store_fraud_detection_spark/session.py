"""SparkSession factory with scale-oriented defaults.

The reference builds a bare local session (``back_end/feature_store/
batch_processing.py:14-16``). Here every session is configured for the
execution profile we target at 100 TB: AQE on (runtime coalescing, skew-join
splitting, join-strategy switching), explicit shuffle parallelism, Arrow for
any pandas exchange, and a bounded broadcast threshold so dimension tables
broadcast instead of shuffling.

Config knobs are overridable via ``extra_conf`` so tests and bench can tune
partition counts to the data size at hand.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the local[32] test harness; on a real cluster the same
# settings scale: AQE re-coalesces post-shuffle partitions to target size, so a
# too-large spark.sql.shuffle.partitions is self-correcting.
_DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.session.timeZone": "UTC",
    # Testdata parquet stores TIMESTAMP(MICROS) without the UTC flag; read it
    # as TimestampType (session-UTC wall clock, matching the DuckDB oracle)
    # instead of TIMESTAMP_NTZ, which many chrono expressions reject.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Window group limit pushdown (Spark 3.5+) makes latest-N-per-key prune
    # before the full sort; keep it explicit because serving relies on it.
    "spark.sql.window.group.limit.threshold": "1000",
    # The generated-class cache defaults to 100 entries; a mixed workload of
    # HOF-heavy queries (minhash/simhash/text ops emit several codegen units
    # each) evicts and re-Janino-compiles multi-second expression trees.
    # Cache entries are just compiled classes — cheap to keep.
    "spark.sql.codegen.cache.maxEntries": "1000",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "feature_store_fraud_detection_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` falls back to ``local[$SPARK_GRAFT_CPUS]`` (default all cores)
    so the driver harness and local tests share one code path.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# (JVM view, org.apache.hadoop.fs.Path class) of the last gateway seen
_hadoop_path_class: tuple = (None, None)


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` of ``path`` through the Hadoop FS API, so the
    same code runs on local disk, HDFS and S3A.

    The ``Path`` class is resolved once per JVM gateway: walking
    ``spark._jvm.org.apache.hadoop.fs.Path`` costs five py4j reflection
    round-trips before the constructor call."""
    global _hadoop_path_class
    jvm, cls = _hadoop_path_class
    if jvm is not spark._jvm:
        cls = spark._jvm.org.apache.hadoop.fs.Path
        _hadoop_path_class = (spark._jvm, cls)
    hpath = cls(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath
