"""Canonical schemas and testdata loaders.

The reference handles schemas inconsistently per path (batch infers:
``batch_processing.py:21``; streaming stringifies everything:
``pipeline.py:44``; serving re-types heuristically: ``app/routes/
feature.py:180-187``). This engine declares ONE ``StructType`` per logical
table and types data at the ingest boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feature_store_fraud_detection_spark.session import hadoop_fs

# Raw credit-card transactions (reference fixture §1, FIXTURES.md). Starred
# columns of the public HF dataset that any pipeline actually reads.
TRANSACTIONS_SCHEMA = T.StructType(
    [
        T.StructField("trans_date_trans_time", T.TimestampType()),
        T.StructField("cc_num", T.LongType()),
        T.StructField("merchant", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("amt", T.DoubleType()),
        T.StructField("gender", T.StringType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("long", T.DoubleType()),
        T.StructField("city_pop", T.LongType()),
        T.StructField("dob", T.TimestampType()),
        T.StructField("trans_num", T.StringType()),
        T.StructField("merch_lat", T.DoubleType()),
        T.StructField("merch_long", T.DoubleType()),
        T.StructField("is_fraud", T.IntegerType()),
        T.StructField("merch_zipcode", T.DoubleType()),
    ]
)

# Engineered feature row — the offline-store table (reference:
# ``batch_processing.py:47-48``, ``prisma/schema.prisma:16-31``).
FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("cc_num", T.LongType()),
        T.StructField("amt", T.DoubleType()),
        T.StructField("hour_of_day", T.IntegerType()),
        T.StructField("day_of_week", T.IntegerType()),
        T.StructField("age_at_txn", T.DoubleType()),
        T.StructField("distance_to_merchant", T.DoubleType()),
        T.StructField("txn_count_last_10_min", T.LongType()),
        T.StructField("avg_amt_last_1_hour", T.DoubleType()),
        T.StructField("category", T.StringType()),
        T.StructField("gender", T.StringType()),
        T.StructField("city_pop", T.LongType()),
        T.StructField("feature_timestamp", T.TimestampType()),
        T.StructField("is_fraud", T.IntegerType()),
    ]
)

# Wire format of one stream event (reference producer ``producer.py:19-30``
# stringifies every field; we type at ingest with from_json on this schema).
STREAM_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("txn_id", T.StringType()),
        T.StructField("cc_num", T.LongType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("long", T.DoubleType()),
        T.StructField("merch_lat", T.DoubleType()),
        T.StructField("merch_long", T.DoubleType()),
        T.StructField("timestamp", T.TimestampType()),
    ]
)

# Driver testdata star schema (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Timestamp columns per testdata table. The driver's parquet has stored these
# two ways across rounds: INT64 TIMESTAMP(NANOS) (vectorized reader rejects;
# read as long nanos via legacy conf, truncate to micros) and plain
# TIMESTAMP(MICROS) without the UTC flag (Spark 4 infers TIMESTAMP_NTZ unless
# told otherwise). Both are normalized to TimestampType in session-UTC below —
# exactly the wall-clock values DuckDB's TZ-naive reader sees, so oracle
# comparisons agree.
_TS_COLUMNS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


# path -> (modification time, length, schema) of the file version whose
# footers were last inferred in this process.
_inferred: dict[str, tuple[int, int, T.StructType]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table (columnar parquet scan; Catalyst prunes
    columns/filters into the scan automatically).

    The schema is inferred from the parquet footers (a Spark job) once per
    path and file version (length plus modification time, one Hadoop
    ``getFileStatus`` per call) per process; every call then reads with that
    schema, so a warm call runs no Spark job. Each call still builds a fresh
    relation with fresh attribute ids, so two calls' frames self-join."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Parquet TIMESTAMP(MICROS) without isAdjustedToUTC would otherwise read
    # as TIMESTAMP_NTZ, which unix_micros/casts reject; with session tz pinned
    # to UTC the LTZ reading has identical wall-clock values.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # The driver may hand us a session with a non-UTC timezone; timestamp
    # literals and unix_timestamp would then shift against the TZ-naive
    # DuckDB oracle. Pin UTC here — the one chokepoint every query reads
    # through.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    fs, hpath = hadoop_fs(spark, path)
    status = fs.getFileStatus(hpath)
    version = (status.getModificationTime(), status.getLen())
    memo = _inferred.get(path)
    # The status is taken before inference, so a rewrite between the two
    # leaves an entry whose version no longer matches: re-inferred next call.
    if memo is None or memo[:2] != version:
        memo = _inferred[path] = (*version, spark.read.parquet(path).schema)
    schema = memo[2]
    df = spark.read.schema(schema).parquet(path)
    for c in _TS_COLUMNS.get(name, ()):
        if c in schema.names and isinstance(schema[c].dataType, T.LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    return df
