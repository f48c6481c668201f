"""``schemas.load_table``: the once-per-file-version schema memo and the
INT64 TIMESTAMP(NANOS) branch."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from conftest import jobs_of

from feature_store_fraud_detection_spark.schemas import load_table


def test_load_table_infers_each_file_version_once(spark, tmp_path):
    sf_dir = str(tmp_path)
    pq.write_table(pa.table({"k": pa.array([1, 2, 3], pa.int64()),
                             "v": pa.array(["a", "b", "c"])}),
                   f"{sf_dir}/region.parquet")

    cold, cold_jobs = jobs_of(spark, lambda: load_table(spark, sf_dir, "region"))
    warm, warm_jobs = jobs_of(spark, lambda: load_table(spark, sf_dir, "region"))
    assert cold_jobs >= 1, "the first call infers the schema from the footers"
    assert warm_jobs == 0, f"a warm call ran {warm_jobs} Spark job(s)"
    assert warm.schema == cold.schema
    assert sorted(r.k for r in warm.collect()) == [1, 2, 3]

    # two calls are two relations: a self-join on them resolves
    pairs = cold.join(warm, cold["k"] == warm["k"]).select(cold["k"], warm["v"])
    assert sorted(tuple(r) for r in pairs.collect()) == [(1, "a"), (2, "b"), (3, "c")]

    # a rewrite of the same path is a new file version: inferred again
    pq.write_table(pa.table({"k": pa.array([4], pa.int64()),
                             "v": pa.array(["d"]),
                             "w": pa.array([1.5])}),
                   f"{sf_dir}/region.parquet")
    fresh = load_table(spark, sf_dir, "region")
    assert fresh.columns == ["k", "v", "w"]
    assert [tuple(r) for r in fresh.collect()] == [(4, "d", 1.5)]


def test_load_table_truncates_nanos_timestamps_cold_and_warm(spark, tmp_path):
    sf_dir = str(tmp_path)
    nanos = [1_700_000_000_123_456_789, None, 1_700_000_001_000_000_999]
    pq.write_table(pa.table({"user_id": pa.array([1, 2, 3], pa.int64()),
                             "ts": pa.array(nanos, pa.timestamp("ns"))}),
                   f"{sf_dir}/events.parquet", version="2.6")
    assert pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type == pa.timestamp("ns")

    def micros():
        df = load_table(spark, sf_dir, "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        rows = df.select("user_id", F.unix_micros("ts").alias("us")).collect()
        return sorted(tuple(r) for r in rows)

    want = [(1, 1_700_000_000_123_456), (2, None), (3, 1_700_000_001_000_000)]
    assert micros() == want  # cold: infers the footer schema
    assert micros() == want  # warm: reads through the memo
