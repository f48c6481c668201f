"""Operators whose expressions are rendered as parsed SQL text:
isotonic_calibration, the hist sketch family and the MinHash-LSH pairs.

Each ``F.expr`` / ``selectExpr`` string costs one py4j round-trip where a
lambda Column tree costs one per node, so the gate below counts the
gateway calls of a build. The equivalence tests pin what the rendering
must keep: every caller column is quoted (a dotted or backticked name is
one column), and degenerate inputs return the rows pinned here.
"""

from __future__ import annotations

import gc
import threading
from contextlib import contextmanager

import pytest

from feature_store_fraud_detection_spark.operators.dedup import minhash_lsh_pairs
from feature_store_fraud_detection_spark.operators.evaluation import (
    isotonic_calibration,
)
from feature_store_fraud_detection_spark.operators.sketches import (
    hist_merge,
    hist_quantiles,
    hist_rollup,
    hist_sketch,
)

DOCS = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy cat",
    "a completely different document about spark",
    "a completely different document about spark sql",
    "tiny",
]


@contextmanager
def py4j_calls(spark):
    """Count the gateway round-trips this thread makes inside the block:
    ``n[0]``. Garbage collection is held off inside the block, so no
    earlier object's release lands in the count."""
    client = spark.sparkContext._gateway._gateway_client
    inner = client.send_command
    me = threading.get_ident()
    n = [0]

    def counted(*args, **kwargs):
        n[0] += threading.get_ident() == me
        return inner(*args, **kwargs)

    gc.collect()
    gc.disable()
    client.send_command = counted
    try:
        yield n
    finally:
        client.send_command = inner
        gc.enable()


def _scores(spark, p="p", y="y"):
    rows = [(((i * 37) % 100) / 100.0, int((i * 13) % 7 < 3)) for i in range(60)]
    return spark.createDataFrame(rows, ["p", "y"]).toDF(p, y)


def _values(spark, k="k", v="v"):
    rows = [("ab"[i % 2], float((i * 29) % 97)) for i in range(50)]
    return spark.createDataFrame(rows, "k string, v double").toDF(k, v)


def _docs(spark, i="doc_id", t="text"):
    return spark.createDataFrame(list(enumerate(DOCS)), "doc_id long, text string").toDF(
        i, t
    )


def _hist(df, k, v):
    return hist_quantiles(hist_sketch(df, k, v, 0.0, 100.0, 10), k, 0.0, 100.0)


def test_sql_text_builds_stay_in_py4j_budget(spark):
    """Building the three operators costs a bounded number of py4j
    round-trips. As lambda Column trees these builds cost 2,759
    (isotonic), 1,522 (hist_sketch + hist_quantiles) and 1,458
    (minhash_lsh_pairs) calls on these inputs; as SQL text 66, 65 and
    405."""
    scores, values, docs = _scores(spark), _values(spark), _docs(spark)
    builds = {
        "isotonic": (lambda: isotonic_calibration(scores, "p", "y"), 150),
        "hist": (lambda: _hist(values, "k", "v"), 150),
        "minhash": (lambda: minhash_lsh_pairs(docs, "doc_id", "text"), 1458 - 1),
    }
    for name, (build, budget) in builds.items():
        build()  # first build resolves the JVM classes and methods it uses
        with py4j_calls(spark) as n:
            build()
        assert n[0] <= budget, f"{name}: {n[0]} py4j calls > {budget}"
    spark.catalog.clearCache()


@pytest.mark.parametrize("dotted", ["s.c", "s`c"])
def test_sql_text_operators_quote_column_names(spark, dotted):
    """A dotted or backticked column name is one column in every
    rewritten operator: the rows equal those of a plain name."""
    assert sorted(isotonic_calibration(_scores(spark), "p", "y").collect()) == sorted(
        isotonic_calibration(
            _scores(spark, dotted + "p", dotted + "y"), dotted + "p", dotted + "y"
        ).collect()
    )

    k, v = dotted + "k", dotted + "v"
    plain, odd = _values(spark), _values(spark, k, v)
    want = sorted(_hist(plain, "k", "v").collect())
    assert sorted(_hist(odd, k, v).collect()) == want
    sk_plain = hist_sketch(plain, "k", "v", 0.0, 100.0, 10)
    sk_odd = hist_sketch(odd, k, v, 0.0, 100.0, 10)
    assert sorted(hist_merge(sk_odd, sk_odd, k).collect()) == sorted(
        hist_merge(sk_plain, sk_plain, "k").collect()
    )
    assert sorted(hist_rollup(sk_odd, k, 10).collect()) == sorted(
        hist_rollup(sk_plain, "k", 10).collect()
    )

    want = sorted(minhash_lsh_pairs(_docs(spark), "doc_id", "text").collect())
    assert want
    got = minhash_lsh_pairs(
        _docs(spark, dotted + "id", dotted + "text"), dotted + "id", dotted + "text"
    )
    assert sorted(got.collect()) == want
    spark.catalog.clearCache()


def test_sql_text_operators_degenerate_inputs(spark):
    """Empty frames, one occupied bin, all-NULL values and 0/1-document
    corpora return the rows pinned here; an out-of-range probability
    still fails naming the operator."""
    empty = spark.createDataFrame([], "p double, y int")
    assert isotonic_calibration(empty, "p", "y").collect() == []
    nulls = spark.createDataFrame([(None, 1), (None, 0)], "p double, y int")
    assert isotonic_calibration(nulls, "p", "y").collect() == []
    one_bin = spark.createDataFrame(
        [(0.35, 1), (0.31, 0), (0.39, 0), (0.3, 1)], "p double, y int"
    )
    assert [tuple(r) for r in isotonic_calibration(one_bin, "p", "y").collect()] == [
        (3, 4, 2, 0.5, 0.5)
    ]
    bad = spark.createDataFrame([(1.5, 1)], "p double, y int")
    with pytest.raises(Exception, match="isotonic_calibration: probability outside"):
        isotonic_calibration(bad, "p", "y").collect()

    assert _hist(spark.createDataFrame([], "k string, v double"), "k", "v").collect() == []
    all_null = spark.createDataFrame([("a", None), ("b", None)], "k string, v double")
    assert hist_sketch(all_null, "k", "v", 0.0, 100.0, 10).collect() == []
    assert _hist(all_null, "k", "v").collect() == []
    one = spark.createDataFrame([("a", 12.0), ("a", 15.0), ("a", 19.5)], "k string, v double")
    assert [tuple(r) for r in hist_sketch(one, "k", "v", 0.0, 100.0, 10).collect()] == [
        ("a", [0, 3, 0, 0, 0, 0, 0, 0, 0, 0])
    ]
    assert [tuple(r) for r in _hist(one, "k", "v").collect()] == [("a", 3, 15.0, 19.0, 19.9)]

    corpus = "doc_id long, text string"
    assert minhash_lsh_pairs(spark.createDataFrame([], corpus), "doc_id", "text").collect() == []
    single = spark.createDataFrame([(7, DOCS[0])], corpus)
    assert minhash_lsh_pairs(single, "doc_id", "text").collect() == []
    spark.catalog.clearCache()
