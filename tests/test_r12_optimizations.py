"""Round-12 optimization equivalence tests.

Each optimization this round claims bit-identity with the shape it
replaced; these tests pin the riskiest of those claims as executable
checks (the oracle gate covers the composed queries; these cover the
rewritten internals head-to-head against the old formulation).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window


def test_hyperplanes_literal_matches_md5_chain(spark):
    """The driver-side hyperplane constants must equal the engine-side md5
    nibble expression for every (plane, dim) — and bucket_expr must emit,
    on real vectors, the sign bits of a Python sequential left-fold over
    those constants (same IEEE operation order, so bit-identical)."""
    from feature_store_fraud_detection_spark.operators.similarity import (
        bucket_expr,
        hyperplane_value,
        hyperplanes_literal,
    )

    num_planes, dim = 8, 6
    lit = hyperplanes_literal(num_planes, dim)
    # constants: evaluate the md5-chain expression on a 1-row frame
    one = spark.range(1)
    exprs = [
        hyperplane_value(F.lit(p), F.lit(d)).alias(f"h_{p}_{d}")
        for p in range(num_planes)
        for d in range(dim)
    ]
    row = one.select(*exprs).collect()[0]
    for p in range(num_planes):
        for d in range(dim):
            assert lit[p][d] == row[f"h_{p}_{d}"], (p, d)

    # buckets: engine fold vs Python sequential left-fold
    vecs = [
        (i, [((i * 7 + j * 13) % 11 - 5.0) / 3.0 for j in range(dim)])
        for i in range(50)
    ]
    got = {
        r["id"]: r["b"]
        for r in spark.createDataFrame(vecs, "id bigint, v array<double>")
        .select("id", bucket_expr("v", lit).alias("b"))
        .collect()
    }

    def fold(v, h):
        acc = 0.0
        for x, y in zip(v, h):
            acc = acc + x * y
        return acc

    want = {
        i: "".join("1" if fold(v, h) > 0 else "0" for h in lit)
        for i, v in vecs
    }
    assert got == want
    assert len(set(want.values())) > 1  # the planes split this set


def test_nearest_centroid_exprs_match_crossjoin_window(spark):
    """Literal argmin / probe-list expressions vs the old
    crossJoin + row_number formulation: same winners, same probe sets,
    including (distance, cluster-id) tie-breaks."""
    from feature_store_fraud_detection_spark.operators.similarity import (
        _nearest_centroid_sql,
        _nearest_probes_expr,
    )

    cents = [[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [1.0, 1.0], [1.0, 0.0]]
    # note cents[1] == cents[4]: equal distances force the cluster-id
    # tie-break everywhere
    vecs = spark.createDataFrame(
        [(i, [(i % 5) / 2.0, ((i * 3) % 7) / 3.0]) for i in range(40)],
        "id bigint, v array<double>",
    )
    d2s, cluster = _nearest_centroid_sql(cents, "v")
    got = vecs.select(
        "id",
        F.expr(cluster).alias("cl"),
        F.transform(
            _nearest_probes_expr(d2s, 3), lambda s: s["cluster"]
        ).alias("probes"),
    )

    cent_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "cluster int, centroid array<double>",
    )
    dist2 = F.aggregate(
        F.zip_with("v", "centroid", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("id").orderBy("__d2", "cluster")
    old = (
        vecs.crossJoin(F.broadcast(cent_df))
        .withColumn("__d2", dist2)
        .withColumn("__rn", F.row_number().over(w))
    )
    old_top = {
        r["id"]: r["cluster"]
        for r in old.filter(F.col("__rn") == 1).collect()
    }
    old_probes = {
        r["id"]: [x["cluster"] for x in sorted(r["ps"], key=lambda s: s["__rn"])]
        for r in (
            old.filter(F.col("__rn") <= 3)
            .groupBy("id")
            .agg(F.collect_list(F.struct("__rn", "cluster")).alias("ps"))
            .collect()
        )
    }
    for r in got.collect():
        assert r["cl"] == old_top[r["id"]], r["id"]
        assert list(r["probes"]) == old_probes[r["id"]], r["id"]


def test_pq_minby_encode_matches_window_argmin(spark):
    """min_by(code, struct(d2, code)) must pick exactly the
    row_number() over (partition by id, sub order by d2, code) winner —
    including duplicate-centroid tie-breaks."""
    cb = spark.createDataFrame(
        [
            (0, 0, [0.0, 0.0]),
            (0, 1, [1.0, 1.0]),
            (0, 2, [0.0, 0.0]),  # duplicate of code 0: tie-break on code
            (1, 0, [2.0, 0.0]),
            (1, 1, [0.0, 2.0]),
        ],
        "sub int, code int, cent array<double>",
    )
    sv = spark.createDataFrame(
        [
            (i, s, [(i % 3) / 2.0, ((i * 5) % 4) / 3.0])
            for i in range(30)
            for s in (0, 1)
        ],
        "id bigint, sub int, s array<double>",
    )
    d2 = F.aggregate(
        F.zip_with("s", "cent", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    new = (
        sv.join(F.broadcast(cb), "sub")
        .groupBy("id", "sub")
        .agg(F.min_by("code", F.struct(d2, F.col("code"))).alias("code"))
    )
    w = Window.partitionBy("id", "sub").orderBy("__d2", "code")
    old = (
        sv.join(F.broadcast(cb), "sub")
        .withColumn("__d2", d2)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("id", "sub", "code")
    )
    assert sorted(map(tuple, new.collect())) == sorted(
        map(tuple, old.collect())
    )


def test_bigram_nll_total_from_unigrams(spark):
    """sum(per-term counts) == count(all tokens): the r12 total-token
    derivation must be exact, and bigram_nll's scores unchanged against
    an independent recomputation of the backoff formula."""
    import math

    from feature_store_fraud_detection_spark.operators.text_analysis import (
        bigram_nll,
    )

    docs = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),
            (2, "the dog sat on the log"),
            (4, "a cat and a dog"),
            (1, "the cat sat"),
            (3, "an owl on the log flew"),
        ],
        "doc_id bigint, text string",
    )
    lm = docs.filter(F.col("doc_id") % 2 == 0)
    score = docs.filter(F.col("doc_id") % 2 == 1)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["nll"])
        for r in bigram_nll(lm, score, "doc_id", "text").collect()
    }

    # independent python recomputation
    lm_docs = ["the cat sat on the mat", "the dog sat on the log", "a cat and a dog"]
    uni: dict[str, int] = {}
    bg: dict[tuple, int] = {}
    for t in lm_docs:
        ws = t.split()
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            bg[(a, b)] = bg.get((a, b), 0) + 1
    t_total = sum(uni.values())
    alpha = 0.4
    for sdoc, did in [("the cat sat", 1), ("an owl on the log flew", 3)]:
        ws = sdoc.split()
        contribs = []
        for a, b in zip(ws, ws[1:]):
            if (a, b) in bg:
                p = bg[(a, b)] / uni[a]
            elif b in uni:
                p = alpha * uni[b] / t_total
            else:
                p = alpha / t_total
            contribs.append(math.log(p))
        nll = -sum(sorted(contribs)) / len(contribs)
        n_bg, got_nll = got[did]
        assert n_bg == len(contribs)
        assert got_nll == pytest.approx(nll, abs=1e-4)


def test_panel_explode_matches_unionall(spark):
    """The single-pass 3-struct explode that replaced the rater-panel
    unionAll (krippendorff_doc_panel / fleiss_doc_quality) must emit the
    identical rating multiset — including the density rater's conditional
    abstention becoming a NULL struct dropped by the filter."""
    docs = spark.createDataFrame(
        [(i, 100 + 37 * i, 10 + (i * 11) % 70, 4.9 + (i % 9) / 10.0) for i in range(60)],
        "doc_id bigint, n_chars int, __w int, __awl double",
    )
    grade = (
        lambda c, lo, hi: F.when(c < lo, F.lit("low"))
        .when(c < hi, F.lit("med"))
        .otherwise(F.lit("high"))
    )
    union_form = (
        docs.select(
            F.col("doc_id").alias("item"),
            F.lit("len").alias("rater"),
            grade(F.col("n_chars"), F.lit(220), F.lit(370)).alias("cat"),
        )
        .unionAll(
            docs.select(
                F.col("doc_id"), F.lit("words"), grade(F.col("__w"), F.lit(40), F.lit(68))
            )
        )
        .unionAll(
            docs.filter(F.col("__w") >= 40).select(
                F.col("doc_id"),
                F.lit("density"),
                grade(F.col("__awl"), F.lit(5.42), F.lit(5.56)),
            )
        )
    )
    explode_form = (
        docs.select(
            F.col("doc_id").alias("item"),
            F.explode(
                F.array(
                    F.struct(
                        F.lit("len").alias("rater"),
                        grade(F.col("n_chars"), F.lit(220), F.lit(370)).alias("cat"),
                    ),
                    F.struct(
                        F.lit("words").alias("rater"),
                        grade(F.col("__w"), F.lit(40), F.lit(68)).alias("cat"),
                    ),
                    F.when(
                        F.col("__w") >= 40,
                        F.struct(
                            F.lit("density").alias("rater"),
                            grade(F.col("__awl"), F.lit(5.42), F.lit(5.56)).alias("cat"),
                        ),
                    ),
                )
            ).alias("__rc"),
        )
        .filter(F.col("__rc").isNotNull())
        .select("item", F.col("__rc.rater").alias("rater"), F.col("__rc.cat").alias("cat"))
    )
    assert sorted(map(tuple, union_form.collect())) == sorted(
        map(tuple, explode_form.collect())
    )


def test_preagg_decimal_revenue_matches_direct_sum(spark):
    """top_customers' per-order DECIMAL pre-aggregation: sum of per-order
    sums must equal the direct sum over joined lineitems, exactly."""
    li = spark.createDataFrame(
        [
            (i % 17, (1000 + 7 * i) / 100.0, (i % 11) / 100.0)
            for i in range(200)
        ],
        "l_orderkey int, l_extendedprice double, l_discount double",
    )
    od = spark.createDataFrame(
        [(k, k % 5) for k in range(15)], "o_orderkey int, o_custkey int"
    )
    rev = F.col("l_extendedprice").cast("decimal(12,4)") * (
        F.lit(1).cast("decimal(6,4)") - F.col("l_discount").cast("decimal(6,4)")
    )
    direct = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.round(F.sum(rev).cast("double"), 4).alias("revenue"))
    )
    per_order = li.groupBy("l_orderkey").agg(F.sum(rev).alias("__rev"))
    preagg = (
        per_order.join(od, per_order.l_orderkey == od.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.round(F.sum("__rev").cast("double"), 4).alias("revenue"))
    )
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, preagg.collect())
    )


def test_rank_family_persists_preserve_results(spark):
    """The rank-statistics persists must not change a single reported
    number (spot check: spearman + kruskal on a frame with heavy ties)."""
    from feature_store_fraud_detection_spark.operators.stats import (
        kruskal_wallis,
        spearman_rho,
    )

    df = spark.createDataFrame(
        [(i % 7, (i * i) % 13, f"g{i % 3}") for i in range(300)],
        "x int, y int, g string",
    )
    rho = spearman_rho(df, "x", "y").collect()[0]
    assert rho["n"] == 300
    # deterministic across repeated builds (cache marked fresh each call)
    rho2 = spearman_rho(df, "x", "y").collect()[0]
    assert rho["spearman_rho"] == rho2["spearman_rho"]

    kw = kruskal_wallis(df, "g", "y").collect()
    assert len(kw) == 3
    assert all(r["h_stat"] == kw[0]["h_stat"] for r in kw)


def test_literal_text_arrays_bit_identical(spark):
    """lit_bigint_array / lit_double_array2_sql (r12: one expression string
    instead of a py4j round-trip per element) must produce BIT-IDENTICAL
    values to the F.lit path — including LONG_MIN/LONG_MAX words,
    shortest-repr doubles, NaN, infinities, negative zero and empty
    rows."""
    import math
    import struct

    from feature_store_fraud_detection_spark.functions.numeric import (
        lit_bigint_array,
        lit_double_array2_sql,
    )

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    words = [0, 1, -1, (1 << 63) - 1, -(1 << 63), 123456789012345678]
    row = (
        spark.range(1)
        .select(
            lit_bigint_array(words).alias("a"),
            F.lit(words).cast("array<bigint>").alias("b"),
        )
        .first()
    )
    assert row["a"] == row["b"] == words

    def bits(x):
        return struct.pack("d", x)

    for rows in (
        [[0.1, -7.5, 3.141592653589793], [1e-300, -0.0, 2.5e17]],
        [[math.nan, math.inf, -math.inf], [-0.0, 0.0], []],
        [[], []],
    ):
        got = (
            spark.range(1)
            .select(
                F.expr(lit_double_array2_sql(rows)).alias("a"),
                F.lit([[float(x) for x in r] for r in rows]).alias("b"),
            )
            .first()
        )
        assert [len(r) for r in got["a"]] == [len(r) for r in rows]
        for ra, rb, rr in zip(got["a"], got["b"], rows):
            for xa, xb, xr in zip(ra, rb, rr):
                assert bits(xa) == bits(xb) == bits(xr), (xa, xb, xr)
    empty = spark.range(1).select(F.expr(lit_double_array2_sql([])).alias("a"))
    assert empty.first()["a"] == []
    assert empty.schema["a"].dataType.simpleString() == "array<array<double>>"