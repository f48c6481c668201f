"""Round-3 operator fixtures: PageRank / BFS on hand graphs, count-min
sketch guarantees, A-ES weighted sampling, bigram backoff LM, CUSUM peak
localization, and DBSCAN roles — tiny inputs with hand-checkable outputs."""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import functions as F

from feature_store_fraud_detection_spark.operators.graph import (
    PAGERANK_SCALE,
    bfs_levels,
    pagerank,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_pagerank_star_center_dominates(spark):
    # star: a<->{b,c,d}. The center receives 3 full contributions each
    # round; leaves split nothing (degree-1 each). Center must outrank
    # leaves, and leaves are symmetric (identical ranks).
    pairs = []
    for leaf in ("b", "c", "d"):
        pairs += [("a", leaf), (leaf, "a")]
    out = {r.node: r.rank_scaled for r in pagerank(_edges(spark, pairs), "src", "dst", iterations=3).collect()}
    assert out["a"] > out["b"]
    assert out["b"] == out["c"] == out["d"]
    # total mass stays within the scale budget (truncation only loses mass)
    assert sum(out.values()) <= PAGERANK_SCALE


def test_pagerank_two_cycle_exact_fixed_point(spark):
    # a<->b: perfectly symmetric, every iteration keeps rank = S/2 (minus
    # deterministic truncation dust). Hand-check the exact integer value.
    out = {
        r.node: r.rank_scaled
        for r in pagerank(
            _edges(spark, [("a", "b"), ("b", "a")]), "src", "dst", iterations=2
        ).collect()
    }
    s = PAGERANK_SCALE
    base = 15 * s // 200
    r0 = s // 2
    r1 = base + 85 * r0 // 100
    r2 = base + 85 * r1 // 100
    assert out == {"a": r2, "b": r2}


def test_pagerank_weighted_rejects_bad_weights(spark):
    import pytest
    from pyspark.errors import SparkRuntimeException

    # zero/negative/NULL weights silently NULL `rank div strength` and
    # drop contribution mass — the weighted path must fail loud instead
    for bad in (0, -3, None):
        df = spark.createDataFrame(
            [("a", "b", 2), ("b", "a", bad)],
            "src string, dst string, w int",
        )
        with pytest.raises(SparkRuntimeException, match="positive integer"):
            pagerank(df, "src", "dst", iterations=1, weight_col="w").collect()
    # documented overflow bound strength*max_weight < 2^63 is CHECKED
    big = 2**33
    df = spark.createDataFrame(
        [("a", "b", big), ("a", "c", big)],
        "src string, dst string, w long",
    )
    with pytest.raises(ValueError, match="2\\^63"):
        pagerank(df, "src", "dst", iterations=1, weight_col="w")
    # a graph inside the bound still runs
    ok = spark.createDataFrame(
        [("a", "b", 3), ("b", "a", 1)], "src string, dst string, w long"
    )
    assert pagerank(ok, "src", "dst", iterations=1, weight_col="w").count() == 2


def test_coreness_oracle_guard_fires_when_unconverged():
    """The coreness oracle's convergence guard must ERROR (not silently
    return a wrong decomposition) when the unrolled peel depth is too
    shallow for the data — the failure mode on any dataset whose peel
    fixpoint is deeper than the measured sf0.001/0.01/0.1 depths."""
    import duckdb
    import pytest

    from feature_store_fraud_detection_spark.plans import registry

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        "'/root/testdata/sf0.001/lineitem.parquet'"
    )
    # honest depths converge and return rows on real data
    assert len(con.execute(registry._coreness_sql()).fetchall()) > 0
    con.execute("DROP VIEW lineitem")
    # synthetic chain graph 1-2-3-4-5-6 (each co-purchase pair planted in
    # TWO orders to clear the w>=2 edge filter): a k=2 peel strips one
    # endpoint pair per round, so it needs 3 rounds — forcing a 1-round
    # unroll must make the extra-round check detect the moving fixpoint
    rows = []
    order = 0
    for a in range(1, 6):
        for _ in range(2):  # two orders per chain edge -> weight 2
            order += 1
            rows.append(f"({order}, {a})")
            rows.append(f"({order}, {a + 1})")
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(l_orderkey, l_partkey)"
    )
    orig = dict(registry._CORENESS_ROUNDS)
    try:
        registry._CORENESS_ROUNDS[2] = 1
        with pytest.raises(duckdb.Error, match="unconverged"):
            con.execute(registry._coreness_sql()).fetchall()
        # with honest depth the same chain peels to the empty 2-core and
        # every node reports coreness 1
        registry._CORENESS_ROUNDS[2] = orig[2]
        got = dict(con.execute(registry._coreness_sql()).fetchall())
        assert got == {n: 1 for n in range(1, 7)}
    finally:
        registry._CORENESS_ROUNDS.clear()
        registry._CORENESS_ROUNDS.update(orig)


def test_bfs_levels_chain_and_cap(spark):
    # chain a->b->c->d->e->f->g with max_hops=4: g (5 hops) is absent
    chain = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"), ("f", "g")]
    seeds = spark.createDataFrame([("a",)], "node string")
    out = {
        r.node: r.level
        for r in bfs_levels(_edges(spark, chain), seeds, max_hops=4).collect()
    }
    assert out == {"a": 0, "b": 1, "c": 2, "d": 3, "e": 4}


def test_bfs_levels_min_over_paths(spark):
    # two routes to d: a->b->d (2 hops) and a->c1->c2->d (3 hops) -> 2
    pairs = [("a", "b"), ("b", "d"), ("a", "c1"), ("c1", "c2"), ("c2", "d")]
    seeds = spark.createDataFrame([("a",)], "node string")
    out = {
        r.node: r.level
        for r in bfs_levels(_edges(spark, pairs), seeds, max_hops=4).collect()
    }
    assert out["d"] == 2


def _in_every_regime(monkeypatch, op):
    """``op()`` in the one-pass regime, the broadcast join-round regime and
    the keyed join-round regime (forced by zero size bounds) -> the three
    results."""
    from feature_store_fraud_detection_spark.operators import graph

    out = [op()]
    with monkeypatch.context() as m:
        m.setattr(graph, "ONE_PASS_EDGE_LIMIT", 0)
        out.append(op())
        m.setattr(graph, "SMALL_GRAPH_NODE_LIMIT", 0)
        out.append(op())
    return out


def test_relaxation_regimes_agree(spark, monkeypatch):
    """bfs_levels and sssp return the same rows and schema in every regime
    on the degenerate inputs. A NULL src edge relaxes nothing; a reachable
    NULL dst comes back as a NULL node; a NULL seed is dropped; an absent
    seed or one over an empty edge set comes back alone at 0. The
    convergence round finds nothing to improve in any of them (the NULL
    node included), and raises the same error in every regime when the
    rounds fall short. A distance past the BIGINT maximum raises in every
    regime instead of wrapping. Zero rounds return the seeds in the same
    schema. A call leaves only its returned checkpoint persisted, and none
    when it raises."""
    import pytest

    from feature_store_fraud_detection_spark.operators.graph import sssp

    big = 2**53
    cases = [  # (edges (src, dst, w), id type, seeds, sssp distances)
        ([("a", "b", 2), ("b", "c", 3), ("a", "c", 9)], "string", ["a"],
         {"a": 0, "b": 2, "c": 5}),
        ([(big + 1, big + 2, 5), (big + 2, big + 3, 1)], "bigint", [big + 1],
         {big + 1: 0, big + 2: 5, big + 3: 6}),
        ([(1, 2, 4), (1, 2, 4), (1, 2, 1), (2, 2, 1), (1, 1, 7), (2, 3, 2)],
         "bigint", [1], {1: 0, 2: 1, 3: 3}),
        ([(None, 1, 1), (None, 3, 1), (1, 2, 1), (2, None, 3)], "bigint", [1],
         {1: 0, 2: 1, None: 4}),
        ([(1, 2, 1)], "bigint", [None, 1], {1: 0, 2: 1}),
        ([(1, 2, 1)], "bigint", [7], {7: 0}),
        ([], "bigint", [5], {5: 0}),
    ]
    persisted = spark.sparkContext._jsc.getPersistentRDDs

    def result(call):
        """call()'s schema and rows; it leaves only its checkpoint persisted."""
        before = set(persisted().keySet())
        out = call()
        assert len(set(persisted().keySet()) - before) <= 1
        return out.schema, sorted(out.collect(), key=repr)

    for rows, id_type, seed_ids, want in cases:
        edges = spark.createDataFrame(rows, f"src {id_type}, dst {id_type}, w long")
        seeds = spark.createDataFrame([(s,) for s in seed_ids], f"node {id_type}")

        def run_bfs(edges=edges, seeds=seeds):
            return result(
                lambda: bfs_levels(edges.select("src", "dst"), seeds, max_hops=3)
            )

        def run_sssp(edges=edges, seeds=seeds):
            return result(
                lambda: sssp(edges, seeds, max_rounds=3, assert_converged=True)
            )

        one_pass, *joins = _in_every_regime(monkeypatch, run_bfs)
        assert joins == [one_pass] * 2, rows
        one_pass, *joins = _in_every_regime(monkeypatch, run_sssp)
        assert joins == [one_pass] * 2, rows
        assert {r.node: r.dist for r in one_pass[1]} == want

    # zero rounds: the seeds alone, typed as the rounds' union would type them
    edges = spark.createDataFrame([(1, 2, 1)], "src bigint, dst bigint, w long")
    seeds = spark.createDataFrame([(1,), (None,)], "node int")

    def run_zero():
        return [
            (out.schema, out.collect())
            for out in (
                bfs_levels(edges.select("src", "dst"), seeds, max_hops=0),
                sssp(edges, seeds, max_rounds=0),
            )
        ]

    one_pass, *joins = _in_every_regime(monkeypatch, run_zero)
    assert joins == [one_pass] * 2
    assert [rows for _, rows in one_pass] == [[(1, 0)], [(1, 0)]]

    chain = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1)], "src string, dst string, w long"
    )
    huge = spark.createDataFrame(
        [("a", "b", 2**62), ("b", "c", 2**62)], "src string, dst string, w long"
    )
    zero = spark.createDataFrame([("a", "b", 0)], "src string, dst string, w long")
    seeds = spark.createDataFrame([("a",)], "node string")

    def raises(edges, rounds, match, converged=False):
        """The error text; the failed call leaves nothing persisted."""
        def op():
            before = set(persisted().keySet())
            with pytest.raises(Exception, match=match) as err:
                sssp(edges, seeds, max_rounds=rounds, assert_converged=converged)
            assert set(persisted().keySet()) <= before
            return str(err.value)
        return _in_every_regime(monkeypatch, op)

    one_pass, *joins = raises(chain, 1, "still improve", converged=True)
    assert joins == [one_pass] * 2
    raises(huge, 2, "(?i)overflow")
    raises(zero, 2, "weight must be a positive integer")


def test_cms_never_underestimates_and_is_tight_when_sparse(spark):
    from feature_store_fraud_detection_spark.operators.sketches import (
        cms_query,
        cms_sketch,
    )

    rows = [(f"item{i % 7}",) for i in range(70)]  # 7 items x 10 each
    df = spark.createDataFrame(rows, "item string")
    sketch = cms_sketch(df, "item", depth=4, width=512)
    items = df.distinct()
    est = {
        r.item: r.cms_est
        for r in cms_query(sketch, items, "item", depth=4, width=512).collect()
    }
    # CMS guarantee: estimate >= true count; 7 items in 4x512 cells
    # collide with probability ~ (7/512)^4 -> exact here
    assert est == {f"item{i}": 10 for i in range(7)}


def test_cms_sketch_merges_by_cell_addition(spark):
    from feature_store_fraud_detection_spark.operators.sketches import (
        cms_sketch,
    )

    a = spark.createDataFrame([("x",)] * 3, "item string")
    b = spark.createDataFrame([("x",)] * 5 + [("y",)], "item string")
    merged = (
        cms_sketch(a, "item").unionByName(cms_sketch(b, "item"))
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    direct = cms_sketch(a.unionByName(b), "item")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_weighted_topk_sample_size_and_bias(spark):
    from feature_store_fraud_detection_spark.operators.sampling import (
        weighted_topk_sample,
    )

    # 200 light rows (w=1) + 200 heavy rows (w=50): a 100-row A-ES draw
    # must be heavily tilted toward the heavy half
    rows = [(i, 1.0) for i in range(200)] + [(i, 50.0) for i in range(200, 400)]
    df = spark.createDataFrame(rows, "id long, w double")
    samp = weighted_topk_sample(df, "id", "w", k=100).collect()
    assert len(samp) == 100
    heavy = sum(1 for r in samp if r.id >= 200)
    assert heavy > 80
    # deterministic: same call, same sample
    again = weighted_topk_sample(df, "id", "w", k=100).collect()
    assert sorted(r.id for r in samp) == sorted(r.id for r in again)


def test_weighted_topk_sample_zero_weight_excluded(spark):
    from feature_store_fraud_detection_spark.operators.sampling import (
        weighted_topk_sample,
    )

    df = spark.createDataFrame(
        [(1, 0.0), (2, -1.0), (3, 2.0)], "id long, w double"
    )
    out = weighted_topk_sample(df, "id", "w", k=10).collect()
    assert [r.id for r in out] == [3]


def test_bigram_nll_backoff_hand_fixture(spark):
    from feature_store_fraud_detection_spark.operators.text_analysis import (
        bigram_nll,
    )

    lm = spark.createDataFrame([(0, "a b a b")], "doc_id long, text string")
    score = spark.createDataFrame(
        [(1, "a b"), (2, "a z")], "doc_id long, text string"
    )
    out = {r.doc_id: (r.n_bigrams, r.nll) for r in bigram_nll(lm, score, "doc_id", "text").collect()}
    # LM: bigrams {ab:2, ba:1}; unigrams {a:2, b:2}, T=4
    # doc 1: P(b|a) = 2/2 = 1 -> nll = 0
    assert out[1] == (1, 0.0)
    # doc 2: bigram 'a z' unseen, z unseen -> P = 0.4/4 = 0.1
    expected = math.floor(-math.log(0.1) * 10000 + 0.5) / 10000
    assert out[2] == (1, expected)


def test_cusum_peak_locates_level_shift(spark):
    from feature_store_fraud_detection_spark.operators.timeseries import (
        cusum_peak,
    )

    base = dt.datetime(2024, 1, 1)
    # 5 events at 10 then 5 events at 20: mean 15, CUSUM of (x-15)
    # peaks (in |.|) at k=5 with value -25 -> cusum_peak = -25
    rows = [
        (1, base + dt.timedelta(minutes=i), i, 10.0 if i < 5 else 20.0)
        for i in range(10)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long, value double")
    r = cusum_peak(df, "user_id", "ts", "event_id", "value").collect()[0]
    assert r.n_events == 10
    assert r.peak_k == 5
    assert r.cusum_peak == -25.0
    assert r.peak_ts == base + dt.timedelta(minutes=4)


def test_dbscan_roles_and_cluster_split(spark):
    from feature_store_fraud_detection_spark.operators.spatial import (
        dbscan_labels,
    )

    # two tight 4-point blobs far apart + one isolated point; minPts=4
    # -> every blob point is core (4 points within eps), isolated = noise
    def blob(base_id, lat):
        return [
            (base_id + i, lat + i * 0.001, -100.0 + i * 0.001)
            for i in range(4)
        ]

    pts = blob(0, 30.0) + blob(100, 31.0) + [(999, 32.5, -100.0)]
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    out = {r.id: (r.role, r.cluster_id) for r in dbscan_labels(df, "id", "lat", "lon", eps_miles=1.0, min_pts=4).collect()}
    assert all(out[i] == ("core", 0) for i in range(4))
    assert all(out[100 + i] == ("core", 100) for i in range(4))
    assert out[999] == ("noise", None)


def test_dbscan_border_point(spark):
    from feature_store_fraud_detection_spark.operators.spatial import (
        dbscan_labels,
    )

    # 4 core points in a tight knot running south; a 5th ~0.9 mi north is
    # within eps of only the knot's 2 nearest points (2 neighbors + self =
    # 3 < minPts) -> border, inherits the knot's cluster id
    pts = [(i, 30.0 - i * 0.001, -100.0) for i in range(4)]
    pts.append((9, 30.0131, -100.0))  # 0.90 mi from p0, 0.97 from p1, 1.04 from p2
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    out = {r.id: (r.role, r.cluster_id) for r in dbscan_labels(df, "id", "lat", "lon", eps_miles=1.0, min_pts=4).collect()}
    assert out[9] == ("border", 0)
    assert all(out[i] == ("core", 0) for i in range(4))


# --------------------------------------------------------------------------
# Histogram quantile sketch
# --------------------------------------------------------------------------


def test_hist_sketch_merge_equals_union_sketch(spark):
    """Mergeability: sketch(A) ++ sketch(B) == sketch(A union B), bin by
    bin — the algebra that lets per-day sketches roll up at 100 TB."""
    from feature_store_fraud_detection_spark.operators.sketches import (
        hist_merge,
        hist_sketch,
    )

    a = spark.range(0, 500).selectExpr("'k' AS k", "CAST(id % 97 AS DOUBLE) AS v")
    b = spark.range(0, 300).selectExpr("'k' AS k", "CAST(id % 41 AS DOUBLE) AS v")
    ska = hist_sketch(a, "k", "v", lo=0.0, hi=100.0, bins=32)
    skb = hist_sketch(b, "k", "v", lo=0.0, hi=100.0, bins=32)
    merged = hist_merge(ska, skb, "k").collect()
    union = hist_sketch(a.unionByName(b), "k", "v", lo=0.0, hi=100.0, bins=32).collect()
    assert merged[0]["counts"] == union[0]["counts"]


def test_hist_quantiles_uniform_data_accuracy(spark):
    """On uniform [0, 1000) data the p-quantile estimate must land within
    one bin width of the true quantile; clamped outliers hit the edge bin."""
    from feature_store_fraud_detection_spark.operators.sketches import (
        hist_quantiles,
        hist_sketch,
    )

    df = spark.range(0, 10_000).selectExpr("'k' AS k", "CAST(id % 1000 AS DOUBLE) AS v")
    sk = hist_sketch(df, "k", "v", lo=0.0, hi=1000.0, bins=100)
    row = hist_quantiles(sk, "k", lo=0.0, hi=1000.0).collect()[0]
    assert row["n"] == 10_000
    assert abs(row["p50"] - 500.0) <= 10.0
    assert abs(row["p90"] - 900.0) <= 10.0
    assert abs(row["p99"] - 990.0) <= 10.0


def test_hist_sketch_clamps_out_of_range(spark):
    from feature_store_fraud_detection_spark.operators.sketches import hist_sketch

    df = spark.createDataFrame(
        [("k", -5.0), ("k", 0.5), ("k", 99.5), ("k", 250.0)], "k string, v double"
    )
    counts = hist_sketch(df, "k", "v", lo=0.0, hi=100.0, bins=10).collect()[0]["counts"]
    assert counts[0] == 2  # -5 clamps into bin 0 alongside 0.5
    assert counts[9] == 2  # 250 clamps into the top bin alongside 99.5


def test_kmv_overlap_disjoint_and_identical_sets(spark):
    from feature_store_fraud_detection_spark.operators.sketches import (
        kmv_overlap,
        kmv_sketch,
    )

    # a and b identical (jaccard 1), c disjoint from both (jaccard 0)
    rows = (
        [("a", i) for i in range(200)]
        + [("b", i) for i in range(200)]
        + [("c", i + 10_000) for i in range(200)]
    )
    df = spark.createDataFrame(rows, "k string, v bigint")
    out = {
        (r["key_a"], r["key_b"]): r
        for r in kmv_overlap(kmv_sketch(df, "k", "v", k=64), "k", k=64).collect()
    }
    assert out[("a", "b")]["jaccard_est"] == 1.0
    assert out[("a", "c")]["jaccard_est"] == 0.0
    assert out[("a", "c")]["intersection_est"] == 0.0
    # identical sets: union estimate within ~15% of the true 200
    assert abs(out[("a", "b")]["union_est"] - 200) <= 30


def test_kmv_overlap_half_overlap_estimate(spark):
    from feature_store_fraud_detection_spark.operators.sketches import (
        kmv_overlap,
        kmv_sketch,
    )

    # |A|=|B|=400, |A∩B|=200 -> jaccard = 200/600 ≈ 0.333
    rows = [("a", i) for i in range(400)] + [("b", i + 200) for i in range(400)]
    df = spark.createDataFrame(rows, "k string, v bigint")
    row = kmv_overlap(kmv_sketch(df, "k", "v", k=128), "k", k=128).collect()[0]
    assert 0.2 <= row["jaccard_est"] <= 0.5
    assert 400 <= row["union_est"] <= 820


def test_hist_quantiles_within_bin_width_property(spark):
    """Property: on any data inside [lo, hi), each estimated quantile is
    within one bin width of an exact percentile (the histogram's accuracy
    contract)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from feature_store_fraud_detection_spark.operators.sketches import (
        hist_quantiles,
        hist_sketch,
    )

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.floats(min_value=0.0, max_value=99.999, allow_nan=False),
            min_size=20,
            max_size=200,
        )
    )
    def run(vals):
        import numpy as np

        df = spark.createDataFrame([("k", float(v)) for v in vals], "k string, v double")
        sk = hist_sketch(df, "k", "v", lo=0.0, hi=100.0, bins=50)
        row = hist_quantiles(sk, "k", lo=0.0, hi=100.0).collect()[0]
        w = 100.0 / 50
        arr = np.sort(np.array(vals))
        for p, name in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            exact = float(arr[min(len(arr) - 1, int(np.ceil(p * len(arr))) - 1)])
            assert abs(row[name] - exact) <= w + 1e-9, (p, row[name], exact)

    run()


def test_triangle_stats_hand_graph(spark):
    """K4 plus a pendant edge: 4 triangles, wedges = sum d(d-1)/2 with
    degrees (3,3,3,4,1) = 3+3+3+6+0 = 15, clustering = 12/15 = 0.8.
    Duplicate edges, reversed duplicates, and self-loops must be
    canonicalized away."""
    from feature_store_fraud_detection_spark.operators.graph import (
        triangle_stats,
    )

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    edges = k4 + [(4, 5)] + [(2, 1), (3, 1)] + [(1, 1)]  # dups/reverse/loop
    df = spark.createDataFrame(edges, "a bigint, b bigint")
    row = triangle_stats(df, "a", "b").collect()[0]
    assert row["n_triangles"] == 4
    assert row["n_wedges"] == 15
    assert row["clustering"] == 0.8


def test_triangle_stats_bipartite_graph_has_none(spark):
    edges = [(i, 100 + j) for i in range(5) for j in range(5)]
    df = spark.createDataFrame(edges, "a bigint, b bigint")
    from feature_store_fraud_detection_spark.operators.graph import (
        triangle_stats,
    )

    row = triangle_stats(df, "a", "b").collect()[0]
    assert row["n_triangles"] == 0 and row["clustering"] == 0.0


def test_kcore_peels_pendant_chain_to_cycle(spark):
    """A triangle with a 3-edge pendant chain: the 2-core is exactly the
    triangle, and reaching it takes 3 peel rounds (the chain strips one
    edge per round) — exercising the multi-round convergence loop."""
    from feature_store_fraud_detection_spark.operators.graph import kcore

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r.node: r.degree for r in kcore(df, "a", "b", k=2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    # k above the densest structure -> empty
    assert kcore(df, "a", "b", k=3).count() == 0
    # k=1 keeps everything (self-loops/dups dropped, degrees exact)
    df2 = spark.createDataFrame(
        edges + [(1, 1), (2, 3)], "a long, b long"
    )
    got1 = {r.node: r.degree for r in kcore(df2, "a", "b", k=1).collect()}
    assert got1 == {1: 2, 2: 2, 3: 3, 4: 2, 5: 2, 6: 1}


def test_coreness_hand_graph_and_cap(spark):
    """K4 (coreness 3) + a triangle hung off it (coreness 2) + a pendant
    chain (coreness 1) — the textbook decomposition; a k_cap of 2 grades
    the K4 as '2+' and leaves everything below the cap untouched."""
    from feature_store_fraud_detection_spark.operators.graph import coreness

    edges = (
        # K4 on 1-4
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
        # triangle 4-5-6 sharing node 4
        + [(4, 5), (5, 6), (4, 6)]
        # pendant chain off node 6
        + [(6, 7), (7, 8)]
    )
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r.node: r.coreness for r in coreness(df, "a", "b").collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 2, 6: 2, 7: 1, 8: 1}
    capped = {
        r.node: r.coreness
        for r in coreness(df, "a", "b", k_cap=2).collect()
    }
    assert capped == {1: 2, 2: 2, 3: 2, 4: 2, 5: 2, 6: 2, 7: 1, 8: 1}


def test_coreness_sweep_matches_fresh_kcore(spark):
    """Reuse contract: the ascending-k sweep must agree with a FRESH
    kcore at every k — {n : coreness(n) >= k} == members of kcore(k).
    Random-ish deterministic graph, k = 1..5."""
    from feature_store_fraud_detection_spark.operators.graph import (
        coreness,
        kcore,
    )

    edges = [
        (i, (i * i + 3 * j) % 40)
        for i in range(40)
        for j in range(1, 4)
        if i != (i * i + 3 * j) % 40
    ]
    df = spark.createDataFrame(edges, "a long, b long")
    core = {r.node: r.coreness for r in coreness(df, "a", "b").collect()}
    assert max(core.values()) >= 3, "fixture too sparse to exercise sweeps"
    for k in range(1, 6):
        fresh = {r.node for r in kcore(df, "a", "b", k=k).collect()}
        swept = {n for n, c in core.items() if c >= k}
        assert swept == fresh, (k, swept ^ fresh)


def test_adamic_adar_hand_graph(spark):
    """Path a-c-b plus hub wedges: scores must equal hand-computed
    sums of 1/ln(deg) over common neighbors, linked pairs are excluded,
    and max_hub_degree drops hub-mediated wedges."""
    import math

    from feature_store_fraud_detection_spark.operators.graph import (
        adamic_adar,
    )

    # 1-2 linked; both also link hub 5 (deg 4 incl. 3,4) and node 6
    # (deg 2); 3-4 only share hub 5
    edges = [(1, 2), (1, 5), (2, 5), (3, 5), (4, 5), (1, 6), (2, 6)]
    df = spark.createDataFrame(edges, "a long, b long")
    got = {
        (r.node_a, r.node_b): (r.n_common, r.score)
        for r in adamic_adar(df, "a", "b", top_n=50).collect()
    }
    assert (1, 2) not in got  # linked pairs excluded
    inv5 = 1.0 / math.log(5.0)  # hub 5: neighbors 1,2,3,4 -> deg 5? no:
    # deg(5) = |{1,2,3,4}| = 4; deg(6) = |{1,2}| = 2
    inv5 = 1.0 / math.log(4.0)
    inv6 = 1.0 / math.log(2.0)
    # 3-4 share only hub 5
    assert got[(3, 4)][0] == 1
    assert abs(got[(3, 4)][1] - round(inv5, 4)) <= 1e-4
    # 1-3 share hub 5 only (1-3 unlinked)
    assert got[(1, 3)][0] == 1
    # 5-6 share common neighbors 1 and 2: deg(1) = 3 (2,5,6), deg(2) = 3
    inv_deg3 = 1.0 / math.log(3.0)
    assert got[(5, 6)][0] == 2
    assert abs(got[(5, 6)][1] - round(2 * inv_deg3, 4)) <= 1e-4
    # hub cap 3 removes node-5-mediated wedges: 3-4 disappears
    capped = {
        (r.node_a, r.node_b)
        for r in adamic_adar(df, "a", "b", top_n=50, max_hub_degree=3).collect()
    }
    assert (3, 4) not in capped
    assert (5, 6) in capped  # mediated by deg-3 nodes, survives


def test_hll_sketch_estimate_accuracy_and_merge(spark):
    from feature_store_fraud_detection_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_sketch,
    )

    # 5000 true distinct values under one key -> HLL(p=12) must land
    # within ~5 std errors (1.6% each) of the truth
    rows = [("k", f"user_{i}") for i in range(5000)] + [
        ("k", f"user_{i}") for i in range(100)  # duplicates change nothing
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    est = hll_estimate(hll_sketch(df, "g", "v"), "g").collect()[0]
    assert abs(est.estimate - 5000) / 5000 < 0.08
    # duplicates are idempotent: sketch of the deduped set is identical
    ded = spark.createDataFrame(
        [("k", f"user_{i}") for i in range(5000)], "g string, v string"
    )
    a = {(r.g, r.reg): r.m_j for r in hll_sketch(df, "g", "v").collect()}
    b = {(r.g, r.reg): r.m_j for r in hll_sketch(ded, "g", "v").collect()}
    assert a == b
    # mergeability: union of two disjoint halves == sketching the union
    h1 = spark.createDataFrame(
        [("k", f"user_{i}") for i in range(2500)], "g string, v string"
    )
    h2 = spark.createDataFrame(
        [("k", f"user_{i}") for i in range(2500, 5000)], "g string, v string"
    )
    merged = {
        (r.g, r.reg): r.m_j
        for r in hll_merge(
            hll_sketch(h1, "g", "v"), hll_sketch(h2, "g", "v"), "g"
        ).collect()
    }
    assert merged == b


def test_hll_small_range_linear_counting(spark):
    from feature_store_fraud_detection_spark.operators.sketches import (
        hll_estimate,
        hll_sketch,
    )

    # 3 distinct values: raw HLL over-smooths tiny sets; the linear
    # counting branch must fire and land essentially exactly
    df = spark.createDataFrame(
        [("k", "a"), ("k", "b"), ("k", "c")], "g string, v string"
    )
    est = hll_estimate(hll_sketch(df, "g", "v"), "g").collect()[0]
    assert est.zeros == 4096 - 3
    assert abs(est.estimate - 3.0) < 0.01


def test_sssp_weighted_hand_graph(spark):
    from feature_store_fraud_detection_spark.operators.graph import sssp

    import pytest

    # diamond: A->B (1), A->C (10), B->C (2), C->D (3), B->D (100)
    # shortest: A=0, B=1, C=3 (via B), D=6 (A-B-C-D); E unreachable
    edges = spark.createDataFrame(
        [
            ("A", "B", 1), ("A", "C", 10), ("B", "C", 2),
            ("C", "D", 3), ("B", "D", 100), ("E", "E2", 1),
        ],
        "src string, dst string, w long",
    )
    seeds = spark.createDataFrame([("A",)], "node string")
    got = {
        r.node: r.dist
        for r in sssp(edges, seeds, max_rounds=4).collect()
    }
    assert got == {"A": 0, "B": 1, "C": 3, "D": 6}

    # convergence assertion: a 3-edge chain needs 3 rounds; with
    # max_rounds=2 + assert_converged the operator must fail LOUD
    chain = spark.createDataFrame(
        [("A", "B", 1), ("B", "C", 1), ("C", "D", 1)],
        "src string, dst string, w long",
    )
    with pytest.raises(ValueError, match="still improve"):
        sssp(chain, seeds, max_rounds=2, assert_converged=True)
    # and pass silently once the rounds cover the diameter
    ok = {
        r.node: r.dist
        for r in sssp(chain, seeds, max_rounds=3,
                      assert_converged=True).collect()
    }
    assert ok == {"A": 0, "B": 1, "C": 2, "D": 3}

    # fail-loud weight validation (the weighted-pagerank convention)
    bad = spark.createDataFrame(
        [("A", "B", 0)], "src string, dst string, w long"
    )
    with pytest.raises(Exception, match="positive"):
        sssp(bad, seeds, max_rounds=1).collect()
