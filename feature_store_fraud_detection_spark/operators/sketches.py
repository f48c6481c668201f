"""KMV (k-minimum-values) distinct-count sketch — the deterministic,
cross-engine-reproducible alternative to HLL.

`operators/incremental.distinct_sketch_state` uses Spark's HLL sketches,
whose binary state is engine-specific (rows-only check). KMV fixes that:
hash every distinct value to a uniform point in (0,1) with md5 (the repo's
only hash), keep each key's k smallest points, and estimate
n_distinct ~= (k-1) / u_(k) where u_(k) is the k-th smallest point. Every
intermediate is a deterministic function of the data — DuckDB reproduces
the sketch AND the estimate bit-for-bit, so the oracle can hash it
(std error ~ 1/sqrt(k-2): k=256 -> ~6%).

Mergeability (the property that makes it a sketch, not a sample): the KMV
of a union is the k smallest of the combined point sets — merging per-day
sketches equals sketching the union directly (property-tested).

Scale: distinct (key, value) is one hash aggregation; the per-key k
smallest points is a row_number window that Spark >= 3.5 executes with
WindowGroupLimit (per-partition top-k pushdown before any sort of the
full group); sketch state is k doubles per key, constant-size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from feature_store_fraud_detection_spark.functions.numeric import (
    ROUND4_SQL,
    _double_sql,
    _sql_ident,
    round4_stable,
)

#: 60-bit hash space (md5 first 15 hex chars) — fits a double exactly
#: (< 2^60 needs 60 bits > 53-bit mantissa... the DIVISION result is a
#: rounded double, but identically rounded in both engines, so portable)
_KMV_SPACE = float(1 << 60)


def _uniform_point(col: Column) -> Column:
    """md5 -> 60-bit int -> double in (0,1); DuckDB twin:
    ('0x' || substr(md5(x), 1, 15))::BIGINT / 2^60."""
    return (
        F.conv(
            F.substring(F.md5(F.encode(col.cast("string"), "UTF-8")), 1, 15),
            16,
            10,
        ).cast("bigint")
        / F.lit(_KMV_SPACE)
    )


def kmv_sketch(df: DataFrame, key_col: str, value_col: str, k: int = 256) -> DataFrame:
    """Per-key KMV sketch: the (sorted) k smallest uniform points of the
    key's distinct values — constant-size mergeable state."""
    pts = (
        df.select(F.col(key_col), F.col(value_col))
        .distinct()
        .select(F.col(key_col), _uniform_point(F.col(value_col)).alias("__u"))
    )
    w = Window.partitionBy(key_col).orderBy("__u")
    return (
        pts.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .groupBy(key_col)
        .agg(F.sort_array(F.collect_list("__u")).alias("kmv"))
    )


def kmv_merge(a: DataFrame, b: DataFrame, key_col: str, k: int = 256) -> DataFrame:
    """Union two sketch tables: per key, the k smallest of the combined
    point sets (array-local — no re-scan of raw data)."""
    both = a.unionByName(b)
    return both.groupBy(key_col).agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("kmv")))),
            1,
            k,
        ).alias("kmv")
    )


def _cms_bucket(col: Column, row: int, width: int) -> Column:
    """Row-``row`` bucket of a count-min sketch: md5 of the seeded value,
    first 15 hex chars as a 60-bit int, mod width. DuckDB twin:
    ('0x' || substr(md5('cms<row>:' || x), 1, 15))::BIGINT % width."""
    seeded = F.concat(F.lit(f"cms{row}:"), col.cast("string"))
    return (
        F.conv(F.substring(F.md5(F.encode(seeded, "UTF-8")), 1, 15), 16, 10)
        .cast("bigint")
        % F.lit(width)
    )


def cms_sketch(
    df: DataFrame, item_col: str, depth: int = 4, width: int = 512
) -> DataFrame:
    """Count-min sketch of an item stream -> (row, bucket, cnt).

    ``depth`` independent md5-seeded hash rows of ``width`` counters; each
    occurrence increments one counter per row. Like KMV (above) and unlike
    engine-native sketch state, every counter is a deterministic function
    of the data, so the DuckDB oracle reproduces the sketch bit-for-bit.

    Scale: the explode multiplies rows by ``depth`` BEFORE a map-side
    combined aggregate whose result is at most ``depth * width`` cells —
    shuffle traffic is the sketch size (constant), not the stream. Sketches
    of shards merge by cell-wise addition (same groupBy), the property that
    lets 1000 executors sketch 100 TB independently.
    """
    rows = F.array(
        *[
            F.struct(
                F.lit(r).cast("int").alias("row"),
                _cms_bucket(F.col(item_col), r, width).alias("bucket"),
            )
            for r in range(depth)
        ]
    )
    return (
        df.select(F.explode(rows).alias("s"))
        .select("s.row", "s.bucket")
        .groupBy("row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_query(
    sketch: DataFrame,
    items: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Point-query a count-min sketch: estimate = min over rows of the
    item's counter. Guaranteed >= the true count (never under), within
    2N/width with probability 1 - 2^-depth.

    The sketch is at most ``depth * width`` cells — broadcast — so probing
    any number of items is a narrow map-side join, no shuffle of the probe
    side."""
    probes = items.select(
        F.col(item_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("row"),
                        _cms_bucket(F.col(item_col), r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("s"),
    ).select(item_col, "s.row", "s.bucket")
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )


def kmv_estimate(sketch: DataFrame, key_col: str, k: int = 256) -> DataFrame:
    """Distinct-count estimate per key: (k-1)/u_(k) when the sketch is
    full, else the EXACT count (fewer than k distinct values seen — every
    point is in the sketch)."""
    n_pts = F.size("kmv")
    u_k = F.element_at("kmv", k)
    est = F.when(n_pts < k, n_pts.cast("double")).otherwise(
        F.lit(float(k - 1)) / u_k
    )
    return sketch.select(
        key_col,
        n_pts.alias("sketch_size"),
        round4_stable(est).alias("distinct_est"),
    )


# --------------------------------------------------------------------------
# Equi-width histogram quantile sketch
# --------------------------------------------------------------------------
#
# The deterministic, MERGEABLE alternative to percentile_approx's t-digest
# (whose centroid state is engine- and merge-order-dependent, so an oracle
# can't hash it). Bin layout is a PARAMETER (lo, hi, bins), not data-driven:
# two sketches built with the same layout merge by element-wise adding their
# count vectors — the algebra of a 100 TB rollup (per-partition/day sketches
# -> any rollup level without touching raw data). Values outside [lo, hi)
# clamp into the edge bins (documented sketch bias, like any bounded-range
# histogram); quantiles interpolate linearly within the owning bin.
#
# Everything is plain double arithmetic in a fixed order, so DuckDB
# reproduces the ESTIMATES bit-for-bit and the oracle hash-checks them.


def hist_sketch(
    df: DataFrame,
    key_col: str,
    val_col: str,
    lo: float,
    hi: float,
    bins: int = 64,
) -> DataFrame:
    """Per-key equi-width histogram state: (key, counts array<bigint> of
    length ``bins``, n). One partial-aggregated exchange on (key, bin),
    then a per-key assembly — counts are the ONLY state that moves.
    """
    k, v = _sql_ident(key_col), _sql_ident(val_col)
    bin_idx = (
        f"CAST(least({bins - 1}, greatest(0, floor(({v} - {_double_sql(lo)}) / "
        f"{_double_sql((hi - lo) / bins)}))) AS INT) AS bin"
    )
    per_bin = (
        df.where(f"{v} IS NOT NULL")
        .groupBy(F.expr(k), F.expr(bin_idx))
        .agg(F.expr("count(1) AS c"))
    )
    return (
        per_bin.groupBy(F.expr(k))
        .agg(F.expr("map_from_entries(sort_array(collect_list(struct(bin, c)))) AS bm"))
        .selectExpr(
            k,
            f"transform(sequence(0, {bins - 1}), i -> coalesce(element_at(bm, i), 0))"
            " AS counts",
        )
    )


#: element-wise sum of two same-layout count vectors
_ADD_COUNTS_SQL = "zip_with({a}, {b}, (x, y) -> x + y)"


def hist_merge(a: DataFrame, b: DataFrame, key_col: str) -> DataFrame:
    """Merge two same-layout sketches: full outer join on the key,
    element-wise sum of count vectors (missing side = zeros)."""
    k = _sql_ident(key_col)
    return (
        a.selectExpr(k, "counts AS ca")
        .join(b.selectExpr(k, "counts AS cb"), key_col, "full_outer")
        .selectExpr(
            k,
            "CASE WHEN ca IS NULL THEN cb WHEN cb IS NULL THEN ca ELSE "
            + _ADD_COUNTS_SQL.format(a="ca", b="cb")
            + " END AS counts",
        )
    )


def hist_quantiles(
    sketch: DataFrame,
    key_col: str,
    lo: float,
    hi: float,
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Quantile estimates from the histogram state: for each p, rank
    t = p * n, owning bin = first bin whose cumulative count reaches t,
    estimate = bin lower edge + (t - cum_before) / bin_count * bin width
    (4-decimal rounded). Columns are named p50/p90/... from the prob.

    Pure array expressions over the constant-size state — O(bins^2) scalar
    ops per key for the cumulative scan, no additional shuffle. Every
    expression is rendered as parsed SQL text (two ``selectExpr``
    projections), so the build costs a fixed handful of py4j round-trips
    however many probabilities are asked for.
    """
    k = _sql_ident(key_col)
    cum = (
        "transform(sequence(1, size(counts)), i -> "
        "aggregate(slice(counts, 1, i), 0L, (s, x) -> s + x))"
    )
    w = f"({_double_sql(hi)} - {_double_sql(lo)}) / CAST(size(counts) AS DOUBLE)"
    cols = [k, "n"]
    for p in probs:
        t = f"({_double_sql(p)} * CAST(n AS DOUBLE))"
        idx = f"CAST(array_position(transform(cum, c -> CAST(c AS DOUBLE) >= {t}), true) AS INT)"
        cum_before = (
            f"CAST(CASE WHEN {idx} > 1 THEN element_at(cum, {idx} - 1) ELSE 0 END AS DOUBLE)"
        )
        cnt = f"CAST(element_at(counts, {idx}) AS DOUBLE)"
        est = (
            f"{_double_sql(lo)} + ({w}) * (CAST({idx} - 1 AS DOUBLE) + "
            f"({t} - {cum_before}) / {cnt})"
        )
        cols.append(
            f"CASE WHEN n > 0 THEN {ROUND4_SQL.format(expr=est)} END AS p{round(p * 100)}"
        )
    return sketch.selectExpr(
        k, "counts", f"{cum} AS cum", f"element_at({cum}, -1) AS n"
    ).selectExpr(*cols)


def kmv_overlap(
    sketches: DataFrame,
    key_col: str,
    k: int = 256,
) -> DataFrame:
    """Pairwise set-overlap estimates from per-key KMV sketches: for every
    unordered key pair, estimate |A|, |B|, |A ∪ B|, |A ∩ B| and Jaccard —
    the "audience overlap" query, answered entirely from constant-size
    sketch state without revisiting raw data.

    Standard KMV set algebra: U = the k smallest points of kmv_A ∪ kmv_B
    (array-local merge); Jaccard ≈ |U ∩ kmv_A ∩ kmv_B| / |U|; |A ∪ B| is
    the KMV estimate on U; |A ∩ B| = J · |A ∪ B|. Every step is a
    deterministic array expression over md5-derived points, so the DuckDB
    oracle hash-checks the estimates themselves.

    Shape at scale: the pair join is |keys|², but over SKETCH rows (k
    doubles each), not data — for the typical "few thousand segments" key
    cardinality this is a broadcast self-join of kilobyte rows; raw data is
    touched once to build the sketches, shuffled only as distinct points.
    """
    a = sketches.select(
        F.col(key_col).alias("key_a"), F.col("kmv").alias("kmv_a")
    )
    b = sketches.select(
        F.col(key_col).alias("key_b"), F.col("kmv").alias("kmv_b")
    )
    pairs = a.join(F.broadcast(b), F.col("key_a") < F.col("key_b"))
    u = F.slice(
        F.array_sort(F.array_distinct(F.concat("kmv_a", "kmv_b"))), 1, k
    )
    inter_n = F.size(
        F.filter(
            u,
            lambda p: F.array_contains("kmv_a", p) & F.array_contains("kmv_b", p),
        )
    )
    u_n = F.size(u)
    union_est = F.when(u_n < k, u_n.cast("double")).otherwise(
        F.lit(float(k - 1)) / F.element_at(u, k)
    )
    jacc = inter_n.cast("double") / u_n.cast("double")
    return pairs.select(
        "key_a",
        "key_b",
        round4_stable(union_est).alias("union_est"),
        round4_stable(jacc).alias("jaccard_est"),
        round4_stable(jacc * union_est).alias("intersection_est"),
    )


def hist_rollup(sketches: DataFrame, key_col: str, bins: int) -> DataFrame:
    """Roll up finer-grained sketches (e.g. per (key, day)) to a coarser
    key: element-wise sum of the count vectors within each group — the
    N-way form of :func:`hist_merge`, and the algebra that lets per-shard
    sketches built by 1000 executors combine into any rollup level without
    touching raw data. Exact: integer counts add associatively, so the
    rolled-up sketch is BIT-EQUAL to sketching the coarser key directly.
    """
    return sketches.groupBy(F.expr(_sql_ident(key_col))).agg(
        F.expr(
            f"aggregate(collect_list(counts), transform(sequence(1, {bins}), "
            "_ -> 0L), (acc, c) -> " + _ADD_COUNTS_SQL.format(a="acc", b="c")
            + ") AS counts"
        )
    )


# --------------------------------------------------------------------------
# HyperLogLog with md5 registers — the ORACLE-CHECKABLE HLL
# --------------------------------------------------------------------------
# Spark's approx_count_distinct is a real HLL but its binary state is
# engine-private (rows-only check; `kmv_distinct_users` is its hash-checked
# twin). This one is HLL itself, deterministic end to end: md5-derived
# 60-bit hashes -> p low bits pick the register, the leading-zero rank of
# the remaining 48 bits updates it via max. Registers are integers, the
# rank is a string-length computation (no libm), and the estimator's
# doubles are exact powers of two summed in sorted order — DuckDB
# reproduces sketch AND estimate bit-for-bit.

_HLL_P = 12          # 2^12 = 4096 registers -> ~1.6% std error
_HLL_M = 1 << _HLL_P
_HLL_WBITS = 60 - _HLL_P  # rank range 1..49


def _hll_rank(w: Column) -> Column:
    """Leading-zero rank of the 48-bit suffix: 49 - bit_length(w), w=0 -> 49.
    bit_length via base-2 string length (conv/bin are minimal-width in both
    engines) — integer-exact, no log2."""
    return F.when(w == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.conv(w.cast("string"), 10, 2))
    )


def hll_sketch(df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Per-key HLL register state (key, reg, m_j) — one hash aggregation;
    state is <= 4096 small ints per key regardless of cardinality."""
    h60 = F.conv(
        F.substring(
            F.md5(F.encode(F.col(value_col).cast("string"), "UTF-8")), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    w = F.shiftright(h60, _HLL_P)
    return (
        df.select(
            F.col(key_col),
            (h60 % _HLL_M).alias("reg"),
            _hll_rank(w).alias("__r"),
        )
        .groupBy(key_col, "reg")
        .agg(F.max("__r").alias("m_j"))
    )


def hll_merge(a: DataFrame, b: DataFrame, key_col: str) -> DataFrame:
    """Union semantics: element-wise register max — merging per-shard
    sketches is BIT-EQUAL to sketching the union (max is associative,
    commutative, idempotent; property-tested)."""
    return (
        a.unionByName(b)
        .groupBy(key_col, "reg")
        .agg(F.max("m_j").alias("m_j"))
    )


def hll_estimate(sketch: DataFrame, key_col: str) -> DataFrame:
    """HLL cardinality estimate from register state: raw
    alpha_m * m^2 / sum_j 2^(-M_j) with the standard small-range linear
    counting switch (E <= 2.5m and empty registers remain). Every term is
    an exact power of two; the register sum folds in sorted order; the
    alpha constant is spelled as the same arithmetic expression both
    engines evaluate — the estimate hash-checks."""
    m = float(_HLL_M)
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(m))
    agg = sketch.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_regs"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.lit(1.0) / F.pow(F.lit(2.0), F.col("m_j")))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("__s"),
    )
    zeros = (F.lit(_HLL_M) - F.col("n_regs")).cast("bigint")
    raw = (
        alpha
        * F.lit(m)
        * F.lit(m)
        / (F.col("__s") + zeros.cast("double"))
    )
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(m) * F.log(F.lit(m) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(
        F.col(key_col),
        zeros.alias("zeros"),
        round4_stable(est).alias("estimate"),
    )
