"""Similarity search over embedding columns (array<float>).

- ``cosine_topk`` / ``l2_topk``: brute-force exact top-k — the correctness
  baselines. Query side is broadcast; the data side is scanned once, ranked
  per query with a window top-k (WindowGroupLimit prunes per partition
  before the shuffle).
- ``lsh_buckets`` / ``lsh_topk`` / ``multiprobe_lsh_topk``: random-hyperplane
  LSH. Hyperplane components are derived from md5 (deterministic, seedable,
  engine-portable), so bucket assignment is reproducible anywhere.
- ``ivf_topk`` / ``sq8_topk`` / ``pq_topk`` / ``ivfpq_topk``: inverted
  lists and compressed-domain scans.
- ``recall_at_k``: one exact ground truth scored against any approximate
  candidate set — the index-quality report for every family above.

Numeric portability: dot products and squared distances are sequential
left-folds over doubles (``aggregate(zip_with(...))``) — the exact same IEEE
operation order as the DuckDB oracle's ``list_reduce``, so cosines match
bit-for-bit.

Rendering: all vector math is parsed SQL text, built by three string
builders — :func:`_double_vec_sql` (the double cast of a caller's vector
column), :func:`_dot_sql` and :func:`_l2sq_sql` (the two folds) — plus the
constant-table literal ``lit_double_array2_sql``. One ``F.expr`` costs one
py4j round-trip where a lambda Column tree costs one per node. Every caller
column is quoted with :func:`_sql_ident`, so any column name parses as that
one column. JVM-side higher-order functions throughout — no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from feature_store_fraud_detection_spark.functions.numeric import (
    ROUND4_SQL,
    _sql_ident,
    lit_double_array2_sql,
    round4_stable,
)


def _double_vec_sql(vec_col: str) -> str:
    """SQL text of the caller's vector column cast element-wise to double."""
    return f"transform({_sql_ident(vec_col)}, x -> cast(x as double))"


def _dot_sql(a_sql: str, b_sql: str) -> str:
    """Sequential left-fold dot product ((0+x1y1)+x2y2)+... of two array
    operands given as SQL text — deterministic."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> x * y), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def _l2sq_sql(a_sql: str, b_sql: str) -> str:
    """Sequential left-fold squared L2 distance of two array operands given
    as SQL text — deterministic."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (a, b) -> (a - b) * (a - b)), "
        f"0.0D, (acc, x) -> acc + x)"
    )


#: cosine of a broadcast query (``__qvec``, ``__qnorm``) against a corpus
#: row (``__vec_d``, ``__norm``) — the column names every cosine ranker uses
_PAIR_COSINE_SQL = f"{_dot_sql('__qvec', '__vec_d')} / (__qnorm * __norm)"


def _top_k(scored: DataFrame, k: int, *order: Column) -> DataFrame:
    """Per-query top-k tail: ``rank`` = row_number over ``query_id`` in
    ``order`` (which must end in a unique tie-break), kept while <= k — the
    shape Spark plans as a WindowGroupLimit before the shuffle."""
    w = Window.partitionBy("query_id").orderBy(*order)
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def with_norm(df: DataFrame, id_col: str, vec_col: str, *keep: str) -> DataFrame:
    """Project ``id_col``, the ``keep`` columns, a double-typed copy of the
    vector (``__vec_d``) and its L2 norm (``__norm``).

    NULL/empty and zero-NORM vectors are dropped here, centrally: a
    zero-norm vector has no defined cosine against anything, and under
    ANSI mode the division is a job-killing DIVIDE_BY_ZERO rather than a
    NULL (round-11 empty-embedding probe). Every cosine-ranking operator
    flows through this helper, so the contract is uniform: rows that
    cannot be ranked are absent, never silently mis-ranked."""
    vec_d = _double_vec_sql(vec_col)
    return (
        _valid_vectors(df, vec_col)
        .select(
            F.col(id_col),
            *keep,
            F.expr(vec_d).alias("__vec_d"),
            F.expr(f"sqrt({_dot_sql(vec_d, vec_d)})").alias("__norm"),
        )
        .filter(F.col("__norm") > 0.0)
    )


def _valid_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Drop NULL/empty vectors before any ANN math: a NULL embedding would
    otherwise flow NULL distances into argmin/rank windows and silently
    produce wrong codes/neighbors. Validation reporting belongs to
    ``validate_embeddings``; search just refuses the rows."""
    vec = F.col(_sql_ident(vec_col))
    return df.filter(vec.isNotNull() & (F.size(vec) > 0))


def _double_vectors(df: DataFrame, id_col: str, vec_col: str, alias: str) -> DataFrame:
    """(id, valid vector cast to double as ``alias``) — the input of every
    search that ranks on raw vectors rather than normalized ones."""
    return _valid_vectors(df, vec_col).select(
        F.col(id_col), F.expr(_double_vec_sql(vec_col)).alias(alias)
    )


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_max_id: int,
    top_k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for every vector with id < query_max_id.

    The query side (small) broadcasts; each executor scans its slice of the
    corpus once and emits (query, candidate, cosine); a per-query window
    keeps the top-k with id tie-break. No |corpus|^2 blow-up — cost is
    |queries| x |corpus| partitioned across the cluster.
    """
    v = with_norm(df, id_col, vec_col)
    q = v.filter(F.col(id_col) < query_max_id).select(
        F.col(id_col).alias("query_id"),
        F.col("__vec_d").alias("__qvec"),
        F.col("__norm").alias("__qnorm"),
    )
    pairs = F.broadcast(q).join(v, F.col("query_id") != F.col(id_col))
    scored = pairs.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        round4_stable(F.expr(_PAIR_COSINE_SQL)).alias("cosine"),
    )
    return _top_k(
        scored, top_k, F.col("cosine").desc(), F.col("neighbor_id")
    ).select("query_id", "neighbor_id", "cosine", "rank")


def hyperplane_value(plane: Column, dim: Column) -> Column:
    """Deterministic pseudo-random hyperplane component in [-7.5, 7.5]: the
    first hex nibble of md5('plane,dim') minus 7.5. Portable to any engine
    with md5 — no driver-side RNG arrays to broadcast. The engine-side
    reference that the oracle SQL spells and :func:`hyperplanes_literal`
    folds to constants."""
    h = F.md5(
        F.encode(
            F.concat_ws(",", plane.cast("string"), dim.cast("string")), "UTF-8"
        )
    )
    # conv(hex_digit, 16, 10) == strpos('0123456789abcdef', c) - 1, which is
    # how the DuckDB oracle spells the same nibble
    return F.conv(F.substring(h, 1, 1), 16, 10).cast("double") - F.lit(7.5)


def hyperplanes_literal(num_planes: int, dim: int) -> list[list[float]]:
    """The ``num_planes x dim`` hyperplane constants of
    :func:`hyperplane_value`, computed ONCE on the driver (same md5 nibble
    arithmetic, bit-identical doubles), so they ship as one plan literal
    instead of num_planes*dim md5 calls per row. The SQL oracle twin keeps
    spelling the md5 chain — md5 is md5 on both engines, so the folded
    constants are identical."""
    import hashlib

    return [
        [
            float(
                int(
                    hashlib.md5(f"{p},{d}".encode("utf-8")).hexdigest()[0], 16
                )
            )
            - 7.5
            for d in range(dim)
        ]
        for p in range(num_planes)
    ]


def bucket_expr(vec_d_sql: str, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket key as a pure array-local expression:
    bit p = sign of <vec, H_p>, concatenated over the ``len(planes)``
    hyperplanes (:func:`hyperplanes_literal`). ``vec_d_sql`` is the SQL
    text of a double vector. Sequential left-fold dot products —
    deterministic and engine-portable (the alternating explode/groupBy
    formulation sums in shuffle order, whose low-bit nondeterminism can
    flip signs near zero)."""
    plane = f"element_at({lit_double_array2_sql(planes)}, cast(p + 1 as int))"
    return F.expr(
        f"element_at(transform(array({vec_d_sql}), vb -> concat_ws('', "
        f"transform(sequence(0, {len(planes) - 1}), p -> "
        f"CASE WHEN {_dot_sql('vb', plane)} > 0 THEN '1' ELSE '0' END))), 1)"
    )


def _probe_dim(df: DataFrame, vec_col: str) -> int:
    """Vector dimensionality from one row (0 on a frame with no valid
    vector) — the bounded driver probe LSH callers pay to fold the
    hyperplane constants."""
    first = (
        _valid_vectors(df, vec_col)
        .select(F.size(F.col(_sql_ident(vec_col))))
        .first()
    )
    return 0 if first is None else int(first[0])


def lsh_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_planes: int = 8,
) -> DataFrame:
    """Assign each vector its hyperplane-LSH bucket key — one narrow
    projection, no shuffle. Cosine-similar vectors agree on most signs, so
    near neighbors collide. The corpus dimensionality is probed from one
    row to fold the hyperplane constants into a plan literal."""
    planes = hyperplanes_literal(num_planes, _probe_dim(df, vec_col))
    return df.select(
        F.col(id_col),
        bucket_expr(_double_vec_sql(vec_col), planes).alias("bucket"),
    )


def _nearest_centroid_sql(
    cent_list: list[list[float]], vec_col: str
) -> tuple[str, str]:
    """SQL texts (d2s, cluster) for a driver-side centroid table: ``d2s`` =
    the per-centroid squared-L2 array of ``vec_col`` (same sequential fold
    as the crossJoin shape), ``cluster`` = the argmin index with the same
    (distance, cluster-id) tie-break as ``row_number() over (order by
    __d2, cluster)``. A narrow projection instead of a corpus x centroids
    crossJoin + window (a |corpus|*k row blow-up through a shuffle); pinned
    by test_nearest_centroid_exprs_match_crossjoin_window. ``vec_col`` is
    referenced inside the ``c`` lambda, so callers pass their internal
    double-vector column, never a caller-named one."""
    d2s = (
        f"transform({lit_double_array2_sql(cent_list)}, "
        f"c -> {_l2sq_sql(_sql_ident(vec_col), 'c')})"
    )
    return d2s, f"cast(array_position({d2s}, array_min({d2s})) - 1 as int)"


def _nearest_probes_expr(d2s_sql: str, n_probe: int) -> Column:
    """The ``n_probe`` nearest cluster ids from a per-centroid distance
    array (SQL text) — ``array_sort`` over struct<d2, cluster> sorts by
    (d2, cluster), the ordering of a per-query window; slice keeps the
    probe count (all of them when there are fewer clusters, matching
    ``row_number() <= n_probe``)."""
    return F.expr(
        f"slice(array_sort(transform({d2s_sql}, (d, i) -> "
        f"named_struct('__d2', d, 'cluster', cast(i as int)))), "
        f"1, {int(n_probe)})"
    )


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_max_id: int,
    top_k: int = 5,
    num_clusters: int = 8,
    n_probe: int = 2,
    seed: int = 42,
    init: str = "kmeans",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a coarse quantizer partitions
    the corpus; each query searches only its ``n_probe`` nearest cluster
    lists. The second ANN family next to hyperplane LSH — better
    recall/cost control when the corpus is clusterable.

    Two quantizers, same inverted-list search:

    * ``init="kmeans"`` — MLlib KMeans (seeded). Best centroids, but
      iterative + RNG, so queries built on it are declared rows-only to the
      oracle gate; ranking quality is test-covered.
    * ``init="md5_sample"`` — the ``num_clusters`` corpus vectors with the
      smallest ``(md5(id), id)`` serve directly as centroids (the
      deterministic analog of sampling the quantizer's training set, a
      standard IVF practice at scale). Every step is a pure function of the
      data, so the full query — centroid pick, list assignment, probe
      selection, ranked output — hash-checks against a SQL twin.

    The quantizer is tiny either way (k x dim; broadcast into assignment);
    list scans are |corpus|/k per probe.
    """
    vecs = _double_vectors(df, id_col, vec_col, "__vec_d")
    if init == "md5_sample":
        # deterministic centroid pick: bounded k-row driver collect (the
        # centroid table is driver/broadcast metadata in any IVF system)
        picked = (
            vecs.orderBy(
                F.md5(F.col(id_col).cast("string")), F.col(id_col)
            )
            .limit(num_clusters)
            .collect()
        )
        cent_list = [list(r["__vec_d"]) for r in picked]
        # assign every vector to its nearest centroid — same sequential-
        # fold dist2 both engines, ties broken on cluster id. Fanned out so
        # the per-row distance folds never serialize on a one-file corpus
        # (no-op at scale).
        from feature_store_fraud_detection_spark.operators.dedup import (
            fan_out_if_few_inputs,
        )

        _, cluster_sql = _nearest_centroid_sql(cent_list, "__vec_d")
        assigned = fan_out_if_few_inputs(vecs, id_col).select(
            id_col, "__vec_d", F.expr(cluster_sql).alias("__cluster")
        )
    elif init == "kmeans":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feat = vecs.withColumn("__features", array_to_vector("__vec_d"))
        km = KMeans(
            k=num_clusters,
            seed=seed,
            featuresCol="__features",
            predictionCol="__cluster",
        )
        model = km.fit(feat)
        assigned = model.transform(feat)

        # distance of every query to every centroid -> n_probe nearest lists
        cent_list = [
            [float(x) for x in c] for c in model.clusterCenters()
        ]
    else:
        raise ValueError(f"unknown init {init!r}")
    q = assigned.filter(F.col(id_col) < query_max_id).select(
        F.col(id_col).alias("query_id"), F.col("__vec_d").alias("__qvec")
    )
    qd2s, _ = _nearest_centroid_sql(cent_list, "__qvec")
    probes = (
        q.select(
            "query_id",
            "__qvec",
            F.explode(_nearest_probes_expr(qd2s, n_probe)).alias("p"),
        )
        .select("query_id", "__qvec", F.col("p.cluster").alias("cluster"))
    )

    norms = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("__cluster").alias("cluster"),
        F.col("__vec_d").alias("__nvec"),
        F.expr(f"sqrt({_dot_sql('__vec_d', '__vec_d')})").alias("__nnorm"),
    ).filter(F.col("__nnorm") > 0.0)  # zero-norm has no cosine (r11 probe)
    pairs = F.broadcast(probes).join(norms, "cluster").filter(
        (F.col("query_id") != F.col("neighbor_id"))
        # zero-norm QUERY vectors rank nothing — and under ANSI the
        # division would abort the job rather than yield NULL
        & (F.expr(_dot_sql("__qvec", "__qvec")) > 0.0)
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        round4_stable(
            F.expr(
                f"({_dot_sql('__qvec', '__nvec')}) / "
                f"(sqrt({_dot_sql('__qvec', '__qvec')}) * __nnorm)"
            )
        ).alias("cosine"),
    )
    return _top_k(
        scored, top_k, F.col("cosine").desc(), F.col("neighbor_id")
    ).select("query_id", "neighbor_id", "cosine", "rank")


def label_centroids(
    df: DataFrame, label_col: str, vec_col: str
) -> DataFrame:
    """Per-label centroid of an embedding column as (label, dim, value)
    rows — posexplode + one groupBy. The long format keeps the shuffle rows
    tiny and is what a downstream IVF coarse quantizer or class-prototype
    classifier consumes.

    The mean is a SORTED sequential fold, not ``avg``: partial-aggregate
    summation order differs between Spark partials and any other engine, so
    a plain ``avg`` over raw doubles can flip the 4th decimal near a
    rounding boundary. Sorting the group's values first fixes one IEEE
    summation order that any engine reproduces (DuckDB:
    ``list_reduce(list_sort(list(v)))``). Cost is a per-(label, dim)
    collect_list — bounded by |docs with that label|; at 100 TB scale,
    switch to plain ``avg`` and a tolerance check instead of exact hashes.
    """
    exploded = df.select(
        F.col(label_col),
        F.posexplode(F.expr(_double_vec_sql(vec_col))).alias("d0", "v"),
    )
    vs = "array_sort(collect_list(v))"
    mean = F.expr(f"aggregate({vs}, 0.0D, (acc, x) -> acc + x) / size({vs})")
    return (
        exploded.groupBy(label_col, (F.col("d0") + 1).alias("d"))
        .agg(round4_stable(mean).alias("c"))
    )


def lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_max_id: int,
    top_k: int = 5,
    num_planes: int = 8,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket,
    then exact cosine ranking within the bucket. The join is on bucket keys
    — at scale this turns |queries| x |corpus| into |queries| x |bucket|.

    RECALL WARNING (emitted at call time): a SINGLE hyperplane bucket
    probe measures ~0.16 recall@5 on the synthetic embedding set — fine
    for high-similarity near-duplicate lookups (near-dups almost always
    share the bucket), wrong for general nearest-neighbor ranking. For
    general ANN use ``ivfpq_topk(init='kmeans')`` (0.64 recall@5
    measured) or ``multiprobe_lsh_topk`` (probes neighboring buckets).
    See USAGE.md §"Which ANN index?".
    """
    import warnings

    warnings.warn(
        "lsh_topk probes ONE hyperplane bucket (~0.16 recall@5 measured on"
        " the synthetic set): suitable for high-similarity near-dup"
        " lookups only. For general ANN ranking use"
        " ivfpq_topk(init='kmeans') or multiprobe_lsh_topk — see USAGE.md"
        " §'Which ANN index?'.",
        stacklevel=2,
    )
    # the bucket is a narrow projection of the same vector column with_norm
    # already carries, so the search needs no corpus id self-join
    from feature_store_fraud_detection_spark.operators.dedup import (
        fan_out_if_few_inputs,
    )

    planes = hyperplanes_literal(num_planes, _probe_dim(df, vec_col))
    v = with_norm(
        fan_out_if_few_inputs(df, id_col), id_col, vec_col
    ).withColumn("bucket", bucket_expr("__vec_d", planes))
    q = v.filter(F.col(id_col) < query_max_id).select(
        F.col(id_col).alias("query_id"),
        F.col("__vec_d").alias("__qvec"),
        F.col("__norm").alias("__qnorm"),
        F.col("bucket").alias("__qbucket"),
    )
    pairs = F.broadcast(q).join(
        v,
        (F.col("__qbucket") == F.col("bucket"))
        & (F.col("query_id") != F.col(id_col)),
    )
    scored = pairs.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        round4_stable(F.expr(_PAIR_COSINE_SQL)).alias("cosine"),
    )
    return _top_k(
        scored, top_k, F.col("cosine").desc(), F.col("neighbor_id")
    ).select("query_id", "neighbor_id", "cosine", "rank")


def sq8_quantize(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Per-dimension symmetric int8 scalar quantization (the FAISS "SQ8"
    layout): scale_d = max(|v_d|) over the corpus, code = floor(v/scale*127
    + 0.5) in [-127, 127]. Returns (id, __codes array<int>, __scales).

    At 100 TB this is the storage/IO win that makes ANN affordable: 4x
    smaller vectors (int8 vs float32) scanned per query, with the scales a
    tiny per-dimension array computed once and broadcast. The stats pass is
    one posexplode + groupBy(dim) — shuffle rows are (dim, partial max)
    after map-side combine, i.e. ~|dims| per task, not |corpus| x |dims|.

    floor(x + 0.5) instead of round(): identical halfway behavior on every
    engine (the repo-wide quotient-rounding rule), so codes — and therefore
    every downstream distance — are bit-reproducible cross-engine. A
    zero scale (all-zero dimension) quantizes to code 0.
    """
    vecs = df.select(
        F.col(id_col), F.expr(_double_vec_sql(vec_col)).alias("__vec_d")
    )
    scales = (
        vecs.select(F.posexplode("__vec_d").alias("d0", "v"))
        .groupBy("d0")
        .agg(F.max(F.abs(F.col("v"))).alias("s"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(d0, s))), x -> x.s)"
            ).alias("__scales")
        )
    )
    return vecs.crossJoin(F.broadcast(scales)).select(
        F.col(id_col),
        F.expr(
            "zip_with(__vec_d, __scales, (v, s) -> CASE WHEN s = 0.0D THEN 0 "
            "ELSE cast(floor(v / s * 127 + 0.5D) as int) END)"
        ).alias("__codes"),
        F.col("__scales"),
    )


def sq8_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_max_id: int,
    top_k: int = 5,
) -> DataFrame:
    """Exact top-k cosine over SQ8-quantized vectors — the compressed-domain
    twin of :func:`cosine_topk` (same broadcast-query / window-top-k plan),
    ranking on dequantized codes (code * scale / 127). Quantization error
    vs the float baseline is bounded by scale/254 per dimension; ranks for
    well-separated neighbors are unchanged while the scan reads 1/4 the
    bytes. Dot products are sequential left-folds (engine-portable)."""
    deq = sq8_quantize(df, id_col, vec_col).select(
        F.col(id_col),
        F.expr("zip_with(__codes, __scales, (c, s) -> c * s / 127)").alias(
            "__vec_d"
        ),
    )
    v = deq.select(
        F.col(id_col),
        F.col("__vec_d"),
        F.expr(f"sqrt({_dot_sql('__vec_d', '__vec_d')})").alias("__norm"),
        # zero-norm dequantized vectors (empty or all-zero input) have no
        # cosine — drop, don't DIVIDE_BY_ZERO (round-11 probe)
    ).filter(F.col("__norm") > 0.0)
    q = v.filter(F.col(id_col) < query_max_id).select(
        F.col(id_col).alias("query_id"),
        F.col("__vec_d").alias("__qvec"),
        F.col("__norm").alias("__qnorm"),
    )
    scored = F.broadcast(q).join(v, F.col("query_id") != F.col(id_col)).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        round4_stable(F.expr(_PAIR_COSINE_SQL)).alias("qcosine"),
    )
    return _top_k(
        scored, top_k, F.col("qcosine").desc(), F.col("neighbor_id")
    ).select("query_id", "neighbor_id", "qcosine", "rank")


def knn_classify(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    query_max_id: int,
    k: int = 5,
) -> DataFrame:
    """k-nearest-neighbor label prediction: each query vector (id <
    query_max_id) takes the majority label of its k nearest (cosine)
    neighbors in the labeled corpus (id >= query_max_id), ties broken
    toward the smaller label — fully deterministic, so the prediction is
    oracle-checkable end to end.

    Scale: identical profile to cosine_topk (broadcast queries, one corpus
    scan, WindowGroupLimit top-k) plus two tiny aggregates over |queries| x
    k rows. Swap the scan side for lsh/ivf bucket probes at 100 TB — the
    voting stages are unchanged.
    """
    base = with_norm(df, id_col, vec_col, label_col)
    q = base.filter(F.col(id_col) < query_max_id).select(
        F.col(id_col).alias("query_id"),
        F.col("__vec_d").alias("__qvec"),
        F.col("__norm").alias("__qnorm"),
    )
    corpus = base.filter(F.col(id_col) >= query_max_id)
    scored = (
        F.broadcast(q)
        .join(corpus)
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.col(label_col).alias("neighbor_label"),
            round4_stable(F.expr(_PAIR_COSINE_SQL)).alias("cosine"),
        )
    )
    topk = _top_k(scored, k, F.col("cosine").desc(), F.col("neighbor_id"))
    votes = topk.groupBy("query_id", "neighbor_label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w_vote = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("neighbor_label")
    )
    return (
        votes.withColumn("vr", F.row_number().over(w_vote))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            F.col("neighbor_label").alias("predicted_label"),
            F.col("n_votes").cast("bigint").alias("n_votes"),
        )
    )


def hard_negatives(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    query_max_id: int,
    top_k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive/metric training: for every query
    vector (id < query_max_id), the top-k most-SIMILAR vectors with a
    DIFFERENT label — the negatives a trainer learns most from (easy
    negatives are already far; near-duplicates of another class are the
    informative ones).

    Same plan shape as :func:`cosine_topk` — broadcast query side, one
    corpus scan, per-query WindowGroupLimit top-k — with the label
    inequality folded into the join condition so cross-label pairs are
    scored and same-label pairs never materialize.
    """
    v = with_norm(df, id_col, vec_col, label_col)
    q = v.filter(F.col(id_col) < query_max_id).select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col("__vec_d").alias("__qvec"),
        F.col("__norm").alias("__qnorm"),
    )
    pairs = F.broadcast(q).join(
        v, F.col("query_label") != F.col(label_col)
    )
    scored = pairs.select(
        "query_id",
        "query_label",
        F.col(id_col).alias("negative_id"),
        F.col(label_col).alias("negative_label"),
        round4_stable(F.expr(_PAIR_COSINE_SQL)).alias("cosine"),
    )
    return _top_k(
        scored, top_k, F.col("cosine").desc(), F.col("negative_id")
    ).select(
        "query_id",
        "query_label",
        "negative_id",
        "negative_label",
        "cosine",
        F.col("rank").cast("int").alias("rank"),
    )


def recall_at_k(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall of an approximate search against an exact one: how
    many of the EXACT top-k neighbors the approximate search recovered —
    the report every production ANN deployment keeps next to its index, so
    a bad hyperplane count, codebook or probe count is a dashboard row,
    not a silent quality loss.

    ``exact`` and ``approx`` are any frames with ``(query_id,
    neighbor_id)`` columns — typically ``cosine_topk`` / ``l2_topk`` and
    the search being audited, called with the same ``query_max_id`` and
    ``top_k``. One exact ground truth can score any number of candidate
    sets. Returns (query_id, n_exact, n_approx, n_hit, recall), one row per
    query of ``exact``; a query the approximate search returned nothing
    for reports 0 / 0 / recall 0. Recall is 4-decimal rounded for
    cross-engine hashing; the cost is one |queries| x k semi-join on top
    of the two searches.
    """
    exact = exact.select("query_id", "neighbor_id")
    approx = approx.select("query_id", "neighbor_id")
    n_exact = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_exact")
    )
    n_approx = approx.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_approx")
    )
    n_hit = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_hit"))
    )
    return (
        n_exact.join(n_approx, "query_id", "left")
        .join(n_hit, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_approx", F.lit(0)).alias("n_approx"),
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            round4_stable(
                F.coalesce("n_hit", F.lit(0)).cast("double")
                / F.col("n_exact").cast("double")
            ).alias("recall"),
        )
    )


def _flip_bit(bucket: Column, p: int) -> Column:
    """The bucket string with bit position p (0-based) toggled."""
    ch = F.substring(bucket, p + 1, 1)
    flipped = F.when(ch == "1", F.lit("0")).otherwise(F.lit("1"))
    return F.concat(
        F.substring(bucket, 1, p), flipped, F.substring(bucket, p + 2, 2_147_483_000)
    )


def multiprobe_lsh_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_max_id: int,
    top_k: int = 5,
    num_planes: int = 8,
) -> DataFrame:
    """Multi-probe LSH top-k: each query searches its own bucket PLUS every
    bucket at Hamming distance 1 (one hyperplane flipped) — the standard
    recall fix for random-hyperplane LSH, whose single-bucket recall
    collapses when planes shatter the space (measured by
    :func:`recall_at_k` against :func:`cosine_topk`: 0-20% at 8 planes on
    this corpus; multi-probe lifts it several-fold for (num_planes+1)x the
    candidate volume).

    Shape: the corpus keeps ONE bucket per vector (the index is unchanged —
    probing is free at index time); only the broadcast QUERY side fans out
    to num_planes+1 probe rows. Candidates join on bucket keys exactly like
    :func:`lsh_topk`; each (query, neighbor) pair arises from at most one
    probe (probe buckets are distinct strings), so no dedup is needed.
    """
    from feature_store_fraud_detection_spark.operators.dedup import (
        fan_out_if_few_inputs,
    )

    planes = hyperplanes_literal(num_planes, _probe_dim(df, vec_col))
    v = with_norm(
        fan_out_if_few_inputs(df, id_col), id_col, vec_col
    ).withColumn("bucket", bucket_expr("__vec_d", planes))
    probes = F.array(
        F.col("bucket"), *[_flip_bit(F.col("bucket"), p) for p in range(num_planes)]
    )
    q = (
        v.filter(F.col(id_col) < query_max_id)
        .select(
            F.col(id_col).alias("query_id"),
            F.col("__vec_d").alias("__qvec"),
            F.col("__norm").alias("__qnorm"),
            F.explode(probes).alias("__qbucket"),
        )
    )
    pairs = F.broadcast(q).join(
        v,
        (F.col("__qbucket") == F.col("bucket"))
        & (F.col("query_id") != F.col(id_col)),
    )
    scored = pairs.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        round4_stable(F.expr(_PAIR_COSINE_SQL)).alias("cosine"),
    )
    return _top_k(
        scored, top_k, F.col("cosine").desc(), F.col("neighbor_id")
    ).select("query_id", "neighbor_id", "cosine", "rank")


def _pq_subvectors(
    vecs: DataFrame, keys: list[str], m: int, sub_dim: int
) -> DataFrame:
    """(keys..., sub, s): each ``__v`` vector's m contiguous sub-vectors
    from ONE scan — an explode of an m-element struct array. A unionByName
    of m sliced selects would scan the source m times (16 passes at
    m=16)."""
    subs = F.expr(
        f"transform(sequence(0, {int(m) - 1}), j -> named_struct("
        f"'sub', cast(j as int), "
        f"'s', slice(__v, j * {int(sub_dim)} + 1, {int(sub_dim)})))"
    )
    return vecs.select(*keys, F.explode(subs).alias("e")).select(
        *keys, "e.sub", "e.s"
    )


def _md5_sample(vecs: DataFrame, id_col: str, salt: str, n: int) -> list:
    """The ``n`` rows with the smallest ``(md5(salt||'|'||id), id)``,
    collected — the deterministic training sample of the PQ/IVF-PQ
    quantizers (a pure function of the data, reproducible on any engine
    with md5)."""
    return (
        vecs.orderBy(
            F.md5(F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string"))),
            F.col(id_col),
        )
        .limit(n)
        .collect()
    )


def _sub_dim(op: str, dim: int, m: int) -> int:
    """Sub-vector width of an ``m``-way product quantizer; fails loud when
    ``m`` does not divide ``dim`` (the trailing ``dim % m`` components
    would otherwise be silently dropped from every distance)."""
    if m <= 0 or dim % m:
        raise ValueError(
            f"{op}: dim {dim} is not divisible by m={m} — choose m dividing "
            "the vector dimension"
        )
    return dim // m


def pq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_max_id: int,
    top_k: int = 5,
    m: int = 2,
    k_per_sub: int = 16,
    salt: str = "pq",
) -> DataFrame:
    """Product-quantization approximate top-k (the compressed-domain scan
    next to SQ8): vectors split into ``m`` contiguous subspaces, each
    subspace quantized against its own ``k_per_sub``-entry codebook, and
    queries ranked by the classic ADC (asymmetric distance computation) —
    per query a tiny (m x k) distance table, per corpus vector only its m
    small codes. Returns (query_id, neighbor_id, adist2, rank) by ascending
    approximate squared L2.

    Codebooks are DETERMINISTIC: the ``k_per_sub`` corpus vectors with the
    smallest ``(md5(salt||id), id)`` donate their sub-vectors (the same
    sampled-training-set practice as ``ivf_topk(init='md5_sample')``), so
    encoding, distance tables, and ranking are pure functions of the data —
    the whole query hash-checks against a SQL twin.

    Scale: the corpus is touched twice (encode, then the code-only ADC
    join); codes are m small ints per vector (the 32x-compression memory
    shape PQ exists for); the per-query distance table broadcasts. Encoding
    shuffles nothing — it's a broadcast-join + per-row argmin.
    """
    spark = df.sparkSession
    vecs = _double_vectors(df, id_col, vec_col, "__v")
    picked = _md5_sample(vecs, id_col, salt, k_per_sub)
    # dimension comes from the codebook sample itself, so there is no
    # separate size probe job. An EMPTY corpus still fails loud with the
    # operator's name (round-10 degenerate-probe convention).
    if not picked:
        raise ValueError("pq_topk: empty embedding corpus — nothing to train a quantizer on")
    sub_dim = _sub_dim("pq_topk", len(picked[0]["__v"]), m)
    cb_rows = [
        (j, c, list(r["__v"][j * sub_dim : (j + 1) * sub_dim]))
        for j in range(m)
        for c, r in enumerate(picked)
    ]
    cb = spark.createDataFrame(cb_rows, "sub int, code int, cent array<double>")

    # corpus encoding: broadcast the codebook, take the per-(id, sub)
    # argmin with min_by, not a row_number window: min_by(code, struct(__d2,
    # code)) reduces map-side, so the exchange carries |corpus|*m tiny rows
    # and nothing sorts. The struct ordering (d2 asc, then code asc) is the
    # ``row_number() over (order by __d2, code)`` tie-break, so every
    # winner is bit-identical (guide §2.3, "aggregate before you shuffle").
    from feature_store_fraud_detection_spark.operators.dedup import (
        fan_out_if_few_inputs,
    )

    sv = _pq_subvectors(
        fan_out_if_few_inputs(vecs, id_col), [id_col], m, sub_dim
    )
    d2 = F.expr(_l2sq_sql("s", "cent"))
    codes = (
        sv.join(F.broadcast(cb), "sub")
        .groupBy(id_col, "sub")
        .agg(F.min_by("code", F.struct(d2, F.col("code"))).alias("code"))
        .select(F.col(id_col).alias("neighbor_id"), "sub", "code")
    )

    # ADC: per query an (m x k) distance table against every codebook
    # entry (query side only — sub-vectors of the few query rows)
    qt = (
        _pq_subvectors(
            vecs.filter(F.col(id_col) < query_max_id), [id_col], m, sub_dim
        )
        .join(F.broadcast(cb), "sub")
        .select(
            F.col(id_col).alias("query_id"), "sub", "code", d2.alias("__qd")
        )
    )
    # sum of m per-subspace distances via a SORTED fold: with m > 2 the
    # group-sum order would otherwise differ between engines in the last
    # bit (m values per group — the sort is O(m log m) on tiny arrays)
    fold = F.expr(
        "aggregate(array_sort(collect_list(__qd)), 0.0D, "
        "(acc, x) -> acc + x)"
    )
    scored = (
        codes.join(F.broadcast(qt), ["sub", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg((F.floor(fold * 10000 + F.lit(0.5)) / 10000).alias("adist2"))
    )
    return _top_k(scored, top_k, F.col("adist2"), F.col("neighbor_id")).select(
        "query_id", "neighbor_id", "adist2", "rank"
    )


def _numpy_kmeans(
    X, k: int, seed: int = 42, iters: int = 20
):
    """Seeded Lloyd k-means on a driver-side training sample — how FAISS
    trains coarse quantizers and PQ codebooks (on a bounded sample, never
    the full corpus; assignment/encoding stay distributed). Deterministic
    for fixed (sample, seed); empty clusters re-seed to the point farthest
    from its centroid."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    rng = np.random.default_rng(seed)
    k = min(k, len(X))
    cent = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        asg = d2.argmin(axis=1)
        moved = 0.0
        for c in range(k):
            members = X[asg == c]
            if len(members) == 0:
                far = d2[np.arange(len(X)), asg].argmax()
                cent[c] = X[far]
                continue
            new = members.mean(axis=0)
            moved += float(((new - cent[c]) ** 2).sum())
            cent[c] = new
        if moved < 1e-12:
            break
    return cent


def ivfpq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_max_id: int,
    top_k: int = 5,
    num_clusters: int = 8,
    n_probe: int = 2,
    m: int = 16,
    k_per_sub: int = 64,
    coarse_salt: str = "ivfpq",
    pq_salt: str = "pq",
    residual: bool = False,
    init: str = "md5_sample",
    seed: int = 42,
    max_train_rows: int = 100_000,
) -> DataFrame:
    """IVF-PQ composite ANN — the standard billion-scale index shape
    (FAISS IVFPQ): an IVF coarse quantizer prunes the search to ``n_probe``
    inverted lists, and within those lists candidates are ranked by PQ ADC
    distance over their m compact codes, never their raw vectors. Returns
    (query_id, neighbor_id, adist2, rank).

    Two quantizer inits, same search:

    * ``init="md5_sample"`` (default, the ORACLE shape) — both quantizers
      pick md5-ordered corpus vectors as centroids (different salts ->
      independent samples), so the full pipeline — coarse assignment,
      probe selection, codes, distance tables, ranking — is a pure
      function of the data and hash-checks against a generated SQL twin.
    * ``init="kmeans"`` (the QUALITY shape, the documented ANN default —
      see USAGE.md) — coarse centroids AND per-subspace PQ codebooks are
      trained with seeded Lloyd k-means on a bounded md5-ordered sample
      (``max_train_rows``), driver-side, exactly FAISS's train() practice;
      assignment/encoding stay distributed. Deterministic for fixed
      (data, seed) but iterative, so queries built on it are rows-only to
      the oracle gate; recall is measured by ``recall_at_k`` against
      ``l2_topk`` and pinned in tests/bench (recall@5 >= 0.5 at sf0.1 vs
      0.3-0.4 sampled).

    ``residual=False`` quantizes RAW vectors; ``residual=True`` is the
    true IVFADC shape — codes quantize ``v - centroid[list]`` and each
    query builds a SEPARATE distance table per probed list from its own
    residual against that list's centroid. NOTE the measured trade with
    md5-SAMPLED quantizers: residual encoding helps when centroids are
    trained MEANS (residuals shrink toward zero); with sampled-vector
    centroids a residual is the difference of two data points — LARGER
    and noisier than the raw vector — and recall@5 measured 0.14 residual
    vs 0.22 raw at sf0.01. Keep residual=False with sampled codebooks;
    pair residual=True with init="kmeans". Determinism holds either way
    (exact subtraction).

    Scale: per query the work is |corpus|/num_clusters * n_probe code rows
    (+ an (m x k) broadcast distance table); the corpus contributes only
    its coarse list id and m codes — the 32x memory compression that makes
    the index RAM-resident at 100 TB of raw vectors.
    """
    spark = df.sparkSession
    vecs = _double_vectors(df, id_col, vec_col, "__v")
    if init == "kmeans":
        # bounded md5-ordered training sample (deterministic for fixed
        # data); FAISS-style driver-side quantizer training
        train_rows = _md5_sample(vecs, id_col, coarse_salt, max_train_rows)
        if not train_rows:
            raise ValueError("ivfpq_topk: empty embedding corpus — nothing to train a quantizer on")
        import numpy as np

        X_train = np.array([list(r["__v"]) for r in train_rows])
        coarse_cent = _numpy_kmeans(X_train, num_clusters, seed=seed)
        cent_list = [[float(x) for x in c] for c in coarse_cent]
    elif init == "md5_sample":
        # --- coarse quantizer: md5-sampled centroids, nearest-list assignment
        coarse_rows = _md5_sample(vecs, id_col, coarse_salt, num_clusters)
        cent_list = [list(r["__v"]) for r in coarse_rows]
    else:
        raise ValueError(f"unknown init {init!r}")
    # dimension from the quantizer sample, so there is no separate size
    # probe job; an empty corpus still fails loud (round-10
    # degenerate-probe convention)
    if not cent_list:
        raise ValueError("ivfpq_topk: empty embedding corpus — nothing to train a quantizer on")
    sub_dim = _sub_dim("ivfpq_topk", len(cent_list[0]), m)
    # the centroid table is driver-side in BOTH inits — assignment and
    # probe selection are narrow literal expressions (bit-identical
    # (d2, cluster) tie-breaks; no corpus x centroids crossJoin, no
    # row_number shuffle — see _nearest_centroid_sql)
    cent_sql = lit_double_array2_sql(cent_list)
    cd2s, cluster_sql = _nearest_centroid_sql(cent_list, "__v")
    # corpus-side assignment + encoding are CPU-bound narrow expressions —
    # fan the corpus out so they never serialize on a one-file input
    # (no-op at scale)
    from feature_store_fraud_detection_spark.operators.dedup import (
        fan_out_if_few_inputs,
    )

    assigned = fan_out_if_few_inputs(vecs, id_col).select(
        id_col, F.expr(cluster_sql).alias("cluster")
    )
    probes = (
        vecs.filter(F.col(id_col) < query_max_id)
        .select(
            F.col(id_col).alias("query_id"),
            F.explode(_nearest_probes_expr(cd2s, n_probe)).alias("p"),
        )
        .select("query_id", F.col("p.cluster").alias("cluster"))
    )

    # --- PQ codebooks / codes / per-query distance tables (pq_topk shape).
    # In residual mode everything downstream operates on v - centroid[list].
    if residual:
        enc_vecs = vecs.select(
            F.col(id_col),
            F.expr(
                f"zip_with(__v, element_at({cent_sql}, {cluster_sql} + 1), "
                f"(a, b) -> a - b)"
            ).alias("__v"),
        )
    else:
        enc_vecs = vecs
    if init == "kmeans":
        # per-subspace codebooks trained on the (residual-adjusted) sample:
        # real PQ training — each subspace gets k_per_sub Lloyd centroids
        if residual:
            # residual-encode the training sample driver-side: nearest
            # coarse centroid per sampled vector, subtract
            d2s = ((X_train[:, None, :] - coarse_cent[None, :, :]) ** 2).sum(
                axis=2
            )
            X_enc = X_train - coarse_cent[d2s.argmin(axis=1)]
        else:
            X_enc = X_train
        cb_subs = []
        for j in range(m):
            sub = X_enc[:, j * sub_dim : (j + 1) * sub_dim]
            cents = _numpy_kmeans(sub, k_per_sub, seed=seed + j + 1)
            cb_subs.append([[float(x) for x in v] for v in cents])
    else:
        picked = _md5_sample(enc_vecs, id_col, pq_salt, k_per_sub)
        cb_subs = [
            [list(r["__v"][j * sub_dim : (j + 1) * sub_dim]) for r in picked]
            for j in range(m)
        ]
    # the (sub, code, cent) table feeds the per-QUERY distance tables
    # and the broadcast side of the corpus min_by encode below
    cb = spark.createDataFrame(
        [
            (j, c, cb_subs[j][c])
            for j in range(m)
            for c in range(len(cb_subs[j]))
        ],
        "sub int, code int, cent array<double>",
    )
    d2 = F.expr(_l2sq_sql("s", "cent"))
    # corpus encoding: broadcast codebook + min_by partial-agg argmin —
    # the bit-identical (d2, code) winner of a row_number window, but the
    # exchange carries |corpus|*m rows and nothing sorts (see pq_topk)
    codes = (
        _pq_subvectors(
            fan_out_if_few_inputs(enc_vecs, id_col), [id_col], m, sub_dim
        )
        .join(F.broadcast(cb), "sub")
        .groupBy(id_col, "sub")
        .agg(F.min_by("code", F.struct(d2, F.col("code"))).alias("code"))
        .select(F.col(id_col).alias("neighbor_id"), "sub", "code")
    )
    if residual:
        # per-(query, probed list) residual distance tables: the query's
        # residual against EACH probed centroid gets its own (m x k) table
        qres = probes.join(
            vecs.select(
                F.col(id_col).alias("query_id"), F.col("__v").alias("__qv")
            ),
            "query_id",
        ).select(
            "query_id",
            "cluster",
            F.expr(
                f"zip_with(__qv, element_at({cent_sql}, cluster + 1), "
                f"(a, b) -> a - b)"
            ).alias("__v"),
        )
        qt_keys = ["query_id", "cluster", "sub", "code"]
        qt = (
            _pq_subvectors(qres, ["query_id", "cluster"], m, sub_dim)
            .join(F.broadcast(cb), "sub")
            .select(*qt_keys, d2.alias("__qd"))
        )
    else:
        qt = (
            _pq_subvectors(
                enc_vecs.filter(F.col(id_col) < query_max_id),
                [id_col],
                m,
                sub_dim,
            )
            .join(F.broadcast(cb), "sub")
            .select(
                F.col(id_col).alias("query_id"), "sub", "code", d2.alias("__qd")
            )
        )
        qt_keys = ["query_id", "sub", "code"]

    # --- probed-list candidate pairs, then ADC over their codes (residual
    # mode keeps the list id on the pair so each query uses the distance
    # table built against THAT list's centroid)
    cand = probes.join(
        assigned.select(F.col(id_col).alias("neighbor_id"), "cluster"),
        "cluster",
    ).select("query_id", "neighbor_id", "cluster")
    fold = F.expr(
        "aggregate(array_sort(collect_list(__qd)), 0.0D, "
        "(acc, x) -> acc + x)"
    )
    scored = (
        F.broadcast(cand)
        .join(codes, "neighbor_id")
        .join(F.broadcast(qt), qt_keys)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg((F.floor(fold * 10000 + F.lit(0.5)) / 10000).alias("adist2"))
    )
    return _top_k(scored, top_k, F.col("adist2"), F.col("neighbor_id")).select(
        "query_id", "neighbor_id", "adist2", "rank"
    )


def l2_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_max_id: int,
    top_k: int = 5,
) -> DataFrame:
    """Exact top-k by squared L2 — the recall ground truth for the PQ
    family (which approximates L2, not cosine; see :func:`recall_at_k`).
    Broadcast queries, one corpus scan, per-query WindowGroupLimit rank;
    ties break on neighbor_id."""
    vecs = _double_vectors(df, id_col, vec_col, "__v")
    q = vecs.filter(F.col(id_col) < query_max_id).select(
        F.col(id_col).alias("query_id"), F.col("__v").alias("__qv")
    )
    scored = (
        F.broadcast(q)
        .join(vecs, F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.expr(_l2sq_sql("__qv", "__v")).alias("d2"),
        )
    )
    return _top_k(scored, top_k, F.col("d2"), F.col("neighbor_id")).select(
        "query_id", "neighbor_id", "d2", "rank"
    )


def embedding_covariance(
    df: DataFrame,
    vec_col: str,
    dim: int,
    scale: int = 1_000_000,
) -> DataFrame:
    """Exact covariance matrix of an embedding column — the one-scan prep
    for PCA/whitening/decorrelation of a vector space before indexing
    (the train() step FAISS's OPQ/PCA transforms run; here the MOMENTS
    are the engine's job and the tiny d x d eigendecomposition is the
    caller's, mirroring ridge_normal_equations' split).

    Returns the upper triangle: (i, j, n_vecs, cov) for 0 <= i <= j < dim
    with cov = (S_ij - S_i*S_j/n) / n (population covariance).

    Cross-engine exactness: components scale to BIGINT via
    floor(x*scale + 0.5) (half-up in both engines, no libm round), so
    every moment is an exact integer sum in DECIMAL — order-independent
    — and the final quotient is a fixed sequence of IEEE ops on
    double-exact inputs, floor-rounded to 4 decimals.

    Scale design: the d^2 fanout happens BEFORE a map-side-combined
    (i, j) aggregate, so each task emits at most d*(d+1)/2 partial rows
    no matter how many vectors it read; the shuffle moves
    O(tasks * d^2) counters, never vectors. CPU is the inherent
    n*d^2/2 multiply cost of covariance. NULL / wrong-dimension vectors
    are excluded (validate_embeddings is the audit for how many).
    """
    vec = F.col(_sql_ident(vec_col))
    xs = F.expr(
        f"transform({_sql_ident(vec_col)}, v -> "
        f"cast(floor(cast(v as double) * {int(scale)} + 0.5D) as bigint))"
    )
    base = (
        df.filter(vec.isNotNull() & (F.size(vec) == dim))
        .select(xs.alias("__xs"))
    )
    ij = (
        base.select(F.posexplode("__xs").alias("i", "xi"), F.col("__xs"))
        .select(
            "i",
            "xi",
            F.posexplode("__xs").alias("j", "xj"),
        )
        .filter(F.col("j") >= F.col("i"))
    )
    sums = ij.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(
            (F.col("xi") * F.col("xj")).cast("decimal(38,0)")
        ).alias("__sxy"),
        F.sum(F.col("xi").cast("decimal(38,0)")).alias("__si"),
        F.sum(F.col("xj").cast("decimal(38,0)")).alias("__sj"),
    )
    n = F.col("n_vecs").cast("double")
    sxy = F.col("__sxy").cast("double")
    si = F.col("__si").cast("double")
    sj = F.col("__sj").cast("double")
    cov = (sxy - si * sj / n) / n / F.lit(float(scale) * float(scale))
    return sums.select("i", "j", "n_vecs", round4_stable(cov).alias("cov"))


def pca_components(
    cov_rows: list,
    dim: int,
    n_components: int,
) -> list[list[float]]:
    """Eigendecompose a covariance matrix collected from
    :func:`embedding_covariance` (the bounded d x d driver step, same
    split as ridge_normal_equations' solve). Returns the top
    ``n_components`` eigenvectors (rows), each sign-fixed so its
    largest-magnitude entry is positive — eigenvector sign is otherwise
    arbitrary and would break reproducibility.
    """
    import numpy as np

    c = np.zeros((dim, dim))
    for r in cov_rows:
        c[r["i"]][r["j"]] = r["cov"]
        c[r["j"]][r["i"]] = r["cov"]
    vals, vecs = np.linalg.eigh(c)  # ascending
    order = np.argsort(vals)[::-1][:n_components]
    comps = []
    for idx in order:
        v = vecs[:, idx]
        pivot = int(np.argmax(np.abs(v)))
        if v[pivot] < 0:
            v = -v
        comps.append([float(x) for x in v])
    return comps


def pca_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    components: list[list[float]],
) -> DataFrame:
    """Project vectors onto PCA components (from :func:`pca_components`)
    — dimensionality reduction before indexing/visualization. Components
    ship as one plan literal (a few KB), so the projection is a pure
    scan-stage fold per output dim: no shuffle, no UDF, no broadcast
    join. Output: (id, proj array<double>) with 4-decimal rounding; only
    vectors of the components' dimension are projected.
    """
    if not components:
        raise ValueError("pca_project: no components to project onto")
    vec = F.col(_sql_ident(vec_col))
    # the vector is cast once into an internal column: a caller column
    # referenced inside the lambda below could be shadowed by ``w``
    dot = _dot_sql("__vec_d", "w")
    proj = F.expr(
        f"transform({lit_double_array2_sql(components)}, "
        f"w -> {ROUND4_SQL.format(expr=dot)})"
    )
    return (
        df.filter(vec.isNotNull() & (F.size(vec) == len(components[0])))
        .select(F.col(id_col), F.expr(_double_vec_sql(vec_col)).alias("__vec_d"))
        .select(F.col(id_col), proj.alias("proj"))
    )
