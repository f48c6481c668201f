"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline. Query
  side is broadcast; the data side is scanned once, ranked per query with a
  window top-k (WindowGroupLimit prunes per partition before the shuffle).
- ``lsh_buckets`` / ``lsh_topk``: random-hyperplane LSH — the scale path.
  Hyperplane components are derived from md5 (deterministic, seedable,
  engine-portable), so bucket assignment is reproducible anywhere.

Numeric portability: dot products are sequential left-folds over doubles
(``aggregate(zip_with(...))``) — the exact same IEEE operation order as the
DuckDB oracle's ``list_reduce``, so cosines match bit-for-bit.

All of it is built-in higher-order column functions — JVM-side, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from feature_store_fraud_detection_spark.functions.numeric import (
    lit_double_array2,
    round4_stable,
)


def _sql_ident(name: str) -> str:
    """``name`` as a quoted SQL identifier for the parsed-SQL-text builders:
    backticked, with embedded backticks doubled, so every column name
    parses as exactly that one column."""
    return "`" + name.replace("`", "``") + "`"


def _to_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot_expr(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product: ((0+x1)+x2)+... — deterministic."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _dot_sql(a_sql: str, b_sql: str) -> str:
    """SQL text of :func:`dot_expr` for callers whose operands are plain
    column names / sub-expressions — ONE parsed expression (r13; the
    lambda Column form costs ~25 py4j round-trips per dot product).
    Node-for-node the same plan: the SQL lambda parses to the identical
    higher-order aggregate."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> x * y), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def with_norm(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Attach a double-typed copy of the vector and its L2 norm.

    NULL/empty and zero-NORM vectors are dropped here, centrally: a
    zero-norm vector has no defined cosine against anything, and under
    ANSI mode the division is a job-killing DIVIDE_BY_ZERO rather than a
    NULL (round-11 empty-embedding probe). Every cosine-ranking operator
    flows through this helper, so the contract is uniform: rows that
    cannot be ranked are absent, never silently mis-ranked.

    r13: both expressions are parsed SQL text — the same plan nodes as
    the old ``_to_double``/``dot_expr`` Column composition (which also
    inlined the transform into every reference), minus ~60 py4j
    round-trips per call."""
    vec_d_sql = f"transform({_sql_ident(vec_col)}, x -> cast(x as double))"
    return (
        _valid_vectors(df, vec_col)
        .select(
            F.col(id_col),
            F.expr(vec_d_sql).alias("__vec_d"),
            F.expr(f"sqrt({_dot_sql(vec_d_sql, vec_d_sql)})").alias(
                "__norm"
            ),
        )
        .filter(F.col("__norm") > 0.0)
    )


def cosine_expr(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    return dot_expr(a, b) / (norm_a * norm_b)


def _valid_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Drop NULL/empty vectors before any ANN math: a NULL embedding would
    otherwise flow NULL distances into argmin/rank windows and silently
    produce wrong codes/neighbors. Validation reporting belongs to
    ``validate_embeddings``; search just refuses the rows."""
    vec = F.col(_sql_ident(vec_col))
    return df.filter(vec.isNotNull() & (F.size(vec) > 0))


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
    from pyspark.sql import Window

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
        round4_stable(
            cosine_expr(
                F.col("__qvec"), F.col("__vec_d"), F.col("__qnorm"), F.col("__norm")
            )
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hyperplane_value(plane: Column, dim: Column) -> Column:
    """Deterministic pseudo-random hyperplane component in [-7.5, 7.5]: the
    first hex nibble of md5('plane,dim') minus 7.5. Portable to any engine
    with md5 — no driver-side RNG arrays to broadcast."""
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
    :func:`hyperplane_value`, computed ONCE on the driver (same md5
    nibble arithmetic, bit-identical doubles). ``bucket_expr`` evaluated
    the md5 chain PER ROW — num_planes*dim md5 calls per vector, the
    dominant per-row cost of every LSH consumer at any scale — for
    values that depend only on (plane, dim). r12 optimization, guide
    §1.2 step 2 (per-task work): the constants ship as one plan literal
    instead. The SQL oracle twin keeps spelling the md5 chain — md5 is
    md5 on both engines, so the folded constants are identical."""
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


def bucket_expr(
    vec_d: Column | str,
    num_planes: int = 8,
    planes: list[list[float]] | None = None,
) -> Column:
    """Random-hyperplane LSH bucket key as a pure array-local expression:
    bit p = sign of <vec, H_p>, concatenated over planes. Sequential
    left-fold dot products — deterministic and engine-portable (the
    alternating explode/groupBy formulation sums in shuffle order, whose
    low-bit nondeterminism can flip signs near zero).

    ``planes``: optional pre-computed ``num_planes x dim`` hyperplane
    constants (:func:`hyperplanes_literal`). When given, the per-row md5
    chain is replaced by one literal array — the same doubles, folded in
    the same order, so the bucket strings are bit-identical. Callers that
    know the corpus dimension should pass it; the md5-per-row form stays
    for callers that cannot probe the dimension up front."""

    if planes is not None:
        # one expression string, not per-element py4j lit calls (r12,
        # see functions.numeric.lit_double_array2 — bit-identical).
        # r13: when the vector operand is itself SQL text, the WHOLE
        # bucket expression renders as one parsed string (5 nested
        # lambdas of py4j otherwise); the CASE is exactly the old
        # F.when/otherwise node.
        from feature_store_fraud_detection_spark.functions.numeric import (
            lit_double_array2_sql,
        )

        pl_sql = lit_double_array2_sql(planes)
        if isinstance(vec_d, str) and pl_sql is not None:
            return F.expr(
                f"element_at(transform(array({vec_d}), vb -> concat_ws('', "
                f"transform(sequence(0, {int(num_planes) - 1}), p -> "
                f"CASE WHEN aggregate(zip_with(vb, element_at({pl_sql}, "
                f"cast(p + 1 as int)), (x, h) -> x * h), 0.0D, "
                f"(acc, x) -> acc + x) > 0 THEN '1' ELSE '0' END))), 1)"
            )
        pl = lit_double_array2(planes)
        if isinstance(vec_d, str):  # degenerate-planes fallback
            vec_d = F.expr(vec_d)

        def plane_bit(vb: Column, p: Column) -> Column:
            dot = F.aggregate(
                F.zip_with(
                    vb,
                    F.element_at(pl, (p + 1).cast("int")),
                    lambda x, h: x * h,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            return F.when(dot > 0, F.lit("1")).otherwise(F.lit("0"))

    else:
        if isinstance(vec_d, str):  # md5-per-row path takes a Column
            vec_d = F.expr(vec_d)

        def plane_bit(vb: Column, p: Column) -> Column:
            dot = F.aggregate(
                F.zip_with(
                    vb,
                    F.transform(
                        F.sequence(F.lit(0), F.size(vb) - 1),
                        lambda d: hyperplane_value(p, d),
                    ),
                    lambda x, h: x * h,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            return F.when(dot > 0, F.lit("1")).otherwise(F.lit("0"))

    return F.element_at(
        F.transform(
            F.array(vec_d),
            lambda vb: F.concat_ws(
                "",
                F.transform(
                    F.sequence(F.lit(0), F.lit(num_planes - 1)),
                    lambda p: plane_bit(vb, p),
                ),
            ),
        ),
        1,
    )


def _probe_dim(df: DataFrame, vec_col: str) -> int | None:
    """Vector dimensionality from one row (None on an empty frame) — the
    bounded driver probe pq_topk/ivfpq_topk already pay to size their
    codebooks; LSH callers use it to fold the hyperplane constants."""
    first = (
        _valid_vectors(df, vec_col).select(F.size(vec_col)).first()
    )
    return None if first is None else int(first[0])


def lsh_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_planes: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Assign each vector its hyperplane-LSH bucket key — one narrow
    projection, no shuffle. Cosine-similar vectors agree on most signs, so
    near neighbors collide. Pass ``dim`` (the corpus dimensionality) to
    fold the hyperplane constants into a plan literal instead of the
    md5-per-row chain (bit-identical buckets — see
    :func:`hyperplanes_literal`)."""
    planes = hyperplanes_literal(num_planes, dim) if dim is not None else None
    return df.select(
        F.col(id_col),
        bucket_expr(
            f"transform({_sql_ident(vec_col)}, x -> cast(x as double))",
            num_planes,
            planes,
        ).alias("bucket"),
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
    from pyspark.sql import Window

    vecs = _valid_vectors(df, vec_col).select(
        F.col(id_col), _to_double(F.col(vec_col)).alias("__vec_d")
    )
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
        # fold dist2 both engines, ties broken on cluster id; narrow
        # literal argmin instead of crossJoin + row_number window (r12,
        # see _nearest_centroid_exprs — bit-identical winners). Fanned
        # out so the per-row distance folds never serialize on a
        # one-file corpus (no-op at scale).
        from feature_store_fraud_detection_spark.operators.dedup import (
            fan_out_if_few_inputs,
        )

        _, cluster_expr = _nearest_centroid_exprs(cent_list, "__vec_d")
        assigned = fan_out_if_few_inputs(vecs, id_col).select(
            id_col, "__vec_d", cluster_expr.alias("__cluster")
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
    # probe selection: same (dist2, cluster) ordering as the old per-query
    # row_number window, as a literal array_sort (r12 — no crossJoin;
    # r13 — one parsed SQL string, not a nested-lambda Column tree)
    _qsqls = _nearest_centroid_sqls(cent_list, "__qvec")
    qd2s = (
        _qsqls[0]
        if _qsqls is not None
        else _nearest_centroid_exprs(cent_list, "__qvec")[0]
    )
    probes = (
        q.select(
            "query_id",
            "__qvec",
            F.explode(_nearest_probes_expr(qd2s, n_probe)).alias("p"),
        )
        .select("query_id", "__qvec", F.col("p.cluster").alias("cluster"))
    )

    # dot products as parsed SQL text (r13): same sequential left-fold
    # node-for-node as the dot_expr lambda form, one py4j round-trip
    # per expression instead of ~25
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
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


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
        F.posexplode(_to_double(F.col(vec_col))).alias("d0", "v"),
    )
    vs = F.array_sort(F.collect_list("v"))
    mean = F.aggregate(vs, F.lit(0.0), lambda acc, x: acc + x) / F.size(vs)
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
    from pyspark.sql import Window

    # r12 optimization (guide §2.4): the bucket is a narrow projection of
    # the same vector column with_norm already carries — computing it
    # inline removes the corpus-by-corpus id equi-join (a full shuffle of
    # the corpus on a key unrelated to the search) the old
    # lsh_buckets-then-join shape paid. Bucket strings are bit-identical:
    # same doubles, same fold, hyperplane constants folded to a literal
    # when the dimension is probeable (hyperplanes_literal).
    from feature_store_fraud_detection_spark.operators.dedup import (
        fan_out_if_few_inputs,
    )

    dim = _probe_dim(df, vec_col)
    planes = (
        hyperplanes_literal(num_planes, dim) if dim is not None else None
    )
    v = with_norm(
        fan_out_if_few_inputs(df, id_col), id_col, vec_col
    ).withColumn("bucket", bucket_expr("__vec_d", num_planes, planes))
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
        round4_stable(
            cosine_expr(
                F.col("__qvec"), F.col("__vec_d"), F.col("__qnorm"), F.col("__norm")
            )
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


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
    vecs = df.select(F.col(id_col), _to_double(F.col(vec_col)).alias("__vec_d"))
    scales = (
        vecs.select(F.posexplode("__vec_d").alias("d0", "v"))
        .groupBy("d0")
        .agg(F.max(F.abs(F.col("v"))).alias("s"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d0", "s"))),
                lambda x: x["s"],
            ).alias("__scales")
        )
    )
    return vecs.crossJoin(F.broadcast(scales)).select(
        F.col(id_col),
        F.zip_with(
            "__vec_d",
            "__scales",
            lambda v, s: F.when(s == F.lit(0.0), F.lit(0)).otherwise(
                F.floor(v / s * 127 + F.lit(0.5)).cast("int")
            ),
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
    from pyspark.sql import Window

    deq = sq8_quantize(df, id_col, vec_col).select(
        F.col(id_col),
        F.zip_with(
            "__codes", "__scales", lambda c, s: c * s / F.lit(127)
        ).alias("__vec_d"),
    )
    v = deq.select(
        F.col(id_col),
        F.col("__vec_d"),
        F.sqrt(dot_expr(F.col("__vec_d"), F.col("__vec_d"))).alias("__norm"),
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
        round4_stable(
            cosine_expr(
                F.col("__qvec"), F.col("__vec_d"), F.col("__qnorm"), F.col("__norm")
            )
        ).alias("qcosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "qcosine", "rank")
    )


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
    from pyspark.sql import Window

    vec_d = _to_double(F.col(vec_col))
    base = _valid_vectors(df, vec_col).select(
        F.col(id_col),
        F.col(label_col),
        vec_d.alias("__vec_d"),
        F.sqrt(dot_expr(vec_d, vec_d)).alias("__norm"),
    ).filter(F.col("__norm") > 0.0)  # zero-norm has no cosine (r11 probe)
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
            round4_stable(
                cosine_expr(
                    F.col("__qvec"), F.col("__vec_d"),
                    F.col("__qnorm"), F.col("__norm"),
                )
            ).alias("cosine"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    topk = scored.withColumn("rn", F.row_number().over(w_rank)).filter(
        F.col("rn") <= k
    )
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
    from pyspark.sql import Window

    vd = _to_double(F.col(vec_col))
    v = _valid_vectors(df, vec_col).select(
        F.col(id_col),
        F.col(label_col),
        vd.alias("__vec_d"),
        F.sqrt(dot_expr(vd, vd)).alias("__norm"),
    ).filter(F.col("__norm") > 0.0)  # zero-norm has no cosine (r11 probe)
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
        round4_stable(
            cosine_expr(
                F.col("__qvec"), F.col("__vec_d"), F.col("__qnorm"), F.col("__norm")
            )
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            "query_id",
            "query_label",
            "negative_id",
            "negative_label",
            "cosine",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def ann_recall_report(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_max_id: int,
    top_k: int = 5,
    num_planes: int = 8,
    multiprobe: bool = False,
) -> DataFrame:
    """Self-evaluation of the LSH ANN path: per query, how many of the EXACT
    top-k neighbors the bucket-restricted search recovered (recall@k) — the
    report every production ANN deployment keeps next to its index so a bad
    hyperplane count or bucket skew is a dashboard row, not a silent quality
    loss.

    Runs both paths (both scale-shaped: broadcast queries, WindowGroupLimit)
    and joins their top-k sets; the cost adds one |queries| x k semi-join to
    what the two searches already do. Recall is 4-decimal rounded for
    cross-engine hashing; queries whose LSH bucket is a singleton recover 0
    and report recall 0.
    """
    exact = cosine_topk(df, id_col, vec_col, query_max_id, top_k).select(
        "query_id", "neighbor_id"
    )
    search = multiprobe_lsh_topk if multiprobe else lsh_topk
    approx = search(df, id_col, vec_col, query_max_id, top_k, num_planes).select(
        "query_id", "neighbor_id"
    )
    n_exact = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_exact")
    )
    n_lsh = approx.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_lsh")
    )
    n_hit = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_hit"))
    )
    return (
        n_exact.join(n_lsh, "query_id", "left")
        .join(n_hit, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_lsh", F.lit(0)).alias("n_lsh"),
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
    :func:`ann_recall_report`: 0-20% at 8 planes on this corpus; multi-probe
    lifts it several-fold for (num_planes+1)x the candidate volume).

    Shape: the corpus keeps ONE bucket per vector (the index is unchanged —
    probing is free at index time); only the broadcast QUERY side fans out
    to num_planes+1 probe rows. Candidates join on bucket keys exactly like
    :func:`lsh_topk`; each (query, neighbor) pair arises from at most one
    probe (probe buckets are distinct strings), so no dedup is needed.
    """
    from pyspark.sql import Window

    # same inline-bucket + literal-planes shape as lsh_topk (r12): no
    # corpus id self-join, no per-row md5 chain — bit-identical buckets
    from feature_store_fraud_detection_spark.operators.dedup import (
        fan_out_if_few_inputs,
    )

    dim = _probe_dim(df, vec_col)
    planes = (
        hyperplanes_literal(num_planes, dim) if dim is not None else None
    )
    v = with_norm(
        fan_out_if_few_inputs(df, id_col), id_col, vec_col
    ).withColumn("bucket", bucket_expr("__vec_d", num_planes, planes))
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
        round4_stable(
            cosine_expr(
                F.col("__qvec"), F.col("__vec_d"), F.col("__qnorm"), F.col("__norm")
            )
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _pq_subvectors(vecs: DataFrame, id_col: str, m: int, sub_dim: int) -> DataFrame:
    """(id, sub, s): each vector's m contiguous sub-vectors from ONE scan —
    an explode of an m-element struct array. A unionByName of m sliced
    selects would scan the source m times (16 passes at m=16). The
    struct-array expression is ONE parsed SQL string (r13; the lambda
    Column form cost ~80 ms of py4j per call, twice per PQ query)."""
    subs = F.expr(
        f"transform(sequence(0, {int(m) - 1}), j -> named_struct("
        f"'sub', cast(j as int), "
        f"'s', slice(__v, j * {int(sub_dim)} + 1, {int(sub_dim)})))"
    )
    return vecs.select(F.col(id_col), F.explode(subs).alias("e")).select(
        id_col, "e.sub", "e.s"
    )



def _d2s_sql(cent_sql: str, vec_col: str) -> str:
    """SQL text of the per-centroid squared-L2 distance array (the
    sequential left-fold of the crossJoin shape, as ONE parsed
    expression — r13: the nested-lambda Column form cost dozens of py4j
    round-trips per build; the semantics are identical node-for-node)."""
    return (
        f"transform({cent_sql}, c -> aggregate("
        f"zip_with({_sql_ident(vec_col)}, c, (a, b) -> (a - b) * (a - b)), "
        f"0.0D, (acc, x) -> acc + x))"
    )


def _nearest_centroid_sqls(
    cent_list: list[list[float]], vec_col: str
) -> tuple[str, str] | None:
    """SQL texts (d2s, cluster) for :func:`_nearest_centroid_exprs`, or
    None for degenerate centroid shapes (empty / non-finite entries)
    that must keep the ``F.lit`` Column fallback."""
    from feature_store_fraud_detection_spark.functions.numeric import (
        lit_double_array2_sql,
    )

    cent_sql = lit_double_array2_sql(cent_list)
    if cent_sql is None:
        return None
    d2s_sql = _d2s_sql(cent_sql, vec_col)
    cluster_sql = (
        f"cast(array_position({d2s_sql}, array_min({d2s_sql})) - 1 as int)"
    )
    return d2s_sql, cluster_sql


def _nearest_centroid_exprs(
    cent_list: list[list[float]], vec_col: str
) -> tuple[Column, Column]:
    """(d2s, cluster) expressions for a driver-side centroid table:
    ``d2s`` = the per-centroid squared-L2 array (same sequential fold as
    the crossJoin shape), ``cluster`` = the argmin index with the same
    (distance, cluster-id) tie-break as ``row_number() over (order by
    __d2, cluster)``. Replaces the corpus x centroids crossJoin + window
    (a |corpus|*k row blow-up through a shuffle) with a narrow
    projection — r12 optimization, guide §2.4. r13: both expressions are
    rendered as ONE SQL string each (the Column-composition form paid
    one py4j round-trip per operator — measured 1,610 round-trips /
    1.25 s of driver wait for one ivf_topk build); the parsed plan nodes
    are identical, pinned by
    test_nearest_centroid_exprs_match_crossjoin_window."""
    sqls = _nearest_centroid_sqls(cent_list, vec_col)
    if sqls is None:
        # degenerate centroid shapes keep the old Column path (F.lit
        # fallback); these never occur for non-empty finite corpora
        cent_lit = lit_double_array2(cent_list)
        d2s = F.transform(
            cent_lit,
            lambda c: F.aggregate(
                F.zip_with(vec_col, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        cluster = (F.array_position(d2s, F.array_min(d2s)) - 1).cast("int")
        return d2s, cluster
    return F.expr(sqls[0]), F.expr(sqls[1])


def _nearest_probes_expr(d2s: Column | str, n_probe: int) -> Column:
    """The ``n_probe`` nearest cluster ids from a per-centroid distance
    array — ``array_sort`` over struct<d2, cluster> sorts by (d2,
    cluster), the exact ordering of the old per-query window; slice
    keeps the probe count (all of them when there are fewer clusters,
    matching ``row_number() <= n_probe``). Accepts the distance array
    as SQL text (r13, one parsed expression) or as a Column (the
    degenerate-centroid fallback)."""
    if isinstance(d2s, str):
        return F.expr(
            f"slice(array_sort(transform({d2s}, (d, i) -> "
            f"named_struct('__d2', d, 'cluster', cast(i as int)))), "
            f"1, {int(n_probe)})"
        )
    structs = F.transform(
        d2s,
        lambda d, i: F.struct(
            d.alias("__d2"), i.cast("int").alias("cluster")
        ),
    )
    return F.slice(F.array_sort(structs), 1, n_probe)


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
    from pyspark.sql import Window

    spark = df.sparkSession
    vecs = _valid_vectors(df, vec_col).select(
        F.col(id_col), _to_double(F.col(vec_col)).alias("__v")
    )
    picked = (
        vecs.orderBy(
            F.md5(F.concat_ws("|", F.lit(salt), F.col(id_col).cast("string"))),
            F.col(id_col),
        )
        .limit(k_per_sub)
        .collect()
    )
    # dimension comes from the codebook sample itself (r13): the separate
    # one-row size probe was a second driver job on every call. An EMPTY
    # corpus still fails loud with the operator's name (round-10
    # degenerate-probe convention).
    if not picked:
        raise ValueError("pq_topk: empty embedding corpus — nothing to train a quantizer on")
    dim = len(picked[0]["__v"])
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    sub_dim = dim // m
    cb_rows = [
        (j, c, list(r["__v"][j * sub_dim : (j + 1) * sub_dim]))
        for j in range(m)
        for c, r in enumerate(picked)
    ]
    cb = spark.createDataFrame(cb_rows, "sub int, code int, cent array<double>")

    # corpus encoding: broadcast the codebook, take the per-(id, sub)
    # argmin with min_by — NOT a row_number window. The old shape
    # shuffled AND sorted all |corpus|*m*k joined rows to rank each
    # group; min_by(code, struct(__d2, code)) reduces map-side, so the
    # exchange carries |corpus|*m tiny rows and nothing sorts. The
    # struct ordering (d2 asc, then code asc) is exactly the old
    # ``row_number() over (order by __d2, code)`` tie-break, so every
    # winner is bit-identical. r12 optimization, guide §2.3
    # ("aggregate before you shuffle").
    from feature_store_fraud_detection_spark.operators.dedup import (
        fan_out_if_few_inputs,
    )

    sv = _pq_subvectors(
        fan_out_if_few_inputs(vecs, id_col), id_col, m, sub_dim
    )
    # one parsed SQL string (r13) — same sequential fold as the lambda
    # Column form, without its ~20 py4j round-trips per reference
    d2 = F.expr(
        "aggregate(zip_with(s, cent, (a, b) -> (a - b) * (a - b)), "
        "0.0D, (acc, x) -> acc + x)"
    )
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
            vecs.filter(F.col(id_col) < query_max_id), id_col, m, sub_dim
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
    w = Window.partitionBy("query_id").orderBy("adist2", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "adist2", "rank")
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
      the oracle gate; recall is measured by ``ivfpq_recall_report`` and
      pinned in tests/bench (recall@5 >= 0.5 at sf0.1 vs 0.3-0.4 sampled).

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
    from pyspark.sql import Window

    spark = df.sparkSession
    vecs = _valid_vectors(df, vec_col).select(
        F.col(id_col), _to_double(F.col(vec_col)).alias("__v")
    )
    if init == "kmeans":
        # bounded md5-ordered training sample (deterministic for fixed
        # data); FAISS-style driver-side quantizer training
        train_rows = (
            vecs.orderBy(
                F.md5(
                    F.concat_ws(
                        "|", F.lit(coarse_salt), F.col(id_col).cast("string")
                    )
                ),
                F.col(id_col),
            )
            .limit(max_train_rows)
            .collect()
        )
        if not train_rows:
            raise ValueError("ivfpq_topk: empty embedding corpus — nothing to train a quantizer on")
        import numpy as np

        X_train = np.array([list(r["__v"]) for r in train_rows])
        coarse_cent = _numpy_kmeans(X_train, num_clusters, seed=seed)
        cent_list = [[float(x) for x in c] for c in coarse_cent]
    elif init == "md5_sample":
        # --- coarse quantizer: md5-sampled centroids, nearest-list assignment
        coarse_rows = (
            vecs.orderBy(
                F.md5(F.concat_ws("|", F.lit(coarse_salt), F.col(id_col).cast("string"))),
                F.col(id_col),
            )
            .limit(num_clusters)
            .collect()
        )
        cent_list = [list(r["__v"]) for r in coarse_rows]
    else:
        raise ValueError(f"unknown init {init!r}")
    # dimension from the quantizer sample (r13): the separate one-row
    # size probe was a second driver job on every call; an empty corpus
    # still fails loud (round-10 degenerate-probe convention)
    if not cent_list:
        raise ValueError("ivfpq_topk: empty embedding corpus — nothing to train a quantizer on")
    dim = len(cent_list[0])
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    sub_dim = dim // m
    # the centroid table is driver-side in BOTH inits — assignment and
    # probe selection are narrow literal expressions (bit-identical
    # (d2, cluster) tie-breaks; no corpus x centroids crossJoin, no
    # row_number shuffle — r12, see _nearest_centroid_exprs)
    cent_lit = lit_double_array2(cent_list)
    _csqls = _nearest_centroid_sqls(cent_list, "__v")
    if _csqls is not None:
        cd2s: Column | str = _csqls[0]
        cluster_expr = F.expr(_csqls[1])
    else:
        cd2s, cluster_expr = _nearest_centroid_exprs(cent_list, "__v")
    # corpus-side assignment + encoding are CPU-bound narrow expressions
    # now — fan the corpus out so they never serialize on a one-file
    # input (no-op at scale; the old crossJoin+window got parallelism
    # from its shuffle)
    from feature_store_fraud_detection_spark.operators.dedup import (
        fan_out_if_few_inputs,
    )

    assigned = fan_out_if_few_inputs(vecs, id_col).select(
        id_col, cluster_expr.alias("cluster")
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
            F.zip_with(
                "__v",
                F.element_at(cent_lit, cluster_expr + 1),
                lambda a, b: a - b,
            ).alias("__v"),
        )
    else:
        enc_vecs = vecs
    if init == "kmeans":
        # per-subspace codebooks trained on the (residual-adjusted) sample:
        # real PQ training — each subspace gets k_per_sub Lloyd centroids
        import numpy as np

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
        picked = (
            enc_vecs.orderBy(
                F.md5(F.concat_ws("|", F.lit(pq_salt), F.col(id_col).cast("string"))),
                F.col(id_col),
            )
            .limit(k_per_sub)
            .collect()
        )
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
    d2 = F.expr(
        "aggregate(zip_with(s, cent, (a, b) -> (a - b) * (a - b)), "
        "0.0D, (acc, x) -> acc + x)"
    )
    # corpus encoding: broadcast codebook + min_by partial-agg argmin —
    # same bit-identical (d2, code) winner as the old row_number window,
    # but the exchange carries |corpus|*m rows and nothing sorts (r12,
    # guide §2.3; see pq_topk)
    codes = (
        _pq_subvectors(
            fan_out_if_few_inputs(enc_vecs, id_col), id_col, m, sub_dim
        )
        .join(F.broadcast(cb), "sub")
        .groupBy(id_col, "sub")
        .agg(F.min_by("code", F.struct(d2, F.col("code"))).alias("code"))
        .select(F.col(id_col).alias("neighbor_id"), "sub", "code")
    )
    if residual:
        # per-(query, probed list) residual distance tables: the query's
        # residual against EACH probed centroid gets its own (m x k) table
        qres = (
            probes.join(
                vecs.select(
                    F.col(id_col).alias("query_id"), F.col("__v").alias("__qv")
                ),
                "query_id",
            )
            .select(
                "query_id",
                "cluster",
                F.zip_with(
                    "__qv",
                    F.element_at(cent_lit, F.col("cluster") + 1),
                    lambda a, b: a - b,
                ).alias("__r"),
            )
        )
        qsubs = F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda j: F.struct(
                j.cast("int").alias("sub"),
                F.slice("__r", j * sub_dim + 1, F.lit(sub_dim)).alias("s"),
            ),
        )
        qsv = qres.select(
            "query_id", "cluster", F.explode(qsubs).alias("e")
        ).select("query_id", "cluster", "e.sub", "e.s")
        qt = qsv.join(F.broadcast(cb), "sub").select(
            "query_id", "cluster", "sub", "code", d2.alias("__qd")
        )
        qt_keys = ["query_id", "cluster", "sub", "code"]
    else:
        qt = (
            _pq_subvectors(
                enc_vecs.filter(F.col(id_col) < query_max_id),
                id_col,
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
        .join(F.broadcast(qt), qt_keys if residual else ["query_id", "sub", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg((F.floor(fold * 10000 + F.lit(0.5)) / 10000).alias("adist2"))
    )
    w = Window.partitionBy("query_id").orderBy("adist2", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "adist2", "rank")
    )


def l2_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_max_id: int,
    top_k: int = 5,
) -> DataFrame:
    """Exact top-k by squared L2 — the recall oracle for the PQ family
    (which approximates L2, not cosine). Broadcast queries, one corpus
    scan, per-query WindowGroupLimit rank; ties break on neighbor_id."""
    from pyspark.sql import Window

    vecs = _valid_vectors(df, vec_col).select(
        F.col(id_col), _to_double(F.col(vec_col)).alias("__v")
    )
    q = vecs.filter(F.col(id_col) < query_max_id).select(
        F.col(id_col).alias("query_id"), F.col("__v").alias("__qv")
    )
    d2 = F.expr(
        "aggregate(zip_with(__qv, __v, (a, b) -> (a - b) * (a - b)), "
        "0.0D, (acc, x) -> acc + x)"
    )
    scored = (
        F.broadcast(q)
        .join(vecs, F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"), d2.alias("d2"))
    )
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "d2", "rank")
    )


def pq_recall_report(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_max_id: int,
    top_k: int = 5,
    m: int = 16,
    k_per_sub: int = 64,
) -> DataFrame:
    """Per-query recall@k of the PQ ADC search against exact L2 — the
    index-quality dashboard for the compressed-domain family, mirroring
    ``ann_recall_report`` for the LSH family. Both searches are
    deterministic, so the recall values themselves hash-check."""
    pq = pq_topk(
        df, id_col, vec_col, query_max_id, top_k=top_k, m=m,
        k_per_sub=k_per_sub,
    ).select("query_id", "neighbor_id")
    exact = l2_topk(df, id_col, vec_col, query_max_id, top_k=top_k).select(
        "query_id", "neighbor_id"
    )
    hits = pq.join(exact, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("__hits")
    )
    base = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("__k"))
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            (
                F.floor(
                    F.coalesce(F.col("__hits"), F.lit(0))
                    / F.col("__k").cast("double")
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("recall"),
        )
    )


def ivfpq_recall_report(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_max_id: int,
    top_k: int = 5,
    num_clusters: int = 8,
    n_probe: int = 2,
    m: int = 16,
    k_per_sub: int = 64,
    init: str = "kmeans",
    residual: bool = False,
    seed: int = 42,
) -> DataFrame:
    """Per-query recall@k of the IVF-PQ search against exact L2 — the
    quality dashboard for the documented ANN default
    (``ivfpq_topk(init='kmeans')``). One row per query (query_id, recall)."""
    approx = ivfpq_topk(
        df,
        id_col,
        vec_col,
        query_max_id,
        top_k=top_k,
        num_clusters=num_clusters,
        n_probe=n_probe,
        m=m,
        k_per_sub=k_per_sub,
        init=init,
        residual=residual,
        seed=seed,
    ).select("query_id", "neighbor_id")
    exact = l2_topk(df, id_col, vec_col, query_max_id, top_k=top_k).select(
        "query_id", "neighbor_id"
    )
    hits = (
        approx.join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    base = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("__k"))
    return base.join(hits, "query_id", "left").select(
        "query_id",
        (
            F.floor(
                F.coalesce(F.col("__hits"), F.lit(0))
                / F.col("__k").cast("double")
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("recall"),
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
    xs = F.transform(
        F.col(vec_col),
        lambda v: F.floor(v.cast("double") * scale + F.lit(0.5)).cast(
            "bigint"
        ),
    )
    base = (
        df.filter(
            F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
        )
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
    ship as plan literals (a few KB), so the projection is a pure
    scan-stage fold per output dim: no shuffle, no UDF, no broadcast
    join. Output: (id, proj array<double>) with 4-decimal rounding.
    """
    comp_cols = [
        F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(float(w)) for w in comp]),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for comp in components
    ]
    return df.filter(
        F.col(vec_col).isNotNull()
        & (F.size(vec_col) == len(components[0]))
    ).select(
        F.col(id_col),
        F.array(*[round4_stable(c) for c in comp_cols]).alias("proj"),
    )
