"""Iterative graph analytics as DataFrame loops: PageRank and BFS levels.

The reference has no graph surface, but its fraud domain is one (cards,
merchants, devices form a transaction graph; fraud rings are its dense
subgraphs). These operators give the engine the two standard primitives —
importance scoring and hop distance — as deterministic, oracle-checkable
DataFrame programs, complementing the connected-components reducer in
``operators.dedup.dedup_clusters``.

Cross-engine determinism: PageRank is computed ENTIRELY in scaled BIGINT
arithmetic (rank mass scaled by 10**12; truncating integer division for
the per-edge contribution and the damping factor). Integer sums are
order-independent and both engines truncate positive integer division
identically, so after any number of iterations the ranks are bit-equal to
the DuckDB twin — no float summation order, no decimal division semantics
in play. The cost is a deterministic rounding loss of < out_degree ulps of
scaled mass per node per iteration (documented, same on both engines).

Scale design: the edge table is hash-partitioned on ``src`` once and
reused across iterations (the per-iteration join re-keys only the rank
table, which is |V|, not |E|); each iteration is one shuffle-join plus one
map-side-combined aggregate, and a lineage cut every 5th iteration keeps
iteration N from replaying 1..N-1. Convergence work is O(iterations *
(|E| join + |V| agg)) — the textbook MapReduce PageRank shape.

Every driver loop here (pagerank, k-core peeling, the min-plus join rounds)
runs on ``lineage.iterate``, which owns its cuts and releases each one once
the next has landed: an operator leaves only the checkpoint it returns.

BFS levels and SSSP share one min-plus relaxation. Up to
``ONE_PASS_EDGE_LIMIT`` edges (one count of the persisted edges) all rounds
run in ONE grouped-map Arrow pass, not a job chain per round (per-round
coordination dominates short iterative Spark jobs: MLlib*, ICDE 2019); one
Python worker receives the whole edge list, hence the bound. Above it each
round is one checkpointed join + min-aggregate, in pagerank's two regimes.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feature_store_fraud_detection_spark.lineage import checkpoint, iterate, release

#: rank mass is scaled by this (BIGINT) factor; 10**12 leaves headroom for
#: the 85x damping multiply inside int64 even if one node held ALL mass.
PAGERANK_SCALE = 10**12

#: below this node count the per-iteration state table broadcasts (a 1M-row
#: (node, long) table is ~30 MB serialized — inside a comfortable broadcast
#: budget) and the edge table never exchanges; above it, edges are pre-keyed
#: once and iterations run co-partitioned SMJs.
SMALL_GRAPH_NODE_LIMIT = 1_000_000

#: bfs_levels/sssp run every round in one grouped-map pass up to this many
#: edges. One Python worker receives the whole edge list; timed at local[4]
#: against the broadcast join rounds, the pass wins to 500k edges and loses
#: by 1M-2M, where the one-task transfer outweighs the per-round jobs.
ONE_PASS_EDGE_LIMIT = 500_000

#: per-task floor for the cached edge table in the small-graph regime: tiny
#: graphs coalesce to one task (a sub-100k-edge task is mostly scheduling
#: overhead), but the partition count is CAPPED at the session's default
#: parallelism, never above it, so a mid-size graph (the 1M-edge sf0.1 trade
#: graph) spreads each iteration's join+agg across cores instead of
#: serializing on a single task. Swept empirically at sf0.1: 40k/task is
#: scheduling-bound, 2M/task is single-task-bound; 120k is the knee for
#: both pagerank and bfs (past bfs/sssp's one-pass bound).
EDGES_PER_TASK = 120_000


def _edge_partitions(spark, n_edges: int) -> int:
    """Coalesce target for cached small-regime edges: one task per
    EDGES_PER_TASK edges, at least 1, at most the core count."""
    cores = spark.sparkContext.defaultParallelism
    return max(1, min(cores, n_edges // EDGES_PER_TASK + 1))


def pagerank(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    iterations: int = 4,
    damping_pct: int = 85,
    assume_distinct: bool = False,
    symmetric: bool = False,
    weight_col: str | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list -> (node, rank_scaled).

    ``rank_scaled`` is the rank mass times :data:`PAGERANK_SCALE`, an exact
    BIGINT (divide by 1e12 for the conventional value). Update rule per
    iteration, all in integer arithmetic::

        contrib(e)   = rank[src] div out_degree[src]
        rank'[v]     = (100-d)*S div (100*N)  +  d * sum(contrib) div 100

    Dangling-node mass (nodes with no out-edges) is dropped, the standard
    MapReduce simplification — totals decay slightly instead of summing to
    exactly S. Nodes are the union of sources and destinations.

    The edge set is deduplicated (skipped when the caller declares
    ``assume_distinct`` — a dedup is a full |E| shuffle), pre-keyed on
    ``src`` and persisted: every iteration's join reuses that one
    partitioning, so the steady-state cost is shuffling the |V|-row rank
    table, never the |E|-row edge table.

    ``weight_col``: WEIGHTED PageRank — contributions become
    rank * w / strength(src) (strength = sum of outgoing weights),
    computed as the exact integer floor via
    ``(r div s)*w + ((r mod s)*w) div s`` (the identity
    r*w = (r div s)*s*w + (r mod s)*w), which never forms the r*w
    product, so ranks stay bit-exact without long overflow as long as
    strength * max_weight < 2^63 (integer weights required; duplicate
    (src, dst) rows have their weights SUMMED unless assume_distinct).
    """
    if weight_col is None:
        e = edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        if not assume_distinct:
            e = e.distinct()
    else:
        # fail-loud weight validation (the repo's overflow_checked
        # convention): a NULL/zero/negative weight would make
        # `rank div strength` NULL under non-ANSI mode and silently drop
        # that node's whole contribution mass — abort with the offending
        # value instead. One vectorized comparison per edge.
        w_raw = F.col(weight_col).cast("long")
        w_checked = F.when(w_raw > 0, w_raw).otherwise(
            F.raise_error(
                F.format_string(
                    "pagerank: weight_col must be a positive integer "
                    "(got %s) — zero/negative/NULL weights silently "
                    "drop contribution mass",
                    w_raw.cast("string"),
                )
            ).cast("long")
        )
        e = edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            w_checked.alias("w"),
        )
        if not assume_distinct:
            e = e.groupBy("src", "dst").agg(F.sum("w").alias("w"))
    # persist the edge pipeline BEFORE any count probe: the nodes.count job
    # below then materializes the cache as a side effect, and every later
    # pass (edge count, degree, the per-iteration joins) reads the cache —
    # the upstream scan/join/distinct runs exactly once.
    caches = [e.persist()]
    try:
        # on a symmetric edge list every node appears as a source, so the
        # dst-side union (and its extra |E|-row shuffle input) is redundant —
        # callers with undirected graphs declare it. The degree table doubles
        # as the node table there (distinct src == deg's keys), so the
        # separate nodes distinct+persist disappears in the symmetric case.
        deg_expr = (
            F.count(F.lit(1)) if weight_col is None else F.sum("w")
        ).alias("deg")
        # one aggregate carries degree + per-src edge count (+ per-src max
        # weight when weighted), so EVERY driver scalar below — |V|, |E|,
        # the overflow bounds — folds into a single job over this cached
        # table instead of separate count()/count()/crossJoin-agg jobs (r12;
        # the fn-call jobs are part of every caller's critical path)
        deg_aggs = [deg_expr, F.count(F.lit(1)).alias("__ec")]
        if weight_col is not None:
            deg_aggs.append(F.max("w").alias("__wmax"))
        deg_full = e.groupBy("src").agg(*deg_aggs)
        caches.append(deg_full.persist())
        deg_src = deg_full.select("src", "deg")
        if symmetric:
            nodes = deg_src.select(F.col("src").alias("node"))
            stat_aggs = [
                F.count(F.lit(1)).alias("nv"),
                F.sum("__ec").alias("ne"),
            ]
            if weight_col is not None:
                stat_aggs += [
                    F.max("deg").alias("smax"),
                    F.max("__wmax").alias("wmax"),
                ]
            stats = deg_full.agg(*stat_aggs).first()  # materializes e + deg
            n_nodes = stats["nv"]
            n_edges = int(stats["ne"] or 0)
        else:
            nodes = (
                e.select(F.col("src").alias("node"))
                .unionByName(e.select(F.col("dst").alias("node")))
                .distinct()
            )
            caches.append(nodes.persist())
            n_nodes = nodes.count()
            n_edges = e.count()  # cached scan — shares the materialization
            if weight_col is not None:
                stats = deg_full.agg(
                    F.max("deg").alias("smax"), F.max("__wmax").alias("wmax")
                ).first()
        if weight_col is not None:
            # the exact-integer contribution identity needs
            # strength * max_weight < 2^63 (docstring); CHECK it instead of
            # documenting it — the maxes ride the single stats job above
            if (
                stats["smax"] is not None
                and stats["wmax"] is not None
                and int(stats["smax"]) * int(stats["wmax"]) >= 2**63
            ):
                raise ValueError(
                    "pagerank: strength*max_weight = "
                    f"{int(stats['smax'])}*{int(stats['wmax'])} >= 2^63 — "
                    "the exact integer contribution path would overflow; "
                    "rescale the weights"
                )
        if n_nodes == 0:
            # empty edge list (round-10 degenerate-probe finding, surfaced
            # via textrank on a sub-min_count corpus): ranks of nothing is
            # an EMPTY frame with the right schema — not a Python
            # ZeroDivisionError from the integer seed split below
            return nodes.select(
                "node", F.lit(0).cast("long").alias("rank_scaled")
            )
        # Two execution regimes, same arithmetic (the gate tests assert both):
        # - SMALL graph (|V| fits a broadcast): skip the src pre-keying — the
        #   per-iteration join broadcasts the |V|-row rank table, so the edge
        #   side never exchanges at all; coalesce the cached edges so a
        #   handful of rounds isn't 32-tiny-task stage overhead per round.
        # - LARGE graph: hash-partition edges on src ONCE; every iteration's
        #   SMJ reuses that exchange and only the rank table moves.
        small_graph = n_nodes <= SMALL_GRAPH_NODE_LIMIT
        if small_graph:
            work, deg = e, deg_src
        else:
            work = e.repartition("src")
            deg = work.groupBy("src").agg(deg_expr)
        ed = work.join(
            F.broadcast(deg) if small_graph else deg, "src"
        )
        caches.append(ed.persist())
        if small_graph:
            # |ed| == |e| (every edge keeps exactly one degree row), so the
            # already-known edge count sizes the coalesce — no extra count
            ed = ed.coalesce(_edge_partitions(edges.sparkSession, n_edges))
        base = ((100 - damping_pct) * PAGERANK_SCALE) // (100 * n_nodes)
        init = PAGERANK_SCALE // n_nodes

        def step(ranks: DataFrame) -> DataFrame:
            return pagerank_iteration(
                ed,
                nodes,
                ranks,
                base,
                damping_pct,
                broadcast_ranks=small_graph,
                weighted=weight_col is not None,
                # a symmetric graph has no contribution-less nodes: every
                # node has in-edges, so contribs already covers all of them
                # and the per-iteration left join against nodes is skipped
                all_nodes_receive=symmetric,
            )

        # Plan depth grows linearly per iteration, so a handful of rounds
        # runs best as ONE chained-shuffle job (AQE coalesces each round);
        # only deep loops need the lineage cut, and each cut costs a full
        # job submission — so cut every 5th round (and after the last,
        # while ed/nodes are still cached).
        start = nodes.select("node", F.lit(init).cast("long").alias("rank_scaled"))
        return iterate(step, start, iterations, cut_every=5)
    finally:
        for c in caches:
            c.unpersist()


def pagerank_iteration(
    ed: DataFrame,
    nodes: DataFrame,
    ranks: DataFrame,
    base: int,
    damping_pct: int,
    broadcast_ranks: bool = False,
    all_nodes_receive: bool = False,
    weighted: bool = False,
) -> DataFrame:
    """One PageRank round: contribute along edges, damp, add teleport mass.

    Exposed separately so the plan-quality gate can assert the iteration's
    shuffle shape (the |E|-row ``ed`` side, pre-keyed on src, must not
    re-exchange; only the |V|-row rank table moves — or, with
    ``broadcast_ranks``, nothing moves but the map-side-combined
    contribution aggregate). With ``all_nodes_receive`` (symmetric graphs:
    every node has in-edges) the contribution aggregate already covers the
    full node set, so the round is join-free after the edge contribution."""
    rank_side = F.broadcast(ranks) if broadcast_ranks else ranks
    contrib_expr = (
        # exact floor(rank*w/deg) without the rank*w product — see
        # pagerank's weight_col note for the identity and overflow bound
        "(rank_scaled div deg) * w + ((rank_scaled % deg) * w) div deg"
        if weighted
        else "rank_scaled div deg"
    )
    contribs = (
        ed.join(rank_side, ed.src == ranks.node)
        .select(F.col("dst"), F.expr(contrib_expr).alias("c"))
        .groupBy("dst")
        .agg(F.sum("c").alias("agg"))
    )
    new_rank = (
        (F.lit(base) + F.expr(f"({damping_pct} * coalesce(agg, 0L)) div 100"))
        .cast("long")
        .alias("rank_scaled")
    )
    if all_nodes_receive:
        return contribs.select(F.col("dst").alias("node"), new_rank)
    # the rank-update join: both sides are |V| rows; in the broadcast
    # regime hand Catalyst the small aggregated side so each iteration
    # costs zero exchanges instead of two 16k-row ones
    contrib_side = F.broadcast(contribs) if broadcast_ranks else contribs
    return nodes.join(contrib_side, nodes.node == contribs.dst, "left").select(
        "node", new_rank
    )


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 6,
    assume_distinct: bool = False,
) -> DataFrame:
    """Minimum hop distance from a seed set -> (node, level), level <= max_hops.

    Frontier-free formulation: every reachable node carries its current best
    level; one round relaxes all edges (``level[dst] = min(level[dst],
    level[src]+1)``). ``max_hops`` rounds of relaxation give exact distances
    up to ``max_hops`` (each round extends the certified radius by one).
    Unreached nodes are absent from the output; NULL seed ids are dropped.

    BFS is :func:`sssp` with weight 1 and an INT level; both run
    :func:`_relax_min_plus`: one grouped-map pass up to
    ``ONE_PASS_EDGE_LIMIT`` edges (one worker receives them all), then
    checkpointed join rounds, broadcast or co-partitioned as in pagerank.
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if not assume_distinct:
        e = e.distinct()
    return _relax_min_plus(
        "bfs_levels", e, seeds, node_col, "level", T.IntegerType(), max_hops
    )


def triangle_stats(
    edges: DataFrame,
    src: str,
    dst: str,
) -> DataFrame:
    """Global triangle census of an undirected graph: one row
    (n_triangles, n_wedges, clustering) where clustering is the global
    coefficient 3*triangles/wedges (4-decimal stable rounding).

    Algorithm: DEGREE-ORDERED ORIENTATION — every undirected edge points
    from its lower-(degree, id) endpoint to the higher one, each triangle
    is counted exactly once at its lowest-order corner, and (the scale
    property) every node's OUT-degree is O(sqrt(|E|)) regardless of how
    big a hub it is, so the wedge join cannot explode quadratically on hot
    nodes the way the naive id-ordered 3-way self-join does. The order is
    a ``struct(degree, node)`` compared lexicographically — safe for ANY
    id range (a packed ``degree * 2^40 + node`` long would silently
    collide for 60-bit md5-derived ids or degrees >= 2^23). The order
    participates only in filters and projections, never as a join or
    shuffle key, so the struct comparator costs nothing in the exchanges.

    Shape: one keyed degree aggregate, two broadcast-or-shuffle joins to
    attach orders, then wedge-join (keyed on the corner) + closing-edge
    join (keyed on the (v, w) pair) + a global count. Input edges may
    contain duplicates/self-loops/either direction — canonicalized here.
    """
    from feature_store_fraud_detection_spark.functions.numeric import (
        round4_stable,
    )

    a, b = F.col(src), F.col(dst)
    und = (
        edges.filter(a != b)
        .select(
            F.least(a, b).alias("u"), F.greatest(a, b).alias("v")
        )
        .distinct()
    )
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("n"))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ordv = deg.select(
        "n", (F.col("d") * F.lit(2**40) + F.col("n")).alias("o")
    )
    # oriented edges: lower order -> higher order, endpoints carried as
    # (node, order) pairs
    oe = (
        und.join(ordv.select(F.col("n").alias("u"), F.col("o").alias("ou")), "u")
        .join(ordv.select(F.col("n").alias("v"), F.col("o").alias("ov")), "v")
        .select(
            F.when(F.col("ou") < F.col("ov"), F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(F.col("ou") < F.col("ov"), F.col("v")).otherwise(F.col("u")).alias("t"),
            F.least("ou", "ov").alias("os"),
            F.greatest("ou", "ov").alias("ot"),
        )
    )
    wedges = (
        oe.alias("e1")
        .join(oe.alias("e2"), F.col("e1.s") == F.col("e2.s"))
        .filter(F.col("e1.ot") < F.col("e2.ot"))
        .select(
            F.col("e1.t").alias("wv"), F.col("e2.t").alias("ww")
        )
    )
    closed = wedges.join(
        oe.select(F.col("s").alias("wv"), F.col("t").alias("ww")),
        ["wv", "ww"],
    )
    tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    # d*(d-1) is even, so integer div by 2 is exact — stays in BIGINT all
    # the way (no double rounding at extreme degree sums)
    wed = deg.agg(
        F.expr("CAST(sum(d * (d - 1)) div 2 AS BIGINT)").alias("n_wedges")
    )
    return tri.crossJoin(wed).select(
        "n_triangles",
        "n_wedges",
        # zero wedges (every component a single edge): clustering is
        # undefined — NULL, not an ANSI divide-by-zero (round-10
        # property-sweep finding, the anova_f/logrank zero-denominator
        # class)
        round4_stable(
            F.when(
                F.col("n_wedges") > 0,
                F.lit(3.0)
                * F.col("n_triangles")
                / F.col("n_wedges").cast("double"),
            )
        ).alias("clustering"),
    )


def kcore(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    k: int,
    max_rounds: int = 50,
) -> DataFrame:
    """k-core of an undirected graph: the maximal subgraph in which every
    node has degree >= k, by iterative peeling (drop all nodes with
    degree < k, re-count, repeat to fixpoint) -> (node, degree) with
    degree measured INSIDE the core. The classic screen for "who is in
    the densely-connected heart of the graph" — fraud rings, co-purchase
    cliques, boilerplate hubs; the 2-core alone strips all trees/pendant
    chains and keeps exactly the cyclic structure.

    Self-loops are dropped and the edge list deduplicated; each input row
    is one undirected edge (callers supply each pair once, u < v).

    Scale design (the pagerank/bfs conventions): each round is one degree
    count (map-side combined) + two semi-joins keyed on the endpoint —
    the |V'|-row survivor table moves, the edge table re-shuffles only as
    it SHRINKS. Every round's edge set is one checkpoint job, and its row
    count is the convergence test (:func:`_peel_to_core`): peeling is
    monotone, so rounds <= peel depth, typically <= a dozen on real
    graphs. For full coreness decomposition at 100 TB, sweep k ascending
    and reuse the previous core as the input — each sweep starts from the
    already-shrunk graph. Returns one checkpoint, the only state it leaves.
    """
    core, n = _prep_undirected(edges, src_col, dst_col)
    try:
        e, (core, _) = core, _peel_to_core(core, n, k, max_rounds)
        release(e)
        return checkpoint(_degrees(core))[0]
    finally:
        release(core)


def _prep_undirected(
    edges: DataFrame, src_col: str, dst_col: str
) -> tuple[DataFrame, int]:
    """Dedup + self-loop-drop an undirected edge list -> a (u, v) checkpoint
    and its row count, coalesced to ~EDGES_PER_TASK rows/task (capped at
    cores): the peel loops run dozens of tiny jobs over this edge set, and
    a 3k-edge graph spread over 32 post-distinct shuffle partitions pays 32
    tasks of scheduling per round for microseconds of work each."""
    raw, n = checkpoint(
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    coalesced = checkpoint(raw.coalesce(
        _edge_partitions(edges.sparkSession, n)
    ))
    release(raw)
    return coalesced


def _degrees(e: DataFrame) -> DataFrame:
    """(node, degree) over a (u, v) edge set."""
    return (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def _peel_to_core(
    e: DataFrame, n_edges: int, k: int, max_rounds: int
) -> tuple[DataFrame, int]:
    """Peel a (u, v) edge set of ``n_edges`` rows to its k-core -> the
    core's edge checkpoint and its row count; ``e`` stays the caller's.

    One round drops every edge with an endpoint of degree < k. The
    fixpoint is the first round whose checkpoint keeps every edge: an edge
    goes only when an endpoint's degree is below k, so an unchanged count
    means nothing was peeled, and no separate count job is needed.
    ``max_rounds`` counts peel rounds, the confirming one included. Shared
    by :func:`kcore` (one k) and :func:`coreness` (ascending-k sweep
    peeling each core from the last).
    """
    # a kept node has >= k edges, so at most 2|E|/k nodes survive a round
    small = 2 * n_edges <= k * SMALL_GRAPH_NODE_LIMIT
    last = n_edges

    def peel(e: DataFrame) -> DataFrame:
        ids = _degrees(e).filter(F.col("degree") >= k).select("node")
        for end in ("u", "v"):
            side = ids.withColumnRenamed("node", end)
            e = e.join(F.broadcast(side) if small else side, end, "left_semi")
        return e

    def fixpoint(_, n: int) -> bool:
        nonlocal last
        done, last = n == last, n
        return done

    core = iterate(peel, e, max_rounds, until=fixpoint)
    return core, last


def coreness(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    k_cap: int | None = None,
    max_rounds: int = 50,
) -> DataFrame:
    """Full k-core decomposition: (node, coreness) for every node of the
    undirected graph, where coreness(n) = the largest k such that n is in
    the k-core — the standard density rank (degeneracy ordering) that one
    number per node summarizes: trees/pendants are 1, cycles 2, cliques
    |C|-1. With ``k_cap`` the report is min(coreness, k_cap): sweeps stop
    at the cap and everything still alive is graded "k_cap+" — the usual
    production shape ("rank the heart of the graph to depth 8") that also
    bounds worst-case sweep count on pathological inputs.

    Algorithm: ascending-k peel sweeps REUSING each shrunk graph — the
    k-core is peeled FROM the (k-1)-core's edge checkpoint, never from the
    full graph, and the superseded core is released. Nodes of the
    (k-1)-core absent from the k-core have coreness exactly k-1. Every
    node appearing in an edge has coreness >= 1 (self-loops dropped), so
    sweeps start at k=2. ``max_rounds`` bounds each sweep's peel rounds
    (:func:`_peel_to_core`), the last one, which peels nothing and so
    confirms the fixpoint, included; there is no separate count round. It
    never binds at the default of 50.

    Scale: total work is sum over k of (rounds_k x (|E_k| semi-join +
    |V_k| degree agg)) where E_k/V_k shrink monotonically — the dominant
    cost is the early sweeps on the big graph, exactly the cost kcore(2)
    already pays; each additional k adds work proportional to the
    ALREADY-SHRUNK core. Each sweep's graded nodes are one checkpoint job;
    the result is one checkpoint of their k_cap-bounded union, the only
    state it leaves. Matula-Beck sequential peel is inherently serial;
    this parallel-rounds formulation is the distributed standard.
    """

    def graded(nodes: DataFrame, c: int) -> DataFrame:
        return checkpoint(nodes.select("node", F.lit(c).cast("int").alias("coreness")))[0]

    core, n = _prep_undirected(edges, src_col, dst_col)
    parts: list[DataFrame] = []
    try:
        k = 2
        while k_cap is None or k <= k_cap:
            prev, (core, n) = core, _peel_to_core(core, n, k, max_rounds)
            try:
                parts.append(graded(_degrees(prev).join(_degrees(core), "node", "left_anti"), k - 1))
            finally:
                release(prev)
            if n == 0:
                break
            k += 1
        else:
            parts.append(graded(_degrees(core), k_cap))
        return checkpoint(functools.reduce(DataFrame.unionByName, parts))[0]
    finally:
        for ckpt in [core, *parts]:
            release(ckpt)


def adamic_adar(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    top_n: int = 50,
    max_hub_degree: int | None = None,
) -> DataFrame:
    """Adamic-Adar link prediction: for every UNLINKED node pair (a, b)
    at distance 2, score = sum over common neighbors c of 1/ln(deg(c)) —
    the classic "who should be connected" ranking (fraud-ring completion,
    co-purchase recommendation). Returns the top_n pairs as
    (node_a, node_b, n_common, score), ordered by (score desc, a, b).

    Shape: one degree aggregate, one wedge self-join keyed ON THE COMMON
    NEIGHBOR c (each wedge (a-c-b) is enumerated exactly once via a < b),
    one anti-join to drop already-linked pairs, one keyed aggregate. The
    wedge join is inherently sum-of-deg(c)^2 rows — that is the operator's
    definition, not an implementation choice; ``max_hub_degree`` optionally
    EXCLUDES intermediates above a degree cap (a hub c contributes only
    1/ln(deg) ~= 0.1 per pair but deg^2 wedge rows — at 100 TB, cap hubs
    and document the deflation; the default is exact).

    Determinism: deg is integer; 1/ln(deg) doubles are summed in SORTED
    order per pair (array_sort fold — the repo's float-summation rule),
    then floor-rounded to 4; ln() parity Spark-vs-DuckDB is relied on
    repo-wide (token_tfidf). deg(c) >= 2 for any wedge center, so ln > 0.
    """
    from feature_store_fraud_detection_spark.functions.numeric import (
        round4_stable,
    )

    e, _ = _prep_undirected(edges, src_col, dst_col)
    adj = e.select(F.col("u").alias("c"), F.col("v").alias("n")).unionByName(
        e.select(F.col("v").alias("c"), F.col("u").alias("n"))
    )
    deg = adj.groupBy("c").agg(F.count(F.lit(1)).alias("deg"))
    if max_hub_degree is not None:
        deg = deg.filter(F.col("deg") <= max_hub_degree)
    adjd = adj.join(deg, "c")  # co-partitioned on c with the wedge join
    a, b = adjd.alias("a"), adjd.alias("b")
    wedges = a.join(
        b,
        (F.col("a.c") == F.col("b.c")) & (F.col("a.n") < F.col("b.n")),
    ).select(
        F.col("a.n").alias("node_a"),
        F.col("b.n").alias("node_b"),
        (F.lit(1.0) / F.log(F.col("a.deg").cast("double"))).alias("__w"),
    )
    linked = e.select(
        F.least("u", "v").alias("node_a"), F.greatest("u", "v").alias("node_b")
    )
    scored = (
        wedges.join(linked, ["node_a", "node_b"], "left_anti")
        .groupBy("node_a", "node_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            round4_stable(
                F.aggregate(
                    F.array_sort(F.collect_list("__w")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("score"),
        )
    )
    # materialize the bounded top-n WHILE e's checkpoint is live (the plan
    # reads it 5 times — adj twice, both wedge sides, the anti-join), then
    # release it — the kcore/coreness convention.
    try:
        return checkpoint(
            scored.orderBy(F.col("score").desc(), "node_a", "node_b")
            .limit(top_n)
        )[0]
    finally:
        release(e)


def sssp(
    edges: DataFrame,
    seeds: DataFrame,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    max_rounds: int = 6,
    assert_converged: bool = False,
) -> DataFrame:
    """Weighted single-source(-set) shortest paths -> (node, dist) — the
    weighted sibling of :func:`bfs_levels`: Bellman-Ford relaxation
    rounds ``dist[dst] = min(dist[dst], dist[src] + w)``, exact after
    ``max_rounds`` rounds for every shortest path of at most that many
    edges. Weights must be POSITIVE BIGINTs (integer min/plus is
    order-independent and bit-equal cross-engine — the same reason
    pagerank runs in scaled-integer arithmetic); NULL/zero/negative
    weights fail loud, matching the weighted-pagerank convention.

    ``assert_converged=True`` runs ONE extra relaxation round and fails
    loud if any distance still improves — the data-derived convergence
    check (same policy as the coreness oracle's peel-fixpoint assertion)
    for graphs whose diameter is believed, not known. Unreached nodes
    are absent from the output.

    Scale: bfs_levels' regimes (module docstring); the one-pass regime
    runs the convergence round inside the pass.
    """
    w_ok = F.when(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0),
        F.col(weight_col).cast("bigint"),
    ).otherwise(
        F.raise_error(
            F.format_string(
                "sssp: weight must be a positive integer (got %s for "
                "edge %s -> %s)",
                F.col(weight_col).cast("string"),
                F.col(src_col).cast("string"),
                F.col(dst_col).cast("string"),
            )
        )
    )
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        w_ok.alias("w"),
    )
    return _relax_min_plus(
        "sssp", e, seeds, node_col, "dist", T.LongType(), max_rounds, assert_converged
    )


def _relax_min_plus(
    name: str, e: DataFrame, seeds: DataFrame, node_col: str, value: str,
    value_type: T.DataType, rounds: int, assert_converged: bool = False,
) -> DataFrame:
    """``rounds`` synchronous ``value[dst] = min(value[dst], value[src] + w)``
    rounds (w = 1 if ``e`` has none) from the non-NULL ``seeds`` at 0 -> an
    eager (node, value) checkpoint, the only state it leaves persisted, also
    when it raises. A NULL src relaxes nothing; a NULL dst is a node without
    out-edges. The convergence round counts the NULL node like any other."""
    node = F.col(node_col)
    start = seeds.filter(node.isNotNull()).select(node.alias("node"))
    step = F.col("w") if "w" in e.columns else F.lit(1)
    e = e.persist()
    keyed = ckpt = None
    try:
        n_edges = e.count()  # the one count: picks the regime
        # the node field the rounds' union gives; both regimes return it,
        # zero rounds included (the empty side is pruned, never scanned)
        nodes = e.select(F.col("dst").alias("node")).where(F.lit(False))
        nodes = nodes.unionByName(start)
        field = nodes.schema[0]
        if n_edges <= ONE_PASS_EDGE_LIMIT:
            # one group; seed rows carry a NULL weight
            ids = [F.col(c).cast(field.dataType) for c in ("src", "dst")]
            rows = e.select(*ids, step.cast("long"))
            rows = rows.union(start.select("node", F.lit(None), F.lit(None).cast("long")))
            schema = T.StructType([field]).add(value, value_type).add("improved", "long")
            ckpt, _ = checkpoint(
                rows.groupBy().applyInArrow(
                    _one_pass(schema, rounds, assert_converged), schema
                )
            )
            improved = assert_converged and (ckpt.select("improved").first() or [0])[0]
        else:
            # pagerank's two regimes: broadcast the |V|-bounded state over
            # the coalesced edges, or pre-key the edges once for SMJs
            small = n_edges <= 2 * SMALL_GRAPH_NODE_LIMIT
            if small:
                edges = e.coalesce(_edge_partitions(e.sparkSession, n_edges))
            else:
                edges = keyed = e.repartition("src").persist()

            def settle(d: DataFrame) -> DataFrame:
                return d.groupBy("node").agg(F.min(value).cast(value_type).alias(value))

            def relax(d: DataFrame) -> DataFrame:
                return settle(
                    edges.join(F.broadcast(d) if small else d, edges.src == d.node)
                    .select(F.col("dst").alias("node"), (F.col(value) + step).alias(value))
                    .unionByName(d)
                )

            # cut every round: relax reads d twice, so an uncut plan doubles
            ckpt = iterate(relax, settle(nodes.select("node", F.lit(0).alias(value))), rounds)
            # EXCEPT compares the NULL node null-safely, as the pass does
            improved = assert_converged and relax(ckpt).subtract(ckpt).count()
        if improved:
            raise ValueError(
                f"{name}: {improved} distances still improve after {rounds} "
                "rounds — raise max_rounds (graph deeper than assumed)"
            )
    except BaseException:
        release(ckpt)
        raise
    finally:
        e.unpersist()
        if keyed is not None:
            keyed.unpersist()
    return ckpt.select("node", value)


def _one_pass(schema: T.StructType, rounds: int, check: bool):
    """The one-pass worker over (src, dst, w) rows, seeds with a NULL w ->
    (node, value, improved) per reached node. Arrow factorizes the ids, NULL
    included, so no id goes through float64; a value reaching BIGINT max
    raises. Nested and self-importing, so it is pickled by value: Python
    workers need no import of this package."""

    def relax_table(table):
        import numpy as np
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        src, dst, w = table.columns
        ids = pa.concat_arrays(src.chunks + dst.chunks).dictionary_encode()
        null = len(ids.dictionary)
        src, dst = np.split(ids.indices.fill_null(null).to_numpy(), 2)
        w = w.fill_null(0).to_numpy()
        inf = np.iinfo(np.int64).max  # unreached
        dist = np.full(null + 1, inf)
        dist[src[w == 0]] = 0
        edge = (w > 0) & (src != null)  # a NULL src matches no node
        src, dst, w = src[edge], dst[edge], w[edge]

        def relax(dist):
            # every candidate reads last round's values, as a join round does
            live = dist[src] < inf
            cand = dist[src[live]] + w[live]
            if cand.size and (cand.min() < 0 or cand.max() == inf):
                raise OverflowError(f"{schema.names[1]} reaches the BIGINT maximum")
            best = dist.copy()
            np.minimum.at(best, dst[live], cand)
            return best, int((best < dist).sum())

        for _ in range(rounds):
            dist = relax(dist)[0]
        improved = relax(dist)[1] if check else 0
        out = np.flatnonzero(dist < inf)
        nodes = ids.dictionary.take(pa.array(out, mask=out == null))  # NULL last
        value = pa.array(dist[out]).cast(to_arrow_type(schema[1].dataType))
        return pa.table(
            [nodes, value, pa.array(np.full(out.size, improved))], names=schema.names
        )

    return relax_table
