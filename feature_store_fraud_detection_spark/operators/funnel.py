"""Ordered funnel analysis: how many users progress through an ordered
sequence of event types, where each step must occur strictly AFTER the
user's first qualifying occurrence of the previous step.

The classic product/fraud-ops question (signup -> view -> click ->
purchase), answered relationally:

- step 1 anchor: min ts per user of the first step's type;
- step i: min ts per user of type_i events strictly after the user's step
  i-1 timestamp — one keyed join + one keyed groupBy per step.

Scale shape: every join/agg keys on the user column (hash-partitioned,
map-side partial mins); the per-step filters push down to the scan. Funnel
depth is small and fixed, so the chain of |steps| keyed stages is cheap; at
extreme depth the alternative is one sort-within-user pass folding a step
counter over collected (ts, type) arrays — a single shuffle, at the price of
materializing per-user event arrays.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from feature_store_fraud_detection_spark.functions.numeric import round4_stable
from feature_store_fraud_detection_spark.lineage import checkpoint, iterate, release


def funnel_counts(
    df: DataFrame,
    key: str,
    type_col: str,
    ts_col: str,
    steps: list[str],
) -> DataFrame:
    """(step, step_order, n_users, conversion) — users reaching each funnel
    step in order; ``conversion`` = n_users / step-1 users, floor-rounded.

    A user "reaches" step i when they have a type_i event strictly after
    their first qualifying type_{i-1} event (first-touch attribution)."""
    if not steps:
        raise ValueError("funnel needs at least one step")
    reached: list[DataFrame] = []
    cur = (
        df.filter(F.col(type_col) == steps[0])
        .groupBy(key)
        .agg(F.min(ts_col).alias("__t"))
    )
    reached.append(cur)
    for step in steps[1:]:
        nxt = (
            df.filter(F.col(type_col) == step)
            .join(cur.select(key, F.col("__t").alias("__prev_t")), key)
            .filter(F.col(ts_col) > F.col("__prev_t"))
            .groupBy(key)
            .agg(F.min(ts_col).alias("__t"))
        )
        reached.append(nxt)
        cur = nxt
    counts = [
        r.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(s).alias("step"),
            F.lit(i + 1).alias("step_order"),
            F.col("n_users"),
        )
        for i, (s, r) in enumerate(zip(steps, reached))
    ]
    unioned = reduce(lambda a, b: a.unionByName(b), counts)
    base = unioned.filter(F.col("step_order") == 1).select(
        F.col("n_users").alias("__base_n")
    )
    return unioned.crossJoin(F.broadcast(base)).select(
        "step",
        "step_order",
        "n_users",
        # nobody reached step 1: conversion is 0/0 — NULL, never an
        # ANSI divide-by-zero (round-10 degenerate-probe finding)
        round4_stable(
            F.when(
                F.col("__base_n") > 0,
                F.col("n_users") / F.col("__base_n").cast("double"),
            )
        ).alias("conversion"),
    )


def cohort_retention(
    df: DataFrame, key: str, ts_col: str, max_offset: int = 8
) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by their first-activity
    week, tracked for the share still active N weeks later — the standard
    growth/retention report, and (for fraud ops) the "does this signup
    cohort keep transacting" signal.

    Relational shape: one distinct (user, week) activity table; cohort =
    min(week) per user (keyed agg); activity ⋈ cohort on user (both sides
    hash-partitioned by user); then one hash agg on (cohort_week, offset)
    counting distinct users, joined to cohort sizes. Every stage keys on
    user or on the tiny (cohort, offset) pair — nothing global, nothing
    windowed, scales linearly in |events|.

    Week bucketing is ``date_trunc('week')`` (ISO Monday on both engines);
    the offset is exact integer day-diff div 7.
    """
    # cast to DATE: a week bucket is a calendar date, and DuckDB's
    # date_trunc('week') returns DATE where Spark's returns TIMESTAMP
    activity = df.select(
        F.col(key), F.date_trunc("week", F.col(ts_col)).cast("date").alias("week")
    ).distinct()
    cohorts = activity.groupBy(key).agg(F.min("week").alias("cohort_week"))
    sizes = cohorts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    joined = activity.join(cohorts, key).withColumn(
        "week_offset",
        (F.datediff(F.col("week"), F.col("cohort_week")) / 7).cast("bigint"),
    )
    retained = (
        joined.filter(F.col("week_offset") <= max_offset)
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct(key).alias("n_active"))
    )
    return (
        retained.join(sizes, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "n_cohort",
            round4_stable(
                F.col("n_active") / F.col("n_cohort").cast("double")
            ).alias("retention"),
        )
    )


def contiguous_pattern_matches(
    df: DataFrame,
    key: str,
    type_col: str,
    ts_col: str,
    pattern: list[str],
    within_sec: int,
    tiebreak: str,
) -> DataFrame:
    """MATCH_RECOGNIZE-style contiguous sequence detection: positions in a
    key's event stream where the NEXT ``len(pattern)`` event types equal
    ``pattern`` exactly (no gaps — unlike the funnel, which only orders
    first occurrences) and the span fits ``within_sec``. The classic fraud
    shape: "two consecutive errors immediately followed by a purchase".

    Returns (key, n_matches, first_match_ts) for keys with >= 1 match.

    ``tiebreak`` (a unique column) totalizes the per-key event order so
    equal timestamps can't reshuffle the stream between runs/engines.

    Scale: ONE shuffle+sort on the key; the k-1 ``lead`` columns all share
    that single window sort (Catalyst plans one WindowExec), so cost is
    O(|events|) beyond the sort regardless of pattern length.
    """
    hits = contiguous_pattern_hits(
        df, key, type_col, ts_col, pattern, within_sec, tiebreak
    )
    return hits.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("anchor_ts").alias("first_match_ts"),
    )


def contiguous_pattern_hits(
    df: DataFrame,
    key: str,
    type_col: str,
    ts_col: str,
    pattern: list[str],
    within_sec: int,
    tiebreak: str,
    carry_last_col: str | None = None,
) -> DataFrame:
    """Per-hit form of :func:`contiguous_pattern_matches`: one row per
    anchored match — (key, anchor_ts, anchor_<tiebreak>, last_ts). Same
    single key-sorted window; the aggregate above is just a groupBy on top.

    ``carry_last_col``: optionally also project ``lead(col, k-1)`` — the
    carried column's value at the match's LAST element — as
    ``last_<col>``. The streaming alert path uses this to tag whether a
    match completed inside the new micro-batch (its last element is new)
    or was already emitted by an earlier batch.
    """
    from pyspark.sql import Window

    if len(pattern) < 1:
        raise ValueError("pattern needs at least one step")
    k = len(pattern)
    w = Window.partitionBy(key).orderBy(ts_col, tiebreak)
    cols = [key, type_col, ts_col, tiebreak]
    if carry_last_col:
        cols.append(carry_last_col)
    cur = df.select(*cols)
    cond = F.col(type_col) == pattern[0]
    for i, p in enumerate(pattern[1:], start=1):
        cur = cur.withColumn(f"__t{i}", F.lead(type_col, i).over(w))
        cond = cond & (F.col(f"__t{i}") == p)
    cur = cur.withColumn("__last_ts", F.lead(ts_col, k - 1).over(w))
    if carry_last_col:
        cur = cur.withColumn(
            f"last_{carry_last_col}", F.lead(carry_last_col, k - 1).over(w)
        )
    span_ok = (
        F.unix_timestamp(F.col("__last_ts")) - F.unix_timestamp(ts_col)
    ) <= within_sec
    out_cols = [
        F.col(key),
        F.col(ts_col).alias("anchor_ts"),
        F.col(tiebreak).alias(f"anchor_{tiebreak}"),
        F.col("__last_ts").alias("last_ts"),
    ]
    if carry_last_col:
        out_cols.append(F.col(f"last_{carry_last_col}"))
    return cur.withColumn("__hit", cond & span_ok).filter(
        F.col("__hit")
    ).select(*out_cols)


def next_event_training_pairs(
    df: DataFrame,
    key: str,
    type_col: str,
    ts_col: str,
    tiebreak: str,
    context_len: int = 3,
) -> DataFrame:
    """Next-event-prediction training pairs from an event log — the
    sequence-model dataset constructor (the event-stream analog of
    next-token training data): for every event with at least
    ``context_len`` predecessors in its key's stream, emit
    (key, <tiebreak>, context, target) where ``context`` is the
    '>'-joined types of the previous ``context_len`` events in stream
    order and ``target`` is this event's type.

    One key-partitioned window (ROWS frame, total order via ts+tiebreak)
    serves the whole construction — collect_list over a bounded
    ``context_len``-row frame, no self-joins, no explode. Emitted context
    strings are deterministic because the frame order IS the sort order.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(key)
        .orderBy(ts_col, tiebreak)
        .rowsBetween(-context_len, -1)
    )
    ctx = F.collect_list(type_col).over(w)
    return (
        df.select(
            F.col(key),
            F.col(tiebreak),
            ctx.alias("__ctx"),
            F.col(type_col).alias("target"),
        )
        .filter(F.size("__ctx") == context_len)
        .select(
            key,
            tiebreak,
            F.concat_ws(">", "__ctx").alias("context"),
            "target",
        )
    )


def markov_stationary(
    df: DataFrame,
    key_col: str,
    type_col: str,
    ts_col: str,
    tiebreak_col: str,
    iters: int = 30,
) -> DataFrame:
    """Stationary distribution of the first-order behavior Markov chain:
    where does a user's session settle in the long run? Transition counts
    come from consecutive (lag) event pairs per key; the chain is
    Laplace-1 smoothed — P(i->j) = (c_ij + 1) / (c_i + k) over the full
    k x k grid — which makes it strictly positive, hence irreducible and
    aperiodic: the power iteration from uniform provably converges and
    dangling states need no special case. Returns (type, stationary_p).

    Determinism: P entries are integer-quotient doubles; each iteration's
    per-state sum folds the SORTED p_i * P_ij term list; a fixed ``iters``
    count (not a convergence test) keeps both engines on the identical
    arithmetic path, so the distribution hash-checks cross-engine.

    Scale: the chain state lives in a (k, p) DataFrame and transitions in
    a (k x k) DataFrame keyed by source state — each iteration is one
    co-keyed join + one keyed aggregate, the PageRank shape (for event
    vocabularies k is tiny; for million-state chains the same plan holds
    and nothing touches the driver). The state space is checkpointed once
    (k is the cut's row count) and the transition table persisted, both
    released on return (a checkpointed transition table ran 90 jobs
    against 56 at sf0.01); ``lineage.iterate`` cuts the lineage every 5th
    iteration and after the last, and the result reads that last cut, the
    only state it leaves.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    pairs = df.select(
        F.lag(type_col).over(w).alias("src"),
        F.col(type_col).alias("dst"),
    ).filter(F.col("src").isNotNull())
    counts = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("c"))
    types, k = checkpoint(df.select(F.col(type_col).alias("t")).distinct())
    if k == 0:
        # empty input: the stationary distribution of nothing is an
        # EMPTY frame, not a divide-by-zero in the uniform seed
        # (round-10 degenerate-probe finding at k=0)
        return types.select(
            F.col("t").alias(type_col),
            F.lit(None).cast("double").alias("stationary_p"),
        )
    trans = None
    try:
        grid = (
            types.select(F.col("t").alias("src"))
            .crossJoin(F.broadcast(types.select(F.col("t").alias("dst"))))
        )
        outdeg = counts.groupBy("src").agg(F.sum("c").alias("ci"))
        trans = (
            grid.join(counts, ["src", "dst"], "left")
            .join(outdeg, "src", "left")
            .select(
                "src",
                "dst",
                (
                    (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                    / (F.coalesce(F.col("ci"), F.lit(0)) + k).cast("double")
                ).alias("p_ij"),
            )
            .persist()
        )
        trans.count()
        # the state is k rows: shrink each iteration's post-shuffle output to
        # ~100k states/partition (1 task for event vocabularies) so 30 rounds
        # don't pay 30 x shuffle.partitions empty-task launches
        n_parts = max(1, k // 100_000)

        def step(p: DataFrame) -> DataFrame:
            return (
                trans.join(p, "src")
                .groupBy(F.col("dst").alias("src"))
                .agg(
                    F.aggregate(
                        F.array_sort(F.collect_list(F.col("p") * F.col("p_ij"))),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("p")
                )
                .coalesce(n_parts)
            )

        # cut every 5th round (and the last): often enough to truncate
        # lineage, seldom enough that the 30-round loop costs ~6 jobs of
        # fixed overhead instead of 30
        start = types.select(
            F.col("t").alias("src"), (F.lit(1.0) / k).alias("p")
        )
        p = iterate(step, start, iters, cut_every=5)
    finally:
        release(types)
        if trans is not None:
            trans.unpersist()
    return p.select(F.col("src").alias(type_col), round4_stable(F.col("p")).alias("stationary_p"))


def position_based_attribution(
    df: DataFrame,
    key_col: str,
    type_col: str,
    ts_col: str,
    tiebreak_col: str,
    conversion: str,
) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each conversion
    splits credit over the non-conversion touches since the key's
    previous conversion — 40% first touch, 40% last, 20% spread over the
    middle (n=1 -> 100%, n=2 -> 50/50) — the standard upgrade from
    last-touch's winner-takes-all. Returns per-channel
    (channel, n_touches, credit).

    Journeys are built relationally: one REVERSED cumulative count of
    conversions per key assigns every touch the id of the conversion it
    precedes (touches after the key's final conversion get journey 0 and
    drop); one forward rank orders touches within the journey.

    Determinism AND scale share one trick: credit is computed in exact
    integer MILLIONTHS (middle credit = 200000 // (n-2), the division
    remainder documented as dropped), so per-channel totals are
    order-free integer sums — no sorted-fold collect_list bound, which
    is what lets the channel rollup stay a plain keyed aggregate at
    100 TB.
    """
    is_conv = (F.col(type_col) == conversion).cast("bigint")
    w_rev = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).desc(), F.col(tiebreak_col).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    j = df.withColumn("__j", F.sum(is_conv).over(w_rev))
    touches = j.filter(
        (F.col(type_col) != conversion) & (F.col("__j") >= 1)
    )
    w_fwd = Window.partitionBy(key_col, "__j").orderBy(
        F.col(ts_col), F.col(tiebreak_col)
    )
    ranked = touches.select(
        F.col(type_col).alias("channel"),
        F.col(key_col),
        F.col("__j"),
        F.row_number().over(w_fwd).alias("__r"),
        F.count(F.lit(1)).over(
            Window.partitionBy(key_col, "__j")
        ).alias("__n"),
    )
    n, r = F.col("__n"), F.col("__r")
    credit_ppm = (
        F.when(n == 1, F.lit(1_000_000))
        .when(n == 2, F.lit(500_000))
        .when((r == 1) | (r == n), F.lit(400_000))
        .otherwise(F.floor(F.lit(200_000) / (n - 2)).cast("bigint"))
    )
    from feature_store_fraud_detection_spark.functions.numeric import (
        round4_stable,
    )

    return (
        ranked.select("channel", credit_ppm.alias("__c"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            round4_stable(
                F.sum("__c").cast("double") / F.lit(1_000_000.0)
            ).alias("credit"),
        )
    )
