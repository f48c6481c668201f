"""Spatial proximity join: all point pairs within a radius, grid-bucketed.

The geo analogue of LSH dedup: an all-pairs distance join is quadratic, so
points are first snapped to a (lat, lon) grid whose cell edge exceeds the
search radius; any qualifying pair then lies in the same or an adjacent
cell. One side expands to its 3x3 cell neighborhood (bounded x9 fan-out),
the other keeps its own cell, and the equi-join on cell ids yields the
candidate set — each pair exactly once (B's cell occurs once in A's cover).
Exact haversine verifies candidates.

Scale: the join is a keyed hash join on integer cell ids; shuffle traffic
is 9x|points| cover rows + |points| — never |points|^2. Dense cells (a
Manhattan of transactions) are the skew case: cap or sub-split hot cells
exactly like `dedup.minhash_lsh_pairs`'s max_bucket_size.

A longitude cell is only ``cell_deg * 69 * cos(lat)`` miles wide (cells
narrow toward the poles), so the safe bound is
``radius_miles <= cell_deg * 69 * cos(max_abs_lat)``: the default 0.05 deg
grid covers radii up to ~1.7 mi at |lat| < 60 (and ~2.4 mi only at
|lat| < 45). ``proximity_pairs`` validates this at call time against the
declared ``max_abs_lat`` rather than silently missing cross-cell pairs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_store_fraud_detection_spark.functions.geo import haversine_miles
from feature_store_fraud_detection_spark.functions.numeric import round4_stable
from feature_store_fraud_detection_spark.lineage import checkpoint, release


def proximity_pairs(
    df: DataFrame,
    id_col: str,
    lat_col: str,
    lon_col: str,
    radius_miles: float = 1.0,
    cell_deg: float = 0.05,
    max_abs_lat: float = 60.0,
) -> DataFrame:
    """(id_a, id_b, dist) for every pair within ``radius_miles`` (id_a <
    id_b). The distance is 4-decimal rounded BEFORE the radius comparison
    so the keep set is bit-reproducible across engines.

    ``max_abs_lat`` declares the data's latitude extent; the grid is
    rejected up front if a longitude cell at that latitude is narrower
    than the radius (adjacent-cell cover would miss qualifying pairs).
    """
    lon_cell_miles = cell_deg * 69.0 * math.cos(math.radians(max_abs_lat))
    if radius_miles > lon_cell_miles:
        raise ValueError(
            f"radius_miles={radius_miles} exceeds the longitude cell width "
            f"{lon_cell_miles:.2f} mi at |lat|={max_abs_lat}; increase "
            "cell_deg or lower max_abs_lat"
        )
    pts = df.select(
        F.col(id_col),
        F.col(lat_col).alias("__lat"),
        F.col(lon_col).alias("__lon"),
        F.floor(F.col(lat_col) / cell_deg).alias("__cy"),
        F.floor(F.col(lon_col) / cell_deg).alias("__cx"),
    )
    neighbor_cells = F.array(
        *[
            F.struct(
                (F.col("__cy") + dy).alias("cy"), (F.col("__cx") + dx).alias("cx")
            )
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        ]
    )
    cover = pts.select(
        F.col(id_col).alias("id_a"),
        F.col("__lat").alias("lat_a"),
        F.col("__lon").alias("lon_a"),
        F.explode(neighbor_cells).alias("c"),
    ).select("id_a", "lat_a", "lon_a", F.col("c.cy").alias("__cy"), F.col("c.cx").alias("__cx"))
    right = pts.select(
        F.col(id_col).alias("id_b"),
        F.col("__lat").alias("lat_b"),
        F.col("__lon").alias("lon_b"),
        "__cy",
        "__cx",
    )
    cand = cover.join(right, ["__cy", "__cx"]).filter(
        F.col("id_a") < F.col("id_b")
    )
    dist = round4_stable(
        haversine_miles("lat_a", "lon_a", "lat_b", "lon_b")
    )
    return (
        cand.withColumn("dist", dist)
        .filter(F.col("dist") <= radius_miles)
        .select("id_a", "id_b", "dist")
    )


def dbscan_labels(
    df: DataFrame,
    id_col: str,
    lat_col: str,
    lon_col: str,
    eps_miles: float = 1.0,
    min_pts: int = 4,
    cell_deg: float = 0.05,
    max_abs_lat: float = 60.0,
) -> DataFrame:
    """Distributed DBSCAN over geo points -> (id, role, cluster_id).

    Density clustering of transaction locations (fraud hot-spots, ATM
    skimmer sites) without choosing k. Standard semantics: a CORE point
    has >= ``min_pts`` points (itself included) within ``eps_miles``;
    clusters are the connected components of the core-core proximity
    graph; a BORDER point is a non-core point adjacent to >= 1 core point
    (assigned its smallest core-neighbor label for determinism — textbook
    DBSCAN leaves this tie arbitrary); everything else is NOISE
    (cluster_id NULL). ``cluster_id`` is the smallest point id in the
    component's core set.

    Built entirely from the repo's own scale-safe parts: the neighbor
    graph is :func:`proximity_pairs` (grid-bucketed, never |points|^2) and
    the component labeling is ``dedup.dedup_clusters`` (iterative
    min-label propagation, bounded by core-graph diameter). Degree count,
    core filter, and border assignment are each one keyed aggregate/join
    on point ids. Returns one checkpoint, the only state it leaves.
    """
    from feature_store_fraud_detection_spark.operators.dedup import _min_labels

    pairs = proximity_pairs(
        df,
        id_col,
        lat_col,
        lon_col,
        radius_miles=eps_miles,
        cell_deg=cell_deg,
        max_abs_lat=max_abs_lat,
    ).persist()
    sym = pairs.select(
        F.col("id_a").alias("id"), F.col("id_b").alias("nbr")
    ).unionByName(
        pairs.select(F.col("id_b").alias("id"), F.col("id_a").alias("nbr"))
    )
    deg = sym.groupBy("id").agg(F.count(F.lit(1)).alias("__deg"))
    ids = df.select(F.col(id_col).alias("id"))
    core = (
        ids.join(deg, "id", "left")
        .filter(F.coalesce(F.col("__deg"), F.lit(0)) + 1 >= min_pts)
        .select("id")
        .persist()
    )
    labels = None
    try:
        core_b = core.select(F.col("id").alias("__c"))
        core_pairs = (
            pairs.join(core.withColumnRenamed("id", "id_a"), "id_a")
            .join(core_b, pairs.id_b == core_b.__c)
            .select("id_a", "id_b")
        )
        labels = _min_labels(core_pairs, core, "id")
        core_labels = labels.select(
            F.col("node").alias("id"), F.col("label").alias("cluster_id")
        )
        border = (
            sym.join(core_labels.withColumnRenamed("id", "nbr"), "nbr")
            .join(core, "id", "left_anti")
            .groupBy("id")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )
        labeled = core_labels.withColumn("role", F.lit("core")).unionByName(
            border.withColumn("role", F.lit("border"))
        )
        # materialized while pairs/core (sym x2, deg, border, the core join)
        # and the component labels are live, then all three are released:
        # the caller's action reads this checkpoint alone
        return checkpoint(
            ids.join(labeled, "id", "left")
            .select(
                F.col("id").alias(id_col),
                F.coalesce(F.col("role"), F.lit("noise")).alias("role"),
                F.col("cluster_id"),
            )
        )[0]
    finally:
        pairs.unpersist()
        core.unpersist()
        release(labels)


def grid_hotspots(
    df: DataFrame,
    lat_col: str,
    lon_col: str,
    cell_deg: float = 0.05,
) -> DataFrame:
    """Getis-Ord-style hot-spot statistic over a lat/lon grid: snap points
    to cells, then score each OCCUPIED cell by how much its 3x3
    neighborhood's event mass exceeds the global cell mean —
    area-intensity statistics, the complement of point-level clustering
    (``dbscan`` finds shapes; this ranks WHERE the heat is). Fraud use:
    card-present hot spots, merchant-density anomalies.

    gi_z = (S_i - m * W_i) / (s * sqrt(W_i)) where S_i = neighborhood
    event sum, W_i = occupied neighbor-cell count (<= 9 incl. self), and
    m / s are the mean/std of per-cell counts over occupied cells (the
    standard Gi* simplification to the occupied-cell universe — empty
    ocean cells would otherwise dominate the baseline; documented
    convention, identical in the SQL twin).

    Scale: one keyed cell count; the neighborhood sum is a 9-way
    self-join of the CELL table (vastly smaller than the point table)
    via a bounded dx/dy expansion; the global moments are one broadcast
    scalar. No point-level join anywhere.
    """
    from feature_store_fraud_detection_spark.functions.numeric import (
        round4_stable,
    )

    cells = (
        df.filter(F.col(lat_col).isNotNull() & F.col(lon_col).isNotNull())
        .groupBy(
            F.floor(F.col(lat_col) / cell_deg).cast("bigint").alias("cx"),
            F.floor(F.col(lon_col) / cell_deg).cast("bigint").alias("cy"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    offsets = F.expr(
        "explode(array(" + ", ".join(
            f"struct({dx}L AS dx, {dy}L AS dy)"
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ) + "))"
    )
    cover = cells.select(
        "cx", "cy", "n_events", offsets.alias("o")
    ).select(
        (F.col("cx") + F.col("o.dx")).alias("tx"),
        (F.col("cy") + F.col("o.dy")).alias("ty"),
        F.col("n_events").alias("__contrib"),
    )
    hood = cover.groupBy("tx", "ty").agg(
        F.sum("__contrib").alias("neighbor_sum"),
        F.count(F.lit(1)).alias("w"),
    )
    moments = cells.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("n_events").alias("__s1"),
        F.sum(
            (F.col("n_events") * F.col("n_events")).cast("decimal(38,0)")
        ).alias("__s2"),
    )
    scored = (
        cells.join(
            hood,
            (F.col("cx") == F.col("tx")) & (F.col("cy") == F.col("ty")),
        )
        .crossJoin(F.broadcast(moments))
    )
    n = F.col("__n").cast("double")
    m = F.col("__s1").cast("double") / n
    var = F.col("__s2").cast("double") / n - m * m
    z = F.when(
        var > 0,
        (F.col("neighbor_sum").cast("double") - m * F.col("w"))
        / (F.sqrt(var) * F.sqrt(F.col("w").cast("double"))),
    )  # uniform grid (zero variance) -> NULL, not inf
    return scored.select(
        "cx",
        "cy",
        "n_events",
        "neighbor_sum",
        F.col("w").cast("int").alias("w"),
        round4_stable(z).alias("gi_z"),
    )
