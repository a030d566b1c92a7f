"""Exact 1-NN point→street-node snapping (reference J1).

Distributed analogue of the reference's R-tree nearest-node lookup
(streets/network.rs:31-37). IMPORTANT metric quirk, replicated
deliberately: the reference's rstar R-tree stores raw ``Point<f64>``
lon/lat, so nearest-neighbor is **Euclidean in degree space** — NOT
meters. At high latitude the two disagree (a node offset in longitude
is ~cos(lat)× cheaper in meters than in degrees), and matching the
reference's snap node choice (hence its travel-time goldens) requires
the degree metric. Only the *choice* uses degrees; the snap COST is
``ceil(haversine_m/1.4)`` like network.rs:34-35.

Implementation: hex-cell candidate join with a proven guarantee radius,
plus a brute-force fallback for points whose nearest node lies beyond
the candidate ring — exact 1-NN at any scale. The hex grid lives in
degree space, so the ring guarantee is native: for cells of
circumradius ``s`` (pointy-top), any node outside the k-ring of a
point's cell is at least ``s*(sqrt(3)*(k+1) - 2)`` DEGREES away.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ferrobus_spark import hexgrid
from ferrobus_spark.functions.geo import haversine_col, snap_cost_col
from ferrobus_spark.functions.hex_udfs import cell_expr_col, grid_disk_col


def _deg2_col(plon, plat, nlon, nlat) -> F.Column:
    """Squared Euclidean distance in raw degrees (rstar's metric)."""
    dx = F.col(plon) - F.col(nlon)
    dy = F.col(plat) - F.col(nlat)
    return dx * dx + dy * dy


def nearest_node_join(
    points: DataFrame,
    nodes: DataFrame,
    point_key: str,
    res: int = 8,
    ring: int = 2,
) -> DataFrame:
    """Exact nearest node per point → (point_key, node_id, dist_m, snap_secs).

    ``points``: (point_key, lon, lat); ``nodes``: (node_id, lon, lat).
    Nearest = degree-space Euclidean (see module docstring); cost =
    ``ceil(haversine_m/1.4)`` (streets/network.rs:34-35).
    """
    s = hexgrid.cell_size(res)
    guarantee_deg = s * (hexgrid.SQRT3 * (ring + 1) - 2.0)
    guarantee_deg2 = guarantee_deg * guarantee_deg

    p = points.select(
        point_key,
        F.col("lon").alias("__plon"),
        F.col("lat").alias("__plat"),
        cell_expr_col("lon", "lat", res).alias("__pc"),
    )
    n = nodes.select(
        "node_id",
        F.col("lon").alias("__nlon"),
        F.col("lat").alias("__nlat"),
        cell_expr_col("lon", "lat", res).alias("__cell"),
    )
    cand = (
        p.withColumn("__cell", F.explode(grid_disk_col("__pc", ring)))
        .join(n, "__cell")
        .withColumn("__d2", _deg2_col("__plon", "__plat", "__nlon", "__nlat"))
    )
    w = Window.partitionBy(point_key).orderBy("__d2", "node_id")
    best = (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            point_key,
            "node_id",
            "__d2",
            haversine_col("__plon", "__plat", "__nlon", "__nlat").alias("dist_m"),
        )
    )
    proven = best.filter(F.col("__d2") <= guarantee_deg2).drop("__d2")

    # fallback: points with no candidate or an unproven best → brute force,
    # in the same lazy plan (an empty remainder costs one empty cross join)
    unresolved = points.join(proven.select(point_key), point_key, "left_anti")
    bf = (
        unresolved.select(
            point_key,
            F.col("lon").alias("__plon"),
            F.col("lat").alias("__plat"),
        )
        .crossJoin(
            nodes.select(
                "node_id",
                F.col("lon").alias("__nlon"),
                F.col("lat").alias("__nlat"),
            )
        )
        .withColumn("__d2", _deg2_col("__plon", "__plat", "__nlon", "__nlat"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            point_key,
            "node_id",
            haversine_col("__plon", "__plat", "__nlon", "__nlat").alias("dist_m"),
        )
    )
    return proven.unionByName(bf).withColumn("snap_secs", snap_cost_col(F.col("dist_m")))
