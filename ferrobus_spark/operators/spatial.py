"""Core spatial operators: tile assignment, PIP join, kNN join.

These are the engine's backbone (SURVEY.md §7 step 2, north-rule metric):

* :func:`assign_cells` — H3-style tile assignment as a pure Column
  expression (whole-stage codegen; also SQL-oracle-comparable).
* :func:`pip_join` — the canonical filter-refine spatial join
  (reference J10, algo/isochrone.rs:191-201 + builder.rs:106-130):
  coarse hex polyfill semi-join, then exact vectorized ray-cast
  refinement only on boundary cells, with interior cells accepted
  without refinement.
* :func:`knn_join` — k-ring candidate generation + Haversine + window
  rank (reference J1/J2, streets/network.rs:31-37 R-tree NN): the small
  broadcast target side is expanded to its rings, so the point side runs
  in codegen with no Python exec node.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ferrobus_spark import hexgrid
from ferrobus_spark.functions.geo import haversine_col
from ferrobus_spark.functions.hex_udfs import cell_expr_col, grid_disk_col


def assign_cells(
    df: DataFrame, lon: str, lat: str, res: int, out: str = "cell"
) -> DataFrame:
    """Tag every row with its hex cell id (tile assignment)."""
    return df.withColumn(out, cell_expr_col(lon, lat, res))


def classify_polyfill(poly: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Split a polygon's covering cells into (interior, boundary) sets.

    Interior = all 6 hex vertices inside the polygon → any point in the
    cell is inside, no refinement needed. Boundary = centroid inside but
    some vertex outside, or centroid outside but within one ring of a
    covered cell → needs exact PIP. This is the filter-refine split that
    keeps the expensive exact test off the hot path at scale.
    """
    poly = np.asarray(poly, np.float64)
    cover = hexgrid.polygon_to_cells(poly, res)
    # expand by one ring so near-boundary outside-centroid cells refine too
    q, r, rr = hexgrid.cell_to_qr(cover)
    offs = hexgrid.grid_disk_offsets(1)
    nq = (q[:, None] + offs[None, :, 0]).ravel()
    nr = (r[:, None] + offs[None, :, 1]).ravel()
    expanded = np.unique(hexgrid.qr_to_cell(nq, nr, res))
    interior, boundary = [], []
    for cell in expanded:
        b = hexgrid.cell_boundary(int(cell))
        inside = hexgrid.point_in_polygon(b[:, 0], b[:, 1], poly)
        if inside.all():
            interior.append(cell)
        elif inside.any() or int(cell) in set(cover.tolist()):
            boundary.append(cell)
        else:
            # cell with no vertex inside can still straddle a polygon
            # vertex — keep it if any polygon vertex is inside the cell
            cells_of_poly = hexgrid.latlng_to_cell(poly[:, 0], poly[:, 1], res)
            if int(cell) in set(cells_of_poly.tolist()):
                boundary.append(cell)
    return np.array(interior, np.int64), np.array(boundary, np.int64)


def pip_join(
    spark,
    points: DataFrame,
    polygons: list[tuple[int, np.ndarray]],
    res: int,
    lon: str = "lon",
    lat: str = "lat",
    cell: str | None = None,
) -> DataFrame:
    """Filter-refine point-in-polygon join.

    Returns ``points`` columns + ``poly_id`` for every (point, polygon)
    containment pair. ``polygons`` is a small broadcastable list of
    ``(poly_id, (n,2) lon/lat ring)``.
    """
    df = points if cell else assign_cells(points, lon, lat, res, "__cell")
    cell_col = cell or "__cell"

    int_rows, bnd_rows = [], []
    poly_map: dict[int, np.ndarray] = {}
    for pid, ring in polygons:
        ring = np.asarray(ring, np.float64)
        poly_map[int(pid)] = ring
        interior, boundary = classify_polyfill(ring, res)
        int_rows += [(int(pid), int(c)) for c in interior]
        bnd_rows += [(int(pid), int(c)) for c in boundary]

    schema = T.StructType([
        T.StructField("poly_id", T.LongType()),
        T.StructField(cell_col, T.LongType()),
    ])
    interior_df = F.broadcast(spark.createDataFrame(int_rows or [], schema))
    boundary_df = F.broadcast(spark.createDataFrame(bnd_rows or [], schema))

    hit_interior = df.join(interior_df, cell_col, "inner")

    cand = df.join(boundary_df, cell_col, "inner")
    bc = spark.sparkContext.broadcast(poly_map)

    out_schema = T.StructType(
        [f for f in cand.schema.fields if f.name != cell_col]
    )

    def refine(batches):
        polys = bc.value
        for pdf in batches:
            keep_parts = []
            for pid, grp in pdf.groupby("poly_id", sort=False):
                ring = polys[int(pid)]
                mask = hexgrid.point_in_polygon(
                    grp[lon].to_numpy(np.float64), grp[lat].to_numpy(np.float64), ring
                )
                keep_parts.append(grp.loc[mask])
            if keep_parts:
                out = pd.concat(keep_parts)
                yield out.drop(columns=[cell_col])

    refined = cand.mapInPandas(refine, schema=out_schema)
    return hit_interior.drop(cell_col).unionByName(refined)


def knn_join(
    points: DataFrame,
    targets: DataFrame,
    k: int,
    res: int,
    ring: int = 1,
    point_id: str = "point_id",
    target_id: str = "target_id",
    plon: str = "lon",
    plat: str = "lat",
    tlon: str = "lon",
    tlat: str = "lat",
) -> DataFrame:
    """k nearest targets per point via k-ring candidate join.

    Both sides are hex-encoded at ``res``; each (broadcast) target
    explodes its ``grid_disk(ring)`` neighborhood and every point
    equi-joins on its own cell — the distributed analogue of the
    reference's R-tree NN (streets/network.rs:31-37). Hex distance is
    symmetric, so these are the pairs a point-side ring would give.
    Exact within the ring radius: callers pick (res, ring) so the k-th
    neighbor is always closer than the minimum distance guaranteed by
    the ring (inradius*(ring) cells).

    Returns (point_id, target_id, dist_m, knn_rank).
    """
    p = points.select(
        point_id,
        F.col(plon).alias("__plon"),
        F.col(plat).alias("__plat"),
        # a non-nullable key: a nullable one makes Catalyst infer
        # isnotnull(cell) and push it below the lon/lat projection,
        # inlining the whole cell expression into a sort method too big
        # for the JIT; -1 is no cell id, so null points still join nothing
        F.coalesce(cell_expr_col(plon, plat, res), F.lit(-1)).alias("__cell"),
    )
    t = F.broadcast(
        assign_cells(targets, tlon, tlat, res, "__tcell").select(
            target_id,
            F.col(tlon).alias("__tlon"),
            F.col(tlat).alias("__tlat"),
            F.explode(grid_disk_col("__tcell", ring)).alias("__cell"),
        )
    )
    cand = p.join(t, "__cell", "inner").withColumn(
        "dist_m", haversine_col("__plon", "__plat", "__tlon", "__tlat")
    )
    w = Window.partitionBy(point_id).orderBy("dist_m", target_id)
    return (
        cand.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select(point_id, target_id, "dist_m", "knn_rank")
    )
