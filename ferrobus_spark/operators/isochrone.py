"""Isochrone tiling products (reference algo/isochrone.rs, SURVEY §3.3).

* :func:`build_iso_grid` — polyfill an area polygon to hex cells, snap
  each centroid as a TransitPoint with max_stops=3
  (IsochroneIndex::new, isochrone.rs:43-87); unsnappable cells drop.
* :func:`isochrone_cells` — one-to-many from origins to grid centroids,
  cutoff filter → (origin_id, departure, cell) rows. These tile
  assignments are the north-rule exact-match output.
* :func:`isochrone_wkt` — dissolve each origin's cell set into a WKT
  MULTIPOLYGON (SolventBuilder analogue).
* :func:`percent_access_cells` — departure sampling × reachable cells →
  per-cell percent (isochrone.rs:138-189). One Spark job: departures
  are rows, not a driver loop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ferrobus_spark import hexgrid
from ferrobus_spark.routing.points import build_point_tables
from ferrobus_spark.routing.products import one_to_many


def build_iso_grid(
    spark: SparkSession,
    model,
    area_polygon: np.ndarray,
    res: int,
    max_walking_time: int = 1200,
) -> dict[str, DataFrame]:
    """Grid point tables; point_id IS the hex cell id (int64)."""
    cells = hexgrid.polygon_to_cells(np.asarray(area_polygon, np.float64), res)
    lon, lat = hexgrid.cell_to_latlng(cells)
    pts = spark.createDataFrame(
        pd.DataFrame({"point_id": cells.astype("int64"), "lon": lon, "lat": lat})
    )
    return build_point_tables(
        spark,
        pts,
        model["street_nodes"],
        model["node_to_stop"],
        model.csr,
        max_walking_time=max_walking_time,
        max_stops=3,
    )


def isochrone_cells(
    spark: SparkSession,
    tt,
    origin_tables: dict[str, DataFrame],
    grid_tables: dict[str, DataFrame],
    departure: int | None,
    max_transfers: int,
    cutoff: int,
) -> DataFrame:
    """(origin_id, departure, cell) reachable-tile assignments (F6)."""
    res = one_to_many(spark, tt, origin_tables, grid_tables, departure, max_transfers)
    return res.filter(F.col("travel_time") <= cutoff).select(
        "origin_id", "departure", F.col("dest_id").alias("cell")
    )


@F.pandas_udf(T.StringType())
def _dissolve_udf(cells: pd.Series) -> pd.Series:
    """Arrow-batched dissolve: one WKT MULTIPOLYGON per origin's cell set.

    A pandas UDF (not a row-at-a-time ``@F.udf``) so bulk isochrones over
    millions of origins cross Python once per Arrow batch instead of once
    per row with pickle serialization; the per-origin geometry union stays
    NumPy inside :func:`~ferrobus_spark.hexgrid.cells_to_wkt`."""
    return pd.Series(
        [hexgrid.cells_to_wkt(np.asarray(c, np.int64)) for c in cells]
    )


def isochrone_wkt(cells_df: DataFrame) -> DataFrame:
    """(origin_id, departure, wkt) — dissolved MULTIPOLYGON per origin."""
    return (
        cells_df.groupBy("origin_id", "departure")
        .agg(F.sort_array(F.collect_list("cell")).alias("cells"))
        .withColumn("wkt", _dissolve_udf("cells"))
        .drop("cells")
    )


def percent_access_cells(
    spark: SparkSession,
    tt,
    origin_tables: dict[str, DataFrame],
    grid_tables: dict[str, DataFrame],
    dep_range: tuple[int, int],
    sample_interval: int,
    max_transfers: int,
    cutoff: int,
) -> DataFrame:
    """(origin_id, cell, percent_access) — A7 heat map.

    Departure samples become rows on the origin side, so the whole
    sweep is ONE one-to-many job (origins × samples parallel axis)
    instead of the reference's rayon driver loop.
    """
    deps = list(range(dep_range[0], dep_range[1] + 1, sample_interval))
    deps_df = spark.createDataFrame([(d,) for d in deps], "departure BIGINT")
    sampled = {
        **origin_tables,
        "point_nodes": origin_tables["point_nodes"].crossJoin(F.broadcast(deps_df)),
    }
    cells = isochrone_cells(
        spark, tt, sampled, grid_tables, None, max_transfers, cutoff
    )
    return (
        cells.groupBy("origin_id", "cell")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "percent_access", F.col("n") * 100.0 / F.lit(float(len(deps)))
        )
        .drop("n")
    )
