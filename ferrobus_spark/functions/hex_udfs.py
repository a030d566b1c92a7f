"""Hex-grid column functions (no Python at all).

:func:`cell_expr_col` encodes latlng→cell and :func:`grid_disk_col`
expands a cell to its k-ring, both as pure Column expressions that run
in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ferrobus_spark import hexgrid


def cell_expr_col(lon, lat, res: int) -> Column:
    """latlng→cell as a JVM-side Column expression (preferred hot path)."""
    lon_s = lon if isinstance(lon, str) else None
    lat_s = lat if isinstance(lat, str) else None
    if lon_s is None or lat_s is None:
        raise TypeError("cell_expr_col takes column-name strings")
    return F.expr(hexgrid.cell_sql(lon_s, lat_s, res))


def grid_disk_col(cell: str, k: int) -> Column:
    """cell → array of k-ring neighbor cells (H3 ``grid_disk`` analogue).

    A neighbor at axial offset (dq, dr) is ``cell + dq*Q_SHIFT + dr`` in
    the packed id (``r + OFF`` stays inside its 29 bits), listed in
    :func:`hexgrid.grid_disk`'s order. One SQL string, not a Column call
    per neighbor, keeps the driver-side build cheap.
    """
    offsets = (int(dq) * hexgrid.Q_SHIFT + int(dr) for dq, dr in hexgrid.grid_disk_offsets(k))
    return F.expr("array(" + ", ".join(f"{cell} + {off}" for off in offsets) + ")")
