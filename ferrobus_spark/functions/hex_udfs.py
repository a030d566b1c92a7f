"""Hex-grid column functions (no per-row Python).

:func:`cell_expr_col` encodes latlng→cell as a pure Column expression
(whole-stage codegen, no Python at all). :func:`grid_disk_col` is an
Arrow-batched pandas UDF that delegates to the pure-NumPy kernels in
:mod:`ferrobus_spark.hexgrid` — the batched-H3 shape the north rule
prescribes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ferrobus_spark import hexgrid


def cell_expr_col(lon, lat, res: int) -> Column:
    """latlng→cell as a JVM-side Column expression (preferred hot path)."""
    lon_s = lon if isinstance(lon, str) else None
    lat_s = lat if isinstance(lat, str) else None
    if lon_s is None or lat_s is None:
        raise TypeError("cell_expr_col takes column-name strings")
    return F.expr(hexgrid.cell_sql(lon_s, lat_s, res))


@F.pandas_udf(T.ArrayType(T.LongType()))
def _grid_disk_udf(cell: pd.Series, k: pd.Series) -> pd.Series:
    cells = cell.to_numpy(np.int64)
    kk = int(k.iloc[0])
    offs = hexgrid.grid_disk_offsets(kk)  # (m, 2)
    q, r, res = hexgrid.cell_to_qr(cells)
    # vectorized outer sum: (n, m) neighbor grids
    nq = q[:, None] + offs[None, :, 0]
    nr = r[:, None] + offs[None, :, 1]
    flat = (
        res[:, None] * np.int64(hexgrid.RES_SHIFT)
        + (nq + hexgrid.OFF) * np.int64(hexgrid.Q_SHIFT)
        + (nr + hexgrid.OFF)
    )
    return pd.Series(list(flat))


def grid_disk_col(cell: Column | str, k: int) -> Column:
    """cell → array of k-ring neighbor cells (H3 ``grid_disk`` analogue)."""
    cell = F.col(cell) if isinstance(cell, str) else cell
    return _grid_disk_udf(cell, F.lit(k))
