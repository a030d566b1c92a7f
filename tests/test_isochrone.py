"""Isochrone tiling vs oracle — exact tile-assignment match (north rule)."""

import numpy as np
import pandas as pd
import pytest

from ferrobus_spark.operators import isochrone as iso
from ferrobus_spark.routing.points import build_point_tables
from ferrobus_spark.sources.transit import node_lonlat
from tests.oracle import transit_oracle as O

# polygon over the city grid core
AREA = np.array([
    [-122.495, 37.705],
    [-122.430, 37.705],
    [-122.430, 37.770],
    [-122.495, 37.770],
])
RES = 7  # ~0.0078° cells over the fixture city
CUTOFF = 1800
DEP = 8 * 3600
MAX_TRANSFERS = 3
MAX_WALK = 1200

ORIGINS = [(0, *node_lonlat(10, 3)), (1, *node_lonlat(25, 18))]


@pytest.fixture(scope="module")
def oracle_index(oracle_model):
    return O.build_iso_index(oracle_model, AREA, RES, MAX_WALK)


@pytest.fixture(scope="module")
def spark_grid(spark, spark_model):
    return iso.build_iso_grid(spark, spark_model, AREA, RES, MAX_WALK)


@pytest.fixture(scope="module")
def spark_origins(spark, spark_model):
    pts = spark.createDataFrame(
        pd.DataFrame(ORIGINS, columns=["point_id", "lon", "lat"])
    )
    return build_point_tables(
        spark, pts, spark_model["street_nodes"], spark_model["node_to_stop"],
        spark_model.csr, max_walking_time=MAX_WALK, max_stops=10,
    )


def test_grid_snap_matches(spark_grid, oracle_index):
    got = sorted(
        int(r.point_id) for r in spark_grid["point_nodes"].select("point_id").collect()
    )
    exp = sorted(c for c, _tp in oracle_index)
    assert got == exp


def test_isochrone_cells_exact(spark, timetable, spark_origins,
                               spark_grid, oracle_model, oracle_index):
    got = (
        iso.isochrone_cells(
            spark, timetable, spark_origins, spark_grid,
            DEP, MAX_TRANSFERS, CUTOFF,
        )
        .toPandas()
        .groupby("origin_id")["cell"]
        .apply(lambda s: sorted(s))
        .to_dict()
    )
    for oid, lon, lat in ORIGINS:
        tp = O.make_transit_point(oracle_model, lon, lat, MAX_WALK, 10)
        exp = sorted(
            O.isochrone_cells(oracle_model, oracle_index, tp, DEP, MAX_TRANSFERS, CUTOFF)
        )
        assert got.get(oid, []) == exp, f"origin {oid}"
        assert len(exp) >= 3  # non-trivial isochrone


def test_isochrone_wkt_shape(spark, timetable, spark_origins, spark_grid):
    cells = iso.isochrone_cells(
        spark, timetable, spark_origins, spark_grid,
        DEP, MAX_TRANSFERS, CUTOFF,
    )
    wkt = iso.isochrone_wkt(cells).toPandas()
    assert len(wkt) == len(ORIGINS)
    assert all(w.startswith("MULTIPOLYGON(") for w in wkt["wkt"])


def test_percent_access_exact(spark, timetable, spark_origins,
                              spark_grid, oracle_model, oracle_index):
    rng = (7 * 3600, 7 * 3600 + 3600)
    interval = 1200
    got = (
        iso.percent_access_cells(
            spark, timetable, spark_origins, spark_grid,
            rng, interval, MAX_TRANSFERS, CUTOFF,
        )
        .toPandas()
    )
    for oid, lon, lat in ORIGINS:
        tp = O.make_transit_point(oracle_model, lon, lat, MAX_WALK, 10)
        exp = O.percent_access(
            oracle_model, oracle_index, tp, rng, interval, MAX_TRANSFERS, CUTOFF
        )
        sub = got[got["origin_id"] == oid]
        gd = dict(zip(sub["cell"], sub["percent_access"]))
        assert gd == pytest.approx(exp), f"origin {oid}"
