"""End-to-end parity vs the reference's OWN python-binding goldens.

The reference ships hard travel-time assertions over its real-city fixture
(zhelez GTFS + roads_zhelez.pbf) in /root/reference/tests/python/test.py:

  * travel_time_matrix @ 28800, mt=2:   [[0, 1044], [1253, 0]]   (:41-53)
  * find_route @ 43200, mt=2:           1566                     (:56-67)
  * one-to-many @ 43200, mt=2:          [1524, 735]              (:70-88)
  * isochrone WKT prefix:               "MULTIPOLYGON(((93."     (:21-38)

This suite rebuilds the full model from the raw files with THIS engine
(CSV scan → timetable; PBF scan → street graph; snap; transfers) and
asserts the same numbers — the strongest exact-output evidence available
without running the Rust binary. Model config mirrors conftest.py:25-33
(date 2024-01-11, max_transfer_time 600).
"""

from __future__ import annotations

import os

import pytest

GTFS = "/root/reference/tests/test-data/zhelez"
PBF = "/root/reference/tests/test-data/roads_zhelez.pbf"

pytestmark = pytest.mark.skipif(
    not (os.path.isdir(GTFS) and os.path.exists(PBF)),
    reason="reference zhelez fixture not present",
)


@pytest.fixture(scope="module")
def zhelez_model(spark):
    from ferrobus_spark.model.build import build_model
    from ferrobus_spark.sources.gtfs_csv import load_gtfs_dirs
    from ferrobus_spark.sources.osm_pbf import street_tables_from_pbf

    tabs = load_gtfs_dirs(spark, GTFS)
    streets = street_tables_from_pbf(spark, PBF)
    tabs.update({k: v.localCheckpoint() for k, v in streets.items()})
    return build_model(spark, tabs, "2024-01-11", max_transfer_time=600)


@pytest.fixture(scope="module")
def zhelez_tt(zhelez_model):
    from ferrobus_spark.routing.timetable import build_timetable_csr

    return build_timetable_csr(zhelez_model.tables)


@pytest.fixture(scope="module")
def zhelez_points(spark, zhelez_model):
    from ferrobus_spark.routing.points import build_point_tables

    pts = spark.createDataFrame(
        [
            (0, 93.532134, 56.252619),
            (1, 93.499159, 56.242574),
            (2, 93.533561, 56.256657),
            (3, 93.552460, 56.231878),
        ],
        "point_id long, lon double, lat double",
    )
    pt = build_point_tables(
        spark,
        pts,
        zhelez_model["street_nodes"],
        zhelez_model["node_to_stop"],
        zhelez_model.csr,
        max_walking_time=1200,
        max_stops=10,
    )
    return {k: v.localCheckpoint() for k, v in pt.items()}


def test_street_graph_shape(zhelez_model):
    # not a reference assert, but pins the PBF pipeline output so graph
    # regressions surface here rather than as golden drift
    assert zhelez_model["street_nodes"].count() == 7095
    assert zhelez_model["street_edges"].count() == 20130  # symmetric rows


def test_travel_time_matrix_golden(spark, zhelez_tt, zhelez_points):
    from ferrobus_spark.routing import products

    rows = products.travel_time_matrix(
        spark, zhelez_tt, zhelez_points, 8 * 3600, 2
    ).collect()
    m = {(r.origin_id, r.dest_id): r.travel_time for r in rows}
    assert m[(0, 1)] == 1044  # test.py:52
    assert m[(1, 0)] == 1253  # test.py:53
    assert m[(0, 0)] == 0 and m[(1, 1)] == 0


def test_find_route_golden(spark, zhelez_tt, zhelez_points):
    from ferrobus_spark.routing import products

    od = spark.createDataFrame([(0, 2, 1)], "pair_id long, origin_id long, dest_id long")
    rows = products.route_pairs(
        spark, zhelez_tt, od, zhelez_points, zhelez_points, 43200, 2
    ).collect()
    assert len(rows) == 1
    assert rows[0].travel_time == 1566  # test.py:66


def test_one_to_many_golden(spark, zhelez_tt, zhelez_points):
    from ferrobus_spark.routing import products

    rows = products.one_to_many(
        spark, zhelez_tt, zhelez_points, zhelez_points, 43200, 2
    ).collect()
    o = {(r.origin_id, r.dest_id): r.travel_time for r in rows}
    assert o[(2, 1)] == 1524  # test.py:87
    assert o[(2, 3)] == 735   # test.py:88


def test_isochrone_wkt_prefix_golden(spark, zhelez_model, zhelez_tt, zhelez_points):
    import numpy as np

    from ferrobus_spark.operators.isochrone import (
        build_iso_grid, isochrone_cells, isochrone_wkt,
    )

    # reference area polygon (test.py:24), point (56.25788..., 93.53960...)
    area = np.array(
        [
            (93.57274857628481, 56.18357044999381),
            (93.57274857628481, 56.30437667924404),
            (93.39795011002934, 56.30437667924404),
            (93.39795011002934, 56.18357044999381),
            (93.57274857628481, 56.18357044999381),
        ]
    )
    grid = build_iso_grid(spark, zhelez_model, area, res=8)
    grid = {k: v.localCheckpoint() for k, v in grid.items()}

    from ferrobus_spark.routing.points import build_point_tables

    origin = build_point_tables(
        spark,
        spark.createDataFrame(
            [(0, 93.53960625054688, 56.25788847445582)],
            "point_id long, lon double, lat double",
        ),
        zhelez_model["street_nodes"],
        zhelez_model["node_to_stop"],
        zhelez_model.csr,
        max_walking_time=1200,
        max_stops=10,
    )
    cells = isochrone_cells(
        spark, zhelez_tt, origin, grid, 43200, 3, cutoff=1200
    )
    wkt_rows = isochrone_wkt(cells).collect()
    assert len(wkt_rows) == 1
    wkt = wkt_rows[0].wkt
    assert wkt.startswith("MULTIPOLYGON(((93.")  # test.py:38
    # every vertex stays inside the query area bbox (sanity on dissolve)
    import re

    xs = [float(x) for x in re.findall(r"(9[0-9]\.\d+) 5", wkt)]
    assert all(93.39 <= x <= 93.58 for x in xs)


def test_multi_feed_zhelez_plus_disjoint(spark, tmp_path_factory):
    """S3 integration: zhelez + a second, geographically disjoint feed
    loaded together. The cross-feed dense index must offset the second
    feed's stops after zhelez's, its (unreachable) routes must build
    cleanly into the shared timetable, and the zhelez matrix golden must
    be unchanged — the new stops fail the snap gate, so no transfer or
    access path can reach them (processor.rs:43-53 multi-feed concat
    semantics)."""
    from ferrobus_spark.model.build import build_model
    from ferrobus_spark.routing import products
    from ferrobus_spark.routing.points import build_point_tables
    from ferrobus_spark.routing.timetable import build_timetable_csr
    from ferrobus_spark.sources.gtfs_csv import load_gtfs_dirs
    from ferrobus_spark.sources.osm_pbf import street_tables_from_pbf

    d = tmp_path_factory.mktemp("feed2")
    (d / "stops.txt").write_text(
        "stop_id,stop_name,stop_lat,stop_lon\n"
        "X1,Far One,0.01,0.01\nX2,Far Two,0.02,0.01\nX3,Far Three,0.03,0.01\n"
    )
    (d / "trips.txt").write_text(
        "route_id,service_id,trip_id\nXR,XS,XT0\nXR,XS,XT1\n"
    )
    (d / "stop_times.txt").write_text(
        "trip_id,arrival_time,departure_time,stop_id,stop_sequence\n"
        "XT0,08:00:00,08:00:30,X1,1\nXT0,08:05:00,08:05:30,X2,2\n"
        "XT0,08:10:00,08:10:30,X3,3\n"
        "XT1,09:00:00,09:00:30,X1,1\nXT1,09:05:00,09:05:30,X2,2\n"
        "XT1,09:10:00,09:10:30,X3,3\n"
    )
    (d / "calendar.txt").write_text(
        "service_id,monday,tuesday,wednesday,thursday,friday,saturday,sunday,"
        "start_date,end_date\nXS,1,1,1,1,1,1,1,20240101,20241231\n"
    )

    tabs = load_gtfs_dirs(spark, [GTFS, str(d)])
    n_zhelez = load_gtfs_dirs(spark, GTFS)["gtfs_stops"].count()
    stops = tabs["gtfs_stops"].orderBy("file_idx").collect()
    assert len(stops) == n_zhelez + 3
    # running offset: feed2 stops take the next three dense slots in order
    assert [s.stop_id for s in stops[n_zhelez:]] == ["X1", "X2", "X3"]
    assert [s.file_idx for s in stops[n_zhelez:]] == [
        n_zhelez, n_zhelez + 1, n_zhelez + 2,
    ]

    streets = street_tables_from_pbf(spark, PBF)
    tabs.update({k: v.localCheckpoint() for k, v in streets.items()})
    model = build_model(spark, tabs, "2024-01-11", max_transfer_time=600)
    tt = build_timetable_csr(model.tables)
    # the disjoint feed's stops are snap-gated out of the street network
    far = {n_zhelez, n_zhelez + 1, n_zhelez + 2}
    n2s = {
        int(r.stop_idx) for r in model["node_to_stop"].select("stop_idx").collect()
    }
    assert not (far & n2s)

    pts = build_point_tables(
        spark,
        spark.createDataFrame(
            [(0, 93.532134, 56.252619), (1, 93.499159, 56.242574)],
            "point_id long, lon double, lat double",
        ),
        model["street_nodes"], model["node_to_stop"], model.csr,
        max_walking_time=1200, max_stops=10,
    )
    rows = products.travel_time_matrix(spark, tt, pts, 8 * 3600, 2).collect()
    m = {(r.origin_id, r.dest_id): r.travel_time for r in rows}
    assert m[(0, 1)] == 1044 and m[(1, 0)] == 1253  # goldens unchanged


def test_range_routing_golden(spark, zhelez_tt, zhelez_points):
    """range_multimodal_routing golden (reference test.py:103-137): the
    (56.256657,93.533561)→(56.242574,93.499159) pair over departures
    43200–44000 at mt=2 yields exactly three 1-transfer journeys, all
    arriving 44766, walking_time 52."""
    from ferrobus_spark.routing.range import range_routing

    od = spark.createDataFrame([(0, 2, 1)], "pair_id long, origin_id long, dest_id long")
    rows = range_routing(
        spark, zhelez_tt, od, zhelez_points, zhelez_points, (43200, 44000), 2
    ).collect()
    got = sorted(
        (r.travel_time, r.transfers, r.walking_time, r.departure_time, r.arrival_time)
        for r in rows
    )
    assert got == [
        (809, 1, 52, 43957, 44766),   # test.py:115-121
        (1109, 1, 52, 43657, 44766),  # test.py:122-128
        (1469, 1, 52, 43297, 44766),  # test.py:129-135
    ]


def test_pareto_range_routing_golden(spark, zhelez_tt, zhelez_points):
    """pareto_range_multimodal_routing golden (test.py:139-161): the
    Pareto front of the same window keeps ONLY the 809 s journey."""
    from ferrobus_spark.routing.range import range_routing

    od = spark.createDataFrame([(0, 2, 1)], "pair_id long, origin_id long, dest_id long")
    rows = range_routing(
        spark, zhelez_tt, od, zhelez_points, zhelez_points, (43200, 44000), 2
    ).collect()
    front = [r for r in rows if r.is_pareto]
    assert len(front) == 1
    r = front[0]
    assert (r.travel_time, r.transfers, r.walking_time, r.departure_time,
            r.arrival_time) == (809, 1, 52, 43957, 44766)  # test.py:153-159


def test_detailed_journey_geojson_properties_golden(
    spark, zhelez_model, zhelez_tt, zhelez_points
):
    """detailed_journey golden, ported faithfully from reference
    test.py:162-214 for the (56.256657,93.533561)→(56.231878,93.552460)
    journey at 43200 (mt=3).

    The reference's own test guards its property asserts behind
    ``if len(features) == 3`` — a conditional golden. On the current
    fixture that branch is UNREACHABLE in the reference itself: two
    rides tie into stop "74" at 43920 (bus_9 direct at dep 43320, and
    transfer→"46"→bus_3 summer trip at dep 43500 — summer_weekday IS
    active on 2024-01-11 because processor.rs:146-156 checks only the
    weekday columns, never start/end dates), RAPTOR updates only on
    STRICT improvement (traced/state.rs:84), and routes scan in
    ascending route-index order (raptor_utils.rs:105-119) with indices
    assigned by sorted route_id then lexicographic pattern
    (processor.rs:350-353, 406-408) — so bus_3 (idx 8) sets the round-1
    label before bus_9 (idx 17) in BOTH engines and the journey has 5
    features. This test mirrors the reference's conditional for the
    3-feature golden (test.py:186-214) and additionally pins the
    5-feature outcome's full property dicts, which the reference test
    leaves unasserted."""
    import json

    from ferrobus_spark.routing.traced import detailed_journeys, legs_to_geojson_model

    od = spark.createDataFrame([(0, 2, 3)], "pair_id long, origin_id long, dest_id long")
    legs = detailed_journeys(
        spark, zhelez_tt, od, zhelez_points, zhelez_points, 43200, 3
    )
    rows = legs_to_geojson_model(legs, zhelez_model).collect()
    assert len(rows) == 1
    geojson = json.loads(rows[0].geojson)
    assert len(geojson["features"]) in (3, 5)

    if len(geojson["features"]) == 3:  # the reference's guarded golden
        access_leg, transit_leg, egress_leg = geojson["features"]
        assert access_leg["properties"] == {  # test.py:186-193
            "arrival_time": 43223, "departure_time": 43200, "duration": 23,
            "from_name": "", "leg_type": "access_walk", "to_name": "21",
        }
        assert transit_leg["properties"] == {  # test.py:195-205
            "arrival_time": 43920, "departure_time": 43320, "duration": 600,
            "from_name": "21", "leg_index": 0, "leg_type": "transit",
            "route_id": "bus_9", "to_name": "74",
            "trip_id": "bus_9_dir0_11_53_winter_weekday",
        }
        assert egress_leg["properties"] == {  # test.py:207-214
            "arrival_time": 43935, "departure_time": 43920, "duration": 15,
            "from_name": "74", "leg_type": "egress_walk", "to_name": "",
        }
    else:  # the outcome both engines actually reach on this fixture
        access, transfer, waiting, transit, egress = geojson["features"]
        # endpoints identical to the reference's golden walk legs —
        # access/egress parity holds; only the tie-broken middle differs
        assert access["properties"] == {
            "arrival_time": 43223, "departure_time": 43200, "duration": 23,
            "from_name": "", "leg_type": "access_walk", "to_name": "21",
        }
        assert transfer["properties"] == {
            "arrival_time": 43414, "departure_time": 43223, "duration": 191,
            "from_name": "21", "leg_index": 0, "leg_type": "transfer",
            "to_name": "46",
        }
        assert waiting["properties"] == {
            "duration": 86, "leg_type": "waiting", "stop_name": "46",
        }
        assert transit["properties"] == {
            "arrival_time": 43920, "departure_time": 43500, "duration": 420,
            "from_name": "46", "leg_index": 2, "leg_type": "transit",
            "route_id": "bus_3", "to_name": "74",
            "trip_id": "bus_3_dir1_12_03_summer_weekday",
        }
        assert egress["properties"] == {
            "arrival_time": 43935, "departure_time": 43920, "duration": 15,
            "from_name": "74", "leg_type": "egress_walk", "to_name": "",
        }
