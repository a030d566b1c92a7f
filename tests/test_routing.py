"""Routing kernels vs the pure-Python oracle — exact integer parity."""

import pandas as pd
import pytest

from ferrobus_spark.routing import products
from ferrobus_spark.routing.points import build_point_tables
from ferrobus_spark.routing.raptor import raptor as spark_raptor
from ferrobus_spark.routing.timetable import INF as TT_INF
from ferrobus_spark.routing.timetable import build_timetable_csr
from ferrobus_spark.sources.transit import query_points
from tests.oracle import transit_oracle as O

DEPARTURE = 8 * 3600
MAX_TRANSFERS = 3


@pytest.fixture(scope="module")
def oracle_points(oracle_model):
    pts = {}
    for row in query_points().itertuples(index=False):
        tp = O.make_transit_point(
            oracle_model, row.lon, row.lat, row.max_walking_time, row.max_nearest_stops
        )
        if tp is not None:
            pts[int(row.point_id)] = tp
    return pts


@pytest.fixture(scope="module")
def spark_points(spark, spark_model):
    pts = spark.createDataFrame(query_points())
    return build_point_tables(
        spark,
        pts,
        spark_model["street_nodes"],
        spark_model["node_to_stop"],
        spark_model.csr,
    )


def test_raptor_kernel_all_stops(timetable, oracle_model):
    """All-targets RAPTOR from several sources at several departures."""
    n = len(oracle_model.stops)
    for source in [0, 5, 17, 33, 50]:
        for dep in [7 * 3600, 8 * 3600 + 120]:
            o_best, o_k = O.raptor(oracle_model, source, None, dep, MAX_TRANSFERS)
            s_best, s_k = spark_raptor(timetable, source, dep, MAX_TRANSFERS, target=None)
            got = [None if b == TT_INF else (int(b), int(k)) for b, k in zip(s_best, s_k)]
            exp = [None if b == O.INF else (b, k) for b, k in zip(o_best, o_k)]
            assert got == exp, f"source={source} dep={dep}"


def test_raptor_single_target_mode(timetable, oracle_model):
    for source, target in [(0, 40), (5, 12), (20, 3)]:
        o_best, o_k = O.raptor(oracle_model, source, target, DEPARTURE, MAX_TRANSFERS)
        s_best, s_k = spark_raptor(timetable, source, DEPARTURE, MAX_TRANSFERS, target=target)
        o = None if o_best[target] == O.INF else (o_best[target], o_k[target])
        s = None if s_best[target] == TT_INF else (int(s_best[target]), int(s_k[target]))
        assert s == o, f"{source}->{target}"


def test_transit_points_match(spark_points, oracle_points):
    got_nodes = {
        int(r.point_id): (int(r.node_id), int(r.snap_secs))
        for r in spark_points["point_nodes"].collect()
    }
    assert set(got_nodes) == set(oracle_points)  # same snappable set
    stops_pdf = spark_points["point_stops"].toPandas()
    for pid, tp in oracle_points.items():
        exp_sorted = sorted((t, s) for s, t in tp.nearest_stops)
        sub = stops_pdf[stops_pdf["point_id"] == pid].sort_values("rank")
        got = list(zip(sub["access_secs"], sub["stop_idx"]))
        assert got == exp_sorted, f"point {pid} nearest stops"

    walk_pdf = spark_points["point_walk"].toPandas()
    for pid, tp in oracle_points.items():
        sub = walk_pdf[walk_pdf["point_id"] == pid]
        got = dict(zip(sub["node_id"], sub["walk_secs"]))
        assert got == tp.walking_paths, f"point {pid} walking paths"


def test_nearest_node_join_is_one_lazy_plan(spark, spark_model, oracle_model, jobs_in_group):
    """The brute-force fallback is part of the snap plan, not a probe: the
    call starts no job, and every point, off-network point 100 (beyond
    the candidate ring's guarantee) included, gets the brute-force 1-NN."""
    from ferrobus_spark import hexgrid
    from ferrobus_spark.model.snap import nearest_node_join

    qp = query_points()
    pts = spark.createDataFrame(qp[["point_id", "lon", "lat"]])
    nodes = spark_model["street_nodes"]
    out = []
    assert jobs_in_group(lambda: out.append(nearest_node_join(pts, nodes, "point_id"))) == 0
    got = {int(r.point_id): (int(r.node_id), int(r.snap_secs)) for r in out[0].collect()}
    exp = {
        int(r.point_id): O.nearest_node(oracle_model.node_pos, r.lon, r.lat)
        for r in qp.itertuples(index=False)
    }
    assert got == exp
    far = qp.set_index("point_id").loc[100]
    nlon, nlat = oracle_model.node_pos[exp[100][0]]
    guarantee = hexgrid.cell_size(8) * (hexgrid.SQRT3 * 3 - 2.0)
    assert (far.lon - nlon) ** 2 + (far.lat - nlat) ** 2 > guarantee**2


def test_one_to_many_matches_oracle(
    spark, timetable, spark_points, oracle_model, oracle_points
):
    got = products.one_to_many(
        spark, timetable, spark_points, spark_points, DEPARTURE, MAX_TRANSFERS
    ).toPandas()
    got = got.set_index(["origin_id", "dest_id"]).sort_index()

    pids = sorted(oracle_points)
    pts = [oracle_points[p] for p in pids]
    for i, pid in enumerate(pids):
        exp = O.one_to_many(oracle_model, oracle_points[pid], pts, DEPARTURE, MAX_TRANSFERS)
        for j, dpid in enumerate(pids):
            e = exp[j]
            key = (pid, dpid)
            if e is None:
                assert key not in got.index, f"{key} should be unreachable"
                continue
            row = got.loc[key]
            assert int(row["travel_time"]) == e["travel_time"], key
            assert int(row["walking_time"]) == e["walking_time"], key
            assert int(row["transfers"]) == e["transfers"], key
            if e["transit_time"] is None:
                assert pd.isna(row["transit_time"]), key
            else:
                assert int(row["transit_time"]) == e["transit_time"], key


def test_od_legs_walking_matches_dijkstra(spark, spark_model, spark_points):
    """Every origin × destination of the fixture: od_legs reads the same
    walk as a bounded Dijkstra from the origin's snap node, and a pair
    with a gated point (100 is off-network) has no row."""
    from ferrobus_spark.routing.csr import bounded_dijkstra
    from ferrobus_spark.routing.points import od_legs

    csr = spark_model.csr
    nodes = {
        int(r.point_id): (int(r.node_id), int(r.snap_secs), int(r.max_walking_time))
        for r in spark_points["point_nodes"].collect()
    }
    ids = sorted(int(p) for p in query_points()["point_id"])
    assert 100 in ids and 100 not in nodes
    od = spark.createDataFrame(
        [(i * 1000 + j, o, d) for i, o in enumerate(ids) for j, d in enumerate(ids)],
        "pair_id long, origin_id long, dest_id long",
    )
    got = {
        (int(r.origin_id), int(r.dest_id)): r.walking
        for r in od_legs(od, spark_points, spark_points).collect()
    }
    exp = {}
    for o, (node, snap, mwt) in nodes.items():
        dist = bounded_dijkstra(csr, int(csr.dense_of([node])[0]), max_cost=mwt - snap)
        for d, (d_node, _s, _m) in nodes.items():
            exp[(o, d)] = dist.get(int(csr.dense_of([d_node])[0]))
    assert len(exp) == len(nodes) ** 2 and all(exp[(p, p)] == 0 for p in nodes)
    assert got == exp


def test_route_pairs_drops_gated_points(spark, timetable, spark_points):
    """A pair whose destination (or origin) fails the snap gate has no
    row, as in range_routing and detailed_journeys."""
    od = spark.createDataFrame(
        [(0, 0, 100), (1, 100, 0), (2, 0, 0)],
        "pair_id long, origin_id long, dest_id long",
    )
    rows = products.route_pairs(
        spark, timetable, od, spark_points, spark_points, DEPARTURE, MAX_TRANSFERS
    ).collect()
    assert [(r.origin_id, r.dest_id, r.travel_time) for r in rows] == [(0, 0, 0)]


def test_matrix_diagonal_zero(spark, timetable, spark_points):
    mat = products.travel_time_matrix(
        spark, timetable, spark_points, DEPARTURE, MAX_TRANSFERS
    ).toPandas()
    diag = mat[mat["origin_id"] == mat["dest_id"]]
    assert (diag["travel_time"] == 0).all()


def test_statistics_match_oracle(
    spark, timetable, spark_points, oracle_model, oracle_points
):
    pids = sorted(oracle_points)
    pts = [oracle_points[p] for p in pids]
    for cutoff in [None, 3000]:
        got = products.travel_time_statistics(
            spark, timetable, spark_points,
            DEPARTURE, MAX_TRANSFERS, threshold=0.5, filter_cutoff=cutoff,
        ).toPandas().set_index("origin_id")
        for stat, col in [("mean", "mean_tt"), ("median", "median_tt")]:
            exp = O.travel_time_statistics(
                oracle_model, pts, DEPARTURE, MAX_TRANSFERS,
                threshold=0.5, stat=stat, filter_cutoff=cutoff,
            )
            for i, pid in enumerate(pids):
                g = got[col].get(pid)
                e = exp[i]
                if e is None:
                    assert g is None or pd.isna(g), (stat, cutoff, pid)
                else:
                    assert g == pytest.approx(e, abs=1e-9), (stat, cutoff, pid)


def _chain_model(spark):
    """Minimal model with an ascending 2-hop footpath chain.

    Round 1 route phase marks stop 1 (arr 1100) and stop 2 (arr 1200).
    The reference's ascending live-read footpath pass then relaxes
    1→2 (board 1150, improves stop 2) AND — because stop 2 is processed
    after stop 1 — 2→3 with the IMPROVED board (1150+50=1200). Stop 3's
    round-1 board 1200 catches route 2's 1210 departure in round 2; a
    one-hop-only relax would put stop 3 at 1250 and miss the trip.
    """
    routes = spark.createDataFrame(
        [(0, "A", 1, 2), (1, "B", 1, 2), (2, "C", 1, 2)],
        "route_idx LONG, route_id STRING, num_trips LONG, num_stops LONG",
    )
    route_stops = spark.createDataFrame(
        [(0, 0, 0), (0, 1, 1), (1, 0, 0), (1, 1, 2), (2, 0, 3), (2, 1, 4)],
        "route_idx LONG, pos LONG, stop_idx LONG",
    )
    stop_times = spark.createDataFrame(
        [
            (0, 0, 0, 1000, 1000), (0, 0, 1, 1100, 1100),
            (1, 0, 0, 1000, 1000), (1, 0, 1, 1200, 1200),
            (2, 0, 0, 1210, 1210), (2, 0, 1, 1300, 1300),
        ],
        "route_idx LONG, trip_pos LONG, pos LONG, arrival LONG, departure LONG",
    )
    transfers = spark.createDataFrame(
        [(1, 2, 50), (2, 3, 50)],
        "from_stop LONG, to_stop LONG, duration LONG",
    )
    stops_dim = spark.createDataFrame(
        [(i,) for i in range(6)], "stop_idx LONG"
    )
    return {
        "routes": routes,
        "route_stops": route_stops,
        "stop_times": stop_times,
        "transfers": transfers,
        "stops_dim": stops_dim,
    }


def test_raptor_kernel_chains_footpaths_within_round(spark):
    tt = build_timetable_csr(_chain_model(spark))
    best, _ = spark_raptor(tt, 0, 900, MAX_TRANSFERS, target=None)
    # the kernel (reference-exact) chains 1→2→3 within round 1...
    assert int(best[2]) == 1150
    assert int(best[3]) == 1200
    # ...which is what lets round 2 catch route C's 1210 departure
    assert int(best[4]) == 1300
