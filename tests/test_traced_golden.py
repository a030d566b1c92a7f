"""Reference traced-RAPTOR golden scenarios (traced_raptor.rs:744-880),
ported as data (micro timetables + expected legs), run against the
engine's traced kernel."""

import numpy as np
import pytest

from ferrobus_spark.routing.timetable import Timetable
from ferrobus_spark.routing.traced import (
    TracedState,
    _reconstruct,
    backtrack_raw_legs,
    normalize_legs,
    traced_raptor,
)


def make_timetable(n_stops, routes, transfers):
    """routes: list of (pattern, [[(arr, dep) per pos] per trip]);
    transfers: {from: [(to, dur)]}."""
    num_trips, num_stops, stops_start, trips_start = [], [], [], []
    rs_flat, arr_flat, dep_flat = [], [], []
    for pattern, trips in routes:
        stops_start.append(len(rs_flat))
        trips_start.append(len(arr_flat))
        rs_flat += list(pattern)
        num_stops.append(len(pattern))
        num_trips.append(len(trips))
        for trip in trips:
            for a, d in trip:
                arr_flat.append(a)
                dep_flat.append(d)
    sr = {}
    for ridx, (pattern, _t) in enumerate(routes):
        for s in pattern:
            sr.setdefault(s, set()).add(ridx)
    sr_indptr = [0]
    sr_routes = []
    for s in range(n_stops):
        sr_routes += sorted(sr.get(s, []))
        sr_indptr.append(len(sr_routes))
    tr_indptr = [0]
    tr_target, tr_secs = [], []
    for s in range(n_stops):
        for t, d in transfers.get(s, []):
            tr_target.append(t)
            tr_secs.append(d)
        tr_indptr.append(len(tr_target))
    return Timetable(
        n_stops=n_stops,
        route_num_trips=np.array(num_trips, np.int64),
        route_num_stops=np.array(num_stops, np.int64),
        route_stops_start=np.array(stops_start, np.int64),
        route_trips_start=np.array(trips_start, np.int64),
        route_stops_flat=np.array(rs_flat, np.int64),
        arr_flat=np.array(arr_flat, np.int64),
        dep_flat=np.array(dep_flat, np.int64),
        sr_indptr=np.array(sr_indptr, np.int64),
        sr_routes=np.array(sr_routes, np.int64),
        tr_indptr=np.array(tr_indptr, np.int64),
        tr_target=np.array(tr_target, np.int64),
        tr_secs=np.array(tr_secs, np.int64),
    )


def test_zero_duration_transfer_legs_hidden():
    # colocated: source 0 --0s transfer--> 1, route [1,2] trip (100,100)->(200,200)
    tt = make_timetable(
        3,
        [([1, 2], [[(100, 100), (200, 200)]])],
        {0: [(1, 0)]},
    )
    j = traced_raptor(tt, 0, 50, 1, target=2)
    assert j is not None
    assert all(
        not (leg["kind"] == "transfer" and leg.get("duration", -1) == 0)
        and leg["kind"] != "transfer"  # the only transfer here is zero-dur
        for leg in j.legs
    )
    assert j.transfers_count == 0
    assert any(
        leg["kind"] == "transit" and leg["from_stop"] == 1 and leg["to_stop"] == 2
        for leg in j.legs
    )
    assert j.arrival_time == 200


def test_waiting_inserted_between_transit_legs():
    st = TracedState(3, 3)
    st.update(0, 0, 100, 100, ("source",))
    st.update(1, 1, 110, 110, ("transit", 0, 0, 0, 100, 110))
    st.update(2, 2, 130, 130, ("transit", 1, 1, 0, 120, 130))
    j = _reconstruct(None, st, 0, 2, 100)
    assert j.departure_time == 100 and j.arrival_time == 130
    kinds = [leg["kind"] for leg in j.legs]
    assert kinds == ["transit", "wait", "transit"]
    wait = j.legs[1]
    assert wait["from_stop"] == 1 and wait["arrive"] - wait["depart"] == 10


def test_backtrack_invariants_and_visible_transfers():
    st = TracedState(4, 2)
    st.update(0, 0, 100, 100, ("source",))
    st.update(0, 1, 105, 105, ("transfer", 0, 100, 105, 5))
    st.update(0, 2, 108, 108, ("transfer", 1, 105, 108, 3))
    st.update(1, 3, 130, 130, ("transit", 2, 1, 0, 120, 130))
    j = _reconstruct(None, st, 0, 3, 100)

    # chronology + chaining + transfer count invariants (reference :793-849)
    current_time = j.departure_time
    current_stop = None
    visible_transfers = 0
    for i, leg in enumerate(j.legs):
        if leg["kind"] in ("transfer", "transit"):
            if i == 0:
                current_stop = leg["from_stop"]
            assert current_stop == leg["from_stop"]
            assert leg["depart"] == current_time
            assert leg["arrive"] >= leg["depart"]
            current_time = leg["arrive"]
            current_stop = leg["to_stop"]
            if leg["kind"] == "transfer":
                visible_transfers += 1
        else:  # wait
            assert current_stop == leg["from_stop"]
            current_time += leg["arrive"] - leg["depart"]
    assert current_time == j.arrival_time
    assert visible_transfers == j.transfers_count == 2

    raw = backtrack_raw_legs(st, 0, 3, 1)
    assert [leg["kind"] for leg in raw] == ["transfer", "transfer", "transit"]


def test_round_marks_survive_same_round_transfer_relaxation():
    # R0=[0,1], R1=[1,3]; transfer 1→2 (dur 5) relaxes in the same round
    # but stop 1 must stay marked so R1 is scanned next round (:853-880)
    tt = make_timetable(
        4,
        [
            ([0, 1], [[(100, 100), (110, 110)]]),
            ([1, 3], [[(120, 120), (130, 130)]]),
        ],
        {1: [(2, 5)]},
    )
    j = traced_raptor(tt, 0, 100, 2, target=3)
    assert j is not None and j.arrival_time == 130
    transits = [
        (leg["from_stop"], leg["to_stop"]) for leg in j.legs if leg["kind"] == "transit"
    ]
    assert (0, 1) in transits and (1, 3) in transits


def test_normalize_rejects_broken_chains():
    with pytest.raises(ValueError):
        normalize_legs([
            {"kind": "transit", "from_stop": 0, "to_stop": 1, "depart": 100,
             "arrive": 110, "route_idx": 0, "trip_pos": 0},
            {"kind": "transit", "from_stop": 2, "to_stop": 3, "depart": 120,
             "arrive": 130, "route_idx": 1, "trip_pos": 0},
        ])


def _micro_csr(edge_weight=None):
    """2-node street graph (external ids 1, 2); optionally connected."""
    from ferrobus_spark.routing.csr import CSRGraph

    if edge_weight is None:
        indptr = np.array([0, 0, 0], np.int64)
        indices = np.array([], np.int32)
        weights = np.array([], np.int64)
    else:
        indptr = np.array([0, 1, 2], np.int64)
        indices = np.array([1, 0], np.int32)
        weights = np.array([edge_weight, edge_weight], np.int64)
    return CSRGraph(
        node_ids=np.array([1, 2], np.int64),
        indptr=indptr, indices=indices, weights=weights,
        lon=np.array([0.0, 1.0]), lat=np.array([0.0, 0.0]),
    )


def _walk_rows(csr, nodes):
    """point_walk rows (point_id, node_id, walk_secs) of each
    (point_id, node_id, snap_secs, max_walking_time) row: the bounded
    Dijkstra that build_point_tables runs."""
    from ferrobus_spark.routing.csr import bounded_dijkstra

    rows = []
    for pid, node, snap, mwt in nodes:
        dense = int(csr.dense_of([node])[0])
        for nd, secs in bounded_dijkstra(csr, dense, max_cost=mwt - snap).items():
            rows.append((pid, int(csr.node_ids[nd]), secs))
    return rows


def _point_tables(spark, csr, nodes, stops):
    return {
        "point_nodes": spark.createDataFrame(
            nodes, "point_id long, node_id long, snap_secs long, max_walking_time long"
        ),
        "point_stops": spark.createDataFrame(
            stops, "point_id long, stop_idx long, access_secs long, rank long"
        ),
        "point_walk": spark.createDataFrame(
            _walk_rows(csr, nodes), "point_id long, node_id long, walk_secs long"
        ),
    }


def _micro_points(spark, csr):
    return _point_tables(
        spark, csr, [(0, 1, 0, 1200), (1, 2, 0, 1200)], [(0, 0, 0, 1), (1, 1, 0, 1)]
    )


def test_od_legs_walk_matches_dijkstra_micro(spark):
    """On the connected micro graph the pair's walk is the 20 s edge, and
    od_legs reads it from point_walk; unconnected, the pair has no walk."""
    from ferrobus_spark.routing.csr import bounded_dijkstra
    from ferrobus_spark.routing.points import od_legs

    od = spark.createDataFrame([(0, 0, 1)], "pair_id long, origin_id long, dest_id long")
    for weight, walk in [(20, 20), (None, None)]:
        csr = _micro_csr(edge_weight=weight)
        pts = _micro_points(spark, csr)
        rows = od_legs(od, pts, pts).collect()
        assert len(rows) == 1
        assert bounded_dijkstra(csr, 0, max_cost=1200).get(1) == walk
        assert rows[0].walking == walk
        assert (rows[0].a_stop, rows[0].e_stop) == (0, 1)


def test_multimodal_prefers_direct_walking_when_faster(spark):
    """itinerary/mod.rs:296-320 ported: a 20 s direct walk beats the
    100 s transit ride (dep 100 → S0@100 → S1@200), so the journey is
    walking-only with total 20 and arrival 120."""
    from ferrobus_spark.routing.traced import detailed_journeys

    tt = make_timetable(2, [([0, 1], [[(100, 100), (200, 200)]])], {})
    pts = _micro_points(spark, _micro_csr(edge_weight=20))
    od = spark.createDataFrame([(0, 0, 1)], "pair_id long, origin_id long, dest_id long")
    legs = [tuple(r) for r in detailed_journeys(
        spark, tt, od, pts, pts, 100, 1
    ).orderBy("leg_idx").collect()]
    assert legs == [(0, 0, "walk", -1, -1, 100, 120, -1, -1)]  # arrival 120


def test_multimodal_pruning_keeps_best_sorted_candidate(spark):
    """itinerary/mod.rs:322-355 ported: no walkable path, rank-1
    access/egress stops S0/S1 carry the ride dep 100 → arr 120 — total
    travel time 20, arrival 120, access alights at S0 (stop 0), egress
    boards from S1 (stop 1)."""
    from ferrobus_spark.routing.traced import detailed_journeys

    tt = make_timetable(2, [([0, 1], [[(100, 100), (120, 120)]])], {})
    # walking_paths empty in the ref test: the nodes are unconnected
    pts = _micro_points(spark, _micro_csr(edge_weight=None))
    od = spark.createDataFrame([(0, 0, 1)], "pair_id long, origin_id long, dest_id long")
    legs = [tuple(r) for r in detailed_journeys(
        spark, tt, od, pts, pts, 100, 1
    ).orderBy("leg_idx").collect()]
    assert legs == [
        (0, 0, "walk", -1, 0, 100, 100, -1, -1),      # access → S0
        (0, 1, "transit", 0, 1, 100, 120, 0, 0),      # ride, 20 s total
        (0, 2, "walk", 1, -1, 120, 120, -1, -1),      # egress from S1
    ]


def _reach_points(spark, csr):
    # start → hidden-route stop S0; end → S2
    return _point_tables(
        spark, csr, [(0, 1, 0, 600), (1, 2, 0, 600)], [(0, 0, 0, 1), (1, 2, 0, 1)]
    )


@pytest.mark.parametrize("product", ["route_pairs", "one_to_many"])
def test_colocated_transfer_restores_reachability(spark, product):
    """multimodal_routing.rs:372-410 ported: the point's access stop S0
    serves no route; only the co-located zero-duration transfer S0→S1
    makes the S1→S2 ride reachable. Without it the pair is unreachable;
    with it travel_time is exactly 150 (dep 50 → arr 200)."""
    from ferrobus_spark.routing import products

    # nodes unconnected: no direct walk
    pts = _reach_points(spark, _micro_csr(edge_weight=None))
    od = spark.createDataFrame([(0, 0, 1)], "pair_id long, origin_id long, dest_id long")

    def run(transfers):
        tt = make_timetable(
            3, [([1, 2], [[(100, 100), (200, 200)]])], transfers
        )
        if product == "route_pairs":
            rows = products.route_pairs(spark, tt, od, pts, pts, 50, 1).collect()
        else:
            rows = [
                r for r in products.one_to_many(spark, tt, pts, pts, 50, 1).collect()
                if r.origin_id == 0 and r.dest_id == 1
            ]
        return rows

    without = run({})
    assert all(r.travel_time is None for r in without)  # unreachable

    with_ = run({0: [(1, 0)]})
    assert len(with_) == 1 and with_[0].travel_time == 150
