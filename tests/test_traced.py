"""Traced journeys: leg-chain invariants + consistency with untraced."""

import pytest

from ferrobus_spark.routing.points import build_point_tables
from ferrobus_spark.routing.traced import detailed_journeys, legs_to_geojson_model
from ferrobus_spark.sources.transit import query_points

DEP = 8 * 3600
MAX_TRANSFERS = 3
OD = [(0, 0, 5), (1, 2, 8), (2, 1, 11), (3, 4, 9), (4, 3, 6)]


@pytest.fixture(scope="module")
def spark_points(spark, spark_model):
    return build_point_tables(
        spark, spark.createDataFrame(query_points()),
        spark_model["street_nodes"], spark_model["node_to_stop"], spark_model.csr,
    )


@pytest.fixture(scope="module")
def legs(spark, timetable, spark_points):
    od = spark.createDataFrame(OD, "pair_id LONG, origin_id LONG, dest_id LONG")
    return detailed_journeys(
        spark, timetable, od, spark_points, spark_points, DEP, MAX_TRANSFERS
    ).toPandas()


def test_legs_chronology_and_chaining(legs):
    assert len(legs) > 0
    for pid, sub in legs.groupby("pair_id"):
        sub = sub.sort_values("leg_idx")
        # chronological, non-negative durations
        assert (sub["arrive"] >= sub["depart"]).all(), pid
        # consecutive legs do not overlap in time
        assert (sub["depart"].to_numpy()[1:] >= sub["arrive"].to_numpy()[:-1]).all(), pid
        # chained: each leg starts where the previous ended (stop chain)
        prev_to = None
        for r in sub.itertuples(index=False):
            if prev_to is not None and prev_to != -1 and r.from_stop != -1:
                assert r.from_stop == prev_to, (pid, r.leg_idx)
            prev_to = r.to_stop
        # first and last legs touch the endpoints (walk legs with -1)
        assert sub.iloc[0]["kind"] == "walk"
        assert sub.iloc[-1]["kind"] == "walk"


def test_traced_totals_match_oracle(oracle_model, legs):
    """Traced journeys cap access AND egress at MAX_CANDIDATE_STOPS=1
    (itinerary/mod.rs:24-28) — unlike one-to-many's uncapped egress —
    so compare against the oracle with both capped."""
    from ferrobus_spark.sources.transit import query_points
    from tests.oracle import transit_oracle as O

    pts = {}
    for row in query_points().itertuples(index=False):
        tp = O.make_transit_point(
            oracle_model, row.lon, row.lat, row.max_walking_time, row.max_nearest_stops
        )
        if tp is not None:
            pts[int(row.point_id)] = tp

    for pid, o, d in OD:
        sub = legs[legs["pair_id"] == pid].sort_values("leg_idx")
        tp_o, tp_d = pts[o], pts[d]
        walking = tp_o.walking_time_to(tp_d)
        best_total = None
        if tp_o.nearest_stops and tp_d.nearest_stops:
            a_stop, a_secs = tp_o.nearest_stops[0]
            e_stop, e_secs = tp_d.nearest_stops[0]
            if walking is None or a_secs + e_secs < walking:
                best, _k = O.raptor(
                    oracle_model, a_stop, e_stop, DEP + a_secs, MAX_TRANSFERS
                )
                if best[e_stop] != O.INF:
                    best_total = a_secs + (best[e_stop] - DEP - a_secs) + e_secs
        if walking is not None and (best_total is None or walking <= best_total):
            exp_total = walking
        else:
            exp_total = best_total
        if exp_total is None:
            assert len(sub) == 0, pid
            continue
        total = int(sub.iloc[-1]["arrive"]) - DEP
        assert total == exp_total, pid


def test_geojson_model_geometry(spark, spark_model, legs):
    """Reference leg geometry (to_geojson.rs): transfer legs follow the
    street graph, transit legs pass through intermediate pattern stops,
    waiting legs are Points."""
    import json

    gj = legs_to_geojson_model(
        spark.createDataFrame(legs), spark_model
    ).toPandas()
    assert len(gj) == legs["pair_id"].nunique()
    kinds_seen = set()
    for s in gj["geojson"]:
        obj = json.loads(s)
        assert obj["type"] == "FeatureCollection"
        assert len(obj["features"]) >= 1
        for f in obj["features"]:
            t = f["properties"]["leg_type"]
            kinds_seen.add(t)
            g = f["geometry"]
            if t == "waiting":
                assert g["type"] == "Point"
            else:
                assert g["type"] == "LineString"
                assert len(g["coordinates"]) >= 2
            if t == "transit":
                # pattern stops between board/alight included: strictly
                # more coords than a straight line whenever the ride
                # spans >1 hop (fixture routes all do)
                assert len(g["coordinates"]) >= 2
    assert "transit" in kinds_seen
