"""Range routing + Pareto front vs oracle — exact journey-set parity."""

import pytest

from ferrobus_spark.routing.points import build_point_tables
from ferrobus_spark.routing.range import (
    range_median_travel_time,
    range_routing,
    source_departures,
)
from ferrobus_spark.sources.transit import query_points
from tests.oracle import transit_oracle as O

DEP_RANGE = (7 * 3600, 9 * 3600)
MAX_TRANSFERS = 3

OD = [(0, 0, 5), (1, 2, 8), (2, 1, 11), (3, 4, 9)]  # (pair_id, origin, dest)


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
    return build_point_tables(
        spark,
        spark.createDataFrame(query_points()),
        spark_model["street_nodes"],
        spark_model["node_to_stop"],
        spark_model.csr,
    )


@pytest.fixture(scope="module")
def journeys(spark, timetable, spark_points):
    od = spark.createDataFrame(OD, "pair_id LONG, origin_id LONG, dest_id LONG")
    return range_routing(
        spark, timetable, od, spark_points, spark_points, DEP_RANGE, MAX_TRANSFERS
    ).toPandas()


def test_source_departures_match(timetable, oracle_model):
    for stop in [0, 5, 11, 30]:
        got = source_departures(timetable, stop, 7 * 3600, 9 * 3600)
        exp = O.source_departures(oracle_model, stop, 7 * 3600, 9 * 3600)
        assert got == exp, f"stop {stop}"


def _key(j):
    return (
        j["departure_time"], j["arrival_time"], j["travel_time"],
        j["transfers"], j["walking_time"],
    )


def test_range_journeys_match(journeys, oracle_model, oracle_points):
    total_journeys = 0
    for pair_id, o, d in OD:
        exp = O.range_routing(
            oracle_model, oracle_points[o], oracle_points[d], DEP_RANGE, MAX_TRANSFERS
        )
        sub = journeys[journeys["pair_id"] == pair_id]
        got = sorted(_key(r) for _, r in sub.iterrows())
        want = sorted(_key(j) for j in exp)
        assert got == want, f"pair {pair_id}"
        total_journeys += len(want)
    # the fixture must produce real journey sets overall (a pair whose
    # single access candidate is a tripless stop may legitimately be empty)
    assert total_journeys > 5


def test_pareto_front_match(journeys, oracle_model, oracle_points):
    for pair_id, o, d in OD:
        exp_all = O.range_routing(
            oracle_model, oracle_points[o], oracle_points[d], DEP_RANGE, MAX_TRANSFERS
        )
        exp_front = sorted(_key(j) for j in O.pareto_filter(exp_all))
        sub = journeys[(journeys["pair_id"] == pair_id) & journeys["is_pareto"]]
        got = sorted(_key(r) for _, r in sub.iterrows())
        assert got == exp_front, f"pair {pair_id}"
        assert len(got) <= len(exp_all)


def test_upper_median_matches(spark, journeys, oracle_model, oracle_points):
    med = (
        range_median_travel_time(
            spark.createDataFrame(journeys)
        ).toPandas().set_index("pair_id")["median_travel_time"].to_dict()
    )
    for pair_id, o, d in OD:
        exp_all = O.range_routing(
            oracle_model, oracle_points[o], oracle_points[d], DEP_RANGE, MAX_TRANSFERS
        )
        if not exp_all:
            assert pair_id not in med, f"pair {pair_id}"
            continue
        assert med[pair_id] == O.upper_median_travel_time(exp_all), f"pair {pair_id}"


def test_per_departure_tie_semantics():
    """Pin the documented tie deviation (range.py docstring): every
    departure reports its own transfer count, where the reference's
    rRAPTOR would persist the count of a later departure that ties its
    arrival.

    Hand-built timetable: slow direct route 0→2 (dep 100, arr 400) vs a
    two-leg path 0→1→2 (deps 250/320, arr 400) — the later departure's
    2-round journey ties the earlier departure's 1-round journey."""
    import numpy as np

    from ferrobus_spark.routing.raptor import raptor
    from ferrobus_spark.routing.timetable import Timetable

    tt = Timetable(
        n_stops=3,
        route_num_trips=np.array([1, 1, 1], np.int64),
        route_num_stops=np.array([2, 2, 2], np.int64),
        route_stops_start=np.array([0, 2, 4], np.int64),
        route_trips_start=np.array([0, 2, 4], np.int64),
        route_stops_flat=np.array([0, 2, 0, 1, 1, 2], np.int64),
        arr_flat=np.array([100, 400, 250, 300, 320, 400], np.int64),
        dep_flat=np.array([100, 400, 250, 300, 320, 400], np.int64),
        sr_indptr=np.array([0, 2, 4, 6], np.int64),
        sr_routes=np.array([0, 1, 1, 2, 0, 2], np.int64),
        tr_indptr=np.array([0, 0, 0, 0], np.int64),
        tr_target=np.array([], np.int64),
        tr_secs=np.array([], np.int64),
    )
    assert source_departures(tt, 0, 0, 300) == [100, 250]
    got = {}
    for dep in (100, 250):
        best, best_k = raptor(tt, 0, dep, 3, target=2)
        got[dep] = (int(best[2]), int(best_k[2]))
    assert got == {100: (400, 1), 250: (400, 2)}
