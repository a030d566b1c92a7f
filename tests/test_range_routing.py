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
def journeys(spark, timetable, spark_model, spark_points):
    od = spark.createDataFrame(OD, "pair_id LONG, origin_id LONG, dest_id LONG")
    return range_routing(
        spark, timetable, spark_model.csr, od, spark_points, spark_points,
        DEP_RANGE, MAX_TRANSFERS,
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


def test_warm_start_identical(spark, spark_model, timetable, spark_points):
    """rRAPTOR warm-start returns byte-identical journey rows."""
    od = spark.createDataFrame(OD, "pair_id LONG, origin_id LONG, dest_id LONG")
    kw = dict(
        od_pairs=od,
        origin_tables=spark_points,
        dest_tables=spark_points,
        dep_range=DEP_RANGE,
        max_transfers=MAX_TRANSFERS,
    )
    cold = range_routing(spark, timetable, spark_model.csr, **kw).toPandas()
    warm = range_routing(
        spark, timetable, spark_model.csr, warm_start=True, **kw
    ).toPandas()
    key = ["pair_id", "departure_time"]
    cold = cold.sort_values(key).reset_index(drop=True)
    warm = warm.sort_values(key).reset_index(drop=True)
    assert cold.equals(warm)


def test_warm_start_tie_semantics():
    """Pin the documented rRAPTOR tie caveat (range.py docstring): when
    an EARLIER departure exactly ties a later departure's arrival, the
    warm start reports the persisted transfers count (reference parity —
    best/best_k persist across departures) while the cold per-departure
    path recomputes it. Arrivals must be identical either way.

    Hand-built timetable: slow direct route 0→2 (dep 100, arr 400) vs a
    two-leg path 0→1→2 (deps 250/320, arr 400) — the later departure's
    2-round journey ties the earlier departure's 1-round journey."""
    import numpy as np

    from ferrobus_spark.routing.raptor import raptor, rraptor
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
    warm = dict(
        (dep, (arr, k))
        for dep, arr, k in rraptor(tt, 0, 2, 0, 300, 3)
    )
    cold = {}
    for dep in (100, 250):
        best, best_k = raptor(tt, 0, dep, 3, target=2)
        cold[dep] = (int(best[2]), int(best_k[2]))
    # arrivals identical in both regimes
    assert {d: a for d, (a, _k) in warm.items()} == {100: 400, 250: 400}
    assert {d: a for d, (a, _k) in cold.items()} == {100: 400, 250: 400}
    # the tie: warm persists the later departure's 2-transfer count for
    # dep 100 (reference semantics); cold recomputes 1 for it
    assert warm[250][1] == 2 and cold[250][1] == 2
    assert warm[100][1] == 2  # persisted best_k — reference parity
    assert cold[100][1] == 1  # per-departure recompute
