"""Spark model-build ETL vs the pure-Python oracle — exact match."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def test_active_service_filtering(spark_model, oracle_model):
    # R6 (WKX) removed by exception; R8 (SPC) added; R7 split in two patterns
    routes = spark_model["routes_with_pattern"].toPandas().sort_values("route_idx")
    got = list(zip(routes["route_id"], [tuple(p) for p in routes["pattern"]]))
    exp = [(r.route_id, tuple(r.pattern)) for r in oracle_model.routes]
    assert got == exp
    assert not any(r == "R6" for r, _ in got)
    assert sum(1 for r, _ in got if r == "R7") == 2
    assert any(r == "R8" for r, _ in got)


def test_route_and_trip_ordering(spark_model, oracle_model):
    routes = spark_model["routes"].toPandas().sort_values("route_idx")
    exp_counts = [(len(r.trips), len(r.pattern)) for r in oracle_model.routes]
    got_counts = list(zip(routes["num_trips"], routes["num_stops"]))
    assert got_counts == exp_counts

    trips = (
        spark_model["trips_dim"].toPandas().sort_values(["route_idx", "trip_pos"])
    )
    got = trips.groupby("route_idx")["trip_id"].apply(list).to_dict()
    for ridx, route in enumerate(oracle_model.routes):
        assert got[ridx] == route.trip_ids, f"route {ridx} trip order"


def test_stop_times_exact(spark_model, oracle_model):
    st = (
        spark_model["stop_times"]
        .toPandas()
        .sort_values(["route_idx", "trip_pos", "pos"])
        .reset_index(drop=True)
    )
    rows = []
    for ridx, route in enumerate(oracle_model.routes):
        for tpos, trip in enumerate(route.trips):
            for pos, (arr, dep) in enumerate(trip):
                rows.append((ridx, tpos, pos, arr, dep))
    exp = pd.DataFrame(rows, columns=["route_idx", "trip_pos", "pos", "arrival", "departure"])
    pd.testing.assert_frame_equal(st.astype("int64"), exp.astype("int64"))


def test_seq0_arrival_equals_departure(spark_model):
    # R1 trips have stop_sequence starting at 0 → arrival == departure at pos 0
    st = spark_model["stop_times"].toPandas()
    routes = spark_model["routes"].toPandas()
    r1 = routes[routes["route_id"] == "R1"]["route_idx"].tolist()
    first = st[(st["route_idx"].isin(r1)) & (st["pos"] == 0)]
    assert (first["arrival"] == first["departure"]).all()


def test_street_graph_largest_component(spark_model, oracle_model):
    got_nodes = set(
        spark_model["street_nodes"].toPandas()["node_id"].tolist()
    )
    assert got_nodes == set(oracle_model.adj.keys())
    # disconnected far-east component dropped
    assert not any(n >= 90000 for n in got_nodes)
    # edge weights match truncation semantics
    edges = spark_model["street_edges"].toPandas()
    exp_w = {}
    for u, nbrs in oracle_model.adj.items():
        for v, w in nbrs:
            exp_w[(u, v)] = w
    got_w = dict(zip(zip(edges["src"], edges["dst"]), edges["weight"]))
    assert got_w == exp_w


def test_stop_snapping(spark_model, oracle_model):
    got = spark_model["stop_nodes"].toPandas().set_index("stop_idx")
    for i, node in enumerate(oracle_model.stop_nodes):
        if node is None:
            assert i not in got.index, f"stop {i} should be unsnappable"
        else:
            assert got.loc[i, "node_id"] == node, f"stop {i} node"


def test_transfers_exact(spark_model, oracle_model):
    got = (
        spark_model["transfers"]
        .toPandas()
        .sort_values(["from_stop", "to_stop"])
        .reset_index(drop=True)
    )
    exp_rows = []
    for f, lst in sorted(oracle_model.transfers.items()):
        for t, d in lst:
            exp_rows.append((f, t, d))
    exp = pd.DataFrame(exp_rows, columns=["from_stop", "to_stop", "duration"]).sort_values(
        ["from_stop", "to_stop"]
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(got.astype("int64"), exp.astype("int64"))


def test_gtfs_transfer_precedence(spark_model, oracle_model):
    # GTFS override pair S10_0 → S10_3 must be exactly 45 s
    stops = spark_model["stops_dim"].toPandas().set_index("stop_id")
    f, t = int(stops.loc["S10_0", "stop_idx"]), int(stops.loc["S10_3", "stop_idx"])
    got = spark_model["transfers"].toPandas()
    row = got[(got["from_stop"] == f) & (got["to_stop"] == t)]
    assert len(row) == 1 and int(row["duration"].iloc[0]) == 45


def test_colocated_zero_transfer(spark_model):
    stops = spark_model["stops_dim"].toPandas().set_index("stop_id")
    a, b = int(stops.loc["S18_20", "stop_idx"]), int(stops.loc["CO_A", "stop_idx"])
    got = spark_model["transfers"].toPandas()
    for x, y in [(a, b), (b, a)]:
        row = got[(got["from_stop"] == x) & (got["to_stop"] == y)]
        assert len(row) == 1 and int(row["duration"].iloc[0]) == 0


def test_node_to_stop_last_wins(spark_model, oracle_model):
    got = dict(
        zip(*spark_model["node_to_stop"].toPandas()[["node_id", "stop_idx"]].T.values.tolist())
    )
    assert got == oracle_model.node_to_stop


def test_model_integrity_all_zero(spark_model):
    """Structural invariants of the built model (the dataflow analogue of
    the reference's audit_transit_model index checks); every count is 0."""
    stops = spark_model["stops_dim"].select("stop_idx")
    routes = spark_model["routes"]
    route_stops = spark_model["route_stops"]
    stop_times = spark_model["stop_times"]
    transfers = spark_model["transfers"]

    def bad_shape(table, expected):
        return (
            routes.join(table.groupBy("route_idx").count(), "route_idx")
            .filter(F.col("count") != expected)
            .count()
        )

    checks = {
        "route_stops_bad_stop": route_stops.join(stops, "stop_idx", "left_anti").count(),
        # route_stops rows per route == num_stops
        "route_stops_shape": bad_shape(route_stops, F.col("num_stops")),
        # stop_times rows per route == num_trips * num_stops
        "stop_times_shape": bad_shape(
            stop_times, F.col("num_trips") * F.col("num_stops")
        ),
        "arrival_after_departure": stop_times.filter(
            F.col("arrival") > F.col("departure")
        ).count(),
        "transfer_bad_endpoint": sum(
            transfers.join(
                stops.withColumnRenamed("stop_idx", end), end, "left_anti"
            ).count()
            for end in ("from_stop", "to_stop")
        ),
        "transfer_self_loop": transfers.filter(
            F.col("from_stop") == F.col("to_stop")
        ).count(),
        "transfer_negative": transfers.filter(F.col("duration") < 0).count(),
    }
    assert all(v == 0 for v in checks.values()), checks


def test_colocated_pairwise_rust_scenario(spark):
    """loading/transfers.rs:347-361 ported as data: stops snapped to
    nodes [A, A, B, A, (unsnapped)] produce pairwise zero transfers
    among exactly the three A-stops — the lone B stop and the unsnapped
    stop get none."""
    import numpy as np

    from ferrobus_spark.model.transfers import build_transfers
    from ferrobus_spark.routing.csr import CSRGraph

    csr = CSRGraph(
        node_ids=np.array([1, 2], np.int64),
        indptr=np.array([0, 0, 0], np.int64),
        indices=np.array([], np.int32),
        weights=np.array([], np.int64),
        lon=np.array([0.0, 1.0]),
        lat=np.array([0.0, 0.0]),
    )
    stops_dim = spark.createDataFrame(
        [(i, f"S{i}", 0.0, 0.0) for i in range(5)],
        "stop_idx long, stop_id string, lon double, lat double",
    )
    # stop 4 has no snapped node (absent row); stop 2 alone on node 2
    stop_nodes = spark.createDataFrame(
        [(0, 1, 0), (1, 1, 0), (2, 2, 0), (3, 1, 0)],
        "stop_idx long, node_id long, snap_secs long",
    )
    gtfs = spark.createDataFrame(
        [],
        "from_stop_id string, to_stop_id string, transfer_type int, "
        "min_transfer_time long",
    )
    out = build_transfers(spark, stops_dim, stop_nodes, csr, gtfs, 600)
    got = sorted(
        (int(r.from_stop), int(r.to_stop), int(r.duration))
        for r in out["transfers"].collect()
    )
    assert got == [
        (0, 1, 0), (0, 3, 0),
        (1, 0, 0), (1, 3, 0),
        (3, 0, 0), (3, 1, 0),
    ]
