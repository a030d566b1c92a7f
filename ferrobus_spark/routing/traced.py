"""Traced RAPTOR + detailed journey legs — exact reference semantics.

Replicates traced_raptor.rs / itinerary/ structurally:

* per-round persistent label arrays with lazy predecessor records
  (traced/state.rs:26-99): round r scans trips from round r-1's board
  times; marks fire on ROUND-arrival improvement (a superset of the
  untraced kernel's best-improvement marks — the reference has the
  same asymmetry);
* trip upgrades re-anchor the boarding stop/time of the recorded leg
  (traced_raptor.rs:170-199);
* backtracking walks transit edges to the previous round and transfer
  edges within the round, validating recorded arrivals
  (backtrack_raw_legs, :262-344);
* normalization hides zero-duration synthetic transfers and inserts
  Waiting legs only immediately before boarding transit
  (normalize_legs, :347-409) — transfers_count counts VISIBLE transfer
  legs (:420-424);
* DetailedJourney totals: total = access + (arrival-departure) + egress,
  walking = access + egress (in-network transfer walking excluded)
  (detailed_journey.rs:56-107).

Golden parity: the reference's own traced unit scenarios
(traced_raptor.rs:744-880) are ported in tests/test_traced_golden.py.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ferrobus_spark.routing.points import od_legs, unpack_legs
from ferrobus_spark.routing.timetable import INF, Timetable

LEG_SCHEMA = T.StructType([
    T.StructField("pair_id", T.LongType()),
    T.StructField("leg_idx", T.IntegerType()),
    T.StructField("kind", T.StringType()),       # walk | transit | transfer | wait
    T.StructField("from_stop", T.LongType()),    # -1 for point endpoints
    T.StructField("to_stop", T.LongType()),
    T.StructField("depart", T.LongType()),
    T.StructField("arrive", T.LongType()),
    T.StructField("route_idx", T.LongType()),    # -1 for non-transit
    T.StructField("trip_pos", T.LongType()),
])


class TracedState:
    """Per-round labels + predecessors (traced/state.rs)."""

    def __init__(self, n_stops: int, n_rounds: int):
        self.arr = [np.full(n_stops, INF, np.int64) for _ in range(n_rounds)]
        self.board = [np.full(n_stops, INF, np.int64) for _ in range(n_rounds)]
        self.preds: list[list] = [[None] * n_stops for _ in range(n_rounds)]
        self.marked = [np.zeros(n_stops, bool) for _ in range(n_rounds)]
        self.best = np.full(n_stops, INF, np.int64)

    def update(self, rnd: int, stop: int, arrival: int, board: int, pred) -> bool:
        updated = False
        if arrival < self.arr[rnd][stop]:
            self.arr[rnd][stop] = arrival
            self.preds[rnd][stop] = pred
            updated = True
        if board < self.board[rnd][stop]:
            self.board[rnd][stop] = board
        if arrival < self.best[stop]:
            self.best[stop] = arrival
        return updated

    def best_round_for(self, stop: int):
        b = self.best[stop]
        if b == INF:
            return None
        for r, arr in enumerate(self.arr):
            if arr[stop] == b:
                return r
        return None


def traced_raptor(tt: Timetable, source: int, departure: int, max_transfers: int,
                  target: int) -> "Journey | None":
    """Single-target traced RAPTOR → Journey or None."""
    n = tt.n_stops
    rounds = max_transfers + 1
    st = TracedState(n, rounds)

    # round 0: source + footpaths (initialize_source_round)
    st.update(0, source, departure, departure, ("source",))
    st.marked[0][source] = True
    for k in range(tt.tr_indptr[source], tt.tr_indptr[source + 1]):
        t = int(tt.tr_target[k])
        dur = int(tt.tr_secs[k])
        at = departure + dur
        if st.update(0, t, at, at, ("transfer", source, departure, at, dur)):
            st.marked[0][t] = True

    for rnd in range(1, rounds):
        _scan_routes(tt, st, rnd, target)
        _foot_paths(tt, st, rnd, target)
        at = st.arr[rnd][target]
        if at != INF and at > st.best[target]:
            return _reconstruct(tt, st, source, target, departure)
        if not st.marked[rnd].any():
            break

    if st.best[target] == INF:
        return None
    return _reconstruct(tt, st, source, target, departure)


def _scan_routes(tt: Timetable, st: TracedState, rnd: int, target: int):
    prev = rnd - 1
    prev_board = st.board[prev]
    marked_stops = np.nonzero(st.marked[prev])[0]
    if len(marked_stops) == 0:
        st.marked[prev].fill(False)
        return
    route_ids = np.unique(np.concatenate(
        [tt.sr_routes[tt.sr_indptr[s]: tt.sr_indptr[s + 1]] for s in marked_stops]
    ))
    marked_mask = st.marked[prev].copy()
    st.marked[prev].fill(False)
    target_bound = st.best[target]

    for r in route_ids:
        stops = tt.route_stops(int(r))
        mk = np.nonzero(marked_mask[stops])[0]
        if len(mk) == 0:
            continue
        start_pos = int(mk[0])
        arr_m, dep_m = tt.trip_block(int(r))
        n_trips = arr_m.shape[0]
        # earliest catchable trip scanning from start_pos
        trip_idx = None
        board_pos = 0
        for pos in range(start_pos, len(stops)):
            eb = prev_board[stops[pos]]
            if eb == INF:
                continue
            e = int(np.searchsorted(dep_m[:, pos], eb, side="left"))
            if e < n_trips:
                trip_idx, board_pos = e, pos
                break
        if trip_idx is None:
            continue
        boarding_idx = board_pos
        for pos in range(board_pos, len(stops)):
            s = int(stops[pos])
            pb = prev_board[s]
            if pb < dep_m[trip_idx, pos]:
                e = int(np.searchsorted(dep_m[:, pos], pb, side="left"))
                if e < n_trips and e != trip_idx:
                    trip_idx = e
                    boarding_idx = pos
            actual_arrival = int(arr_m[trip_idx, pos])
            effective_board = actual_arrival if s == target else int(dep_m[trip_idx, pos])
            from_stop = int(stops[boarding_idx])
            dep_time = int(dep_m[trip_idx, boarding_idx])
            pred = ("transit", from_stop, int(r), int(trip_idx), dep_time, actual_arrival)
            if st.update(rnd, s, actual_arrival, effective_board, pred):
                st.marked[rnd][s] = True
            if effective_board >= target_bound:
                break


def _foot_paths(tt: Timetable, st: TracedState, rnd: int, target: int):
    current_marks = np.nonzero(st.marked[rnd])[0]
    st.marked[rnd] = np.zeros(len(st.marked[rnd]), bool)
    tb = st.best[target]
    for s in current_marks:
        cb = int(st.board[rnd][s])
        for k in range(tt.tr_indptr[s], tt.tr_indptr[s + 1]):
            t = int(tt.tr_target[k])
            dur = int(tt.tr_secs[k])
            at = cb + dur
            if at >= st.board[rnd][t] or at >= tb:
                continue
            if st.update(rnd, t, at, at, ("transfer", int(s), cb, at, dur)):
                st.marked[rnd][t] = True
    for s in current_marks:
        st.marked[rnd][s] = True


class Journey:
    def __init__(self, legs, departure_time, arrival_time, transfers_count):
        self.legs = legs                      # list of leg dicts
        self.departure_time = departure_time
        self.arrival_time = arrival_time
        self.transfers_count = transfers_count


def backtrack_raw_legs(st: TracedState, source: int, target: int, start_round: int):
    """Transit/transfer legs, source→target order (backtrack_raw_legs)."""
    legs = []
    stop, rnd = target, start_round
    while stop != source:
        if rnd < 0 or rnd >= len(st.arr):
            raise ValueError("invalid journey")
        pred = st.preds[rnd][stop]
        if pred is None or pred[0] == "source":
            raise ValueError("invalid journey")
        if pred[0] == "transit":
            _, from_stop, route, trip, dep, arr = pred
            if st.arr[rnd][stop] != arr or rnd == 0:
                raise ValueError("invalid journey")
            legs.append({
                "kind": "transit", "from_stop": from_stop, "to_stop": stop,
                "depart": dep, "arrive": arr, "route_idx": route, "trip_pos": trip,
            })
            stop = from_stop
            rnd -= 1
        else:
            _, from_stop, dep, arr, dur = pred
            if st.arr[rnd][stop] != arr:
                raise ValueError("invalid journey")
            legs.append({
                "kind": "transfer", "from_stop": from_stop, "to_stop": stop,
                "depart": dep, "arrive": arr, "route_idx": -1, "trip_pos": -1,
                "duration": dur,
            })
            stop = from_stop
    if st.preds[0][source] is None or st.preds[0][source][0] != "source":
        raise ValueError("invalid journey")
    legs.reverse()
    return legs


def normalize_legs(raw_legs: list[dict]) -> list[dict]:
    """Hide zero-duration transfers; insert waiting before transit
    boarding (normalize_legs, exact)."""
    if not raw_legs:
        return []
    result = []
    prev = raw_legs[0]
    for nxt in raw_legs[1:]:
        prev_to, prev_arr = prev["to_stop"], prev["arrive"]
        next_from, next_dep = nxt["from_stop"], nxt["depart"]
        if prev_to != next_from or next_dep < prev_arr:
            raise ValueError("invalid journey")
        if not (prev["kind"] == "transfer" and prev.get("duration") == 0):
            result.append(prev)
        if nxt["kind"] == "transit" and next_dep > prev_arr:
            result.append({
                "kind": "wait", "from_stop": prev_to, "to_stop": prev_to,
                "depart": prev_arr, "arrive": next_dep, "route_idx": -1,
                "trip_pos": -1,
            })
        prev = nxt
    if not (prev["kind"] == "transfer" and prev.get("duration") == 0):
        result.append(prev)
    return result


def _reconstruct(tt: Timetable, st: TracedState, source: int, target: int,
                 departure: int) -> Journey:
    best_round = st.best_round_for(target)
    if best_round is None:
        raise ValueError("invalid journey")
    raw = backtrack_raw_legs(st, source, target, best_round)
    legs = normalize_legs(raw)
    transfers_count = sum(1 for leg in legs if leg["kind"] == "transfer")
    return Journey(
        legs,
        departure_time=int(st.board[0][source]),
        arrival_time=int(st.best[target]),
        transfers_count=transfers_count,
    )


def detailed_journeys(
    spark: SparkSession,
    tt: Timetable,
    od_pairs: DataFrame,
    origin_tables: dict[str, DataFrame],
    dest_tables: dict[str, DataFrame],
    departure: int,
    max_transfers: int,
) -> DataFrame:
    """Legs table per OD pair (traced_multimodal_routing, capped 1×1).

    The walking option and the rank-1 access and egress stops come from
    :func:`od_legs`; the kernel only runs the traced RAPTOR."""
    rows = od_legs(od_pairs, origin_tables, dest_tables)
    bc = spark.sparkContext.broadcast(tt)

    def kernel(batches):
        tt_ = bc.value
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                pid = int(r.pair_id)
                walking, legs = unpack_legs(r)
                best_total = None
                j = None
                if legs is not None:
                    a_stop, a_secs, e_stop, e_secs = legs
                    j = traced_raptor(
                        tt_, a_stop, departure + a_secs, max_transfers, e_stop
                    )
                    if j is not None:
                        transit_time = j.arrival_time - j.departure_time
                        best_total = a_secs + transit_time + e_secs
                if walking is not None and (best_total is None or walking <= best_total):
                    out.append((pid, 0, "walk", -1, -1, departure,
                                departure + walking, -1, -1))
                elif j is not None:
                    idx = 0
                    out.append((pid, idx, "walk", -1, a_stop, departure,
                                departure + a_secs, -1, -1))
                    idx += 1
                    for leg in j.legs:
                        out.append((
                            pid, idx, leg["kind"], leg["from_stop"], leg["to_stop"],
                            leg["depart"], leg["arrive"], leg["route_idx"], leg["trip_pos"],
                        ))
                        idx += 1
                    out.append((pid, idx, "walk", e_stop, -1, j.arrival_time,
                                j.arrival_time + e_secs, -1, -1))
            yield pd.DataFrame(out, columns=[f.name for f in LEG_SCHEMA.fields])

    parts = spark.sparkContext.defaultParallelism
    return rows.repartition(parts).mapInPandas(kernel, LEG_SCHEMA)


@functools.cache
def _model_lookups(model) -> tuple:
    """The model dictionaries :func:`legs_to_geojson_model` broadcasts,
    collected once per model (four Spark jobs): the model is fixed, so a
    later GeoJSON build starts none."""
    patterns = {}
    route_ids = {}
    for r in model["routes_with_pattern"].select(
        "route_idx", "route_id", "pattern"
    ).collect():
        patterns[int(r.route_idx)] = [int(s) for s in r.pattern]
        route_ids[int(r.route_idx)] = str(r.route_id)
    stops = {}
    stop_names = {}
    for r in model["stops_dim"].select("stop_idx", "stop_id", "lon", "lat").collect():
        stops[int(r.stop_idx)] = (float(r.lon), float(r.lat))
        # the reference's transit_stop_name returns the GTFS stop_id
        # string (model/transit/data.rs:59-66), not stops.txt stop_name
        stop_names[int(r.stop_idx)] = str(r.stop_id)
    trip_ids = {
        (int(r.route_idx), int(r.trip_pos)): str(r.trip_id)
        for r in model["trips_dim"].select("route_idx", "trip_pos", "trip_id").collect()
    }
    s2n = {
        int(r.stop_idx): int(r.node_id)
        for r in model["stop_nodes"].select("stop_idx", "node_id").collect()
    }
    return patterns, route_ids, stops, stop_names, trip_ids, s2n


def legs_to_geojson_model(
    legs: DataFrame,
    model,
    od_points: DataFrame | None = None,
) -> DataFrame:
    """FeatureCollection per pair with the reference's leg geometry
    (itinerary/to_geojson.rs):

    * transit legs: LineString through the INTERMEDIATE pattern stops
      between boarding and alighting (to_geojson.rs:173-205), reversed
      patterns handled;
    * transfer legs: the street-graph shortest PATH polyline between the
      stops' snap nodes, endpoints snapped to the stop coordinates,
      straight-line fallback when no bounded path exists
      (to_geojson.rs:206-268);
    * waiting legs: Point at the stop (to_geojson.rs:153-171);
    * access/egress walks: straight point↔stop lines (journey_leg.rs:39-46
      — the reference also draws these straight).

    ``od_points``: optional (pair_id, o_lon, o_lat, d_lon, d_lat) to give
    the point-side endpoints of access/egress legs real coordinates.
    """
    import json as _json

    spark = legs.sparkSession
    patterns, route_ids, stops, stop_names, trip_ids, s2n = _model_lookups(model)
    bc = spark.sparkContext.broadcast(
        (patterns, stops, s2n, model.csr, model.max_transfer_time,
         stop_names, route_ids, trip_ids)
    )

    if od_points is not None:
        legs = legs.join(F.broadcast(od_points), "pair_id", "left")
    else:
        legs = (
            legs.withColumn("o_lon", F.lit(None).cast("double"))
            .withColumn("o_lat", F.lit(None).cast("double"))
            .withColumn("d_lon", F.lit(None).cast("double"))
            .withColumn("d_lat", F.lit(None).cast("double"))
        )

    out_t = T.StructType([
        T.StructField("pair_id", T.LongType()),
        T.StructField("leg_idx", T.IntegerType()),
        T.StructField("feature", T.StringType()),
    ])

    def kernel(batches):
        from ferrobus_spark.routing.csr import bounded_dijkstra_path

        pat_, stops_, s2n_, csr_, mtt_, names_, rids_, tids_ = bc.value

        def coord(stop, pt):
            return list(stops_[int(stop)]) if int(stop) >= 0 else pt

        def name(stop):
            return names_.get(int(stop), "") if int(stop) >= 0 else ""

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                kind = r.kind
                fs, ts = int(r.from_stop), int(r.to_stop)
                opt = [r.o_lon, r.o_lat] if r.o_lon is not None and not pd.isna(r.o_lon) else None
                dpt = [r.d_lon, r.d_lat] if r.d_lon is not None and not pd.isna(r.d_lon) else None
                # journey-relative leg index: the access walk occupies
                # engine leg_idx 0, while the reference enumerates only
                # the transit journey's legs (to_geojson.rs:29-32)
                jleg_idx = int(r.leg_idx) - 1
                if kind == "wait":
                    geom = {"type": "Point", "coordinates": list(stops_[ts])}
                    leg_type = "waiting"
                elif kind == "transit":
                    pat = pat_.get(int(r.route_idx), [])
                    coords = [list(stops_[fs])]
                    if fs in pat and ts in pat:
                        i, j = pat.index(fs), pat.index(ts)
                        mids = pat[i + 1 : j] if i < j else pat[j + 1 : i][::-1]
                        coords += [list(stops_[m]) for m in mids]
                    coords.append(list(stops_[ts]))
                    geom = {"type": "LineString", "coordinates": coords}
                    leg_type = "transit"
                elif kind == "transfer":
                    coords = None
                    nf, nt = s2n_.get(fs), s2n_.get(ts)
                    if nf is not None and nt is not None:
                        df_, dt_ = (int(csr_.dense_of([n])[0]) for n in (nf, nt))
                        path = bounded_dijkstra_path(csr_, df_, dt_, mtt_)
                        if path is not None and len(path) > 1:
                            coords = [
                                [float(csr_.lon[p]), float(csr_.lat[p])] for p in path
                            ]
                            coords[0] = list(stops_[fs])
                            coords[-1] = list(stops_[ts])
                    if coords is None:  # fallback: straight line
                        coords = [list(stops_[fs]), list(stops_[ts])]
                    geom = {"type": "LineString", "coordinates": coords}
                    leg_type = "transfer"
                else:  # walk (access/egress/direct)
                    a = coord(fs, opt)
                    b = coord(ts, dpt)
                    leg_type = (
                        "access_walk" if fs < 0 <= ts
                        else "egress_walk" if ts < 0 <= fs
                        else "direct_walk"
                    )
                    if a is None or b is None:
                        a = a or [None, None]
                        b = b or [None, None]
                    geom = {"type": "LineString", "coordinates": [a, b]}
                # per-leg-type property sets, exactly the reference's
                # (to_geojson.rs:113-123 transit, :142-151 transfer,
                # :165-169 waiting, journey_leg.rs:47-63 walks)
                if leg_type == "transit":
                    props = {
                        "leg_type": leg_type,
                        "leg_index": jleg_idx,
                        "route_id": rids_.get(int(r.route_idx), ""),
                        "trip_id": tids_.get((int(r.route_idx), int(r.trip_pos)), ""),
                        "from_name": name(fs),
                        "to_name": name(ts),
                        "departure_time": int(r.depart),
                        "arrival_time": int(r.arrive),
                        "duration": int(r.arrive) - int(r.depart),
                    }
                elif leg_type == "transfer":
                    props = {
                        "leg_type": leg_type,
                        "leg_index": jleg_idx,
                        "from_name": name(fs),
                        "to_name": name(ts),
                        "departure_time": int(r.depart),
                        "arrival_time": int(r.arrive),
                        "duration": int(r.arrive) - int(r.depart),
                    }
                elif leg_type == "waiting":
                    props = {
                        "leg_type": leg_type,
                        "duration": int(r.arrive) - int(r.depart),
                        "stop_name": name(ts),
                    }
                else:  # access/egress/direct walks
                    props = {
                        "leg_type": leg_type,
                        "from_name": name(fs),
                        "to_name": name(ts),
                        "departure_time": int(r.depart),
                        "arrival_time": int(r.arrive),
                        "duration": int(r.arrive) - int(r.depart),
                    }
                feat = {
                    "type": "Feature",
                    "geometry": geom,
                    "properties": props,
                }
                rows.append((int(r.pair_id), int(r.leg_idx), _json.dumps(feat)))
            yield pd.DataFrame(rows, columns=["pair_id", "leg_idx", "feature"])

    feats = legs.mapInPandas(kernel, out_t)
    return (
        feats.groupBy("pair_id")
        .agg(F.sort_array(F.collect_list(F.struct("leg_idx", "feature"))).alias("fs"))
        .select(
            "pair_id",
            F.concat(
                F.lit('{"type": "FeatureCollection", "features": ['),
                F.concat_ws(", ", F.transform("fs", lambda x: x.feature)),
                F.lit("]}"),
            ).alias("geojson"),
        )
    )
