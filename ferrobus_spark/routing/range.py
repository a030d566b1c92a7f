"""Range (profile) routing + Pareto front (reference pareto.rs, rRAPTOR).

Per SURVEY §4: the reference's rRAPTOR label-reuse (latest-first warm
start, range_raptor.rs:21-39) is only a speed trick, so the engine runs
each departure through the same target-pruned RAPTOR kernel that
find_route uses, and Spark parallelizes the OD-pair axis.

Documented deviation (ties): the reference persists ``best``/``best_k``
across departures, so when an earlier departure exactly ties a later
departure's arrival it reports the transfer count of the later run.
Here every departure reports its own count. Arrivals are identical
either way; the registered ``transit_range_pareto`` twin and the Python
oracle use the same per-departure semantics.

The Pareto filter replicates the reference's order-dependent insertion
algorithm exactly (pareto.rs:120-144), and both medians are kept distinct (SURVEY §7 hard part 4):
statistics median = midpoint(lo,hi); range median = times[len/2].
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ferrobus_spark.routing.points import od_legs, unpack_legs
from ferrobus_spark.routing.raptor import raptor
from ferrobus_spark.routing.timetable import INF, Timetable

JOURNEY_SCHEMA = T.StructType([
    T.StructField("pair_id", T.LongType()),
    T.StructField("departure_time", T.LongType()),
    T.StructField("arrival_time", T.LongType()),
    T.StructField("travel_time", T.LongType()),
    T.StructField("transfers", T.LongType()),
    T.StructField("walking_time", T.LongType()),
    T.StructField("is_pareto", T.BooleanType()),
])


def source_departures(tt: Timetable, stop: int, lo: int, hi: int) -> list[int]:
    """Distinct departures of trips serving ``stop`` within [lo, hi]
    (model_impl.rs:47-87)."""
    deps: set[int] = set()
    for ridx in tt.sr_routes[tt.sr_indptr[stop] : tt.sr_indptr[stop + 1]]:
        stops = tt.route_stops(int(ridx))
        pos_arr = np.nonzero(stops == stop)[0]
        if len(pos_arr) == 0:
            continue
        pos = int(pos_arr[0])  # first occurrence, like .position()
        _, dep_m = tt.trip_block(int(ridx))
        col = dep_m[:, pos]
        deps.update(int(d) for d in col[(col >= lo) & (col <= hi)])
    return sorted(deps)


def _dominates(a: dict, b: dict) -> bool:
    be = (
        a["travel_time"] <= b["travel_time"]
        and a["transfers"] <= b["transfers"]
        and a["walking_time"] <= b["walking_time"]
    )
    sb = (
        a["travel_time"] < b["travel_time"]
        or a["transfers"] < b["transfers"]
        or a["walking_time"] < b["walking_time"]
    )
    return be and sb


def pareto_front_flags(journeys: list[dict]) -> list[bool]:
    """Reference insertion-order Pareto filter; returns keep-flags."""
    front: list[tuple[int, dict]] = []
    order = sorted(range(len(journeys)), key=lambda i: journeys[i]["departure_time"])
    for i in order:
        j = journeys[i]
        dominated = any(
            _dominates(e, j) and e["arrival_time"] <= j["arrival_time"] for _, e in front
        )
        if dominated:
            continue
        front = [
            (k, e)
            for k, e in front
            if not (_dominates(j, e) and j["arrival_time"] <= e["arrival_time"])
        ]
        front.append((i, j))
    keep = [False] * len(journeys)
    for k, _ in front:
        keep[k] = True
    return keep


def range_routing(
    spark: SparkSession,
    tt: Timetable,
    od_pairs: DataFrame,
    origin_tables: dict[str, DataFrame],
    dest_tables: dict[str, DataFrame],
    dep_range: tuple[int, int],
    max_transfers: int,
) -> DataFrame:
    """Journeys for each OD pair over a departure window.

    ``od_pairs``: (pair_id, origin_id, dest_id). The walking option and
    the rank-1 access and egress stops come from :func:`od_legs`
    (MAX_CANDIDATE_STOPS=1, pareto.rs:170-173); the kernel runs one
    target-pruned RAPTOR per source departure in the window. Output: one
    row per journey (walking option included) with the reference's exact
    Pareto keep-flag.
    """
    rows = od_legs(od_pairs, origin_tables, dest_tables)
    bc = spark.sparkContext.broadcast(tt)
    lo, hi = dep_range

    def kernel(batches):
        tt_ = bc.value
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                walking, legs = unpack_legs(r)
                journeys = []
                if walking is not None:
                    journeys.append({
                        "departure_time": lo, "arrival_time": lo + walking,
                        "travel_time": walking, "transfers": 0,
                        "walking_time": walking,
                    })
                if legs is not None:
                    a_stop, a_secs, e_stop, e_secs = legs
                    for dep in source_departures(tt_, a_stop, lo + a_secs, hi + a_secs):
                        best, best_k = raptor(
                            tt_, a_stop, dep, max_transfers, target=e_stop
                        )
                        arr = best[e_stop]
                        if arr == INF:
                            continue
                        transit = int(arr) - dep
                        origin_dep = dep - a_secs
                        dest_arr = int(arr) + e_secs
                        total = dest_arr - origin_dep
                        journeys.append({
                            "departure_time": origin_dep,
                            "arrival_time": dest_arr,
                            "travel_time": total,
                            "transfers": int(best_k[e_stop]),
                            "walking_time": total - transit,
                        })
                keep = pareto_front_flags(journeys)
                for j, k in zip(journeys, keep):
                    out.append((
                        int(r.pair_id), j["departure_time"], j["arrival_time"],
                        j["travel_time"], j["transfers"], j["walking_time"], k,
                    ))
            yield pd.DataFrame(
                out,
                columns=[
                    "pair_id", "departure_time", "arrival_time",
                    "travel_time", "transfers", "walking_time", "is_pareto",
                ],
            )

    parts = spark.sparkContext.defaultParallelism
    return rows.repartition(parts).mapInPandas(kernel, JOURNEY_SCHEMA)


def range_median_travel_time(journeys: DataFrame) -> DataFrame:
    """Per pair: UPPER median of travel times ordered by departure —
    times[len/2] (pareto.rs:66-71), NOT the statistics midpoint median."""
    return (
        journeys.groupBy("pair_id")
        .agg(F.sort_array(F.collect_list("travel_time")).alias("ts"))
        .select(
            "pair_id",
            F.element_at("ts", (F.floor(F.size("ts") / 2) + 1).cast("int")).alias(
                "median_travel_time"
            ),
        )
    )
