"""Routing products: one-to-many, find_route, travel-time matrix, statistics.

The broadcast-kernel regime of SURVEY §3.2: the timetable CSR is
broadcast once and destinations are joined; origins are the parallel axis
(mirroring the reference's rayon loops in src/matrix.rs:40). Each
origin runs ONE all-targets RAPTOR and fans results across all
destinations — the shape the reference itself uses for one-to-many
(multimodal_routing.rs:165-254).

Semantics replicated exactly:
* MAX_CANDIDATE_STOPS = 1 access cap, egress uncapped (lib.rs:14,
  multimodal_routing.rs:181, :201);
* walking tie goes to walking (``walking <= total``,
  multimodal_routing.rs:36);
* direct walk time = origin's ``point_walk`` map at the dest's node —
  snap legs NOT added (transit_model.rs:250-252);
* candidate iteration in (egress_secs, stop) order with first-strictly-
  better wins (ties keep the earlier candidate).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ferrobus_spark.routing.points import od_legs, unpack_legs
from ferrobus_spark.routing.raptor import raptor
from ferrobus_spark.routing.timetable import INF, Timetable

RESULT_SCHEMA = T.StructType([
    T.StructField("origin_id", T.LongType()),
    T.StructField("departure", T.LongType()),
    T.StructField("dest_id", T.LongType()),
    T.StructField("travel_time", T.LongType()),
    T.StructField("transit_time", T.LongType()),   # null = walking-only
    T.StructField("walking_time", T.LongType()),
    T.StructField("transfers", T.LongType()),
])


LABEL_SCHEMA = T.StructType([
    T.StructField("origin_id", T.LongType()),
    T.StructField("departure", T.LongType()),
    T.StructField("a_secs", T.LongType()),
    T.StructField("stop_idx", T.LongType()),     # reached stop
    T.StructField("arrival", T.LongType()),
    T.StructField("k_transfers", T.LongType()),
])


def raptor_labels(
    spark: SparkSession,
    tt: Timetable,
    origin_tables: dict[str, DataFrame],
    departure: int | None,
    max_transfers: int,
) -> DataFrame:
    """One all-targets RAPTOR per origin → (origin, stop, arrival) labels.

    The kernel axis is origins (the reference's rayon loop, matrix.rs:40);
    everything downstream of the labels is DataFrame algebra. Origins with
    no access stop emit nothing (walking-only pairs are handled by the
    point_walk join in one_to_many).
    """
    bc = spark.sparkContext.broadcast(tt)

    origins = origin_tables["point_nodes"].join(
        origin_tables["point_stops"].filter(F.col("rank") == 1)
        .select("point_id", "stop_idx", "access_secs"),
        "point_id",
    )
    if departure is not None:
        origins = origins.withColumn("departure", F.lit(int(departure)))

    def kernel(batches):
        tt_ = bc.value
        for pdf in batches:
            outs = []
            for row in pdf.itertuples(index=False):
                dep = int(row.departure)
                a_secs = int(row.access_secs)
                best, best_k = raptor(
                    tt_, int(row.stop_idx), dep + a_secs, max_transfers, target=None
                )
                hit = np.nonzero(best != INF)[0]
                outs.append(pd.DataFrame({
                    "origin_id": np.full(len(hit), int(row.point_id), np.int64),
                    "departure": np.full(len(hit), dep, np.int64),
                    "a_secs": np.full(len(hit), a_secs, np.int64),
                    "stop_idx": hit.astype(np.int64),
                    "arrival": best[hit].astype(np.int64),
                    "k_transfers": best_k[hit].astype(np.int64),
                }))
            yield pd.concat(outs) if outs else pd.DataFrame(
                {f.name: pd.Series(dtype="int64") for f in LABEL_SCHEMA.fields}
            )

    parts = spark.sparkContext.defaultParallelism
    return origins.repartition(parts).mapInPandas(kernel, LABEL_SCHEMA)


def one_to_many(
    spark: SparkSession,
    tt: Timetable,
    origin_tables: dict[str, DataFrame],
    dest_tables: dict[str, DataFrame],
    departure: int | None,
    max_transfers: int,
) -> DataFrame:
    """All origins × all dests multimodal travel times (J13 as a job).

    ``departure``: constant seconds-since-midnight, or None if the
    origins table carries a per-row ``departure`` column (used by
    percent-access sampling: same origin × many departures — one job).

    Plan shape (the join regime — nothing is collected to the driver and
    the origin walk maps are REUSED from point_walk, not recomputed):

      1. labels   = one all-targets RAPTOR per origin (kernel);
      2. walking  = origin point_walk ⋈ dest snap nodes on node_id
                    (walking_time_to, transit_model.rs:250-252);
      3. transit  = labels ⋈ dest point_stops on stop_idx; per-pair
                    argmin by (total, egress rank) — the reference's
                    rank-order "first strictly better wins" scan, whose
                    a+e pruning rules are subsumed by the min since
                    total ≥ a+e always;
      4. walking ties beat transit (walking <= total,
         multimodal_routing.rs:36).
    """
    labels = raptor_labels(spark, tt, origin_tables, departure, max_transfers)

    o_meta = origin_tables["point_nodes"].select(
        F.col("point_id").alias("origin_id")
    )
    if departure is not None:
        o_meta = o_meta.withColumn("departure", F.lit(int(departure)))
    else:
        o_meta = origin_tables["point_nodes"].select(
            F.col("point_id").alias("origin_id"), "departure"
        )

    dest_nodes = dest_tables["point_nodes"].select(
        F.col("point_id").alias("dest_id"), "node_id"
    )
    walking = (
        o_meta.join(
            origin_tables["point_walk"].withColumnRenamed("point_id", "origin_id"),
            "origin_id",
        )
        .join(dest_nodes, "node_id")
        .select("origin_id", "departure", "dest_id", F.col("walk_secs").alias("walking"))
    )

    egress = dest_tables["point_stops"].select(
        F.col("point_id").alias("dest_id"),
        "stop_idx",
        F.col("access_secs").alias("e_secs"),
        "rank",
    )
    cand = (
        labels.join(egress, "stop_idx")
        .withColumn("total", F.col("arrival") - F.col("departure") + F.col("e_secs"))
    )
    w = Window.partitionBy("origin_id", "departure", "dest_id").orderBy("total", "rank")
    best_cand = (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "origin_id", "departure", "dest_id", "total",
            (F.col("arrival") - F.col("departure") - F.col("a_secs")).alias("transit"),
            F.col("k_transfers").alias("k"),
        )
    )

    joined = best_cand.join(
        walking, ["origin_id", "departure", "dest_id"], "full_outer"
    )
    take_transit = F.col("total").isNotNull() & (
        F.col("walking").isNull() | (F.col("walking") > F.col("total"))
    )
    return joined.select(
        "origin_id",
        "departure",
        "dest_id",
        F.when(take_transit, F.col("total")).otherwise(F.col("walking")).alias("travel_time"),
        F.when(take_transit, F.col("transit")).alias("transit_time"),
        F.when(take_transit, F.col("total") - F.col("transit"))
        .otherwise(F.col("walking")).alias("walking_time"),
        F.when(take_transit, F.col("k")).otherwise(F.lit(0)).alias("transfers"),
    ).filter(F.col("travel_time").isNotNull())


def route_pairs(
    spark: SparkSession,
    tt: Timetable,
    od_pairs: DataFrame,
    origin_tables: dict[str, DataFrame],
    dest_tables: dict[str, DataFrame],
    departure: int,
    max_transfers: int,
) -> DataFrame:
    """The reference's ``find_route`` product (multimodal_routing.rs:70-141).

    ``od_pairs``: (pair_id, origin_id, dest_id). Unlike one_to_many (all
    egress candidates scanned), find_route takes the SINGLE rank-1 access
    stop × SINGLE rank-1 egress stop from :func:`od_legs`
    (``take(MAX_CANDIDATE_STOPS)`` on both sides, lib.rs:14) and runs the
    target-pruned single-target RAPTOR — whose pruning semantics make its
    arrival differ from the all-targets scan (the reference's own
    find_route vs one-to-many goldens differ on the same OD pair: 1566
    vs 1524 on the zhelez fixture). Walking tie goes to walking. A pair
    whose origin or destination fails the snap gate has no row.
    """
    rows = od_legs(od_pairs, origin_tables, dest_tables)
    bc = spark.sparkContext.broadcast(tt)

    def kernel(batches):
        tt_ = bc.value
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                walking, legs = unpack_legs(r)
                cand = None
                if legs is not None:
                    a_stop, a_secs, e_stop, e_secs = legs
                    best, best_k = raptor(
                        tt_, a_stop, departure + a_secs, max_transfers, target=e_stop
                    )
                    arr = best[e_stop]
                    if arr != INF:
                        transit = int(arr) - (departure + a_secs)
                        cand = (a_secs + transit + e_secs, transit, int(best_k[e_stop]))
                o, d = int(r.origin_id), int(r.dest_id)
                if cand is not None and not (walking is not None and walking <= cand[0]):
                    total, transit, k = cand
                    out.append((o, departure, d, total, transit, total - transit, k))
                elif walking is not None:
                    out.append((o, departure, d, walking, None, walking, 0))
            yield pd.DataFrame(
                out,
                columns=[
                    "origin_id", "departure", "dest_id", "travel_time",
                    "transit_time", "walking_time", "transfers",
                ],
            )

    parts = spark.sparkContext.defaultParallelism
    return rows.repartition(parts).mapInPandas(kernel, RESULT_SCHEMA)


def travel_time_matrix(spark, tt, point_tables, departure, max_transfers) -> DataFrame:
    """(origin_id, dest_id, travel_time nullable) — src/matrix.rs:30-67."""
    res = one_to_many(spark, tt, point_tables, point_tables, departure, max_transfers)
    return res.select("origin_id", "dest_id", "travel_time")


def travel_time_statistics(
    spark,
    tt,
    point_tables,
    departure: int,
    max_transfers: int,
    threshold: float = 0.75,
    filter_cutoff: int | None = None,
) -> DataFrame:
    """(origin_id, mean_tt, median_tt) per origin from ONE one-to-many
    pass, both null below the reachability gate (A6/A10,
    src/matrix.rs:102-186). Median = midpoint(lo, hi) for even counts —
    Spark's exact ``percentile(col, 0.5)`` matches that rule."""
    res = one_to_many(spark, tt, point_tables, point_tables, departure, max_transfers)
    if filter_cutoff is not None:
        res = res.filter(F.col("travel_time") <= filter_cutoff)
    # the point count rides in as a 1-row broadcast: building starts no job
    total = point_tables["point_nodes"].agg(F.count("*").alias("total"))
    gated = F.col("n_reached") / F.col("total").cast("double") < threshold
    return (
        res.groupBy("origin_id")
        .agg(
            F.count("*").alias("n_reached"),
            F.avg("travel_time").alias("mean_tt"),
            F.percentile("travel_time", F.lit(0.5)).alias("median_tt"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "origin_id",
            *(F.when(gated, F.lit(None)).otherwise(F.col(c)).alias(c)
              for c in ("mean_tt", "median_tt")),
        )
    )
