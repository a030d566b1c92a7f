"""TransitPoint precomputation as DataFrames (reference §1.4).

A "transit point" is the engine's indexed access object
(transit_model.rs:190-247): snap to nearest street node, bounded SSSP
over the street graph, harvest canonical stops among reached nodes,
keep top-k by access time. Built for whole point tables at once:

  point_nodes(point_id, node_id, snap_secs)          — J1 snap + gate
  point_walk(point_id, node_id, walk_secs)           — bounded SSSP out
  point_stops(point_id, stop_idx, access_secs, rank) — k-NN by network time

:func:`od_legs` joins them into the legs of the OD-pair products, so no
product walks the street graph again.

Tie-break: (access_secs, stop_idx) — deterministic refinement of the
reference's unspecified HashMap tie order (documented deviation).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ferrobus_spark.model.snap import nearest_node_join
from ferrobus_spark.routing.csr import CSRGraph, bounded_dijkstra


def build_point_tables(
    spark: SparkSession,
    points: DataFrame,
    street_nodes: DataFrame,
    node_to_stop: DataFrame,
    csr: CSRGraph,
    max_walking_time: int = 1200,
    max_stops: int = 10,
) -> dict[str, DataFrame]:
    """points(point_id, lon, lat[, max_walking_time, max_nearest_stops])."""
    cols = points.columns
    if "max_walking_time" not in cols:
        points = points.withColumn("max_walking_time", F.lit(max_walking_time))
    if "max_nearest_stops" not in cols:
        points = points.withColumn("max_nearest_stops", F.lit(max_stops))

    snapped = nearest_node_join(
        points.select("point_id", "lon", "lat"), street_nodes, "point_id"
    ).join(
        points.select("point_id", "max_walking_time", "max_nearest_stops"), "point_id"
    )
    # snap gate: beyond max walking time → point is unroutable (excluded)
    point_nodes = snapped.filter(F.col("snap_secs") <= F.col("max_walking_time"))

    bc = spark.sparkContext.broadcast(csr)

    walk_schema = T.StructType([
        T.StructField("point_id", T.LongType()),
        T.StructField("node_id", T.LongType()),
        T.StructField("walk_secs", T.LongType()),
    ])

    def walk_kernel(batches):
        g = bc.value
        for pdf in batches:
            rows_p, rows_n, rows_s = [], [], []
            for pid, node, snap, mwt in zip(
                pdf["point_id"], pdf["node_id"], pdf["snap_secs"], pdf["max_walking_time"]
            ):
                dense = int(g.dense_of([node])[0])
                dist = bounded_dijkstra(g, dense, max_cost=int(mwt) - int(snap))
                for nd, secs in dist.items():
                    rows_p.append(int(pid))
                    rows_n.append(int(g.node_ids[nd]))
                    rows_s.append(secs)
            yield pd.DataFrame({"point_id": rows_p, "node_id": rows_n, "walk_secs": rows_s})

    src = point_nodes.repartition(spark.sparkContext.defaultParallelism).localCheckpoint()
    point_walk = src.mapInPandas(walk_kernel, walk_schema).localCheckpoint()

    # point_stops derives from point_walk with a join — ONE Dijkstra per
    # point total (the previous second kernel recomputed the same SSSP).
    # Reach gate: the kernel's one-edge overhang can exceed the bound, so
    # re-apply walk_secs <= mwt - snap like the reference's `time <=
    # max_walking_time - distance` (transit_model.rs:229-235). Tie-break
    # (access_secs, stop_idx) — documented deterministic refinement.
    meta = src.select("point_id", "snap_secs", "max_walking_time", "max_nearest_stops")
    w = Window.partitionBy("point_id").orderBy("access_secs", "stop_idx")
    point_stops = (
        point_walk.join(F.broadcast(node_to_stop), "node_id")
        .join(F.broadcast(meta), "point_id")
        .filter(F.col("walk_secs") <= F.col("max_walking_time") - F.col("snap_secs"))
        .select(
            "point_id",
            "stop_idx",
            (F.col("walk_secs") + F.col("snap_secs")).alias("access_secs"),
            "max_nearest_stops",
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= F.col("max_nearest_stops"))
        .drop("max_nearest_stops")
    )
    return {
        "point_nodes": src.select(
            "point_id", "node_id", "snap_secs", "max_walking_time"
        ),
        "point_walk": point_walk,
        "point_stops": point_stops,
    }


def od_legs(
    od_pairs: DataFrame,
    origin_tables: dict[str, DataFrame],
    dest_tables: dict[str, DataFrame],
) -> DataFrame:
    """One row per routable OD pair: (pair_id, origin_id, dest_id, walking,
    a_stop, a_secs, e_stop, e_secs).

    ``walking`` is the origin's ``point_walk`` entry at the destination's
    snap node (walking_time_to, transit_model.rs:250-252), null when the
    walk budget does not reach it. The access and egress legs are the
    rank-1 ``point_stops`` rows (MAX_CANDIDATE_STOPS=1, lib.rs:14), null
    when a point reaches no stop. A pair whose origin or destination fails
    the snap gate has no row.
    """

    def rank1(tables, id_col, stop_col, secs_col):
        return tables["point_stops"].filter(F.col("rank") == 1).select(
            F.col("point_id").alias(id_col),
            F.col("stop_idx").alias(stop_col),
            F.col("access_secs").alias(secs_col),
        )

    walk = origin_tables["point_walk"].select(
        F.col("point_id").alias("origin_id"),
        "node_id",
        F.col("walk_secs").alias("walking"),
    )
    return (
        od_pairs.join(
            origin_tables["point_nodes"].select(F.col("point_id").alias("origin_id")),
            "origin_id",
        )
        .join(
            dest_tables["point_nodes"].select(
                F.col("point_id").alias("dest_id"), "node_id"
            ),
            "dest_id",
        )
        .join(walk, ["origin_id", "node_id"], "left")
        .join(rank1(origin_tables, "origin_id", "a_stop", "a_secs"), "origin_id", "left")
        .join(rank1(dest_tables, "dest_id", "e_stop", "e_secs"), "dest_id", "left")
        .select(
            "pair_id", "origin_id", "dest_id", "walking",
            "a_stop", "a_secs", "e_stop", "e_secs",
        )
    )


def unpack_legs(r) -> tuple[int | None, tuple[int, int, int, int] | None]:
    """``(walking, (a_stop, a_secs, e_stop, e_secs))`` of one od_legs row
    as ints. ``walking`` is None when unwalkable; the stop legs are None
    when a side reaches no stop, or when access plus egress alone take at
    least the walk (the reference's a+e pruning)."""
    walking = None if pd.isna(r.walking) else int(r.walking)
    if pd.isna(r.a_stop) or pd.isna(r.e_stop):
        return walking, None
    legs = (int(r.a_stop), int(r.a_secs), int(r.e_stop), int(r.e_secs))
    if walking is not None and legs[1] + legs[3] >= walking:
        return walking, None
    return walking, legs
