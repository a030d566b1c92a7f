"""End-to-end transit model build (reference create_transit_model, §3.1).

The two independent branches (GTFS timetable, street graph) are just
independent DAG subtrees; transfers need both. Every output is a
DataFrame; callers may persist/checkpoint each stage (Iceberg in
production, parquet/localCheckpoint here).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ferrobus_spark.model.gtfs import build_timetable
from ferrobus_spark.model.streets import build_street_graph
from ferrobus_spark.model.transfers import build_transfers, snap_stops
from ferrobus_spark.routing.csr import CSRGraph, build_csr


@dataclass(eq=False)  # hashed by identity: per-model memos key on it
class TransitModel:
    """Namespace of model DataFrames + the broadcast CSR street kernel."""
    tables: dict[str, DataFrame]
    csr: CSRGraph
    max_transfer_time: int

    def __getitem__(self, name: str) -> DataFrame:
        return self.tables[name]


def build_model(
    spark: SparkSession,
    fixture_tables: dict[str, DataFrame],
    date: str | None,
    max_transfer_time: int = 600,
) -> TransitModel:
    timetable = build_timetable(spark, fixture_tables, date)
    streets = build_street_graph(
        spark, fixture_tables["street_nodes"], fixture_tables["street_edges"]
    )
    # cache the small model tables: every downstream kernel reuses them
    for name in ("stops_dim", "routes_with_pattern", "route_stops", "stop_times", "trips_dim"):
        timetable[name] = timetable[name].localCheckpoint()
    streets = {k: v.localCheckpoint() for k, v in streets.items()}

    csr = build_csr(streets["street_nodes"], streets["street_edges"])

    stop_nodes = snap_stops(
        spark, timetable["stops_dim"], streets["street_nodes"], max_transfer_time
    ).localCheckpoint()
    tr = build_transfers(
        spark,
        timetable["stops_dim"],
        stop_nodes,
        csr,
        fixture_tables["gtfs_transfers"],
        max_transfer_time,
    )
    tables = {
        **timetable,
        **streets,
        "stop_nodes": stop_nodes,
        "transfers": tr["transfers"].localCheckpoint(),
        "node_to_stop": tr["node_to_stop"].localCheckpoint(),
    }
    return TransitModel(tables=tables, csr=csr, max_transfer_time=max_transfer_time)
