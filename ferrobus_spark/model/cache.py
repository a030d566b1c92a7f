"""Parquet cache for the built transit model (round-7 verdict item 2).

The zhelez-style fixture model build (`build_model`) is ~35 s of many
small Spark jobs; every sweep child process and every fresh pytest
session paid it again at sf1.0, dominating the transit rows. The model
tables are plain DataFrames, so they serialize losslessly to parquet:
this module writes them once per (fixture content, query date, max
transfer time, format version) key and reloads them in milliseconds.

The cache key hashes the ACTUAL fixture table bytes — not a code
version guess — so any edit to `sources/transit.py` that changes the
data invalidates the cache automatically. `MODEL_CACHE_VERSION` covers
changes to `build_model` itself (same input, different build logic).

Only the ENGINE side is cached. The independent pure-Python oracle twin
(`tests/oracle/transit_oracle.py`) keeps rebuilding from scratch — the
whole point of the twin is that it shares no artifacts with the engine.

Production analogue: the model build is the expensive ingest stage; on
a cluster these tables land in the warehouse (parquet/Iceberg via
``plans/checkpoint.py``) and routing products read them back — this
cache is that same shape at fixture scale.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import SparkSession

from ferrobus_spark.model.build import TransitModel, build_model
from ferrobus_spark.plans.checkpoint import read_parquet
from ferrobus_spark.routing.csr import build_csr

#: Bump for ANY change that alters cached bytes under the same fixture:
#: build_model itself AND the point builders (build_point_tables /
#: bounded Dijkstra) whose outputs land in the same key's "points" dir.
MODEL_CACHE_VERSION = 1
_MARKER = "_SUCCESS_MODEL"


def default_cache_root() -> str:
    return os.environ.get(
        "FERROBUS_MODEL_CACHE",
        os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))), ".model_cache"),
    )


def model_cache_key() -> str:
    """sha256 over fixture content + build params + format version."""
    from ferrobus_spark.sources.transit import (
        MAX_TRANSFER_TIME,
        QUERY_DATE,
        transit_fixture,
    )

    from ferrobus_spark.sources.transit import query_points

    h = hashlib.sha256()
    h.update(f"v{MODEL_CACHE_VERSION}|{QUERY_DATE}|{MAX_TRANSFER_TIME}".encode())
    fx = transit_fixture()
    for name in sorted(fx):
        h.update(name.encode())
        # to_csv over the deterministic fixture is stable across runs
        h.update(fx[name].to_csv(index=False).encode())
    # the cached point tables (below) also derive from the query points
    h.update(query_points().to_csv(index=False).encode())
    return h.hexdigest()[:16]


def load_or_build_model(
    spark: SparkSession, cache_root: str | None = None
) -> TransitModel:
    """Return the fixture TransitModel, parquet-cached across processes.

    Build-once/read-many: the first caller builds and writes each model
    table under ``<root>/<key>/<table>``; later processes read the
    parquet back (sub-second) and only re-derive the in-memory CSR
    kernel from the street tables. Write is atomic via temp-dir rename,
    so a killed builder never leaves a half cache behind.
    """
    from ferrobus_spark.sources.transit import MAX_TRANSFER_TIME, QUERY_DATE, to_spark

    root = cache_root or default_cache_root()
    key = model_cache_key()
    cdir = os.path.join(root, key)

    if not os.path.exists(os.path.join(cdir, _MARKER)):
        model = build_model(spark, to_spark(spark), QUERY_DATE, MAX_TRANSFER_TIME)
        tmp = cdir + f".tmp.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp, exist_ok=True)
        for name, df in model.tables.items():
            df.write.mode("overwrite").parquet(os.path.join(tmp, name))
        with open(os.path.join(tmp, _MARKER), "w") as f:
            f.write(key)
        if os.path.exists(cdir) and not os.path.exists(os.path.join(cdir, _MARKER)):
            shutil.rmtree(cdir, ignore_errors=True)  # half-written remnant
        try:
            os.rename(tmp, cdir)
        except OSError:
            # a concurrent process won the rename race; use its copy
            shutil.rmtree(tmp, ignore_errors=True)

    tables = {
        name: read_parquet(spark, os.path.join(cdir, name))
        for name in sorted(os.listdir(cdir))
        if name != _MARKER and name != "points" and not name.startswith(".")
    }
    csr = build_csr(tables["street_nodes"], tables["street_edges"])
    return TransitModel(
        tables=tables, csr=csr, max_transfer_time=MAX_TRANSFER_TIME
    )


def load_or_build_points(
    spark: SparkSession, model: TransitModel, cache_root: str | None = None
) -> dict:
    """TransitPoint tables, parquet-cached beside the model (~10 s of
    snap + bounded-Dijkstra kernels per fresh process otherwise). Keyed
    by the same fixture hash — ``model_cache_key`` covers the query
    points too."""
    root = cache_root or default_cache_root()
    pdir = os.path.join(root, model_cache_key(), "points")

    if not os.path.exists(os.path.join(pdir, _MARKER)):
        from ferrobus_spark.routing.points import build_point_tables
        from ferrobus_spark.sources.transit import query_points

        pts = build_point_tables(
            spark, spark.createDataFrame(query_points()),
            model["street_nodes"], model["node_to_stop"], model.csr,
        )
        # dot-prefixed temp dir INSIDE the model cache dir: a builder
        # killed between makedirs and rename must not leave a
        # "points.tmp.<pid>" entry that load_or_build_model's table
        # listing would read as a model table (round-8 ADVICE fix) —
        # the startswith('.') filters skip it
        tmp = os.path.join(os.path.dirname(pdir), f".points.tmp.{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp, exist_ok=True)
        for name, df in pts.items():
            df.write.mode("overwrite").parquet(os.path.join(tmp, name))
        with open(os.path.join(tmp, _MARKER), "w") as f:
            f.write("points")
        if os.path.exists(pdir) and not os.path.exists(os.path.join(pdir, _MARKER)):
            shutil.rmtree(pdir, ignore_errors=True)
        try:
            os.rename(tmp, pdir)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)

    return {
        name: read_parquet(spark, os.path.join(pdir, name))
        for name in sorted(os.listdir(pdir))
        if name != _MARKER and not name.startswith(".")
    }
