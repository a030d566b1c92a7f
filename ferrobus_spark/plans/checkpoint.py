"""Stage checkpointing with per-partition lineage + metrics (north rule).

Production targets Iceberg snapshots; this container has no Iceberg
runtime, so the same contract is implemented on parquet directories:

  <root>/<stage>/data/            the stage output (parquet)
  <root>/<stage>/_METRICS.json    rows, partitions, wall seconds, schema
  <root>/<stage>/_LINEAGE.json    upstream stage names + per-write-task
                                  row counts (the part files' parquet footers)

A pipeline is a list of (name, fn) stages; ``run_pipeline`` skips any
stage whose metrics file already exists (resume-from-checkpoint) and
feeds each stage the materialized outputs of its upstreams, so a rerun
after a mid-pipeline failure recomputes only the remainder. Swapping
``format("parquet")`` for ``format("iceberg")`` (plus a catalog) is the
only production delta — noted here so the design intent is explicit.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

Stage = tuple[str, Callable[..., DataFrame], list[str]]  # (name, fn, upstreams)


def _paths(root: str, name: str) -> tuple[str, str, str]:
    base = os.path.join(root, name)
    return os.path.join(base, "data"), os.path.join(base, "_METRICS.json"), os.path.join(
        base, "_LINEAGE.json"
    )


def stage_is_complete(root: str, name: str) -> bool:
    _, metrics, _ = _paths(root, name)
    return os.path.exists(metrics)


def footer_rows(path: str) -> dict[int, int]:
    """Rows per write task of a parquet output directory, from the footers
    (Iceberg's manifests hold the same counts), so no job re-scans it.

    Spark names each output file ``part-NNNNN-...`` with NNNNN the
    partition of the task that wrote it; a task that rolled over into
    several files has their counts summed. Local paths only, the same
    assumption as ``plans/iterative``'s round deletion.
    """
    rows: dict[int, int] = {}
    for f in os.listdir(path):
        if f.startswith("part-"):
            p = int(f.split("-")[1])
            rows[p] = rows.get(p, 0) + pq.read_metadata(os.path.join(path, f)).num_rows
    return dict(sorted(rows.items()))


#: absolute path → (its files' (name, size, mtime_ns), inferred schema)
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _files_key(path: str) -> tuple:
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(d, f) for d, _, names in os.walk(path) for f in names
    )
    stats = ((f, os.stat(f)) for f in files)
    return tuple((f, st.st_size, st.st_mtime_ns) for f, st in stats)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a path's schema once per
    process: inference runs a Spark job over the footers, so later reads
    of the same, unchanged files bind the cached schema and start none.
    A file added, removed, resized or touched re-infers. Local paths
    only, the same assumption as :func:`footer_rows`; any other path is
    a plain read.
    """
    if not os.path.exists(path):
        return spark.read.parquet(path)
    path = os.path.abspath(path)
    key = _files_key(path)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df


def write_stage(
    spark: SparkSession, root: str, name: str, df: DataFrame, upstreams: list[str]
) -> DataFrame:
    data, metrics_p, lineage_p = _paths(root, name)
    t0 = time.perf_counter()
    df.write.mode("overwrite").parquet(data)
    wall = time.perf_counter() - t0
    per_part = footer_rows(data)
    n_rows = sum(per_part.values())
    # file-source schemas are all-nullable, which is what inference would
    # give back — without inference's job
    out = spark.read.schema(df.schema).parquet(data)
    with open(metrics_p, "w") as f:
        json.dump(
            {
                "stage": name,
                "rows": n_rows,
                "partitions": len(per_part),
                "wall_sec": round(wall, 3),
                "rows_per_sec": round(n_rows / wall, 1) if wall > 0 else None,
                "schema": out.schema.simpleString(),
            },
            f,
        )
    with open(lineage_p, "w") as f:
        json.dump(
            {
                "stage": name,
                "upstreams": upstreams,
                "partition_rows": {str(p): n for p, n in per_part.items()},
            },
            f,
        )
    return out


def run_pipeline(
    spark: SparkSession,
    root: str,
    stages: list[Stage],
    inputs: dict[str, DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """Execute stages in order, resuming past completed checkpoints.

    Each stage fn receives (spark, {name: DataFrame}) with all inputs
    and completed upstream outputs available.
    """
    os.makedirs(root, exist_ok=True)
    env: dict[str, DataFrame] = dict(inputs or {})
    for name, fn, upstreams in stages:
        data, _, _ = _paths(root, name)
        if stage_is_complete(root, name):
            env[name] = read_parquet(spark, data)
            continue
        os.makedirs(os.path.dirname(data), exist_ok=True)
        df = fn(spark, env)
        env[name] = write_stage(spark, root, name, df, upstreams)
    return env


def pipeline_metrics(root: str) -> list[dict]:
    out = []
    for name in sorted(os.listdir(root)):
        _, metrics_p, _ = _paths(root, name)
        if os.path.exists(metrics_p):
            with open(metrics_p) as f:
                out.append(json.load(f))
    return out
