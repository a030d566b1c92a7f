"""SparkSession factory tuned for the engine (local mode + cluster-safe)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ferrobus_spark import pyworker


def _default_driver_mem() -> str:
    """Half of physical RAM, capped at 48g — a fixed 48g overcommits
    small hosts. ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(ram // 2, 48 << 30) >> 20}m"


def get_spark(
    app_name: str = "ferrobus_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Defaults target correctness-critical and scale-critical settings:
    Arrow for all pandas-UDF exchange, AQE with skew-join splitting (hot
    H3 cells / hot domains — SURVEY.md §4), UTC session time for oracle
    parity, and shuffle partitions sized to the local core count rather
    than Spark's 200 default.

    Python workers start from :mod:`ferrobus_spark.pyworker`
    (``spark.python.daemon.module``), which imports the installed
    pyspark instead of Spark's ``pyspark.zip``, so no task re-reads the
    archive. Every worker must therefore import ``ferrobus_spark``: run
    from the repo root or put it on ``PYTHONPATH``.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        # no stage-progress spinner: it pollutes captured bench/sweep
        # artifacts (BENCH_r6 'tail' noise) and round-over-round diffs
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", pyworker.__name__)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
