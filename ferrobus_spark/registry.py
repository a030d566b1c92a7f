"""Driver-contract query registry.

Every implemented operator gets a ``queries()`` entry (a callable
``(spark, sf_dir) -> DataFrame``) and, where SQL-expressible, an
``oracle_sql()`` ANSI-SQL string that DuckDB runs on the same parquet
views. Column names/aliases must match exactly between the two — the
driver hash-compares values after sorting columns by name.

Spatial queries use the portable-SQL emitters in
:mod:`ferrobus_spark.hexgrid` / :mod:`ferrobus_spark.functions.geo`, so
the Spark plan and the DuckDB oracle evaluate bit-identical double
arithmetic.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ferrobus_spark import hexgrid
from ferrobus_spark.functions.geo import haversine_sql, lonlat_sql
from ferrobus_spark.plans.checkpoint import read_parquet

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
# value: SQL string, or a zero-arg callable returning one (resolved lazily
# in oracle_sql() — used by the transit oracles, whose SQL is generated
# from the independent pure-Python model build at first request)
ORACLES: dict[str, str | Callable[[], str]] = {}

TILE_RES = 9


def register(name: str, oracle: str | Callable[[], str] | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# shared SQL fragments (single source of truth for Spark AND DuckDB)
# ---------------------------------------------------------------------------
LON_SQL, LAT_SQL = lonlat_sql("doc_id")
CELL_SQL = hexgrid.cell_sql(LON_SQL, LAT_SQL, TILE_RES)

# Two-step form: lon/lat materialized as named columns FIRST, then the
# hex encode over column refs. Textually inlining LON_SQL/LAT_SQL into
# cell_sql blows the fused Project+HashAggregate past the JVM 64KB
# codegen method limit and Spark silently falls back to interpreted
# eval (~7x slower, GC-bound). Both engines evaluate the identical
# op sequence either way, so oracle parity is unaffected.
CELL_REF_SQL = hexgrid.cell_sql("lon", "lat", TILE_RES)
GEO_DOCS_SQL = f"(SELECT doc_id, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM documents)"


def _docs_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + materialized lon/lat columns (two-step codegen form)."""
    return _docs(spark, sf_dir).selectExpr(
        "*", f"{LON_SQL} AS lon", f"{LAT_SQL} AS lat"
    )

# convex test polygon over the synthetic city (CCW) — PIP as half-plane
# conjunction is exact in both engines.
PIP_POLY = [
    (-122.47, 37.705),
    (-122.405, 37.72),
    (-122.40, 37.79),
    (-122.48, 37.77),
]


def convex_pip_sql(lon: str, lat: str, poly) -> str:
    """Point-in-convex-polygon as a conjunction of cross-product signs."""
    terms = []
    n = len(poly)
    for i in range(n):
        x1, y1 = poly[i]
        x2, y2 = poly[(i + 1) % n]
        terms.append(
            f"(({hexgrid.dlit(x2)} - {hexgrid.dlit(x1)}) * (({lat}) - {hexgrid.dlit(y1)})"
            f" - ({hexgrid.dlit(y2)} - {hexgrid.dlit(y1)}) * (({lon}) - {hexgrid.dlit(x1)}) >= {hexgrid.dlit(0.0)})"
        )
    return "(" + " AND ".join(terms) + ")"


# ---------------------------------------------------------------------------
# T: tile assignment + skewed aggregation (north-rule headline)
# ---------------------------------------------------------------------------

@register(
    "tile_assign",
    f"SELECT doc_id, {CELL_REF_SQL} AS cell FROM {GEO_DOCS_SQL}",
)
def q_tile_assign(spark, sf_dir):
    """H3-style tile assignment of every page (SURVEY.md §7 step 2)."""
    return _docs_geo(spark, sf_dir).select(
        "doc_id", F.expr(CELL_REF_SQL).alias("cell")
    )


@register(
    "tile_histogram",
    f"""
    SELECT cell, COUNT(*) AS n_docs
    FROM (SELECT {CELL_REF_SQL} AS cell FROM {GEO_DOCS_SQL})
    GROUP BY cell
    """,
)
def q_tile_histogram(spark, sf_dir):
    """Per-cell page counts over hot-cell-skewed keys (AQE skew agg)."""
    return (
        _docs_geo(spark, sf_dir)
        .select(F.expr(CELL_REF_SQL).alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "pip_convex",
    f"""
    SELECT doc_id, {CELL_REF_SQL} AS cell
    FROM {GEO_DOCS_SQL}
    WHERE {convex_pip_sql("lon", "lat", PIP_POLY)}
    """,
)
def q_pip_convex(spark, sf_dir):
    """Point-in-polygon join against the city core polygon (J10)."""
    return (
        _docs_geo(spark, sf_dir)
        .filter(F.expr(convex_pip_sql("lon", "lat", PIP_POLY)))
        .select("doc_id", F.expr(CELL_REF_SQL).alias("cell"))
    )


# 8 deterministic transit "stops" used by kNN queries
STOPS = [
    (0, -122.455, 37.755),
    (1, -122.425, 37.765),
    (2, -122.470, 37.730),
    (3, -122.440, 37.780),
    (4, -122.410, 37.740),
    (5, -122.490, 37.760),
    (6, -122.430, 37.710),
    (7, -122.405, 37.775),
]

_STOPS_VALUES = ", ".join(
    f"({sid}, {hexgrid.dlit(slon)}, {hexgrid.dlit(slat)})" for sid, slon, slat in STOPS
)
_KNN_DIST = haversine_sql("lon", "lat", "slon", "slat")


@register(
    "knn_nearest_stop",
    f"""
    SELECT doc_id, stop_id,
           CAST(ROUND(dist_m * 1000000) AS BIGINT) AS dist_um
    FROM (
      SELECT d.doc_id, s.stop_id, {_KNN_DIST} AS dist_m,
             ROW_NUMBER() OVER (
               PARTITION BY d.doc_id ORDER BY {_KNN_DIST}, s.stop_id
             ) AS rn
      FROM {GEO_DOCS_SQL} d
      CROSS JOIN (SELECT * FROM (VALUES {_STOPS_VALUES}) AS v(stop_id, slon, slat)) s
    ) WHERE rn = 1
    """,
)
def q_knn_nearest_stop(spark, sf_dir):
    """1-NN nearest-stop matching (reference J1, R-tree NN analogue).

    Small dimension side → broadcast cross join + window; this is the
    exact baseline the k-ring candidate join is validated against.
    """
    docs = _docs_geo(spark, sf_dir)
    # The stop table is 8 fixed rows, so the 1-NN argmin folds into ONE
    # narrow projection: least() over 8 (dist, stop_id) structs — struct
    # comparison is lexicographic, i.e. exactly the former window's
    # ORDER BY dist, stop_id with rn = 1. Round 8: this removes the 8×
    # crossJoin row blowup AND the row_number Exchange+Sort (the only
    # shuffle in the query); the haversines are the same doubles the
    # oracle computes (identical op sequence, constant stop coords).
    best = F.least(*[
        F.struct(
            F.expr(
                haversine_sql("lon", "lat", hexgrid.dlit(slon), hexgrid.dlit(slat))
            ).alias("d"),
            F.lit(sid).alias("s"),
        )
        for sid, slon, slat in STOPS
    ])
    return docs.withColumn("best", best).select(
        "doc_id",
        F.col("best.s").alias("stop_id"),
        # micrometer fixed point: DuckDB's and the JVM's libm differ
        # by 1 ulp on the haversine transcendentals for ~1/2500 rows
        # (seen at sf0.1); the 1e-6 m grid is 7 orders above that
        F.round(F.col("best.d") * F.lit(1e6)).cast("long").alias("dist_um"),
    )


@register(
    "knn_nearest_stop_kring",
    f"""
    SELECT doc_id, stop_id,
           CAST(ROUND(dist_m * 1000000) AS BIGINT) AS dist_um
    FROM (
      SELECT d.doc_id, s.stop_id, {_KNN_DIST} AS dist_m,
             ROW_NUMBER() OVER (
               PARTITION BY d.doc_id ORDER BY {_KNN_DIST}, s.stop_id
             ) AS rn
      FROM {GEO_DOCS_SQL} d
      CROSS JOIN (SELECT * FROM (VALUES {_STOPS_VALUES}) AS v(stop_id, slon, slat)) s
    ) WHERE rn = 1
    """,
)
def q_knn_nearest_stop_kring(spark, sf_dir):
    """The SAME 1-NN answer through the 100×-scale plan: k-ring candidate
    cells + equi-join (``spatial.knn_join``) instead of the broadcast
    crossJoin+window baseline — no crossJoin anywhere: the 8 stops (a
    ``VALUES`` local relation) are broadcast with their 19-cell rings and
    each page equi-joins on its own cell, so the shape survives a
    billion-point left side and runs no Python. Hash-gated against the
    IDENTICAL brute-force oracle; coverage proof: the farthest true 1-NN
    in the synthetic geo layout is 41.8 km (≈0.48° lon at 37.8°N) and
    ring=2 at res=1 guarantees candidate coverage past 2×inradius =
    0.87°."""
    from ferrobus_spark.operators.spatial import knn_join

    docs = _docs_geo(spark, sf_dir)
    stops = spark.sql(f"SELECT * FROM VALUES {_STOPS_VALUES} AS v(stop_id, slon, slat)")
    knn = knn_join(
        docs, stops, k=1, res=1, ring=2,
        point_id="doc_id", target_id="stop_id", tlon="slon", tlat="slat",
    )
    return knn.select(
        "doc_id",
        "stop_id",
        F.round(F.col("dist_m") * F.lit(1e6)).cast("long").alias("dist_um"),
    )


# ---------------------------------------------------------------------------
# D: dedup + text analysis over documents (training-data pipeline ops)
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS keeper_doc_id
    FROM documents
    GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup via content hash groupBy (map-side partial agg)."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


@register(
    "lang_histogram",
    # CAST: DuckDB SUM(int) yields HUGEINT -> float64 in the compare frame;
    # Spark sum(int) is int64.  Cast so the driver's value-hash matches.
    "SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars "
    "FROM documents GROUP BY lang",
)
def q_lang_histogram(spark, sf_dir):
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


@register(
    "text_passthrough_hash",
    "SELECT doc_id, md5(text) AS text_md5 FROM documents",
)
def q_text_passthrough_hash(spark, sf_dir):
    """Byte-identity invariant of the graft: text survives the pipeline.

    The engine's pages table carries ``text`` untouched; hashing it per
    url/doc and matching the oracle proves pass-through byte-identity
    (input_hint contract).
    """
    from ferrobus_spark.sources.pages import pages_table

    return pages_table(spark, sf_dir).select(
        "doc_id", F.md5("text").alias("text_md5")
    )


def queries() -> dict[str, QueryFn]:
    import ferrobus_spark.registry_ext  # noqa: F401  (registers more queries)

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    import ferrobus_spark.registry_ext  # noqa: F401

    return {k: (v() if callable(v) else v) for k, v in ORACLES.items()}
