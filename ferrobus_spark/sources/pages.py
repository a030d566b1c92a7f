"""Synthesize the Common-Crawl-style pages table (graft input contract).

``BASELINE.json input_hint``: columns
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.
Derived deterministically from the driver's ``documents`` parquet — no
external data. ``text`` is a byte-identical pass-through of the source
document text (the per-row invariant; verified via sha2 hash join).
Adds deterministic (lon, lat) per url with hot-cell/hot-domain skew
(see :mod:`ferrobus_spark.functions.geo`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ferrobus_spark.functions.geo import lonlat_cols
from ferrobus_spark.plans.checkpoint import read_parquet

#: Zipf-ish domain pool — weights fall off harmonically via modulo bias.
_DOMAINS = [
    "example.com", "news.example.org", "blog.example.net", "shop.example.io",
    "wiki.example.edu", "forum.example.co", "docs.example.dev", "mail.example.app",
]


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/documents.parquet")


#: bucket upper bounds for the harmonic-ish domain skew (h%64 → 8 domains)
_DOMAIN_CUTS = [32, 44, 52, 57, 60, 62, 63]


def domain_sql(id_expr: str) -> str:
    """CASE expression mapping an integer id to its domain — ONE string
    shared verbatim by Spark and the DuckDB oracle so the skewed domain
    assignment (and the cross-domain ref links built from it) stays
    engine-identical by construction."""
    bucket = f"(({id_expr}) * 2654435761) % 4294967296 % 64"
    whens = "".join(
        f" WHEN {bucket} < {cut} THEN '{dom}'"
        for cut, dom in zip(_DOMAIN_CUTS, _DOMAINS)
    )
    return f"(CASE{whens} ELSE '{_DOMAINS[7]}' END)"


#: cross-domain reference link target for a page (see pages_table nav)
REF_TARGET_SQL = "((doc_id * 131 + 7) % 4096)"


def ref_href_sql() -> str:
    """Absolute URL of the page's cross-domain 'ref' link (shared SQL)."""
    return (
        f"('https://' || {domain_sql(REF_TARGET_SQL)} || '/page/' || "
        f"CAST({REF_TARGET_SQL} AS STRING))"
    )


def page_html_sql() -> str:
    """SQL expression rebuilding the page html string from (doc_id, text)
    — shared verbatim by the DuckDB multimodal oracles so the binary
    column's byte identity is restated independently of Spark."""
    return (
        "'<html><head><title>Page ' || CAST(doc_id AS STRING)"
        " || '</title></head><body><nav>'"
        " || CASE WHEN doc_id > 0 THEN"
        " '<a href=\"/page/' || CAST(doc_id - 1 AS STRING) || '\">prev</a>'"
        " ELSE '' END"
        " || '<a href=\"/page/' || CAST(doc_id + 1 AS STRING) || '\">next</a>'"
        f" || '<a href=\"' || {ref_href_sql()} || '\">ref</a></nav><p>'"
        " || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'),"
        " '>', '&gt;')"
        " || '</p></body></html>'"
    )


def warc_ts_col(id_col: str = "doc_id"):
    """Deterministic fetch timestamp for a synthetic page."""
    h = (F.col(id_col) * 2654435761) % 4294967296
    return F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(
        secs=(h % 2592000).cast("double")
    )


def pages_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → pages(url, warc_ts, html, text, lang, lon, lat, domain)."""
    docs = load_documents(spark, sf_dir)
    domain = F.expr(domain_sql("doc_id"))
    lon, lat = lonlat_cols("doc_id")
    return docs.select(
        F.concat(F.lit("https://"), domain, F.lit("/page/"), F.col("doc_id")).alias("url"),
        warc_ts_col("doc_id").alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit("<html><head><title>Page "),
                F.col("doc_id").cast("string"),
                F.lit("</title></head><body><nav>"),
                # deterministic link structure: prev (when >0) + next page
                F.when(
                    F.col("doc_id") > 0,
                    F.concat(
                        F.lit('<a href="/page/'),
                        (F.col("doc_id") - 1).cast("string"),
                        F.lit('">prev</a>'),
                    ),
                ).otherwise(F.lit("")),
                F.lit('<a href="/page/'),
                (F.col("doc_id") + 1).cast("string"),
                F.lit('">next</a>'),
                # cross-domain reference link → nontrivial host graph
                F.lit('<a href="'),
                F.expr(ref_href_sql()),
                F.lit('">ref</a></nav><p>'),
                # entity-escape so extraction is byte-identical even if the
                # corpus ever grows markup characters
                F.replace(
                    F.replace(
                        F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
                        F.lit("<"), F.lit("&lt;"),
                    ),
                    F.lit(">"), F.lit("&gt;"),
                ),
                F.lit("</p></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
        lon.alias("lon"),
        lat.alias("lat"),
        domain.alias("domain"),
        F.col("doc_id"),
    )
