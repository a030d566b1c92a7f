"""Link-graph ops: host edges vs manual aggregation, PageRank vs NumPy."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ferrobus_spark.operators.html_text import extract_links
from ferrobus_spark.operators.linkgraph import (
    HOT_THRESHOLD,
    host_graph,
    pagerank,
    resolve_links,
)
from ferrobus_spark.operators.skew import heavy_hitters
from ferrobus_spark.sources.pages import pages_table


@pytest.fixture(scope="module")
def resolved(spark, sf_dir):
    pages = pages_table(spark, sf_dir)
    return resolve_links(extract_links(pages), pages).localCheckpoint()


def test_relative_links_resolve_to_own_host(resolved):
    rel = resolved.filter(F.col("url").contains("/page/")).count()
    assert rel == resolved.count()
    mismatch = resolved.filter(
        ~F.col("url").startswith(F.concat(F.lit("https://"), F.col("dst_host")))
    ).count()
    assert mismatch == 0


def test_resolve_links_normalizes_and_filters(spark):
    """Protocol-relative hrefs drop; absolute hosts lowercase + port-strip."""
    links = spark.createDataFrame(
        [
            (1, 0, "//cdn.example.com/x"),          # protocol-relative: drop
            (1, 1, "https://Other.EXAMPLE.com:8443/p"),  # normalize host
            (1, 2, "/rel/path"),                     # relative: own host
            (1, 3, "mailto:x@example.com"),          # other scheme: drop
            (1, 4, "http://plain.org/q"),
        ],
        "doc_id long, link_pos int, href string",
    )
    pages = spark.createDataFrame([(1, "src.example.com")], "doc_id long, domain string")
    out = {r.url: r for r in resolve_links(links, pages).collect()}
    assert set(out) == {
        "https://Other.EXAMPLE.com:8443/p",
        "https://src.example.com/rel/path",
        "http://plain.org/q",
    }
    assert out["https://Other.EXAMPLE.com:8443/p"].dst_host == "other.example.com"
    assert out["https://src.example.com/rel/path"].dst_host == "src.example.com"
    assert out["http://plain.org/q"].dst_host == "plain.org"


def test_resolve_links_uppercase_scheme_kept(spark):
    """Mixed-case schemes (HTTP://, Https://) are absolute links too."""
    links = spark.createDataFrame(
        [
            (1, 0, "HTTP://Shouty.ORG/a"),
            (1, 1, "Https://Mixed.Example.com:443/b"),
        ],
        "doc_id long, link_pos int, href string",
    )
    pages = spark.createDataFrame([(1, "src.example.com")], "doc_id long, domain string")
    out = {r.url: r.dst_host for r in resolve_links(links, pages).collect()}
    assert out == {
        "HTTP://Shouty.ORG/a": "shouty.org",
        "Https://Mixed.Example.com:443/b": "mixed.example.com",
    }


def test_host_graph_counts(resolved):
    hg = {(r.src_host, r.dst_host): r.n_links for r in host_graph(resolved).collect()}
    manual = (
        resolved.groupBy("src_host", "dst_host").count().collect()
    )
    assert hg == {(r.src_host, r.dst_host): r["count"] for r in manual}
    # cross-domain refs make it non-diagonal
    assert any(s != d for s, d in hg)


def _numpy_pagerank(edges, n_iter, d=0.85):
    """Dense power iteration over (src, dst) edges: host → rank."""
    pdf = edges.toPandas()
    hosts = sorted(set(pdf["src"]) | set(pdf["dst"]))
    idx = {h: i for i, h in enumerate(hosts)}
    n = len(hosts)
    W = np.zeros((n, n))
    for s, t in zip(pdf["src"], pdf["dst"]):
        W[idx[s], idx[t]] += 1
    out = W.sum(axis=1)
    nz = out > 0
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        dangling = r[~nz].sum()
        base = (1 - d) / n + d * dangling / n
        r = base + d * ((W[nz] / out[nz, None]).T @ r[nz])
    return dict(zip(hosts, r))


def _assert_matches_numpy(edges, n_iter):
    got = {r.node: r.rank for r in pagerank(edges, n_iter=n_iter).collect()}
    exp = _numpy_pagerank(edges, n_iter)
    assert got.keys() == exp.keys()
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved
    for h, r in exp.items():
        assert abs(got[h] - r) < 1e-9, h


def test_pagerank_matches_numpy(spark, resolved):
    edges = resolved.select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
    _assert_matches_numpy(edges, 8)


def test_pagerank_salted_equals_plain(spark, resolved):
    """Hub skew: one host owns ~70% of the edges, so pagerank salts it
    through every round's join; the ranks still equal the plain NumPy
    power iteration."""
    edges = resolved.select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    hub = spark.range(400).select(
        F.lit("megahub.example.com").alias("src"),
        F.concat(F.lit("t"), (F.col("id") % 37).cast("string")).alias("dst"),
    )
    skewed = edges.unionByName(hub)
    assert "megahub.example.com" in heavy_hitters(skewed, "src", HOT_THRESHOLD)
    _assert_matches_numpy(skewed, 6)
