"""Link-graph analyses over extracted page links (web-corpus ops).

Classic Common-Crawl-scale workloads over the ``extract_links`` output:

* :func:`resolve_links` — href → absolute URL + target host (relative
  hrefs resolve against the page's own host), pure column expressions;
* :func:`host_graph` — host-level edge aggregation (src_host, dst_host,
  n_links): the input to domain-authority / spam analyses. One shuffle
  on the host pair; map-side partial agg applies.
* :func:`pagerank` — damped PageRank by iterative join/agg dataflow with
  per-round parquet materialization (``plans/iterative.iterate`` — see
  that module for why NOT localCheckpoint). Dangling mass is
  redistributed uniformly each round (the standard formulation), so
  ranks sum to 1 every iteration. Fixed iteration count → deterministic
  output, verified against a NumPy power-iteration oracle in
  tests/test_linkgraph.py.

Scale notes: each PageRank round is one edge-scale shuffle — the
per-source contribution (rank/outdeg) is joined at node scale first,
then edges ⋈ per_src (shuffle on src) → groupBy(dst) sum (shuffle on
dst). Pre-partitioning both edges and ranks by the join key removes the
per-round re-shuffle of the edge side. Hub-host skew (the power-law
mega-domain) is handled EXPLICITLY: :func:`pagerank` runs a
heavy_hitters pass once and salts the hot sources through every round's
join (operators/skew.py); AQE skew-join splitting remains as the second
line of defense.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ferrobus_spark.operators.skew import heavy_hitters, salted_join
from ferrobus_spark.plans.iterative import iterate, materialize, rows

# a source owning at least this share of the (sampled) edges is salted
# into this many sub-keys in every round's edges ⋈ contribution join
HOT_THRESHOLD = 0.01
N_SALT = 16


def resolve_links(links: DataFrame, pages: DataFrame) -> DataFrame:
    """(doc_id, href) + pages(doc_id, domain) → (doc_id, src_host, dst_host, url).

    Relative hrefs inherit the linking page's host; protocol-relative
    (``//host/…``) and other schemes are dropped, like a crawler's
    frontier filter would. ``dst_host`` is normalized exactly like
    ``functions.urls.url_host_col`` — lowercased, port stripped — so
    host-graph keys can't split by case or ``:8080`` on real HTML.
    """
    src = pages.select("doc_id", F.col("domain").alias("src_host"))
    out = links.join(F.broadcast(src), "doc_id")
    # scheme match is case-insensitive (real HTML carries HTTP:// etc.)
    low = F.lower(F.col("href"))
    absolute = low.startswith("https://") | low.startswith("http://")
    relative = F.col("href").startswith("/") & ~F.col("href").startswith("//")
    host_of = F.regexp_replace(
        F.lower(F.regexp_extract("href", r"^(?i)https?://([^/?#]+)", 1)), r":\d+$", ""
    )
    return (
        out.filter(absolute | relative)
        .select(
            "doc_id",
            "src_host",
            F.when(absolute, host_of).otherwise(F.col("src_host")).alias("dst_host"),
            F.when(absolute, F.col("href"))
            .otherwise(F.concat(F.lit("https://"), F.col("src_host"), F.col("href")))
            .alias("url"),
        )
    )


def host_graph(resolved: DataFrame) -> DataFrame:
    """(src_host, dst_host, n_links) host-level edges."""
    return (
        resolved.groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("n_links"))
    )


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """→ (node, rank) after ``n_iter`` damped power iterations.

    ``edges``: directed (src, dst) pairs; parallel edges count as weight.
    rank_{t+1}(v) = (1-d)/N + d * (Σ_{u→v} rank_t(u)/outdeg(u) + dangling/N).

    One sampled :func:`~ferrobus_spark.operators.skew.heavy_hitters`
    pass over the edge sources at setup routes every round's
    edges⋈(rank/outdeg) join through ``salted_join`` for the hot keys —
    the explicit answer to the power-law hub problem (a mega-host with
    10⁷ out-edges is ONE join key; AQE can split its post-shuffle
    partition but every round still funnels the key through one shuffle
    write path). The salt changes only physical distribution, so results
    equal the unsalted power iteration up to float partial-agg summation
    ORDER (≤1 ulp per round — 9 orders below the nano fixed-point driver
    gate).
    """
    # edges are scanned EVERY round: materialize once so the upstream plan
    # (e.g. HTML parse → resolve_links) doesn't re-execute n_iter times
    e = materialize(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    nodes = materialize(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = rows(nodes)
    outdeg = materialize(e.groupBy("src").agg(F.count("*").alias("outdeg")))

    # one measured pass at setup; the hot-source set is a property of
    # the (static) edge table, so it amortizes over all iterations
    hot = heavy_hitters(e, "src", threshold=HOT_THRESHOLD)

    def step(ranks: DataFrame) -> DataFrame:
        # rank/outdeg joins at NODE scale first, so each round pays one
        # edge-scale shuffle (edges ⋈ per-src contribution), not two
        per_src = (
            ranks.withColumnRenamed("node", "src")
            .join(outdeg, "src")
            .select("src", (F.col("rank") / F.col("outdeg")).alias("contrib"))
        )
        if hot:
            joined = salted_join(e, per_src, "src", hot, N_SALT)
        else:
            joined = e.join(per_src, "src")
        contribs = (
            joined.select(F.col("dst").alias("node"), "contrib")
            .groupBy("node")
            .agg(F.sum("contrib").alias("in_mass"))
        )
        # dangling nodes (no out-edges) leak their mass; redistribute.
        # The 1-row aggregate rides into the rank update as a broadcast
        # cross join instead of a driver collect — one Spark job per
        # iteration, not two. Float-op order is kept identical to the
        # former python-side fold ((1-d)/n literal, then (d*dangling)/n)
        # so the nano-fixed-point oracle stays bit-stable.
        dangling = (
            ranks.join(outdeg.withColumnRenamed("src", "node"), "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass"))
        )
        return (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + (F.lit(damping) * F.col("dmass")) / F.lit(float(n))
                    + F.lit(damping) * F.coalesce(F.col("in_mass"), F.lit(0.0))
                ).alias("rank"),
            )
        )

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    return iterate(ranks, step, n_iter, pinned=(e, nodes, outdeg))
