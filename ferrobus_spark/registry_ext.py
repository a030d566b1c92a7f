"""Registry extension: text analysis, dedup, similarity, relational, transit.

Imported by :mod:`ferrobus_spark.registry` at the bottom; registers
additional queries() / oracle_sql() entries.

Float-determinism policy for oracle-checked queries: no cross-row
float aggregation (per-row ratios are fine — both engines do identical
IEEE double ops on identical inputs); money sums use integer cents so
partial-aggregation order can't produce ulp drift.
"""

from __future__ import annotations

import functools

from pyspark.sql import Window
from pyspark.sql import functions as F

from ferrobus_spark.functions.text import (
    BPE_RE,
    STOPWORDS,
    WORD_RE,
    fingerprint_udf,
    lang_id_col,
    n_bpe_tokens_col,
    n_words_col,
)
from ferrobus_spark.registry import _docs, _read, register

# ---------------------------------------------------------------------------
# text analysis (oracle-checked)
# ---------------------------------------------------------------------------

_STOP_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)


@register(
    "token_stats",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{WORD_RE}')) AS n_words,
           len(regexp_extract_all(text, '{BPE_RE}')) AS n_bpe_tokens
    FROM documents
    """,
)
def q_token_stats(spark, sf_dir):
    """Token counting: whitespace words + BPE-ish subword regex.

    Round 8: the documents parquet is ONE row group, so the scan is one
    task and both Java regex passes ran single-core (measured 1.4 s of
    the 1.42 s query at sf1.0). spread_for_kernel round-robins the
    narrow (doc_id, text) projection across the session's parallelism
    first — the same under-partitioned-input guard the Arrow kernels
    use (no-op at 100 TB where scans already carry thousands of
    partitions)."""
    from ferrobus_spark.plans.partitioning import spread_for_kernel

    return spread_for_kernel(_docs(spark, sf_dir).select("doc_id", "text")).select(
        "doc_id",
        n_words_col("text").alias("n_words"),
        n_bpe_tokens_col("text").alias("n_bpe_tokens"),
    )


@register(
    "quality_stats",
    f"""
    SELECT doc_id,
           length(text) AS n_chars_q,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
           length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
           len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
                           w -> w IN ({_STOP_LIST}))) AS n_stopwords
    FROM documents
    """,
)
def q_quality_stats(spark, sf_dir):
    """Quality-signal counts (ratios derive from these; int-exact).

    Round 8: spread the single-row-group documents scan first — the
    regex/translate passes otherwise run in ONE task (guide §2/§6;
    no-op at scale where scans carry many partitions)."""
    from ferrobus_spark.plans.partitioning import spread_for_kernel

    c = F.col("text")
    words = F.regexp_extract_all(F.lower(c), F.lit("[a-z]+"), F.lit(0))
    return spread_for_kernel(_docs(spark, sf_dir).select("doc_id", "text")).select(
        "doc_id",
        F.length(c).cast("long").alias("n_chars_q"),
        F.length(F.regexp_replace(c, "[^A-Za-z]", "")).cast("long").alias("n_alpha"),
        F.length(F.regexp_replace(c, "[^0-9]", "")).cast("long").alias("n_digit"),
        F.size(F.filter(words, lambda w: w.isin(STOPWORDS))).cast("long").alias("n_stopwords"),
    )


def _dlit(x: float) -> str:
    from ferrobus_spark.hexgrid import dlit

    return dlit(x)


_NZ = "CAST(GREATEST(CAST(length(text) AS BIGINT), 1) AS DOUBLE)"
_NW = (
    f"CAST(GREATEST(len(regexp_extract_all(lower(text), '[a-z]+')), 1) AS DOUBLE)"
)
_ALPHA = "CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT)"
_DIGIT = "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)"
_NSTOP = (
    "len(list_filter(regexp_extract_all(lower(text), '[a-z]+'), "
    f"w -> w IN ({_STOP_LIST})))"
)


@register(
    "quality_score",
    f"""
    SELECT doc_id,
           LEAST(CAST(CAST(length(text) AS BIGINT) AS DOUBLE) / {_dlit(200.0)}, {_dlit(1.0)}) * {_dlit(0.3)}
         + LEAST(({_ALPHA} / {_NZ}) / {_dlit(0.7)}, {_dlit(1.0)}) * {_dlit(0.3)}
         + LEAST(({_NSTOP} / {_NW}) / {_dlit(0.3)}, {_dlit(1.0)}) * {_dlit(0.3)}
         + ({_dlit(1.0)} - LEAST(({_DIGIT} / {_NZ}) * {_dlit(4.0)}, {_dlit(1.0)})) * {_dlit(0.1)}
           AS score
    FROM documents
    """,
)
def q_quality_score(spark, sf_dir):
    """Composite [0,1] quality heuristic, bit-matched against DuckDB
    (per-row double arithmetic from integer counts — no float aggs)."""
    from ferrobus_spark.functions.text import quality_score_col
    from ferrobus_spark.plans.partitioning import spread_for_kernel

    # spread: single-row-group scan, regex-heavy projection (round 8)
    return spread_for_kernel(_docs(spark, sf_dir).select("doc_id", "text")).select(
        "doc_id", quality_score_col("text").alias("score")
    )


def _lang_id_oracle() -> str:
    """DuckDB twin of lang_id_udf: same marker lists (single source of
    truth), non-overlapping regex counts, first-max-wins tie rule
    (pandas idxmax over column insertion order ≡ the CASE chain)."""
    from ferrobus_spark.functions.text import LANG_MARKERS

    langs = list(LANG_MARKERS)  # insertion order = tie priority
    scores = ", ".join(
        " + ".join(f"len(regexp_extract_all(p, '{m}'))" for m in LANG_MARKERS[lang])
        + f" AS {lang}"
        for lang in langs
    )
    whens = []
    for i, lang in enumerate(langs[:-1]):
        rest = ", ".join(langs[i + 1 :])
        cmp_ = f"GREATEST({rest})" if "," in rest else rest
        whens.append(f"WHEN {lang} >= {cmp_} THEN '{lang}'")
    return f"""
    SELECT doc_id,
           CASE WHEN GREATEST({", ".join(langs)}) = 0 THEN 'und'
                {" ".join(whens)}
                ELSE '{langs[-1]}' END AS lang_pred
    FROM (
      SELECT doc_id, {scores}
      FROM (SELECT doc_id,
                   ' ' || regexp_replace(lower(text), '\\s+', ' ', 'g') || ' ' AS p
            FROM documents)
    )
    """


@register("lang_id_pred", _lang_id_oracle)
def q_lang_id_pred(spark, sf_dir):
    """Heuristic n-gram language ID; oracle = independent SQL restatement
    of the marker-count + first-max rule (plus pytest accuracy scoring)."""
    from ferrobus_spark.plans.partitioning import spread_for_kernel

    # spread: 36 marker regexp_counts per row ran single-task (round 8)
    return spread_for_kernel(_docs(spark, sf_dir).select("doc_id", "text")).select(
        "doc_id", lang_id_col(F.col("text")).alias("lang_pred")
    )


def _fingerprint_oracle() -> str:
    """DuckDB twin of fingerprint_udf: per-window FNV-style polynomial
    rolling hash over 8-byte windows, 4 smallest window hashes, golden-
    ratio mix, XOR combine — all with explicit mod-2^64 arithmetic.

    uint64 wraparound is emulated in HUGEINT: ``h*base`` fits (2^64 *
    2^40 < 2^127) so a plain ``% 2^64`` works per Horner step, while the
    final ``h * 0x9E3779B97F4A7C15`` can overflow HUGEINT and is done in
    32-bit limbs. Bytes come from ``unicode(substr(...))`` — valid
    because the corpus is ASCII (code point == UTF-8 byte; the hash gate
    would surface any drift) and every text is ≥ 8 chars (no pad path).
    """
    base = 1099511628211
    m64 = 1 << 64
    mix = 0x9E3779B97F4A7C15
    # HUGEINT % and // are software int128 division (~3.4 µs/op measured);
    # all mod-2^64 / limb arithmetic here reduces to & and >> bit ops —
    # see the matching note in _minhash_pairs_ctes.
    mask = f"{(1 << 64) - 1}::HUGEINT"
    m32 = f"{(1 << 32) - 1}::HUGEINT"
    h = "CAST(0 AS HUGEINT)"
    for j in range(8):
        # O(1) char-list indexing; see _minhash_pairs_ctes for why the
        # old substr(text, i+j, 1) form was quadratic per document.
        byte = f"unicode(cs[CAST(i + {j + 1} AS INT)])"
        h = f"(({h} * {base} + {byte}) & {mask})"
    return f"""
    SELECT doc_id,
           CAST(CASE WHEN x >= {1 << 63}::HUGEINT
                     THEN x - {m64}::HUGEINT ELSE x END AS BIGINT)
             AS fingerprint
    FROM (
      SELECT doc_id, CAST(bit_xor(CAST(m AS UBIGINT)) AS HUGEINT) AS x
      FROM (
        SELECT doc_id,
               ((h & {m32}) * {mix}::HUGEINT
                + (((h >> 32) * {mix}::HUGEINT) & {m32})
                  * {1 << 32}::HUGEINT) & {mask} AS m
        FROM (
          SELECT doc_id, h,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h) AS rn
          FROM (
            SELECT doc_id, {h} AS h
            FROM (SELECT doc_id, string_split(text, '') AS cs FROM documents),
                 unnest(range(0, len(cs) - 7)) AS t(i)
          )
        ) WHERE rn <= 4
      ) GROUP BY doc_id
    )
    """


@register("doc_fingerprint", _fingerprint_oracle)
def q_doc_fingerprint(spark, sf_dir):
    """Rolling-hash document fingerprint; oracle = independent mod-2^64
    restatement of the winnowing rule in DuckDB SQL."""
    from ferrobus_spark.plans.partitioning import spread_for_kernel

    # spread: the Arrow fingerprint kernel ran as one task on the
    # single-row-group scan (round 8)
    return spread_for_kernel(_docs(spark, sf_dir).select("doc_id", "text")).select(
        "doc_id", fingerprint_udf(F.col("text")).alias("fingerprint")
    )


# ---------------------------------------------------------------------------
# HTML processing over the pages table (web-corpus ops; oracle-checked)
# ---------------------------------------------------------------------------

@register(
    "html_extract_text",
    "SELECT doc_id, text AS extracted_text FROM documents",
)
def q_html_extract_text(spark, sf_dir):
    """HTML -> visible text extraction; byte-identical to the source text
    per url (the graft's per-row invariant, checked via value hash)."""
    from ferrobus_spark.operators.html_text import parse_html
    from ferrobus_spark.sources.pages import pages_table

    return parse_html(pages_table(spark, sf_dir)).select("doc_id", "extracted_text")


def _link_graph_oracle() -> str:
    from ferrobus_spark.sources.pages import ref_href_sql

    return f"""
    SELECT doc_id, link_pos, href FROM (
      SELECT doc_id, 0 AS link_pos,
             '/page/' || CAST(doc_id - 1 AS STRING) AS href
      FROM documents WHERE doc_id > 0
      UNION ALL
      SELECT doc_id,
             CASE WHEN doc_id > 0 THEN 1 ELSE 0 END AS link_pos,
             '/page/' || CAST(doc_id + 1 AS STRING) AS href
      FROM documents
      UNION ALL
      SELECT doc_id,
             CASE WHEN doc_id > 0 THEN 2 ELSE 1 END AS link_pos,
             {ref_href_sql()} AS href
      FROM documents
    )
    """


@register("html_link_graph", _link_graph_oracle())
def q_html_link_graph(spark, sf_dir):
    """Outgoing link edges parsed from raw HTML (host-graph input)."""
    from ferrobus_spark.operators.html_text import extract_links
    from ferrobus_spark.sources.pages import pages_table

    return extract_links(pages_table(spark, sf_dir)).select(
        "doc_id", "link_pos", "href"
    )


@register(
    "url_canonicalize",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'https://example.com'
                ELSE 'http://news.example.org:443' END
             || '/Page/' || CAST(doc_id AS STRING)
             || CASE WHEN doc_id % 3 = 0 THEN
                  (CASE WHEN doc_id % 5 = 0 AND doc_id % 10 <> 0
                        THEN '//' ELSE '/' END)
                ELSE '' END
             || CASE WHEN doc_id % 5 = 0 AND doc_id % 10 <> 0
                     THEN '?A=0&A=1&b=2' ELSE '' END AS canon_url,
           CASE WHEN doc_id % 2 = 0 THEN 'example.com' ELSE 'news.example.org' END AS host
    FROM documents
    """,
)
def q_url_canonicalize(spark, sf_dir):
    """Canonicalization over deterministically-messied URLs: case-folded
    scheme/host, SCHEME-AWARE default port (https :443 stripped; the
    same :443 on http is non-default and KEPT), fragment and empty query
    stripped, query params byte-sorted, path case preserved. The oracle
    states the expected canonical form directly (independent statement of
    the spec, not a twin computation — a shared bug can't hide)."""
    from ferrobus_spark.functions.urls import canonical_url_col, url_host_col

    docs = _docs(spark, sf_dir)
    messy = F.concat(
        F.when(
            F.col("doc_id") % 2 == 0, F.lit("HTTPS://Example.COM:443")
        ).otherwise(F.lit("HTTP://News.Example.Org:443")),
        F.lit("/Page/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("//")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.when(F.col("doc_id") % 10 == 0, F.lit("?")).otherwise(
                F.lit("?b=2&A=1&A=0")
            ),
        ).otherwise(F.lit("")),
        F.lit("#Section-2"),
    )
    return docs.select(
        "doc_id",
        canonical_url_col(messy).alias("canon_url"),
        url_host_col(messy).alias("host"),
    )


def _host_graph_oracle() -> str:
    from ferrobus_spark.sources.pages import REF_TARGET_SQL, domain_sql

    d = domain_sql("doc_id")
    dr = domain_sql(REF_TARGET_SQL)
    return f"""
    SELECT src_host, dst_host, CAST(COUNT(*) AS BIGINT) AS n_links FROM (
      SELECT {d} AS src_host, {d} AS dst_host FROM documents WHERE doc_id > 0
      UNION ALL
      SELECT {d}, {d} FROM documents
      UNION ALL
      SELECT {d}, {dr} FROM documents
    ) GROUP BY src_host, dst_host
    """


@register("host_link_graph", _host_graph_oracle())
def q_host_link_graph(spark, sf_dir):
    """Host-level link-graph edges aggregated from parsed HTML hrefs."""
    from ferrobus_spark.operators.html_text import extract_links
    from ferrobus_spark.operators.linkgraph import host_graph, resolve_links
    from ferrobus_spark.sources.pages import pages_table

    pages = pages_table(spark, sf_dir)
    resolved = resolve_links(extract_links(pages), pages)
    return host_graph(resolved)


def _pagerank_oracle(n_iter: int = 8, damping: float = 0.85) -> str:
    """DuckDB twin of linkgraph.pagerank over the host graph: build the
    weighted host edges with the (already driver-green) host_link_graph
    SQL, then unroll ``n_iter`` damped rounds as MATERIALIZED CTEs —
    same dataflow as the engine (weighted in-mass + uniform dangling
    redistribution). Ranks compare in nano fixed point (×1e9, rounded):
    partial-agg summation order differs between engines by ~1e-15,
    twelve decimal orders below the comparison grid."""
    from ferrobus_spark.hexgrid import dlit

    d, omd = dlit(damping), dlit(1.0 - damping)
    parts = [
        f"edges AS MATERIALIZED ({_host_graph_oracle()})",
        "nodes AS MATERIALIZED (SELECT DISTINCT src_host AS node FROM edges"
        " UNION SELECT DISTINCT dst_host FROM edges)",
        "outdeg AS MATERIALIZED (SELECT src_host, SUM(n_links) AS outdeg"
        " FROM edges GROUP BY src_host)",
        "nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
        f"r0 AS MATERIALIZED (SELECT node, {dlit(1.0)}/(SELECT n FROM nn)"
        " AS rank FROM nodes)",
    ]
    for k in range(n_iter):
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT COALESCE(SUM(r.rank), {dlit(0.0)})"
            f" AS dm FROM r{k} r LEFT JOIN outdeg o ON o.src_host = r.node"
            " WHERE o.src_host IS NULL)"
        )
        parts.append(
            f"""r{k + 1} AS MATERIALIZED (
      SELECT n.node,
             {omd}/(SELECT n FROM nn)
             + {d}*(SELECT dm FROM d{k})/(SELECT n FROM nn)
             + {d}*COALESCE(m.mass, {dlit(0.0)}) AS rank
      FROM nodes n LEFT JOIN (
        SELECT e.dst_host AS node,
               SUM(e.n_links * r.rank / o.outdeg) AS mass
        FROM edges e JOIN r{k} r ON r.node = e.src_host
                     JOIN outdeg o ON o.src_host = e.src_host
        GROUP BY e.dst_host
      ) m ON m.node = n.node)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node, CAST(ROUND(rank * 1e9) AS BIGINT) AS rank_nano"
        f" FROM r{n_iter}"
    )


@register("host_pagerank", _pagerank_oracle)
def q_host_pagerank(spark, sf_dir):
    """Damped PageRank over the host link graph, driver-gated in nano
    fixed point (rank×1e9 rounded to int64): absorbs cross-engine float
    summation-order noise (~1e-15) while pinning the full iterative
    dataflow — the DuckDB twin unrolls the same 8 weighted rounds from
    the independently-oracled host edges."""
    from ferrobus_spark.operators.html_text import extract_links
    from ferrobus_spark.operators.linkgraph import pagerank, resolve_links
    from ferrobus_spark.sources.pages import pages_table

    pages = pages_table(spark, sf_dir)
    resolved = resolve_links(extract_links(pages), pages)
    ranks = pagerank(
        resolved.select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst")),
        n_iter=8,
    )
    return ranks.select(
        "node",
        F.round(F.col("rank") * F.lit(1e9)).cast("long").alias("rank_nano"),
    )


# ---------------------------------------------------------------------------
# dedup (LSH families — rows-only; exactness pytest-verified vs brute force)
# ---------------------------------------------------------------------------

def _minhash_oracle() -> str:
    """DuckDB twin of the minhash→banded-LSH candidate query: 5-byte
    rolling window hashes (mod 2^64) → x mod (2^61-1) → 64 universal
    permutations (a,b embedded as VALUES — deterministic from the fixed
    seed) → per-doc minima → pairs sharing a FULLY-EQUAL 4-row band →
    signature agreement ≥ 32/64 (≡ est_jaccard ≥ 0.5).

    One deliberate restatement: the engine buckets bands by a 64-bit
    polynomial hash of the slice (dedup._band_hash_matrix); the oracle
    uses band-slice EQUALITY. They differ only on a 64-bit hash
    collision between unequal slices that also passes the ≥0.5
    agreement filter. ASCII/len≥5 corpus assumptions as in the
    fingerprint oracle."""
    ctes = _minhash_pairs_ctes("documents", min_agree=32)
    return f"""
    WITH {ctes}
    SELECT id_a, id_b FROM mh_pairs
    """


def _minhash_pairs_ctes(source: str, min_agree: int, cap: int = 256) -> str:
    """CTE chain (params/win/sigs/cand/mh_pairs) computing the
    minhash→banded-LSH→agreement-filtered pairs of ``source`` (a table
    or earlier CTE with doc_id, text). ``min_agree`` is the signature
    agreement threshold (ceil(threshold * N_HASHES)). Embeddable in a
    larger WITH chain (the curation oracle reuses it over the
    exact-dedup survivors).

    ``cap`` mirrors the engine's hot-bucket guard (``max_bucket_size``,
    dedup.py:_bucket_pairs): band buckets with more than ``cap``
    members skip the pair join and instead emit a min-id STAR per
    identical-FULL-signature group. The guard is part of the gated
    production semantics (its drop/star behavior is separately pinned by
    the closed-form ``minhash_guard_planted_template`` oracle); sf1.0 is
    the first gate corpus where hot buckets actually change the output
    (10 guarded drops surfaced as a round-6 sweep mismatch in the
    simhash family first). The one difference from the engine, which
    cannot drift the output short of a 64-bit hash collision: the engine
    buckets on a 64-bit hash of the band slice, the twin on the exact
    band values. Both form star groups on the exact full signature."""
    from ferrobus_spark.operators.dedup import MERSENNE, N_HASHES, _minhash_params

    a, b = _minhash_params(N_HASHES)
    params = ", ".join(
        f"({i}, {int(a[i])}, {int(b[i])})" for i in range(N_HASHES)
    )
    # HUGEINT % is software int128 division (~3.4 µs/row measured — it
    # alone was 22 s of the 23 s chain at sf0.01 and the root cause of the
    # round-6 sf1.0 oracle stall at 64 permutations × millions of
    # shingles). Both moduli reduce to bit ops: x % 2^64 == x & (2^64-1)
    # for non-negative x, and for y < 2^64, y % (2^61-1) folds as
    # (y >> 61) + (y & M) with one conditional subtract (2^61 ≡ 1 mod M;
    # the fold sum is < M + 8, so a single subtract suffices — verified
    # exact vs % on 1M random u64 values and the edge cases 0, M-1, M,
    # M+1, 2M, 2^64-1).
    mask = f"{(1 << 64) - 1}::HUGEINT"
    M = f"{MERSENNE}::HUGEINT"

    def fold(y: str) -> str:
        s = f"(({y} >> 61) + ({y} & {M}))"
        return f"(CASE WHEN {s} >= {M} THEN {s} - {M} ELSE {s} END)"

    h = "CAST(0 AS HUGEINT)"
    for j in range(5):
        # O(1) list indexing into the pre-split char list — a direct
        # substr(text, i+j, 1) is an O(i) codepoint scan in DuckDB, which
        # made shingle hashing quadratic per document (319 s for the win
        # CTE alone at sf0.1; 3.5 s with the char list — found while the
        # round-6 sf1.0 sweep stalled). unicode(cs[k]) == the old
        # unicode(substr(text, k, 1)) for every string, ASCII or not.
        byte = f"unicode(cs[CAST(i + {j + 1} AS INT)])"
        h = f"(({h} * 1099511628211 + {byte}) & {mask})"
    perm = f"((((p.a * w.x) & {mask}) + p.b) & {mask})"
    return f"""params(hidx, a, b) AS MATERIALIZED (VALUES {params}),
    rolled AS (
      SELECT doc_id, ({h}) AS h64
      FROM (SELECT doc_id, string_split(text, '') AS cs FROM {source}),
           unnest(range(0, len(cs) - 4)) AS t(i)
    ),
    win AS MATERIALIZED (
      -- DISTINCT is safe (a min over a multiset equals the min over its
      -- set) and cuts the 64-permutation cross product below
      SELECT DISTINCT doc_id, {fold("h64")} AS x
      FROM rolled
    ),
    sigs AS MATERIALIZED (
      -- the engine computes (a*x + b) in WRAPPING uint64 (numpy), so the
      -- permutation is really ((a*x mod 2^64) + b) mod 2^64, then mod M.
      -- CAST to BIGINT before the MIN: the folded value is < 2^61 so the
      -- cast is lossless, and DuckDB's radix-partitioned aggregate
      -- buffers ALL input rows — 723M at sf1.0 — so halving the value
      -- width cuts tens of GB off the agg buffer.
      SELECT w.doc_id, p.hidx, MIN(CAST({fold(perm)} AS BIGINT)) AS sig
      FROM win w CROSS JOIN params p
      GROUP BY w.doc_id, p.hidx
    ),
    bandkeys AS MATERIALIZED (
      -- band-level join key: all {N_HASHES // 16} sigs of a band,
      -- order-pinned. Joining on the FULL band key is semantically
      -- identical to the former per-position join + HAVING COUNT(*) =
      -- band_size, but avoids the single-position collision blowup:
      -- this synthetic corpus has pairwise Jaccard ~0.18 between
      -- UNRELATED docs (small vocab), so a per-position join emits
      -- ~J * 64 * C(n,2) rows (~16e9 at sf1.0) vs ~J^4 * 16 * C(n,2)
      -- banded. First hit as a multi-hour oracle stall in the round-6
      -- sf1.0 sweep.
      SELECT doc_id, hidx // {N_HASHES // 16} AS band,
             string_agg(CAST(sig AS VARCHAR), ',' ORDER BY hidx) AS bk
      FROM sigs
      GROUP BY doc_id, hidx // {N_HASHES // 16}
    ),
    sigstr AS MATERIALIZED (
      SELECT doc_id, string_agg(CAST(sig AS VARCHAR), ',' ORDER BY hidx) AS ss
      FROM sigs GROUP BY doc_id
    ),
    hotk AS MATERIALIZED (
      SELECT band, bk FROM bandkeys GROUP BY band, bk HAVING COUNT(*) > {cap}
    ),
    coldk AS MATERIALIZED (
      SELECT b.* FROM bandkeys b ANTI JOIN hotk USING (band, bk)
    ),
    star AS (
      SELECT gmin AS id_a, doc_id AS id_b FROM (
        SELECT h.doc_id,
               MIN(h.doc_id) OVER (PARTITION BY h.band, h.bk, s.ss) AS gmin
        FROM (SELECT b.* FROM bandkeys b SEMI JOIN hotk USING (band, bk)) h
        JOIN sigstr s USING (doc_id)
      ) WHERE doc_id <> gmin
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT id_a, id_b FROM (
        SELECT sa.doc_id AS id_a, sb.doc_id AS id_b
        FROM coldk sa
        JOIN coldk sb ON sb.band = sa.band AND sb.bk = sa.bk
                     AND sa.doc_id < sb.doc_id
        UNION ALL
        SELECT id_a, id_b FROM star
      )
    ),
    mh_pairs AS MATERIALIZED (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.id_a
      JOIN sigs sb ON sb.doc_id = c.id_b AND sb.hidx = sa.hidx
                  AND sb.sig = sa.sig
      GROUP BY c.id_a, c.id_b
      HAVING COUNT(*) >= {min_agree}
    )"""


@register("minhash_dup_pairs", _minhash_oracle)
def q_minhash_dup_pairs(spark, sf_dir):
    from ferrobus_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures

    # n_bands=16 bakes the LSH band keys into the same Arrow pass
    # (minhash_lsh_pairs' default banding) — no second enrichment trip
    sigs = minhash_signatures(_docs(spark, sf_dir), n_bands=16)
    return minhash_lsh_pairs(sigs, threshold=0.5).select("id_a", "id_b")


def _simhash_oracle(cap: int = 256) -> str:
    """DuckDB twin of simhash_col + simhash_near_pairs: 4-byte rolling
    window hashes (mod 2^64), per-doc DISTINCT shingles, golden-ratio
    mix, 64 majority bit votes, then the engine's 4×16-bit chunk
    banding WITH the hot-bucket guard modeled (chunk buckets over
    ``cap`` members emit min-id stars per identical full simhash instead
    of the pair join — identical semantics to dedup._bucket_pairs), and
    Hamming ≤ 3 refine over the candidates. Until round 6 this twin was
    pure brute force (sound because hamming ≤ 3 ⇒ ≥ 1 band equal —
    banding recall is lossless); sf1.0 is the first gate corpus with
    over-cap buckets, where the guard's documented drops make brute
    force strictly LARGER than the production output (10 pairs at
    sf1.0), so the twin now models the guard. The guard's own star/drop
    semantics remain independently pinned by the closed-form
    minhash_guard_planted_template oracle.
    ASCII/len≥4 corpus assumptions as in the fingerprint oracle."""
    m64 = 1 << 64
    mix = 0x9E3779B97F4A7C15
    # bit ops instead of HUGEINT %/// — software int128 division made the
    # 64 per-bit vote sums alone ~1.4e9 divisions at sf1.0; see the
    # matching note in _minhash_pairs_ctes.
    mask = f"{(1 << 64) - 1}::HUGEINT"
    m32 = f"{(1 << 32) - 1}::HUGEINT"
    h = "CAST(0 AS HUGEINT)"
    for j in range(4):
        # O(1) char-list indexing; see _minhash_pairs_ctes for why the
        # old substr(text, i+j, 1) form was quadratic per document.
        byte = f"unicode(cs[CAST(i + {j + 1} AS INT)])"
        h = f"(({h} * 1099511628211 + {byte}) & {mask})"
    bit_sums = ", ".join(
        f"SUM(CAST((m >> {b}) & 1::HUGEINT AS BIGINT)) AS b{b}"
        for b in range(64)
    )
    value = " + ".join(
        f"CASE WHEN 2 * b{b} > n THEN {1 << b}::HUGEINT ELSE 0::HUGEINT END"
        for b in range(64)
    )
    return f"""
    WITH uniq AS MATERIALIZED (
      SELECT DISTINCT doc_id, {h} AS h
      FROM (SELECT doc_id, string_split(text, '') AS cs FROM documents),
           unnest(range(0, len(cs) - 3)) AS t(i)
    ),
    mixed AS MATERIALIZED (
      SELECT doc_id,
             ((h & {m32}) * {mix}::HUGEINT
              + (((h >> 32) * {mix}::HUGEINT) & {m32})
                * {1 << 32}::HUGEINT) & {mask} AS m
      FROM uniq
    ),
    votes AS MATERIALIZED (
      SELECT doc_id, COUNT(*) AS n, {bit_sums} FROM mixed GROUP BY doc_id
    ),
    sims AS MATERIALIZED (
      SELECT doc_id, v,
             CAST(CASE WHEN v >= {1 << 63}::HUGEINT
                       THEN v - {m64}::HUGEINT ELSE v END AS BIGINT) AS s
      FROM (SELECT doc_id, ({value}) AS v FROM votes)
    ),
    -- engine banding: chunk b of doc = bits [16b, 16b+16) of the
    -- unsigned simhash (shiftright+mask on the signed value extracts
    -- the same bits)
    bands AS MATERIALIZED (
      SELECT doc_id, s, b,
             CAST((v >> (16 * b)) & 65535::HUGEINT AS BIGINT) AS chunk
      FROM sims CROSS JOIN unnest([0, 1, 2, 3]) AS t(b)
    ),
    hotk AS MATERIALIZED (
      SELECT b, chunk FROM bands GROUP BY b, chunk HAVING COUNT(*) > {cap}
    ),
    coldk AS MATERIALIZED (
      SELECT x.* FROM bands x ANTI JOIN hotk USING (b, chunk)
    ),
    star AS (
      SELECT gmin AS id_a, doc_id AS id_b FROM (
        SELECT h.doc_id,
               MIN(h.doc_id) OVER (PARTITION BY h.b, h.chunk, h.s) AS gmin
        FROM (SELECT x.* FROM bands x SEMI JOIN hotk USING (b, chunk)) h
      ) WHERE doc_id <> gmin
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, c.doc_id AS id_b
        FROM coldk a
        JOIN coldk c ON c.b = a.b AND c.chunk = a.chunk
                    AND a.doc_id < c.doc_id
        UNION ALL
        SELECT id_a, id_b FROM star
      )
    )
    SELECT cand.id_a, cand.id_b,
           CAST(bit_count(xor(sa.s, sb.s)) AS INTEGER) AS hamming
    FROM cand JOIN sims sa ON sa.doc_id = cand.id_a
              JOIN sims sb ON sb.doc_id = cand.id_b
    WHERE bit_count(xor(sa.s, sb.s)) <= 3
    """


@register("simhash_near_pairs", _simhash_oracle)
def q_simhash_near_pairs(spark, sf_dir):
    from ferrobus_spark.operators.dedup import simhash_col, simhash_near_pairs

    return simhash_near_pairs(simhash_col(_docs(spark, sf_dir)), max_hamming=3)


_SHINGLE_SET_SQL = """
      SELECT doc_id,
             CASE WHEN length(text) < 5 THEN [text]
                  ELSE list_sort(array_agg(DISTINCT
                         array_to_string(cs[CAST(i + 1 AS INT):CAST(i + 5 AS INT)], '')))
             END AS s
      FROM (SELECT doc_id, text, string_split(text, '') AS cs FROM {src})
           LEFT JOIN unnest(range(0, len(cs) - 4)) AS t(i) ON true
      GROUP BY doc_id, text
"""
# cs[a:b] list slicing is O(window); the former substr(text, i+1, 5) was
# an O(i) codepoint scan per shingle (quadratic per document) — see the
# matching note in _minhash_pairs_ctes.
# Sub-5-byte docs: the engine pads short texts to one 5-byte shingle
# (dedup._shingle_hashes / _batch_shingle_hashes), so two short docs pair
# iff their raw texts are EQUAL — [text] as the singleton shingle list
# states exactly that (padding is injective: SQL strings carry no NULs).
# The LEFT JOIN keeps the doc's group row where the plain lateral unnest
# would silently drop it (empty range ⇒ no row ⇒ phantom oracle miss).


@register(
    "ngram_exact_dups",
    f"""
    WITH sh AS ({_SHINGLE_SET_SQL.format(src="documents")})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    """,
)
def q_ngram_exact_dups(spark, sf_dir):
    """Jaccard == 1.0 pairs from the LSH pipeline ≡ equal 5-shingle
    SETS — the oracle states exactly that (sorted distinct 5-gram list
    equality). NOT string equality: appending a repeat of an existing
    suffix ("… dup dup" → "… dup dup dup") adds no new 5-grams, so
    shingle-set Jaccard is 1.0 for unequal strings — sf0.1 contains
    such a pair (docs 933/1985) and the engine correctly reports it.
    Equal sets always share full minhash signatures, so LSH candidacy
    at any threshold is guaranteed and the chain is exact, not
    approximate, for this query."""
    from ferrobus_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    docs = _docs(spark, sf_dir)
    sigs = minhash_signatures(docs, n_bands=16)
    cand = minhash_lsh_pairs(sigs, threshold=0.9).select("id_a", "id_b")
    exact = ngram_jaccard_pairs(docs, cand)
    return exact.filter(F.col("jaccard") == 1.0).select("id_a", "id_b")


@register(
    "dedup_planted_dups",
    f"""
    WITH uni AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
    ),
    sh AS ({_SHINGLE_SET_SQL.format(src="uni")})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    """,
)
def q_dedup_planted(spark, sf_dir):
    """POSITIVE evidence for the dedup chain: plant an id-shifted copy of
    every 10th document, run the full minhash → LSH → exact-Jaccard
    refine pipeline over the union, and require it to land exactly on
    the 5-shingle-set-equality self-join — nonzero rows (the
    ``ngram_exact_dups`` query proves only the no-false-positives
    direction on corpora without natural duplicates; see its docstring
    for why set equality, not string equality, is the contract)."""
    from ferrobus_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    uni = docs.unionByName(planted)
    sigs = minhash_signatures(uni, n_bands=16)
    cand = minhash_lsh_pairs(sigs, threshold=0.9).select("id_a", "id_b")
    exact = ngram_jaccard_pairs(uni, cand)
    return exact.filter(F.col("jaccard") == 1.0).select("id_a", "id_b")


@register(
    "minhash_guard_planted_template",
    """
    SELECT CAST(0 AS BIGINT) AS id_a,
           CAST(2000000 + i AS BIGINT) AS id_b
    FROM unnest(range(0, 300)) AS t(i)
    """,
)
def q_minhash_guard_planted_template(spark, sf_dir):
    """Driver-gates the hot-bucket guard's STAR semantics (the round-5
    scale fix): plant 300 byte-identical copies of doc 0 (ids 2000000+i)
    so every band bucket holding them exceeds the 256 cap. The copies
    share doc 0's full signature, so the guard's identical-signature
    star must emit exactly (0, copy) for every copy — doc 0 is the group
    min — and NOTHING else involving the planted ids: natural near-dups
    of doc 0 meet the copies only inside those same hot buckets (any
    bucket containing a copy's slice is a bucket of doc 0's slice) and
    are dropped there. Note the recall cost this planting illustrates:
    doc 0's natural near-dup pairs are lost entirely — every bucket a
    matching band slice lands in also holds doc 0's slice plus the 300
    copies and is therefore hot, which is exactly the documented
    every-band-hot drop case (such pairs have id < 2000000 and are out
    of this query's scope, so the oracle stays exact).
    The oracle is the closed form. Output is
    filtered to planted-involving pairs so the natural corpus's pair set
    (gated separately by minhash_dup_pairs) stays out of scope."""
    from ferrobus_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    src = docs.filter(F.col("doc_id") == 0)
    planted = (
        src.crossJoin(spark.range(300).select(F.col("id").alias("i")))
        .select((F.lit(2000000) + F.col("i")).alias("doc_id"), "text")
    )
    uni = docs.unionByName(planted)
    sigs = minhash_signatures(uni, n_bands=16)
    pairs = minhash_lsh_pairs(
        sigs, threshold=0.5, max_bucket_size=256
    )
    return (
        pairs.filter((F.col("id_a") >= 2000000) | (F.col("id_b") >= 2000000))
        .select("id_a", "id_b")
    )


def _incremental_dedup_oracle() -> str:
    """Twin of the crawl-N incremental path: the SAME minhash CTE chain
    over old ∪ new, restricted to pairs touching a new doc (copies carry
    the highest ids, so with id_a < id_b the restriction is
    id_b ≥ 3000000) — the incremental operator must land exactly on the
    full-union answer it avoids recomputing."""
    ctes = _minhash_pairs_ctes("uni", min_agree=58)
    return f"""
    WITH uni AS MATERIALIZED (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 3000000 AS doc_id, text
      FROM documents WHERE doc_id % 20 = 0
    ),
    {ctes}
    SELECT id_a, id_b FROM mh_pairs WHERE id_b >= 3000000
    """


@register("incremental_dedup_planted", _incremental_dedup_oracle)
def q_incremental_dedup_planted(spark, sf_dir):
    """Crawl-N incremental near-dedup, driver-gated: the old corpus is
    the documents table (signatures computed once, as a saved table
    would be), the new batch is an id-shifted copy of every 20th doc,
    and incremental_minhash_pairs — which never forms old×old
    candidates — must reproduce exactly the full-union LSH pair set
    restricted to new-touching pairs (the DuckDB twin computes the full
    union and restricts)."""
    from ferrobus_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_signatures,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 20 == 0).withColumn(
        "doc_id", F.col("doc_id") + 3000000
    )
    pairs = incremental_minhash_pairs(
        minhash_signatures(new), minhash_signatures(docs),
        threshold=0.9,
    )
    return pairs.select("id_a", "id_b")


def _curation_oracle() -> str:
    """DuckDB twin of the END-TO-END curation pipeline at sf0.01: the
    per-stage oracles (already individually driver-green) chained into
    one WITH RECURSIVE query — canonical URL restatement, first-fetch
    collapse (identity here: the synthetic canon_url embeds doc_id),
    byte-identical extraction (= documents.text, the html_extract_text
    invariant), token/quality/lang features, exact-hash dedup,
    minhash→LSH pairs at agreement ≥ 58/64 (est_jaccard ≥ 0.9), duplicate
    clusters via a recursive-CTE transitive closure with min-label
    components, and the final quality/length gate."""
    from ferrobus_spark.functions.text import LANG_MARKERS
    from ferrobus_spark.sources.pages import domain_sql

    langs = list(LANG_MARKERS)
    scores = ", ".join(
        " + ".join(f"len(regexp_extract_all(p, '{m}'))" for m in LANG_MARKERS[lang])
        + f" AS {lang}"
        for lang in langs
    )
    whens = []
    for i, lang in enumerate(langs[:-1]):
        rest = ", ".join(langs[i + 1 :])
        cmp_ = f"GREATEST({rest})" if "," in rest else rest
        whens.append(f"WHEN {lang} >= {cmp_} THEN '{lang}'")
    lang_case = (
        f"CASE WHEN GREATEST({', '.join(langs)}) = 0 THEN 'und' "
        f"{' '.join(whens)} ELSE '{langs[-1]}' END"
    )
    quality = f"""
           LEAST(CAST(CAST(length(text) AS BIGINT) AS DOUBLE) / {_dlit(200.0)}, {_dlit(1.0)}) * {_dlit(0.3)}
         + LEAST(({_ALPHA} / {_NZ}) / {_dlit(0.7)}, {_dlit(1.0)}) * {_dlit(0.3)}
         + LEAST(({_NSTOP} / {_NW}) / {_dlit(0.3)}, {_dlit(1.0)}) * {_dlit(0.3)}
         + ({_dlit(1.0)} - LEAST(({_DIGIT} / {_NZ}) * {_dlit(4.0)}, {_dlit(1.0)})) * {_dlit(0.1)}
    """
    mh = _minhash_pairs_ctes("exact_kept", min_agree=58)
    return f"""
    WITH RECURSIVE cpages AS MATERIALIZED (
      -- canonical + url_dedup: the synthetic url is already canonical
      -- and embeds doc_id, so canonicalization is identity and the
      -- first-fetch-per-canon-url collapse keeps every row; extraction
      -- is the byte-identity invariant (html_extract_text gate)
      SELECT doc_id,
             'https://' || {domain_sql("doc_id")} || '/page/'
               || CAST(doc_id AS STRING) AS canon_url,
             text
      FROM documents
    ),
    lp AS MATERIALIZED (
      SELECT doc_id, ' ' || regexp_replace(lower(text), '\\s+', ' ', 'g') || ' ' AS p
      FROM cpages
    ),
    lsc AS MATERIALIZED (SELECT doc_id, {scores} FROM lp),
    lpred AS MATERIALIZED (SELECT doc_id, {lang_case} AS lang_pred FROM lsc),
    feats AS MATERIALIZED (
      SELECT doc_id, canon_url, text,
             len(regexp_extract_all(text, '{BPE_RE}')) AS n_tokens,
             {quality} AS quality,
             lang_pred
      FROM cpages JOIN lpred USING (doc_id)
    ),
    exact_kept AS MATERIALIZED (
      SELECT f.* FROM feats f
      JOIN (SELECT MIN(doc_id) AS doc_id FROM feats GROUP BY md5(text)) k
      USING (doc_id)
    ),
    {mh},
    edges AS MATERIALIZED (
      SELECT id_a AS a, id_b AS b FROM mh_pairs
      UNION
      SELECT id_b, id_a FROM mh_pairs
    ),
    reach AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a
    ),
    comp AS MATERIALIZED (SELECT a AS node, MIN(b) AS mn FROM reach GROUP BY a),
    kept AS MATERIALIZED (
      SELECT f.* FROM exact_kept f
      LEFT JOIN comp c ON c.node = f.doc_id
      WHERE c.node IS NULL OR c.mn > f.doc_id
    )
    SELECT doc_id, canon_url, lang_pred,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           quality, md5(text) AS text_hash
    FROM kept
    WHERE quality >= {_dlit(0.3)} AND n_tokens >= 10
    """


@register("curation_curated", _curation_oracle)
def q_curation_curated(spark, sf_dir):
    """The flagship LLM-curation pipeline END-TO-END, driver-gated: the
    same ``curation_stages`` closures the production job runs (WARC or
    parquet input), chained lazily over the synthetic pages table
    (checkpoint/resume machinery is exercised by
    tests/test_curation_pipeline.py; the gate pins the dataflow's
    values). Output = final curated rows with an md5 pin on the text
    bytes."""
    from ferrobus_spark.plans.curation import curation_stages
    from ferrobus_spark.sources.pages import pages_table

    def pages_fn(spark_, env):
        return pages_table(spark_, sf_dir).select(
            "doc_id", "url", "warc_ts", "html"
        )

    env = {}
    for name, fn, _deps in curation_stages(
        pages_fn, min_quality=0.3, min_tokens=10, near_dup_threshold=0.9
    ):
        env[name] = fn(spark, env)
    return env["curated"].select(
        "doc_id", "canon_url", "lang_pred", "n_tokens", "quality",
        F.md5("text").alias("text_hash"),
    )


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

def _knn_bf_oracle(chunk: str = "") -> str:
    """Exact-kNN DuckDB twin; ``chunk`` optionally injects a query-side
    predicate (``AND q.vec_id % n = i``) so the sweep can run the
    quadratic pair materialization in bounded slices — ROW_NUMBER
    partitions by query_id, so a union over a query-id partition of the
    chunks is row-identical to the unchunked SQL (each query's full
    neighbor set lives in exactly one chunk)."""
    return f"""
    -- CAST to DOUBLE[] everywhere embeddings are scored: on the raw
    -- FLOAT[] column DuckDB's list_cosine_similarity computes at float32,
    -- and at sf3.0 one rank-3 boundary pair 5.5e-9 apart in float64
    -- ordered INVERSELY to the engine's float64 kernel (q=26199:
    -- oracle picked 58462 over the true 30619; found round 7). The
    -- engine computes float64 throughout, so the twins must too.
    -- The cast is HOISTED into a per-row CTE: inlined in the join it
    -- re-casts both lists per PAIR (O(N^2) casts — measured ~3x on the
    -- sf3.0 quadratic twins and ~56x on the sf10 threshold joins).
    -- sims is materialized NARROW (24 B/row) before the window: with the
    -- cosine inlined in the window's ORDER BY, DuckDB carries both
    -- embedding lists in the sort payload (~1 KB/row — 90+ GB at the
    -- sf1.0 sweep's 400M pairs, killing the host; found round 6).
    WITH emb64 AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
    ),
    sims AS MATERIALIZED (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.embedding, c.embedding) AS sim
      FROM emb64 q JOIN emb64 c ON q.vec_id <> c.vec_id {chunk}
    )
    SELECT query_id, neighbor_id, rank FROM (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY sim DESC, neighbor_id
             ) AS rank
      FROM sims
    ) WHERE rank <= 3
    """


@register("knn_embeddings_bruteforce", _knn_bf_oracle)
def q_knn_embeddings_bruteforce(spark, sf_dir):
    """Exact cosine top-3 neighbors per embedding (ANN baseline)."""
    from ferrobus_spark.operators.similarity import brute_force_topk

    emb = _read(spark, sf_dir, "embeddings")
    res = brute_force_topk(spark, emb, emb, k=3)
    return res.select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))


def _knn_lsh_oracle() -> str:
    """DuckDB twin of lsh_topk: the 64 fixed-seed hyperplanes embedded
    as DOUBLE[] literals (like the minhash twin's 64 permutations), sign
    bits via list_dot_product (normalization never changes a sign),
    8×8-bit bucket packing, candidate equi-join on (table, bucket),
    cosine re-rank under ROW_NUMBER. The output carries RANKS only, so
    float noise matters solely at ordering ties — and the brute-force
    query already proves rank-order agreement of the two engines'
    cosines on this corpus."""
    from ferrobus_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 64)
    vals = ", ".join(
        "(" + str(b) + ", [" + ", ".join(repr(float(w)) for w in planes[b]) + "])"
        for b in range(64)
    )
    return f"""
    WITH planes(bit, w) AS MATERIALIZED (VALUES {vals}),
    -- per-row float64 cast (hoisted: inlined casts re-run per joined
    -- pair / per plane — see _knn_bf_oracle's comment, round 7)
    emb64 AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
    ),
    signs AS MATERIALIZED (
      SELECT e.vec_id, p.bit,
             list_dot_product(e.embedding, p.w) >= 0 AS s
      FROM emb64 e CROSS JOIN planes p
    ),
    buckets AS MATERIALIZED (
      SELECT vec_id, bit // 8 AS tbl,
             SUM(CASE WHEN s THEN 1 << (bit % 8) ELSE 0 END) AS bucket
      FROM signs GROUP BY vec_id, bit // 8
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM buckets a JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket
      WHERE a.vec_id <> b.vec_id
    )
    ,
    -- narrow re-rank input (same wide-sort-payload fix as the
    -- brute-force/IVF twins, round 6)
    rerank AS MATERIALIZED (
      SELECT cand.query_id, cand.neighbor_id,
             list_cosine_similarity(q.embedding, c.embedding) AS sim
      FROM cand JOIN emb64 q ON q.vec_id = cand.query_id
                JOIN emb64 c ON c.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, rank FROM (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY sim DESC, neighbor_id
             ) AS rank
      FROM rerank
    ) WHERE rank <= 3
    """


@register("knn_embeddings_lsh", _knn_lsh_oracle)
def q_knn_embeddings_lsh(spark, sf_dir):
    """Random-hyperplane LSH approximate top-3, driver-gated: the DuckDB
    twin recomputes sign buckets, candidates, and the cosine re-rank
    from the same fixed-seed hyperplanes (constants, like the minhash
    permutations); recall floors additionally pytest-scored and
    planted-rank-1 gated (knn_lsh_planted)."""
    from ferrobus_spark.operators.similarity import lsh_topk

    emb = _read(spark, sf_dir, "embeddings")
    return lsh_topk(spark, emb, emb, k=3, dim=64).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )


def _ivf_centroids_twin(
    vectors, n_lists: int, seed: int = 20240503, n_iter: int = 20
):
    """Independent restatement of the IVF coarse quantizer — seeded
    spherical k-means (k-means++ init by squared-Euclidean D² sampling,
    then Lloyd with cosine assignment and renormalized means), written
    from the algorithm's published definition WITHOUT importing
    ``operators/similarity`` — previously the oracle imported the
    engine's own trainer, so a quantizer bug would have passed the full
    oracle (only the planted-rank-1 gate backstopped it). Determinism
    contract shared with the engine: numpy ``default_rng(seed)``,
    ``integers`` for the first seed, ``choice(p=D²/ΣD²)`` for the rest,
    20 Lloyd iterations, empty clusters keep their centroid, zero-norm
    means keep the previous centroid."""
    import numpy as np

    X = np.asarray(vectors, np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    X = X / norms
    rng = np.random.default_rng(seed)
    n = len(X)
    cents = [X[int(rng.integers(n))]]
    d2 = np.full(n, np.inf)
    for _ in range(1, n_lists):
        d2 = np.minimum(d2, ((X - cents[-1]) ** 2).sum(axis=1))
        s = d2.sum()
        probs = d2 / s if s > 0 else np.full(n, 1.0 / n)
        cents.append(X[int(rng.choice(n, p=probs))])
    C = np.stack(cents)
    for _ in range(n_iter):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(n_lists):
            m = assign == j
            if m.any():
                v = X[m].mean(axis=0)
                norm = np.linalg.norm(v)
                if norm > 0:
                    C[j] = v / norm
    return C


def _knn_ivf_oracle(chunk: str = "") -> str:
    """DuckDB twin of ivf_topk: the coarse quantizer is recomputed by
    :func:`_ivf_centroids_twin` — an independent restatement that does
    NOT import the engine's trainer — on the same deterministic sample
    read straight from the parquet, and the centroids embedded as
    DOUBLE[] literals; list assignment (rank-1 centroid), query probing
    (top-8 centroids), the list_id candidate equi-join, and the cosine
    re-rank are then restated in SQL. Bound to the gate's sf directory
    (SPARK_GRAFT_ORACLE_SF_DIR, default sf0.01) because the quantizer is
    data-dependent — a row-count mismatch would surface loudly if the
    gate ever moved sf."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    df = t.to_pandas().sort_values("vec_id").head(100_000)
    cn = _ivf_centroids_twin(np.stack(df["embedding"].to_numpy()), n_lists=16)
    vals = ", ".join(
        "(" + str(j) + ", [" + ", ".join(repr(float(w)) for w in cn[j]) + "])"
        for j in range(len(cn))
    )
    return f"""
    WITH cents(cid, w) AS MATERIALIZED (VALUES {vals}),
    -- per-row float64 cast (hoisted — see _knn_bf_oracle, round 7)
    emb64 AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
    ),
    scored AS MATERIALIZED (
      SELECT e.vec_id, c.cid,
             list_cosine_similarity(e.embedding, c.w) AS sim
      FROM emb64 e CROSS JOIN cents c
    ),
    ranked_lists AS MATERIALIZED (
      SELECT vec_id, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
      FROM scored
    ),
    c_assign AS MATERIALIZED (SELECT vec_id, cid FROM ranked_lists WHERE rn = 1),
    q_probe AS MATERIALIZED (SELECT vec_id, cid FROM ranked_lists WHERE rn <= 8),
    cand AS MATERIALIZED (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM q_probe q JOIN c_assign c ON c.cid = q.cid
      WHERE q.vec_id <> c.vec_id {chunk}
    )
    ,
    -- narrow (24 B/row) re-rank input: with the cosine inlined in the
    -- window ORDER BY, the sort payload carries both embedding lists
    -- (~1 KB/row; OOM at the sf1.0 sweep's ~2e8 candidates) — same fix
    -- as knn_embeddings_bruteforce, round 6
    rerank AS MATERIALIZED (
      SELECT cand.query_id, cand.neighbor_id,
             list_cosine_similarity(qe.embedding, ce.embedding) AS sim
      FROM cand JOIN emb64 qe ON qe.vec_id = cand.query_id
                JOIN emb64 ce ON ce.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, rank FROM (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY sim DESC, neighbor_id
             ) AS rank
      FROM rerank
    ) WHERE rank <= 3
    """


# Sweep-only escape hatch for the two oracles whose pair materialization
# is quadratic in corpus size (exact kNN: all pairs; IVF: all probed-list
# pairs): generate the SAME SQL with a query-side modulo slice injected,
# so scripts/sweep_contract.py can run them in bounded-memory pieces at
# sf3.0+. The driver contract itself never sees these — oracle_sql()
# still returns the unchunked strings. Chunk-union == unchunked is pinned
# by tests/test_driver_contract.py::test_chunked_oracle_equivalence.
ORACLE_CHUNKERS = {
    "knn_embeddings_bruteforce": lambda n, i: _knn_bf_oracle(
        f"AND q.vec_id % {n} = {i}"
    ),
    "knn_embeddings_ivf": lambda n, i: _knn_ivf_oracle(
        f"AND q.vec_id % {n} = {i}"
    ),
}


@register("knn_embeddings_ivf", _knn_ivf_oracle)
def q_knn_embeddings_ivf(spark, sf_dir):
    """IVF approximate top-3, driver-gated: the deterministic quantizer
    (seeded spherical k-means over a bounded id-ordered sample) is
    recomputed by the oracle from the raw parquet, and inverted-list
    assignment, probing, and re-rank are restated in SQL. Recall floors
    additionally pytest-scored and planted-rank-1 gated."""
    from ferrobus_spark.operators.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings")
    return ivf_topk(spark, emb, emb, k=3, n_lists=16, n_probe=8).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )


_PLANTED_RANK1_ORACLE = """
    SELECT vec_id + 1000000 AS query_id, vec_id AS neighbor_id,
           CAST(1 AS BIGINT) AS rank
    FROM embeddings WHERE vec_id % 10 = 0
    """


@register("knn_lsh_planted", _PLANTED_RANK1_ORACLE)
def q_knn_lsh_planted(spark, sf_dir):
    """POSITIVE driver evidence for the LSH ANN recall floor: plant an
    exact copy of every 10th vector under a shifted id and query the
    copies against corpus+copies with k=1. An identical vector shares
    every sign-bucket of its twin, so the twin is always a candidate and
    wins rank 1 at cosine 1.0 (max natural cosine in this corpus is
    0.51) — the oracle is the closed-form planted mapping. A recall
    regression in bucketing, candidate dedup, or re-rank breaks the
    hash."""
    from ferrobus_spark.operators.similarity import lsh_topk

    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1000000
    )
    corpus = emb.unionByName(planted)
    return lsh_topk(spark, planted, corpus, k=1, dim=64).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )


@register("knn_ivf_planted", _PLANTED_RANK1_ORACLE)
def q_knn_ivf_planted(spark, sf_dir):
    """Same planted-rank-1 gate for the IVF path: the copy and its twin
    share the nearest centroid (identical similarity rows → identical
    argsort), so the twin sits in every probed list and must surface at
    rank 1."""
    from ferrobus_spark.operators.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1000000
    )
    corpus = emb.unionByName(planted)
    return ivf_topk(spark, planted, corpus, k=1, n_lists=16, n_probe=4).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )


@register(
    "embedding_neardup_pairs",
    """
    WITH emb64 AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM emb64 a JOIN emb64 b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95
    """,
)
def q_embedding_neardup(spark, sf_dir):
    """LSH near-dup chain vs the brute-force cosine join. On this corpus
    the oracle is empty (max natural cosine 0.51 ≪ 0.95) so this row
    gates the no-false-positives direction; the positive direction is
    carried by embedding_neardup_planted's 50 planted copies."""
    from ferrobus_spark.operators.similarity import cosine_neardup_pairs

    emb = _read(spark, sf_dir, "embeddings")
    return cosine_neardup_pairs(spark, emb, threshold=0.95, dim=64).select("id_a", "id_b")


@register(
    "embedding_neardup_planted",
    """
    WITH uni AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, CAST(embedding AS DOUBLE[]) AS embedding
      FROM embeddings WHERE vec_id % 10 = 0
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM uni a JOIN uni b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95
    """,
)
def q_embedding_neardup_planted(spark, sf_dir):
    """POSITIVE evidence for the embedding near-dup chain (the plain
    query returns 0 rows at sf0.01 — max natural cosine is 0.51, far
    below 0.95). Plant an id-shifted copy of every 10th vector; the
    LSH→cosine chain must recover exactly the planted pairs (identical
    vectors always share every LSH bucket, so recall is 1 here; the
    oracle's brute-force >=0.95 join finds nothing else)."""
    from ferrobus_spark.operators.similarity import cosine_neardup_pairs

    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1000000
    )
    uni = emb.unionByName(planted)
    return cosine_neardup_pairs(spark, uni, threshold=0.95, dim=64).select("id_a", "id_b")


@register(
    "embedding_incremental_planted",
    """
    WITH uni AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, CAST(embedding AS DOUBLE[]) AS embedding
      FROM embeddings WHERE vec_id % 10 = 0
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM uni a JOIN uni b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95
      AND b.vec_id >= 1000000
    """,
)
def q_embedding_incremental_planted(spark, sf_dir):
    """Crawl-N embedding near-dup, driver-gated: the archive is the
    embeddings table, the new batch is an id-shifted copy of every 10th
    vector, and incremental_cosine_neardup_pairs (new-driven LSH probe,
    no old×old candidates) must land exactly on the brute-force ≥0.95
    join restricted to new-touching pairs (copies carry the highest
    ids, so the restriction is id_b ≥ 1000000)."""
    from ferrobus_spark.operators.similarity import (
        incremental_cosine_neardup_pairs,
    )

    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    new = emb.filter(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1000000
    )
    return incremental_cosine_neardup_pairs(
        spark, new, emb, threshold=0.95, dim=64
    ).select("id_a", "id_b")


# ---------------------------------------------------------------------------
# multimodal plumbing (stubbed codecs, real Spark contract)
# ---------------------------------------------------------------------------

def _hex_byte(i: int) -> str:
    """SQL for the i-th byte (0-based) of a hex digest column ``h``."""
    c1 = f"substr(h, {2 * i + 1}, 1)"
    c2 = f"substr(h, {2 * i + 2}, 1)"
    hexd = "'0123456789abcdef'"
    return f"((strpos({hexd}, {c1}) - 1) * 16 + strpos({hexd}, {c2}) - 1)"


def _image_metadata_oracle() -> str:
    """DuckDB twin of the deterministic decode stub: rebuild the page
    html string in SQL (same template as sources/pages.py), sha256 it,
    and restate the stub's byte→(width,height,channels,format) rules
    from the hex digest."""
    from ferrobus_spark.sources.pages import page_html_sql

    byte = _hex_byte
    html = page_html_sql()
    return f"""
    SELECT doc_id,
           CAST(64 + {byte(0)} % 192 AS INTEGER) AS width,
           CAST(64 + {byte(1)} % 192 AS INTEGER) AS height,
           CAST(CASE WHEN {byte(2)} % 4 <> 0 THEN 3 ELSE 1 END AS INTEGER)
             AS channels,
           CASE {byte(3)} % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
                ELSE 'webp' END AS format,
           h AS content_sha256
    FROM (SELECT doc_id, sha256({html}) AS h FROM documents)
    """


def _frame_samples_oracle() -> str:
    """DuckDB twin of sample_frames: the stub chunks the binary into
    256-byte frames, samples every 4th, caps at 8, and content-addresses
    each with sha256. Chunk j of the sampled sequence starts at byte
    1024*j; ASCII html ⇒ substr char ranges are byte ranges."""
    from ferrobus_spark.sources.pages import page_html_sql

    html = page_html_sql()
    branches = " UNION ALL ".join(
        f"""SELECT doc_id, CAST({j} AS INTEGER) AS frame_idx,
                   sha256(substr(h, {1024 * j + 1}, 256)) AS frame_sha256
            FROM pages WHERE length(h) > {1024 * j}"""
        for j in range(8)
    )
    return f"WITH pages AS (SELECT doc_id, {html} AS h FROM documents) {branches}"


@register("video_frame_samples", _frame_samples_oracle)
def q_video_frame_samples(spark, sf_dir):
    """Multimodal frame sampling over the binary column (stub framing,
    real row-explosion shape); oracle restates the chunk/stride/cap
    rules over the SQL-rebuilt bytes."""
    from ferrobus_spark.operators.multimodal import sample_frames
    from ferrobus_spark.sources.pages import pages_table

    return sample_frames(pages_table(spark, sf_dir), binary_col="html")


def _resize_oracle() -> str:
    """DuckDB twin of the resize stub: stride-sample the SQL-rebuilt
    page bytes to 64*64 output bytes (idx j -> floor(j*len/4096)),
    compare by md5 (the driver hash-compares values; a 4 KB blob per
    row is pointless when md5 equality is byte-equality evidence)."""
    from ferrobus_spark.sources.pages import page_html_sql

    html = page_html_sql()
    resized = (
        "array_to_string(list_transform(range(4096), "
        "j -> substr(h, CAST((j * length(h)) // 4096 AS INT) + 1, 1)), '')"
    )
    return f"""
    SELECT doc_id,
           CAST(64 AS INTEGER) AS out_width, CAST(64 AS INTEGER) AS out_height,
           md5({resized}) AS resized_md5
    FROM (SELECT doc_id, {html} AS h FROM documents)
    """


@register("image_resize_hash", _resize_oracle)
def q_image_resize_hash(spark, sf_dir):
    """Multimodal resize (stub resample, real Arrow contract): 64x64
    output bytes per image, driver-compared via md5 against the oracle's
    SQL-rebuilt stride sample."""
    from ferrobus_spark.operators.multimodal import resize_images
    from ferrobus_spark.sources.pages import pages_table

    return resize_images(pages_table(spark, sf_dir), binary_col="html").select(
        "doc_id", "out_width", "out_height", F.md5("resized").alias("resized_md5")
    )


def _image_features_oracle() -> str:
    """DuckDB twin of extract_features' sha256-derived stub: the 128-byte
    buffer is the digest repeated (buffer[k] = digest[k % 32]), so
    component j's byte-quad sum is s_j = Σ_{r<4} digest[(4j+r) % 32].
    The engine emits float32 (s/4 - 127.5)/127.5; the registered query
    recovers s exactly (see q_image_features) — the oracle computes s
    directly from the hex digest and md5s the same joined string."""
    from ferrobus_spark.sources.pages import page_html_sql

    comps = ", ".join(
        "CAST(("
        + " + ".join(_hex_byte((4 * j + r) % 32) for r in range(4))
        + ") AS STRING)"
        for j in range(32)
    )
    return f"""
    SELECT doc_id, md5(concat_ws(',', {comps})) AS feature_md5
    FROM (SELECT doc_id, sha256({page_html_sql()}) AS h FROM documents)
    """


@register("image_features", _image_features_oracle)
def q_image_features(spark, sf_dir):
    """Multimodal feature extraction (stub encoder, real Arrow contract),
    driver-gated: the float32 vector component v_j encodes the byte-quad
    sum s_j via v = (s/4 - 127.5)/127.5, so round(v*510 + 510) recovers
    s_j exactly (max float32 error ~3e-5 ≪ 0.5). Hashing the integer
    reconstruction gives the driver a scalar to compare — array<float>
    rows crash its canonicalization (CORRECTNESS_r03) — while still
    pinning every vector component bit-for-bit."""
    from ferrobus_spark.operators.multimodal import extract_features
    from ferrobus_spark.sources.pages import pages_table

    feats = extract_features(pages_table(spark, sf_dir), binary_col="html")
    s = F.transform(
        "feature",
        lambda x: F.round(x.cast("double") * 510.0 + 510.0)
        .cast("bigint")
        .cast("string"),
    )
    return feats.select("doc_id", F.md5(F.concat_ws(",", s)).alias("feature_md5"))


@register("image_metadata", _image_metadata_oracle)
def q_image_metadata(spark, sf_dir):
    """Multimodal metadata decode over the binary html column. The codec
    is a clearly-marked deterministic stub (no PIL in the container);
    the oracle independently rebuilds the bytes and restates the stub's
    digest rules, so the Arrow plumbing + byte identity of the binary
    column are hash-gated end-to-end."""
    from ferrobus_spark.operators.multimodal import decode_metadata
    from ferrobus_spark.sources.pages import pages_table

    return decode_metadata(pages_table(spark, sf_dir), binary_col="html")


# ---------------------------------------------------------------------------
# relational coverage over the TPC-H-ish tables (oracle-checked)
# maps to reference op families: F4 semi-join, A1-A4 aggs, W1 windows
# ---------------------------------------------------------------------------

@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100.0, 0) AS BIGINT)) AS BIGINT) AS sum_price_cents,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped agg; money in integer cents (order-independent)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100.0, 0).cast("bigint"))
            .alias("sum_price_cents"),
            F.count("*").alias("n_rows"),
        )
    )


@register(
    "top_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, rn FROM (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) DESC, o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn <= 2
    """,
)
def q_top_orders_per_customer(spark, sf_dir):
    """Window top-k (reference W1 top-k shape) over orders."""
    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.round(F.col("o_totalprice") * 100.0, 0).cast("bigint").desc(), "o_orderkey"
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", F.col("rn").cast("long").alias("rn"))
    )


@register(
    "revenue_by_nation",
    """
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100.0, 0) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_revenue_by_nation(spark, sf_dir):
    """Star join + agg: broadcast dims, shuffle fact (reference J3/J4 shape)."""
    li = _read(spark, sf_dir, "lineitem")
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1.0 - F.col("l_discount")) * 100.0, 0)
                .cast("bigint")
            ).alias("revenue_cents"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "customers_without_big_orders",
    """
    SELECT c_custkey FROM customer
    WHERE c_custkey NOT IN (
      SELECT o_custkey FROM orders GROUP BY o_custkey HAVING COUNT(*) > 3
    )
    """,
)
def q_customers_without_big_orders(spark, sf_dir):
    """Anti-join against an aggregated subquery (reference F3's
    exception-removal shape: union + anti-join semantics)."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    frequent = (
        o.groupBy("o_custkey").count().filter(F.col("count") > 3)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.join(frequent, "c_custkey", "left_anti").select("c_custkey")


@register(
    "events_sessionize",
    """
    SELECT user_id, COUNT(*) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events FROM (
      SELECT user_id, session_id, COUNT(*) AS n_events
      FROM (
        SELECT user_id,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM (
          SELECT user_id, ts, event_id,
                 CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                           > 1800000000 OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      THEN 1 ELSE 0 END AS is_new
          FROM events
        )
      ) GROUP BY user_id, session_id
    ) GROUP BY user_id
    """,
)
def q_events_sessionize(spark, sf_dir):
    """Sessionization (30-min gap) via a lag window + one aggregation.

    The gap test runs on integer microseconds (``unix_micros`` /
    ``epoch_us``) on BOTH the Spark and oracle sides: timestamps carry
    microsecond components at every SF, and a whole-second truncation
    (``unix_timestamp``) diverges from a fractional epoch whenever a gap
    lands inside (1800 s, 1801 s) — first observed at sf1.0.
    """
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        e.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev_ts").isNull()
                # ts is TIMESTAMP_NTZ in the parquet; session TZ is pinned
                # UTC so the cast to TIMESTAMP is value-preserving.
                | (
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    - F.unix_micros(F.col("prev_ts").cast("timestamp"))
                    > 1_800_000_000
                ),
                1,
            ).otherwise(0),
        )
    )
    # Round 8: the per-user rollup needs no session_id at all —
    # n_sessions = number of session STARTS = SUM(is_new), and n_events
    # = the user's event count (the per-session counts sum back to it).
    # This drops the running-sum window and both intermediate groupBys;
    # the one remaining aggregation reuses the lag window's hash(user_id)
    # partitioning, so the whole query is a single Exchange.
    return sess.groupBy("user_id").agg(
        F.sum("is_new").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# transit engine products on the synthetic fixture — ALL driver-oracle-
# checked: ferrobus_spark/transit_oracle_sql.py generates DuckDB SQL
# that recomputes the RAPTOR rounds + product algebra from VALUES CTEs
# of the independent pure-Python model build (see that module's
# docstring); detailed_journeys / journey_geojson compare against the
# twin's own traced-RAPTOR leg + geometry reconstruction emitted as
# VALUES (leg backtracking is genuinely non-SQL). The pytest golden
# suite additionally pins both against the reference's fixtures.
# ---------------------------------------------------------------------------


def _oracle_matrix() -> str:
    from ferrobus_spark.transit_oracle_sql import matrix_oracle_sql

    return matrix_oracle_sql()


def _oracle_range() -> str:
    from ferrobus_spark.transit_oracle_sql import range_oracle_sql

    return range_oracle_sql()


def _oracle_percent() -> str:
    from ferrobus_spark.transit_oracle_sql import percent_access_oracle_sql

    return percent_access_oracle_sql()


def _oracle_stats() -> str:
    from ferrobus_spark.transit_oracle_sql import stats_oracle_sql

    return stats_oracle_sql()


def _oracle_iso() -> str:
    from ferrobus_spark.transit_oracle_sql import isochrone_oracle_sql

    return isochrone_oracle_sql()


@functools.cache
def _transit_ctx(spark):
    # parquet-cached across processes (round 7): sweep children and
    # fresh sessions reload the built model instead of paying the
    # ~35 s many-small-jobs build per process
    from ferrobus_spark.model.cache import load_or_build_model
    from ferrobus_spark.routing.timetable import build_timetable_csr

    model = load_or_build_model(spark)
    return model, build_timetable_csr(model.tables)


@functools.cache
def _transit_points(spark):
    """Shared TransitPoint tables (checkpointed) across transit queries."""
    from ferrobus_spark.model.cache import load_or_build_points

    model, _tt = _transit_ctx(spark)
    return load_or_build_points(spark, model)


@functools.cache
def _iso_tables(spark):
    """(grid, origins) point tables of both isochrone queries, built once
    per session: the res-7 grid over a fixed SF polygon and the one-origin
    table at street node (10, 3)."""
    import numpy as np
    import pandas as pd

    from ferrobus_spark.operators import isochrone as iso
    from ferrobus_spark.routing.points import build_point_tables
    from ferrobus_spark.sources.transit import node_lonlat

    model, _tt = _transit_ctx(spark)
    area = np.array(
        [[-122.495, 37.705], [-122.43, 37.705], [-122.43, 37.77], [-122.495, 37.77]]
    )
    grid = iso.build_iso_grid(spark, model, area, res=7)
    origins = build_point_tables(
        spark,
        spark.createDataFrame(
            pd.DataFrame([(0, *node_lonlat(10, 3))], columns=["point_id", "lon", "lat"])
        ),
        model["street_nodes"], model["node_to_stop"], model.csr,
    )
    return grid, origins


@register("transit_travel_time_matrix", _oracle_matrix)
def q_transit_matrix(spark, sf_dir):
    from ferrobus_spark.routing import products

    _, tt = _transit_ctx(spark)
    pts = _transit_points(spark)
    return products.travel_time_matrix(spark, tt, pts, 8 * 3600, 3)


@register("transit_travel_time_stats", _oracle_stats)
def q_transit_stats(spark, sf_dir):
    """travel_time_statistics product (A6/A10): per-origin mean + exact
    midpoint median with the 75% reachability gate. Float-deterministic:
    per-origin int64 sums stay below 2^53 so both engines' one division
    is exact; the median midpoint likewise."""
    from ferrobus_spark.routing import products

    _, tt = _transit_ctx(spark)
    pts = _transit_points(spark)
    return products.travel_time_statistics(spark, tt, pts, 8 * 3600, 3)


@register("transit_range_pareto", _oracle_range)
def q_transit_range_pareto(spark, sf_dir):
    """Range routing journeys + exact Pareto flags over the fixture."""
    from ferrobus_spark.routing.range import range_routing

    _, tt = _transit_ctx(spark)
    pts = _transit_points(spark)
    od = spark.createDataFrame(
        [(0, 0, 5), (1, 2, 8), (2, 1, 11)], "pair_id LONG, origin_id LONG, dest_id LONG"
    )
    return range_routing(spark, tt, od, pts, pts, (7 * 3600, 9 * 3600), 3)


def _oracle_detailed() -> str:
    from ferrobus_spark.transit_oracle_sql import detailed_journeys_oracle_sql

    return detailed_journeys_oracle_sql()


@register("transit_detailed_journeys", _oracle_detailed)
def q_transit_detailed_journeys(spark, sf_dir):
    """Traced journey legs (walk/transit/transfer chain) per OD pair,
    driver-gated against the independent Python twin's traced RAPTOR +
    leg reconstruction (tests/oracle/transit_oracle.py) emitted as a
    VALUES oracle — the legs table is deterministic integer rows."""
    from ferrobus_spark.routing.traced import detailed_journeys

    _, tt = _transit_ctx(spark)
    pts = _transit_points(spark)
    od = spark.createDataFrame(
        [(0, 0, 5), (1, 2, 8), (2, 4, 9)], "pair_id LONG, origin_id LONG, dest_id LONG"
    )
    return detailed_journeys(spark, tt, od, pts, pts, 8 * 3600, 3)


def _oracle_geojson() -> str:
    from ferrobus_spark.transit_oracle_sql import journey_geojson_oracle_sql

    return journey_geojson_oracle_sql()


@register("transit_journey_geojson", _oracle_geojson)
def q_transit_journey_geojson(spark, sf_dir):
    """Journey GeoJSON with the reference's leg geometry: street-path
    transfer polylines + pattern-stop transit lines (to_geojson.rs).
    Driver-gated byte-for-byte against the Python twin's independent
    geometry reconstruction emitted as a VALUES oracle."""
    from ferrobus_spark.routing.traced import detailed_journeys, legs_to_geojson_model

    model, tt = _transit_ctx(spark)
    pts = _transit_points(spark)
    od = spark.createDataFrame(
        [(0, 0, 5), (1, 2, 8), (2, 4, 9)], "pair_id LONG, origin_id LONG, dest_id LONG"
    )
    legs = detailed_journeys(spark, tt, od, pts, pts, 8 * 3600, 3)
    return legs_to_geojson_model(legs, model)


@register("transit_percent_access", _oracle_percent)
def q_transit_percent_access(spark, sf_dir):
    """Percent-access heat map (A7): departure samples × reachable tiles."""
    from ferrobus_spark.operators import isochrone as iso

    _, tt = _transit_ctx(spark)
    grid, origins = _iso_tables(spark)
    return iso.percent_access_cells(
        spark, tt, origins, grid, (7 * 3600, 7 * 3600 + 3600), 1200, 3, 1800
    )


@register("transit_isochrone_tiles", _oracle_iso)
def q_transit_isochrone(spark, sf_dir):
    from ferrobus_spark.operators import isochrone as iso

    _, tt = _transit_ctx(spark)
    grid, origins = _iso_tables(spark)
    return iso.isochrone_cells(spark, tt, origins, grid, 8 * 3600, 3, 1800)
