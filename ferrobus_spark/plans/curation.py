"""End-to-end training-data curation pipeline (the 100 TB shape).

Composes the web-corpus operators into the checkpointed, resumable
stage list a crawl-to-training-set job runs:

  pages        raw crawl rows (url, warc_ts, html, ...)
  canonical    + canon_url/host (pure codegen — functions/urls.py)
  url_dedup    first fetch per canonical url (re-crawl collapse)
  extracted    html → visible text/title (Arrow parser)
  text_feats   tokens + quality score + language id per doc
  exact_dedup  one keeper per exact text hash
  near_dedup   MinHash-LSH pairs → connected components → keep the
               minimum doc of each duplicate cluster (plans/iterative)
  curated      quality/length gate → final training rows

Every stage goes through ``plans/checkpoint.run_pipeline``: parquet
output + _METRICS.json + _LINEAGE.json per stage, so a rerun resumes
after the last completed stage (Iceberg snapshots in production — same
contract). Scale notes per stage are where the operators live; nothing
here collects to the driver.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ferrobus_spark.functions.text import (
    lang_id_col,
    n_bpe_tokens_col,
    quality_score_col,
)
from ferrobus_spark.functions.urls import canonical_url_col, url_host_col
from ferrobus_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures
from ferrobus_spark.operators.html_text import parse_html
from ferrobus_spark.plans.checkpoint import run_pipeline
from ferrobus_spark.plans.iterative import connected_components, iterate


def curation_stages(
    pages_fn,
    min_quality: float = 0.3,
    min_tokens: int = 10,
    near_dup_threshold: float = 0.9,
    archive_fn=None,
):
    """Stage list for ``run_pipeline``. ``pages_fn(spark, env)`` supplies
    the raw pages DataFrame (parquet synth here; WARC scan in prod).

    ``archive_fn(spark)`` (optional) switches the dedup stages to
    CRAWL-N INCREMENTAL mode: it returns
    ``{"text_hashes": DataFrame(text_hash), "signatures":
    DataFrame(id, signature)}`` from the previously-curated archive
    (saved parquet/Iceberg tables appended after each crawl). Exact
    dedup then also anti-joins the archive's text hashes, and near
    dedup runs :func:`~ferrobus_spark.operators.dedup.
    incremental_minhash_pairs` — new docs duplicating ANYTHING archived
    are dropped (the archive always wins: doc ids are hashes, not ages,
    so the min-id rule cannot arbitrate old-vs-new), while new-only
    duplicate clusters keep their min id as in batch mode. Emit the
    batch's own hashes/signatures after the run to append to the
    archive (``archive_outputs``)."""

    def s_canonical(spark, env):
        p = env["pages"]
        return p.select(
            "doc_id", "url", "warc_ts", "html",
            canonical_url_col(F.col("url")).alias("canon_url"),
            url_host_col(F.col("url")).alias("host"),
        )

    def s_url_dedup(spark, env):
        # first fetch per canonical url: min (warc_ts, url) — re-crawls
        # and URL-variant duplicates collapse before any heavy parsing.
        # The agg sorts a NARROW key struct (no html): the winning
        # doc_ids pull their html back via an equi-join, so the binary
        # column crosses one exchange as plain payload instead of riding
        # inside the min-struct comparator.
        c = env["canonical"]
        win = (
            c.groupBy("canon_url")
            .agg(F.min(F.struct("warc_ts", "url", "doc_id")).alias("m"))
            .select(
                "canon_url",
                F.col("m.warc_ts").alias("warc_ts"),
                F.col("m.url").alias("url"),
                F.col("m.doc_id").alias("doc_id"),
            )
        )
        # join back on the FULL winner key (doc_id alone repeats across
        # re-crawl fetches of the same page), then collapse the
        # identical-key edge case (two fetches tying on ts+url+id) with
        # min(html) — the groupBy keys match the join keys, so Spark
        # reuses the join's partitioning and the agg adds no exchange.
        return (
            c.join(win, ["canon_url", "warc_ts", "url", "doc_id"])
            .groupBy("canon_url", "warc_ts", "url", "doc_id")
            .agg(F.min("html").alias("html"))
            .select("canon_url", "url", "warc_ts", "doc_id", "html")
        )

    def s_extracted(spark, env):
        parsed = parse_html(env["url_dedup"], id_cols=("doc_id",))
        # keep the join narrow: parser output + the url columns only
        return parsed.join(
            env["url_dedup"].select("doc_id", "canon_url", "url"), "doc_id"
        ).select("doc_id", "canon_url", "url", "extracted_text", "title")

    def s_text_feats(spark, env):
        e = env["extracted"]
        return e.select(
            "doc_id", "canon_url", "url", "extracted_text",
            n_bpe_tokens_col("extracted_text").cast("long").alias("n_tokens"),
            quality_score_col("extracted_text").alias("quality"),
            lang_id_col(F.col("extracted_text")).alias("lang_pred"),
        )

    def s_exact_dedup(spark, env):
        t = env["text_feats"]
        keepers = (
            t.groupBy(F.md5("extracted_text").alias("text_hash"))
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        kept = t.join(keepers, "doc_id")
        if archive_fn is not None:
            # crawl-N: a byte-identical archived doc beats any new fetch
            old_hashes = archive_fn(spark)["text_hashes"].select("text_hash")
            kept = kept.withColumn("__h", F.md5("extracted_text")).join(
                old_hashes.withColumnRenamed("text_hash", "__h"), "__h", "left_anti"
            ).drop("__h")
        return kept

    def s_near_dedup(spark, env):
        # Pin the dedup input ONCE (round 8): in lazy chaining (the
        # driver-gate query) this stage consumes exact_dedup twice —
        # deriving signatures AND as the anti-join's left side — and
        # without the pin the whole pages→parse→features chain
        # re-executed for each. Under run_pipeline the input is already
        # a parquet read, so the checkpoint merely caches it.
        t = env["exact_dedup"].localCheckpoint()
        # bake the LSH band keys into the signature pass; both dedup
        # operators consume them directly (incremental mode enriches
        # the band-less archive side itself)
        sigs = minhash_signatures(
            t, id_col="doc_id", text_col="extracted_text", n_bands=16
        )
        if archive_fn is None:
            pairs = minhash_lsh_pairs(
                sigs, threshold=near_dup_threshold
            ).select("id_a", "id_b")
            # duplicate clusters → keep the minimum doc of each component
            # (connected_components labels with the component min already)
            cc = connected_components(pairs, src="id_a", dst="id_b")
            drop = cc.filter(F.col("node") != F.col("component")).select(
                F.col("node").alias("doc_id")
            )
            return t.join(drop, "doc_id", "left_anti")
        from ferrobus_spark.operators.dedup import incremental_minhash_pairs

        old_sigs = archive_fn(spark)["signatures"]
        pairs = incremental_minhash_pairs(
            sigs, old_sigs, threshold=near_dup_threshold
        ).select("id_a", "id_b")
        cc = connected_components(pairs, src="id_a", dst="id_b")
        new_ids = t.select(F.col("doc_id").alias("node"))
        cc_new = cc.join(new_ids, "node", "semi")
        # ids are hashes, not ages — the min-id label cannot arbitrate
        # old vs new, so: any component touching the archive drops ALL
        # its new members (the archived doc is the keeper); new-only
        # components keep their min like batch mode
        with_old = (
            cc.join(new_ids, "node", "left_anti").select("component").distinct()
        )
        drop = (
            cc_new.join(with_old, "component", "semi").select("node")
            .unionByName(
                cc_new.join(with_old, "component", "left_anti")
                .filter(F.col("node") != F.col("component"))
                .select("node")
            )
            .distinct()
            .withColumnRenamed("node", "doc_id")
        )
        return t.join(drop, "doc_id", "left_anti")

    def s_archive_outputs(spark, env):
        # the batch's contribution to the archive: one row per curated
        # doc with its text hash and signature, ready to append
        k = env["curated"]
        sigs = minhash_signatures(k, id_col="doc_id", text_col="text")
        return (
            k.select("doc_id", F.md5("text").alias("text_hash"))
            .join(sigs.withColumnRenamed("id", "doc_id"), "doc_id")
        )

    def s_curated(spark, env):
        k = env["near_dedup"]
        return k.filter(
            (F.col("quality") >= min_quality) & (F.col("n_tokens") >= min_tokens)
        ).select(
            "doc_id", "canon_url", "url", "lang_pred", "n_tokens", "quality",
            F.col("extracted_text").alias("text"),
        )

    stages = [
        ("pages", pages_fn, []),
        ("canonical", s_canonical, ["pages"]),
        ("url_dedup", s_url_dedup, ["canonical"]),
        ("extracted", s_extracted, ["url_dedup"]),
        ("text_feats", s_text_feats, ["extracted"]),
        ("exact_dedup", s_exact_dedup, ["text_feats"]),
        ("near_dedup", s_near_dedup, ["exact_dedup"]),
        ("curated", s_curated, ["near_dedup"]),
    ]
    if archive_fn is not None:
        stages.append(("archive_outputs", s_archive_outputs, ["curated"]))
    return stages


#: driver-side cap on the collected collision set (same discipline as the
#: dedup hot-bucket guard); beyond it the fix-up joins stay distributed
_MAX_COLLISION_IDS_DRIVER = 100_000


def assign_doc_ids(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("url", "warc_ts"),
    reserved_ids: DataFrame | None = None,
    max_rounds: int = 4,
    _hash=None,
) -> DataFrame:
    """Collision-FREE deterministic int64 doc ids from the true record
    identity ``key_cols`` (WARC records carry none of their own).

    The naive ``xxhash64(url, warc_ts)`` id has a birthday bound of
    ≈ n²/2⁶⁵ — negligible below ~10⁸ records but ~3% odds of ≥1
    collision at 10⁹ and near-certain at 10¹⁰ — and a collision
    silently fuses two distinct docs into one dedup-graph node (one of
    them drops from the curated output). Instead of widening every
    downstream shuffle key to 16 bytes or a string pair, this keeps the
    8-byte id and makes collisions IMPOSSIBLE by construction:

    1. primary id = ``xxhash64(*key_cols)``;
    2. one narrow probe (groupBy id → countDistinct key) finds ids held
       by more than one distinct key — an O(expected 0–3 rows) set even
       at 10¹⁰ records, collected under a 100k driver cap with a
       distributed-join fallback (the hot-bucket-guard discipline);
    3. within each colliding id the minimum key keeps it; every other
       key deterministically rehashes with a round salt; repeat until
       clean (round 2+ only ever runs on the handful of rehashed rows'
       ids, and a persisting collision past ``max_rounds`` raises
       rather than fusing).

    Ids are a pure function of the key multiset (plus ``reserved_ids``
    when given) — stable across runs, resumes, and partitionings. Rows
    that share the full key (true duplicate fetches) intentionally
    share the id; ``url_dedup`` collapses them. ``reserved_ids`` (one
    ``id`` column; crawl-N mode passes the archive's signature ids)
    are treated as taken by out-of-frame docs: any new row hashing onto
    one is rehashed, so ``incremental_minhash_pairs``' global-unique-id
    precondition holds against the archive too — a true re-fetch of an
    archived doc simply gets a fresh id and is dropped by the
    archive-wins exact/near-dedup rules on content, never by id
    accident. ``_hash(cols, salt)`` is a test seam for forcing
    collisions (the real xxhash64 cannot be made to collide on demand).
    """
    h = _hash or (
        lambda cols, salt: F.xxhash64(*cols, F.lit(salt)) if salt else F.xxhash64(*cols)
    )
    from pyspark.sql import Window

    res = (
        None if reserved_ids is None
        else reserved_ids.select(F.col(reserved_ids.columns[0]).alias("doc_id")).distinct()
    )
    salts = itertools.count(1)

    def step(out: DataFrame) -> DataFrame | None:
        bad = (
            out.groupBy("doc_id")
            .agg(F.countDistinct(*key_cols).alias("__nk"))
            .filter(F.col("__nk") > 1)
            .select("doc_id")
        )
        if res is not None:
            bad = bad.unionByName(out.select("doc_id").join(res, "doc_id", "semi")).distinct()
        probe = bad.limit(_MAX_COLLISION_IDS_DRIVER + 1).collect()
        if not probe:
            return None
        r = next(salts)
        if r > max_rounds:
            raise RuntimeError(
                f"assign_doc_ids: {bad.count()} doc ids still collide after "
                f"{max_rounds} rehash rounds — refusing to fuse distinct docs. "
                "This is statistically impossible with real xxhash64; check the "
                "_hash test seam or raise max_rounds."
            )
        if len(probe) <= _MAX_COLLISION_IDS_DRIVER:
            bad_keys = F.broadcast(out.sparkSession.createDataFrame(probe, bad.schema))
        else:  # adversarial: keep the collision set distributed
            bad_keys = bad
        cold = out.join(bad_keys, "doc_id", "left_anti")
        wg = Window.partitionBy("doc_id")
        kstruct = F.struct(*[F.col(c) for c in key_cols])
        hot = out.join(bad_keys, "doc_id", "semi").withColumn(
            "__kmin", F.min(kstruct).over(wg)
        )
        keep = kstruct == F.col("__kmin")
        if res is not None:
            # a reserved id has NO in-frame keeper — every holder rehashes
            hot = hot.join(res.withColumn("__resv", F.lit(True)), "doc_id", "left")
            keep = keep & F.col("__resv").isNull()
        hot = hot.withColumn(
            "doc_id", F.when(keep, F.col("doc_id")).otherwise(h(list(key_cols), r))
        ).drop("__kmin", "__resv")
        # the fix path is rare and the next probe re-scans the frame, so
        # the round is materialized
        return cold.unionByName(hot.select(*cold.columns))

    # one probe past the last rehash round: it returns or raises
    return iterate(df.withColumn("doc_id", h(list(key_cols), 0)), step, max_rounds + 1)


def warc_pages_fn(warc_dir: str, archive_fn=None):
    """pages_fn reading a crawl's WARC files (the production input path:
    sources/warc.read_warc streams gzip members / Content-Length frames).
    WARC records carry no doc id, so :func:`assign_doc_ids` derives a
    collision-free deterministic one from the true record identity
    (url, warc_ts) — stable across runs and resumes, and two distinct
    records can NEVER share an id (see its docstring for the
    birthday-bound hazard this closes). Downstream "keep the MIN doc id"
    dedup rules then pick a deterministic (if arbitrary) keeper per
    cluster, which is the right contract for crawl data with no natural
    ordering.

    ``archive_fn`` (the same callable passed to :func:`curation_stages`
    in crawl-N mode) additionally reserves the archive's signature ids,
    so a new doc can never collide with an archived one either —
    ``incremental_minhash_pairs``' globally-unique-id precondition is
    enforced here, not assumed."""

    def s_pages(spark, env):
        from ferrobus_spark.sources.warc import read_warc

        reserved = (
            archive_fn(spark)["signatures"].select("id")
            if archive_fn is not None else None
        )
        return assign_doc_ids(read_warc(spark, warc_dir), reserved_ids=reserved)

    return s_pages


def run_curation(
    spark: SparkSession,
    checkpoint_root: str,
    pages_fn,
    **knobs,
) -> dict[str, DataFrame]:
    """Execute (or resume) the curation pipeline; returns the stage env."""
    return run_pipeline(spark, checkpoint_root, curation_stages(pages_fn, **knobs))
