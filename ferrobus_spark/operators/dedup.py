"""Deduplication operators for web-scale corpus curation.

Beyond exact hash dedup (registry ``dedup_exact``), the near-dup family
a 100 TB training-data pipeline needs:

* :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — shingle →
  MinHash → banded LSH buckets → candidate pairs with estimated
  Jaccard. All hashing is vectorized NumPy inside Arrow-batched UDFs.
* :func:`simhash_col` / :func:`simhash_near_pairs` — 64-bit SimHash,
  near-dup = Hamming ≤ k via 4×16-bit chunk banding (pigeonhole: any
  pair within Hamming 3 shares at least one identical chunk).
* :func:`incremental_minhash_pairs` — crawl-N dedup of a new batch
  against an archived corpus.
* :func:`ngram_jaccard_pairs` — exact shingle-set Jaccard verification
  of candidate pairs (the refine step after LSH's filter).

The three pair operators share one physical plan,
:func:`_bucket_pairs`: band rows shuffle on (band, bucket), sort by
payload inside each bucket, and one Arrow kernel scores each bucket's
pairs (or, over the hot-bucket cap, emits min-id stars).

Determinism: all hash functions are explicit polynomial/multiplicative
hashes (no Python ``hash``), so results are stable across runs,
partitions, and Python versions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MERSENNE = (1 << 61) - 1
_A = 0x9E3779B97F4A7C15

#: Canonical signature length. `minhash_signatures`' default and every
#: consumer that slices/normalizes signatures (curation pipeline, the
#: registry oracles' banding/est_jaccard SQL) import THIS constant, so
#: changing the signature length cannot silently desynchronize the
#: banding slices from the est_jaccard denominator.
N_HASHES = 64


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Distinct k-char-shingle hashes (uint64) via polynomial rolling hash."""
    data = text.encode("utf-8", "ignore")
    n = len(data)
    if n < k:
        data = data + b"\x00" * (k - n)
        n = len(data)
    arr = np.frombuffer(data, np.uint8).astype(np.uint64)
    base = np.uint64(1099511628211)
    h = np.zeros(n - k + 1, np.uint64)
    # vectorized Horner over the k window positions
    for i in range(k):
        h = h * base + arr[i : n - k + 1 + i]
    return np.unique(h)


def _batch_shingle_hashes(texts, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Rolling k-byte hashes for a whole batch in one vectorized pass.

    Returns (flat_hashes, doc_starts) where doc i's window hashes are
    ``flat[starts[i]:starts[i+1]]``. Duplicate shingles are kept — a
    MinHash minimum is unaffected by multiplicity, so per-doc
    ``np.unique`` (a per-row Python cost) is skipped on this path.
    """
    bufs = []
    lens = []
    for t in texts:
        b = (t or "").encode("utf-8", "ignore")
        if len(b) < k:
            b = b + b"\x00" * (k - len(b))
        bufs.append(b)
        lens.append(len(b))
    data = b"".join(bufs)
    arr = np.frombuffer(data, np.uint8).astype(np.uint64)
    n = len(arr)
    base = np.uint64(1099511628211)
    h = np.zeros(max(n - k + 1, 0), np.uint64)
    for i in range(k):
        h = h * base + arr[i : n - k + 1 + i]
    lens = np.array(lens, np.int64)
    doc_off = np.concatenate([[0], np.cumsum(lens)[:-1]])
    n_windows = lens - k + 1
    starts = np.concatenate([[0], np.cumsum(n_windows)])
    # select per-doc window ranges out of the global window array
    idx = np.concatenate(
        [np.arange(o, o + w) for o, w in zip(doc_off, n_windows)]
    ) if len(lens) else np.array([], np.int64)
    return h[idx], starts


def _minhash_params(n_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    """(a, b) of n permutations ``(a*x + b) mod p`` (universal hashing).

    NB: ``a*x`` runs in numpy uint64, so the product WRAPS mod 2^64
    before the Mersenne mod — the effective permutation is
    ``((a*x mod 2^64) + b mod 2^64) mod p``. That's still a fine mixing
    family for MinHash and is pinned by the ``minhash_dup_pairs``
    DuckDB oracle (which replicates the wrap explicitly), so don't
    "fix" it to true modular arithmetic without regenerating both."""
    rng = np.random.default_rng(20240501)
    a = rng.integers(1, MERSENNE, n_hashes, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, MERSENNE, n_hashes, dtype=np.int64).astype(np.uint64)
    return a, b


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n_hashes: int = N_HASHES, shingle: int = 5, n_bands: int | None = None,
) -> DataFrame:
    """(id, signature array<long>[, bands array<long>]) — Arrow-batched.

    One vectorized pass per Arrow batch: all docs' shingle hashes are
    concatenated, each permutation is applied to the whole flat array,
    and per-doc minima come from ``np.minimum.reduceat`` over the doc
    boundaries — the hashing cost is batch-wide matrix work, not a
    Python loop body.

    ``n_bands`` (round 8): additionally emit the per-band LSH keys
    (:func:`_band_hash_matrix`) in the SAME pass — callers that feed
    :func:`minhash_lsh_pairs` avoid a second JVM↔Python round trip of
    the full signature table for the enrichment. Must equal the
    ``n_bands`` later passed to the pair join.
    """
    fields = [
        T.StructField("id", T.LongType()),
        T.StructField("signature", T.ArrayType(T.LongType())),
    ]
    if n_bands:
        fields.append(T.StructField("bands", T.ArrayType(T.LongType())))
    sig_t = T.StructType(fields)
    a, b = _minhash_params(n_hashes)

    def kernel(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(np.int64)
            if len(ids) == 0:
                cols = {"id": [], "signature": []}
                if n_bands:
                    cols["bands"] = []
                yield pd.DataFrame(cols)
                continue
            flat, starts = _batch_shingle_hashes(list(pdf[text_col]), shingle)
            x = flat % np.uint64(MERSENNE)
            seg_starts = starts[:-1]
            sigs = np.empty((len(ids), n_hashes), np.uint64)
            for h in range(n_hashes):
                vals = (a[h] * x + b[h]) % np.uint64(MERSENNE)
                sigs[:, h] = np.minimum.reduceat(vals, seg_starts)
            out = sigs.astype(np.int64)
            cols = {"id": ids, "signature": list(out)}
            if n_bands:
                cols["bands"] = list(_band_hash_matrix(out, n_bands))
            yield pd.DataFrame(cols)

    from ferrobus_spark.plans.partitioning import spread_for_kernel

    return spread_for_kernel(df.select(id_col, text_col)).mapInPandas(kernel, sig_t)


#: per-slice bound on gathered payload cells (pairs × payload width) in
#: the bucket kernel: 4M int64 cells ≈ 32 MB per pair side
_PAIR_CELLS = 1 << 22

_PAIRS_SCHEMA = T.StructType([
    T.StructField("id_a", T.LongType()),
    T.StructField("id_b", T.LongType()),
    T.StructField("est_jaccard", T.DoubleType()),
])

#: simhash_near_pairs' output — ``hamming`` is IntegerType, the type of
#: Spark's ``bit_count`` and of the DuckDB twin's cast
_HAM_SCHEMA = T.StructType([
    T.StructField("id_a", T.LongType()),
    T.StructField("id_b", T.LongType()),
    T.StructField("hamming", T.IntegerType()),
])

#: byte-wise popcount lookup (numpy < 2.0 has no bitwise_count)
_POPCNT8 = np.array([bin(i).count("1") for i in range(256)], np.int64)

_ENRICHED_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("signature", T.ArrayType(T.LongType())),
    T.StructField("bands", T.ArrayType(T.LongType())),
])

#: FNV-64 prime — multiplier of the vectorized per-band polynomial hash
_BAND_MULT = np.uint64(1099511628211)


def _band_hash_matrix(smat: np.ndarray, n_bands: int) -> np.ndarray:
    """(n, n_hashes) signature matrix → (n, n_bands) int64 band keys.

    A 64-bit polynomial hash per band slice. The bucket function is NOT
    pinned by the oracle (the DuckDB twin buckets on the EXACT band
    values; the engine's hash only matters through collisions), so any
    deterministic mix works — and 64-bit keys shrink the bucket-merge
    collision probability from the former 32-bit Murmur3's birthday
    regime (~0.2 per band at sf1.0's 44k buckets) to ~2^-64-scale.
    """
    n = smat.shape[0]
    rpb = smat.shape[1] // n_bands
    s3 = smat.astype(np.uint64).reshape(n, n_bands, rpb)
    h = np.zeros((n, n_bands), np.uint64)
    for j in range(rpb):
        h = h * _BAND_MULT + s3[:, :, j]
    return h.astype(np.int64)


def _enrich_with_bands(sigs: DataFrame, n_bands: int) -> DataFrame:
    """(id, signature) → (id, signature, bands) via one Arrow pass, for
    signature tables built without ``minhash_signatures(n_bands=...)``
    (e.g. a saved archive)."""

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({
                    "id": pd.Series(dtype="int64"),
                    "signature": pd.Series(dtype="object"),
                    "bands": pd.Series(dtype="object"),
                })
                continue
            smat = np.stack(pdf["signature"].to_numpy()).astype(np.int64)
            bands = _band_hash_matrix(smat, n_bands)
            yield pd.DataFrame({
                "id": pdf["id"].to_numpy(np.int64),
                "signature": list(smat),
                "bands": list(bands),
            })

    return sigs.select("id", "signature").mapInPandas(kernel, _ENRICHED_SCHEMA)


def _bucket_pairs(
    rows: DataFrame, cap: int | None, score, schema: T.StructType,
) -> DataFrame:
    """The dedup family's one pair kernel: in-bucket pairs, scored.

    ``rows`` carry ``(id, band, bucket, payload[, flag])``. They are
    hash-partitioned on (band, bucket) and sorted by (band, bucket,
    payload, id), so inside a partition each bucket is contiguous, and
    so is each run of identical payloads inside it, min id first. One
    ``mapInPandas`` kernel then handles each bucket:

    * **cold** (at most ``cap`` members, or ``cap`` None): every member
      pair, scored from the payloads already in the batch;
    * **hot** (more than ``cap``): a min-id star over each run of
      identical payloads — the k-1 edges give the connected component
      all k² edges would, at O(k) work. A member whose payload is unique
      in the bucket drops from this band only.

    ``score(pa, pb) -> (values, keep)`` takes the two sides' payload
    rows (2-D, one row per pair). With a ``flag`` column (1 = new) only
    pairs with a flagged side survive — the crawl-N rule, which for a
    star means the member or its keeper is new.

    Memory: one Arrow batch plus the carried tail bucket, which is at
    most ``cap`` rows while it may still be cold. Once a carried bucket
    passes the cap its finished runs are emitted and only the current
    run's leader is carried. Pairs are scored in ``_PAIR_CELLS`` slices.
    Returns distinct ``schema`` rows with id_a < id_b.
    """
    has_flag = "flag" in rows.columns
    col_a, col_b, col_v = schema.names

    def process(frame, head_hot, final):
        """Yield the pairs of ``frame``'s buckets; return the carry
        ``(rows, hot)`` of a tail bucket the next batch may extend."""
        n = len(frame)
        ids = frame["id"].to_numpy(np.int64)
        band = frame["band"].to_numpy(np.int64)
        bucket = frame["bucket"].to_numpy(np.int64)
        col = frame["payload"].to_numpy()
        pay = np.stack(col) if col.dtype == object else col.astype(np.int64)[:, None]
        flag = frame["flag"].to_numpy(np.int64) if has_flag else None
        step = max(1, _PAIR_CELLS // pay.shape[1])  # pairs per scoring slice

        def emit(ia, ib):
            """Score row-index pairs (ia, ib) in ``step``-pair slices."""
            if flag is not None:
                m = (flag[ia] | flag[ib]) > 0
                ia, ib = ia[m], ib[m]
            for s in range(0, len(ia), step):
                a, b = ia[s : s + step], ib[s : s + step]
                val, keep = score(pay[a], pay[b])
                if keep.any():
                    ida, idb = ids[a[keep]], ids[b[keep]]
                    yield pd.DataFrame({
                        col_a: np.minimum(ida, idb),
                        col_b: np.maximum(ida, idb),
                        col_v: val[keep],
                    })

        pos = np.arange(n)
        new_seg = np.ones(n, bool)
        new_seg[1:] = (band[1:] != band[:-1]) | (bucket[1:] != bucket[:-1])
        seg_start = np.flatnonzero(new_seg)
        seg_size = np.diff(np.append(seg_start, n))
        seg_hot = seg_size > (n if cap is None else cap)
        seg_hot[0] |= head_hot
        hot = np.repeat(seg_hot, seg_size)

        # hot buckets: star from each identical-payload run's first row
        new_run = new_seg.copy()
        new_run[1:] |= (pay[1:] != pay[:-1]).any(axis=1)
        lead = np.maximum.accumulate(np.where(new_run, pos, 0))
        star = hot & ~new_run
        yield from emit(lead[star], pos[star])

        # cold buckets: all pairs, sliced by row ranges; an open cold
        # tail waits whole for the next batch
        cold = ~hot
        if not final and not seg_hot[-1]:
            cold[seg_start[-1]:] = False
        seg_end = np.repeat(seg_start + seg_size, seg_size)
        reps = np.where(cold, seg_end - pos - 1, 0)
        cum = np.concatenate([[0], np.cumsum(reps)])
        r0 = 0
        while r0 < n and cum[-1] > cum[r0]:
            r1 = max(int(np.searchsorted(cum, cum[r0] + step, side="right")) - 1, r0 + 1)
            rp = reps[r0:r1]
            ia = np.repeat(pos[r0:r1], rp)
            ib = ia + 1 + np.arange(len(ia)) - np.repeat(np.cumsum(rp) - rp, rp)
            yield from emit(ia, ib)
            r0 = r1

        if final:
            return None, False
        if seg_hot[-1]:
            return frame.iloc[lead[-1] : lead[-1] + 1], True
        return frame.iloc[seg_start[-1]:], False

    def kernel(batches):
        carry, carry_hot = None, False
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if len(pdf):
                carry, carry_hot = yield from process(pdf, carry_hot, final=False)
        if carry is not None:
            yield from process(carry, carry_hot, final=True)

    npart = rows.sparkSession.sparkContext.defaultParallelism
    return (
        rows.repartition(npart, "band", "bucket")
        .sortWithinPartitions("band", "bucket", "payload", "id")
        .mapInPandas(kernel, schema)
        .distinct()
    )


def _band_rows(sigs: DataFrame, n_bands: int) -> DataFrame:
    """(id, band, bucket, payload = signature) — one row per LSH band."""
    if "bands" not in sigs.columns:
        sigs = _enrich_with_bands(sigs, n_bands)
    return sigs.select(
        "id",
        F.posexplode("bands").alias("band", "bucket"),
        F.col("signature").alias("payload"),
    )


def _jaccard_score(threshold: float):
    """est_jaccard = fraction of agreeing signature positions."""

    def score(sa, sb):
        est = (sa == sb).sum(axis=1) / float(sa.shape[1])
        return est, est >= threshold

    return score


def minhash_lsh_pairs(
    sigs: DataFrame, n_bands: int = 16, threshold: float = 0.5,
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """Banded LSH → (id_a, id_b, est_jaccard ≥ threshold).

    ``sigs`` is ``minhash_signatures`` output; with its ``bands`` column
    (``n_bands`` must match) no second Arrow pass computes the band
    keys. Bands become rows; candidates meet inside (band, band-key)
    buckets and est_jaccard is the fraction of agreeing signature
    positions, all in :func:`_bucket_pairs`.

    **Hot-bucket guard** (``max_bucket_size``, default 256): a bucket of
    k members has k² candidate pairs, and a real web corpus puts millions
    of near-identical boilerplate/template pages that survive exact dedup
    into ONE bucket (this blowup exhausted a disk at 2M rows, see
    BENCH/BASELINE.md round-4 notes). Buckets over the cap emit instead a
    min-id STAR per identical-signature group: est_jaccard 1.0 by
    construction, and a downstream connected-components consumer sees
    the component all k² edges would give. Members with a unique
    signature in a hot bucket drop from *that band only* (other bands
    still catch them; if every band is hot the pair is lost — the
    standard drop-with-bounded-work trade). :func:`lsh_hot_bucket_stats`
    reports how much the guard touched; ``max_bucket_size=None``
    disables it (exact all-pairs, only safe on template-free corpora).
    """
    return _bucket_pairs(
        _band_rows(sigs, n_bands), max_bucket_size,
        _jaccard_score(threshold), _PAIRS_SCHEMA,
    )


def incremental_minhash_pairs(
    new_sigs: DataFrame, old_sigs: DataFrame, n_bands: int = 16,
    threshold: float = 0.5, max_bucket_size: int | None = 256,
) -> DataFrame:
    """Near-dup pairs of a NEW batch against (old ∪ new) — crawl-N dedup.

    Crawl N's docs must be deduped against the already-curated corpus
    AND each other, but the old corpus must not be re-paired against
    itself. ``old_sigs`` is typically a saved signatures table
    (parquet/Iceberg) appended after each crawl, so signatures are
    computed once per document ever.

    Returns (id_a, id_b, est_jaccard ≥ threshold) where id_a < id_b and
    at least one side is new: exactly :func:`minhash_lsh_pairs` over
    old ∪ new restricted to new-touching pairs. Requires globally unique
    ids across old and new (the curation pipeline's xxhash64 ids satisfy
    this). Bucket sizes for the hot-bucket guard count both sides (a
    template bucket is hot no matter which crawl its members arrived
    in); a star edge needs a new member or a new keeper, and a group
    min that is an OLD doc correctly becomes the keeper.
    """
    rows = _band_rows(old_sigs, n_bands).withColumn("flag", F.lit(0)).unionByName(
        _band_rows(new_sigs, n_bands).withColumn("flag", F.lit(1))
    )
    return _bucket_pairs(
        rows, max_bucket_size, _jaccard_score(threshold), _PAIRS_SCHEMA,
    )


def lsh_hot_bucket_stats(
    sigs: DataFrame, n_bands: int = 16, max_bucket_size: int = 256,
) -> DataFrame:
    """(band, bucket, members, exact_groups) for every bucket over the cap.

    The observability companion to :func:`minhash_lsh_pairs`'s hot-bucket
    guard: run it (cheap — one groupBy over the band explode, no join) to
    log how many buckets the guard touched, how many members they held,
    and how many identical-signature groups survive via the star
    fallback. ``members - exact-group coverage`` is the upper bound on
    docs whose candidacy was dropped from that band.
    """
    bands = _enrich_with_bands(sigs, n_bands).select(
        "id",
        # xxhash64: exact_groups must count full-signature groups, and a
        # 32-bit hash undercounts once buckets reach ~77k distinct sigs
        F.xxhash64("signature").alias("sig_hash"),
        # same precomputed 64-bit band keys the production operator
        # buckets on (_band_hash_matrix) — the stats must describe the
        # buckets the guard actually sees
        F.posexplode("bands").alias("band", "bucket"),
    )
    return (
        bands.groupBy("band", "bucket")
        .agg(
            F.count(F.lit(1)).alias("members"),
            F.countDistinct("sig_hash").alias("exact_groups"),
        )
        .filter(F.col("members") > max_bucket_size)
    )


def simhash_col(df: DataFrame, id_col="doc_id", text_col="text", shingle: int = 4) -> DataFrame:
    """(id, simhash long) — 64-bit SimHash over distinct shingle hashes.

    Batch-vectorized like minhash_signatures: one flat rolling-hash pass
    over the whole Arrow batch, per-doc DISTINCT shingles via a single
    lexsort + first-occurrence mask, and bit votes via 64
    ``np.add.reduceat`` passes over doc segments — no per-document Python
    loop body.
    """
    out_t = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("simhash", T.LongType()),
    ])

    def kernel(batches):
        bit_idx = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            ids = pdf[id_col].to_numpy(np.int64)
            if len(ids) == 0:
                yield pd.DataFrame({"id": pd.Series(dtype="int64"),
                                    "simhash": pd.Series(dtype="int64")})
                continue
            flat, starts = _batch_shingle_hashes(list(pdf[text_col]), shingle)
            nwin = np.diff(starts)
            doc_idx = np.repeat(np.arange(len(ids)), nwin)
            # per-doc unique shingles: sort by (doc, hash), keep firsts
            order = np.lexsort((flat, doc_idx))
            sh = flat[order]
            di = doc_idx[order]
            first = np.ones(len(sh), bool)
            first[1:] = (di[1:] != di[:-1]) | (sh[1:] != sh[:-1])
            sh = sh[first]
            di = di[first]
            u_counts = np.bincount(di, minlength=len(ids))
            u_starts = np.concatenate([[0], np.cumsum(u_counts)[:-1]])
            mixed = sh * np.uint64(_A)
            votes = np.empty((len(ids), 64), np.int64)
            for b in range(64):
                bits_b = ((mixed >> bit_idx[b]) & np.uint64(1)).astype(np.int64)
                votes[:, b] = np.add.reduceat(bits_b, u_starts)
            bits = (votes * 2 > u_counts[:, None]).astype(np.uint64)
            vals = (bits << bit_idx[None, :]).sum(axis=1, dtype=np.uint64)
            yield pd.DataFrame({"id": ids, "simhash": vals.astype(np.int64)})

    from ferrobus_spark.plans.partitioning import spread_for_kernel

    return spread_for_kernel(df.select(id_col, text_col)).mapInPandas(kernel, out_t)


def simhash_near_pairs(
    sim: DataFrame, max_hamming: int = 3, max_bucket_size: int | None = 256
) -> DataFrame:
    """(id_a, id_b, hamming ≤ max_hamming) via 4×16-bit chunk banding.

    Each 16-bit chunk of the simhash is a band whose value is the bucket
    (pigeonhole: a pair within Hamming 3 shares at least one identical
    chunk); :func:`_bucket_pairs` scores hamming = popcount(xor).

    Same hot-bucket hazard and guard as :func:`minhash_lsh_pairs`: a
    template corpus puts thousands of docs in one (chunk_idx, chunk)
    bucket. Buckets over ``max_bucket_size`` emit a min-id star per
    identical-simhash group (hamming 0 by construction) instead of all
    pairs; members with a unique simhash drop from that chunk only (the
    other 3 chunks still catch them)."""

    def score(sa, sb):
        x = np.bitwise_xor(sa[:, 0], sb[:, 0])
        h = _POPCNT8[x.view(np.uint8)].reshape(len(x), 8).sum(axis=1)
        return h.astype(np.int32), h <= max_hamming

    rows = sim.select(
        "id",
        F.posexplode(F.array(*[
            F.shiftright("simhash", 16 * i).bitwiseAND(F.lit(0xFFFF)) for i in range(4)
        ])).alias("band", "bucket"),
        F.col("simhash").alias("payload"),
    )
    return _bucket_pairs(rows, max_bucket_size, score, _HAM_SCHEMA)


def ngram_jaccard_pairs(
    df: DataFrame, pairs: DataFrame, id_col="doc_id", text_col="text", shingle: int = 5
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (the refine step).

    Sub-``shingle``-byte texts are padded to one window by
    :func:`_shingle_hashes`, so every doc has >=1 shingle and two
    short docs score 1.0 iff their raw bytes are equal — the same rule
    the ``_SHINGLE_SET_SQL`` oracle states with a singleton ``[text]``
    list. The ``union == 0 -> 1.0`` fallback below is therefore
    unreachable; it exists only as a defensive division guard.

    Kernel shape — measured, not assumed (round-6 microbenchmark):
    texts ride the pairs join and each pair's sides are shingled in the
    Python worker, with a bounded per-batch memo keyed
    on doc id so a doc fanning out into many candidate pairs (LSH hot
    buckets) is shingled once per batch instead of once per pair.
    Three "more vectorized" shapes all measured SLOWER: pair-major
    lexsort union counting 7x (sorts |pairs|x|windows| rows), a
    per-batch text factorize+cache 1.4x (string factorize overhead,
    and partitioning strips cross-batch reuse at local[32]), and
    precomputing distinct-shingle ARRAY columns in the doc domain 4x
    at 1M pairs / 2KB docs — byte-shingle hash sets are ~6x LARGER
    than the text they come from, so shuffling them twice costs far
    more than re-hashing the compact text at the consumer.
    """
    texts = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    joined = (
        pairs.join(texts.withColumnRenamed("id", "id_a").withColumnRenamed("t", "t_a"), "id_a")
        .join(texts.withColumnRenamed("id", "id_b").withColumnRenamed("t", "t_b"), "id_b")
    )
    out_t = T.StructType([
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("jaccard", T.DoubleType()),
    ])
    # per-batch memo cap: bounds worker memory at ~100 MB worst case
    # (8192 entries x ~12 KB hash array for a 2 KB doc) while catching
    # the hot-template docs, which recur early and often within a batch.
    memo_cap = 8192

    def kernel(batches):
        for pdf in batches:
            n = len(pdf)
            memo: dict = {}

            def sets_for(ids, ts):
                out = []
                for i, t in zip(ids, ts):
                    s = memo.get(i)
                    if s is None:
                        s = _shingle_hashes(t, shingle)
                        if len(memo) < memo_cap:
                            memo[i] = s
                    out.append(s)
                return out

            sa = sets_for(pdf["id_a"], pdf["t_a"])
            sb = sets_for(pdf["id_b"], pdf["t_b"])
            jac = np.empty(n)
            for i in range(n):
                A, B = sa[i], sb[i]
                it = len(np.intersect1d(A, B, assume_unique=True))
                union = len(A) + len(B) - it
                jac[i] = it / union if union else 1.0
            yield pd.DataFrame({
                "id_a": pdf["id_a"].to_numpy(np.int64),
                "id_b": pdf["id_b"].to_numpy(np.int64),
                "jaccard": jac,
            })

    return joined.select("id_a", "id_b", "t_a", "t_b").mapInPandas(kernel, out_t)
