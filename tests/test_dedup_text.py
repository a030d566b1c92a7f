"""Dedup + text-analysis operators: correctness vs brute force."""

import contextlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ferrobus_spark.operators.dedup import (
    _shingle_hashes,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_col,
    simhash_near_pairs,
)


@pytest.fixture(scope="module")
def corpus(spark):
    base = [
        "the quick brown fox jumps over the lazy dog in the park",
        "a completely different document about spark dataframes and shuffles",
        "numerical analysis of partial differential equations on meshes",
        "cats and dogs living together in a quiet neighborhood street",
        "web scale data processing with distributed hash joins and sorts",
    ]
    rows = []
    did = 0
    for i, t in enumerate(base):
        rows.append((did, t)); did += 1
        rows.append((did, t)); did += 1                      # exact dup
        rows.append((did, t.replace("the", "teh", 1))); did += 1  # near dup
        rows.append((did, t + " extra trailing words appended here")); did += 1
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def _true_jaccard(a: str, b: str, k: int = 5) -> float:
    sa, sb = _shingle_hashes(a, k), _shingle_hashes(b, k)
    inter = len(np.intersect1d(sa, sb, assume_unique=True))
    return inter / (len(sa) + len(sb) - inter)


def test_minhash_estimates_jaccard(corpus):
    pdf = corpus.toPandas()
    sigs = {r.id: np.array(r.signature) for r in
            minhash_signatures(corpus, n_hashes=128).collect()}
    texts = dict(zip(pdf["doc_id"], pdf["text"]))
    for a, b in [(0, 1), (0, 2), (0, 3), (0, 4)]:
        est = (sigs[a] == sigs[b]).mean()
        true = _true_jaccard(texts[a], texts[b])
        assert est == pytest.approx(true, abs=0.15), (a, b)


def test_lsh_finds_all_high_jaccard_pairs(corpus):
    pdf = corpus.toPandas()
    texts = dict(zip(pdf["doc_id"], pdf["text"]))
    ids = sorted(texts)
    truth = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if _true_jaccard(texts[a], texts[b]) >= 0.6
    }
    sigs = minhash_signatures(corpus, n_hashes=128)
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(sigs, n_bands=32, threshold=0.5).collect()
    }
    assert truth <= got  # recall: every true near-dup pair surfaces
    # and exact-refine confirms their true jaccard
    pairs = corpus.sparkSession.createDataFrame(
        pd.DataFrame(sorted(truth), columns=["id_a", "id_b"])
    )
    refined = ngram_jaccard_pairs(corpus, pairs).toPandas()
    for r in refined.itertuples(index=False):
        assert r.jaccard == pytest.approx(_true_jaccard(texts[r.id_a], texts[r.id_b]))


def test_simhash_exact_dups_have_zero_hamming(corpus):
    sim = {r.id: r.simhash for r in simhash_col(corpus).collect()}
    assert sim[0] == sim[1]  # identical texts → identical simhash
    pairs = simhash_near_pairs(simhash_col(corpus), max_hamming=3).toPandas()
    got = {(r.id_a, r.id_b): r.hamming for r in pairs.itertuples(index=False)}
    assert got[(0, 1)] == 0


def test_lang_id_accuracy(spark):
    from ferrobus_spark.functions.text import lang_id_udf

    samples = [
        ("en", "the cat sat on the mat and that was that for the day"),
        ("de", "der hund und die katze sind nicht das problem in der stadt"),
        ("fr", "le chat et la souris sont dans les jardins est bien"),
        ("es", "el perro y la casa de que los gatos es grande"),
    ]
    df = spark.createDataFrame(pd.DataFrame(samples, columns=["lang", "text"]))
    got = df.select("lang", lang_id_udf("text").alias("pred")).collect()
    for r in got:
        assert r.pred == r.lang, r


def test_lang_id_codegen_equals_udf(spark, corpus):
    """The JVM-side lang_id_col (the hot-path impl) is prediction-
    identical to the Arrow UDF reference on the corpus plus edge rows
    (empty, null, ties, markerless)."""
    from ferrobus_spark.functions.text import lang_id_col, lang_id_udf

    edge = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [100001, 100002, 100003, 100004],
                "text": ["", None, "the der le el il o", "zzz qqq xxx"],
            }
        )
    )
    df = corpus.select("doc_id", "text").unionByName(edge)
    out = df.select(
        "doc_id",
        lang_id_udf(F.col("text")).alias("p_udf"),
        lang_id_col(F.col("text")).alias("p_col"),
    ).collect()
    for r in out:
        assert r.p_udf == r.p_col, (r.doc_id, r.p_udf, r.p_col)


def test_lang_id_codegen_equals_udf_fuzz(spark):
    """Property fuzz of the codegen/UDF equivalence over a realistic
    alphabet (letters incl. accents, digits, punctuation, space/tab/
    newline). Exotic unicode whitespace is deliberately excluded —
    Java's and Python's \\s classes differ there (documented caveat in
    lang_id_col); within real-text characters the two implementations
    must agree exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ferrobus_spark.functions.text import lang_id_col, lang_id_udf

    alphabet = st.sampled_from(
        list("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
             "0123456789 .,;:!?'\"()- \t\néüñàçß le der el the il o de")
    )
    texts_strategy = st.lists(
        st.text(alphabet=alphabet, min_size=0, max_size=120),
        min_size=1, max_size=24,
    )

    @settings(max_examples=12, deadline=None)
    @given(texts=texts_strategy)
    def check(texts):
        df = spark.createDataFrame(
            pd.DataFrame({"i": range(len(texts)), "text": texts})
        )
        out = df.select(
            lang_id_udf(F.col("text")).alias("p_udf"),
            lang_id_col(F.col("text")).alias("p_col"),
        ).collect()
        for r in out:
            assert r.p_udf == r.p_col, (r.p_udf, r.p_col)

    check()


def test_quality_and_fingerprint_deterministic(spark, corpus):
    from ferrobus_spark.functions.text import fingerprint_udf, quality_score_col

    a = corpus.select("doc_id", quality_score_col("text").alias("q"),
                      fingerprint_udf("text").alias("fp")).toPandas()
    b = corpus.select("doc_id", quality_score_col("text").alias("q"),
                      fingerprint_udf("text").alias("fp")).toPandas()
    pd.testing.assert_frame_equal(
        a.sort_values("doc_id").reset_index(drop=True),
        b.sort_values("doc_id").reset_index(drop=True),
    )
    assert a["q"].between(0, 1).all()
    # identical texts → identical fingerprints; distinct texts → distinct
    fp = dict(zip(a["doc_id"], a["fp"]))
    assert fp[0] == fp[1]
    assert fp[0] != fp[4]


def test_hot_bucket_guard_bounds_template_blowup(spark):
    """Thousands of near-identical template docs must NOT produce a k²
    candidate cross-product (the round-4 disk-exhaustion blowup), while
    (a) byte-identical templates stay one connected component via the
    exact-signature star fallback and (b) normal planted dup pairs are
    still recovered. This is the operator-side hardening the round-4
    bench sidestepped by changing the corpus."""
    import random

    rng = random.Random(20240517)
    tmpl = "breaking news boilerplate header nav footer copyright " * 30
    rows = [(i, tmpl) for i in range(3000)]  # one giant hot bucket per band
    vocab = ("alpha bravo charlie delta echo foxtrot golf hotel india "
             "juliett kilo lima mike november oscar papa").split()
    planted = []
    for i in range(20):
        base = " ".join(rng.choice(vocab) for _ in range(300)) + f" doc{i}"
        a, b = 10000 + 2 * i, 10001 + 2 * i
        rows.append((a, base))
        rows.append((b, base + " trailing tweak"))
        planted.append((a, b))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    sigs = minhash_signatures(df)
    pairs = minhash_lsh_pairs(sigs, threshold=0.5, max_bucket_size=256)
    got = pairs.toPandas()
    # bounded: 2999 star edges + all-pairs among the 40 (small-vocab, hence
    # mutually similar) planted docs — nowhere near 3000*2999/2 ≈ 4.5M
    assert len(got) < 3000 + 40 * 39 // 2
    tmpl_edges = got[(got.id_a < 3000) & (got.id_b < 3000)]
    # star from the min id reaches every other template doc → one component
    assert len(tmpl_edges) == 2999
    assert set(tmpl_edges.id_a) == {0}
    assert set(tmpl_edges.id_b) == set(range(1, 3000))
    assert (tmpl_edges_est := got[(got.id_a < 3000)]["est_jaccard"]).min() == 1.0
    found = set(map(tuple, got[["id_a", "id_b"]].itertuples(index=False)))
    missed = [p for p in planted if p not in found]
    assert not missed, f"guard lost planted dups: {missed}"
    # observability companion reports the hot buckets
    from ferrobus_spark.operators.dedup import lsh_hot_bucket_stats

    stats = lsh_hot_bucket_stats(sigs, max_bucket_size=256).toPandas()
    assert len(stats) == 16  # every band's template bucket is hot
    assert (stats.members == 3000).all()
    assert (stats.exact_groups == 1).all()


def test_hot_bucket_guard_noop_below_cap(spark):
    """With no bucket over the cap, guarded output ≡ unguarded output."""
    rng = np.random.default_rng(11)
    words = [f"w{i}" for i in range(50)]
    rows = []
    for i in range(120):
        rows.append((i, " ".join(rng.choice(words, 80))))
    for i in range(10):  # planted exact dups
        rows.append((1000 + i, rows[i][1]))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    sigs = minhash_signatures(df)
    guarded = minhash_lsh_pairs(sigs, max_bucket_size=256).toPandas()
    exact = minhash_lsh_pairs(sigs, max_bucket_size=None).toPandas()
    key = lambda d: sorted(map(tuple, d[["id_a", "id_b"]].itertuples(index=False)))
    assert key(guarded) == key(exact)
    assert len(guarded) >= 10


def test_simhash_hot_bucket_guard(spark):
    """Same template-corpus hazard as MinHash-LSH: 2000 identical docs
    must produce a bounded star, not a 2M-candidate cross-product, and
    guarded == unguarded below the cap."""
    rows = [(i, "identical boilerplate body text repeated " * 12)
            for i in range(2000)]
    rng = np.random.default_rng(5)
    words = [f"w{i}" for i in range(200)]
    for i in range(60):
        rows.append((5000 + i, " ".join(rng.choice(words, 60))))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    sim = simhash_col(df)
    got = simhash_near_pairs(sim, max_hamming=3, max_bucket_size=256).toPandas()
    tmpl = got[(got.id_a < 5000) & (got.id_b < 5000)]
    assert len(tmpl) == 1999
    assert set(tmpl.id_a) == {0}
    assert (tmpl.hamming == 0).all()
    assert len(got) < 1999 + 60 * 59 // 2

    small = spark.createDataFrame(
        pd.DataFrame(rows[2000:], columns=["doc_id", "text"])
    )
    s2 = simhash_col(small).localCheckpoint()
    key = lambda d: sorted(map(tuple, d[["id_a", "id_b", "hamming"]].itertuples(index=False)))
    assert key(simhash_near_pairs(s2, max_bucket_size=256).toPandas()) == \
           key(simhash_near_pairs(s2, max_bucket_size=None).toPandas())


def test_incremental_minhash_equals_full_restricted(spark):
    """Crawl-N dedup: incremental pairs (new vs old ∪ new) must equal the
    full-union pair set restricted to pairs touching a new doc — without
    ever forming old×old candidates."""
    from ferrobus_spark.operators.dedup import incremental_minhash_pairs

    rng = np.random.default_rng(42)
    words = [f"tok{i}" for i in range(400)]
    old_rows = [(i, " ".join(rng.choice(words, 80))) for i in range(90)]
    new_rows = []
    for j in range(10):  # cross-batch re-crawls (near-identical)
        new_rows.append((1000 + j, old_rows[j][1] + " tail"))
    for j in range(5):  # intra-batch dup pairs
        t = " ".join(rng.choice(words, 80))
        new_rows.append((1100 + 2 * j, t))
        new_rows.append((1101 + 2 * j, t))
    for j in range(15):  # fresh uniques
        new_rows.append((1200 + j, " ".join(rng.choice(words, 80)) + f" u{j}"))
    old = spark.createDataFrame(pd.DataFrame(old_rows, columns=["doc_id", "text"]))
    new = spark.createDataFrame(pd.DataFrame(new_rows, columns=["doc_id", "text"]))

    old_sigs = minhash_signatures(old)
    new_sigs = minhash_signatures(new)
    inc = incremental_minhash_pairs(new_sigs, old_sigs, threshold=0.5).toPandas()

    full = minhash_lsh_pairs(
        minhash_signatures(old.unionByName(new)), threshold=0.5
    ).toPandas()
    new_ids = {r[0] for r in new_rows}
    want = {
        (r.id_a, r.id_b, round(r.est_jaccard, 9))
        for r in full.itertuples(index=False)
        if r.id_a in new_ids or r.id_b in new_ids
    }
    got = {(r.id_a, r.id_b, round(r.est_jaccard, 9)) for r in inc.itertuples(index=False)}
    assert got == want
    assert len(got) >= 15  # all planted cross- and intra-batch dups present
    # no old-only pair leaked
    assert all(a in new_ids or b in new_ids for a, b, _ in got)


def test_incremental_minhash_hot_bucket_star(spark):
    """A template hot bucket spanning batches: 400 old + 50 new identical
    docs. The star must attach every NEW copy to the OLD group minimum
    (the keeper) and emit no old×old edges."""
    from ferrobus_spark.operators.dedup import incremental_minhash_pairs

    tmpl = "hot template body words " * 20
    old = spark.createDataFrame(
        pd.DataFrame([(i, tmpl) for i in range(400)], columns=["doc_id", "text"])
    )
    new = spark.createDataFrame(
        pd.DataFrame([(9000 + i, tmpl) for i in range(50)], columns=["doc_id", "text"])
    )
    got = incremental_minhash_pairs(
        minhash_signatures(new), minhash_signatures(old),
        threshold=0.5, max_bucket_size=256,
    ).toPandas()
    assert sorted(map(tuple, got[["id_a", "id_b"]].itertuples(index=False))) == [
        (0, 9000 + i) for i in range(50)
    ]
    assert (got.est_jaccard == 1.0).all()


def _plan_str(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _id_sigs(spark, lo, n, mod):
    from ferrobus_spark.operators.dedup import N_HASHES

    return spark.range(lo, lo + n).select(
        F.col("id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(N_HASHES)),
            lambda i: F.xxhash64(F.col("id") % mod, i),
        ).alias("signature"),
    )


@pytest.mark.parametrize("op", ["minhash", "incremental", "simhash"])
def test_bucket_pairs_plan_shape(spark, op):
    """Physical-plan pin (mirrors knn_join's in test_spatial.py): every
    dedup pair operator is one (band, bucket) hash shuffle feeding the
    Arrow bucket kernel. A join here would be a k² candidate stream, a
    cartesian/BNLJ a 100 TB scale-killer that tiny-corpus value tests
    miss, and a broadcast a payload riding every worker."""
    import re

    import ferrobus_spark.operators.dedup as dd

    if op == "minhash":
        df = dd.minhash_lsh_pairs(_id_sigs(spark, 0, 64, 7))
    elif op == "incremental":
        df = dd.incremental_minhash_pairs(
            _id_sigs(spark, 1000, 32, 5), _id_sigs(spark, 0, 64, 7)
        )
    else:
        df = dd.simhash_near_pairs(
            spark.range(64).select(F.col("id"), F.xxhash64(F.col("id") % 9).alias("simhash"))
        )
    plan = _plan_str(df)
    assert re.search(
        r"MapInPandas kernel\(id#\d+L, band#\d+, bucket#\d+L, payload[^\n]*\n"
        r"\s*\+- Sort \[band#[^\n]*\n"
        r"\s*\+- Exchange hashpartitioning\(band#\d+, bucket#\d+L, \d+\)",
        plan,
    ), plan
    for banned in ("Join", "CartesianProduct", "BroadcastNestedLoopJoin", "BroadcastExchange"):
        assert banned not in plan, (banned, plan)


@contextlib.contextmanager
def _arrow_batch(spark, n: int):
    """Tiny Arrow batches, so buckets straddle batches and the kernel's
    carry runs; the session value is restored afterwards."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _strata_rows() -> list:
    """Template stratum (hot buckets at cap 8), near-dup stratum, uniques."""
    rows = []
    did = 0
    for i in range(40):
        rows.append((did, "template boilerplate page body shared verbatim")); did += 1
    for i in range(30):
        rows.append((did, f"document number {i % 6} with mostly shared words")); did += 1
    for i in range(30):
        rows.append((did, f"totally unique text {i} {i*17} {i*29} xyz{i}")); did += 1
    return rows


def _twin(sql: str, rows: list) -> list:
    import duckdb

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    return con.execute(sql).fetchall()


def _minhash_twin_pairs(rows: list, cap: int) -> set:
    from ferrobus_spark.registry_ext import _minhash_pairs_ctes

    ctes = _minhash_pairs_ctes("documents", min_agree=32, cap=cap)
    return set(_twin(f"WITH {ctes} SELECT id_a, id_b FROM mh_pairs", rows))


def _assert_est_exact(got: list, sigs) -> None:
    """est_jaccard is the exact agreement fraction of the two signatures."""
    sig = {r.id: np.array(r.signature) for r in sigs.collect()}
    for a, b, est in got:
        assert est == (sig[a] == sig[b]).mean(), (a, b, est)


def test_minhash_kernel_equals_duckdb_twin(spark, monkeypatch):
    """minhash_lsh_pairs at cap 8 equals the DuckDB twin's CTE chain at
    cap 8: hot template buckets become min-id stars, cold near-dup
    buckets score all pairs. Arrow batches of 7 rows and 3-pair scoring
    slices force the batch-straddling carry and the slicing."""
    import ferrobus_spark.operators.dedup as dd

    rows = _strata_rows()
    sigs = minhash_signatures(
        spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    ).localCheckpoint()
    monkeypatch.setattr(dd, "_PAIR_CELLS", 3 * dd.N_HASHES)
    with _arrow_batch(spark, 7):
        got = sorted(map(tuple, minhash_lsh_pairs(
            sigs, threshold=0.5, max_bucket_size=8).collect()))
    assert {(a, b) for a, b, _ in got} == _minhash_twin_pairs(rows, cap=8)
    assert len(got) == len({(a, b) for a, b, _ in got}) > 0
    _assert_est_exact(got, sigs)


def test_incremental_kernel_equals_duckdb_twin(spark, monkeypatch):
    """incremental_minhash_pairs at cap 8 equals the twin's CTE chain
    over old ∪ new restricted to new-touching pairs — including the
    crawl-N rules that old×old pairs never surface and a hot-group star
    edge needs a new member or a new keeper. Corpus: a template split
    across old and new, an all-OLD template (must emit nothing),
    near-dups straddling crawls, uniques; batches of 7 rows."""
    import ferrobus_spark.operators.dedup as dd

    old_rows, new_rows = [], []
    did = 0
    for i in range(25):  # template A: old members ...
        old_rows.append((did, "template boilerplate page body shared verbatim")); did += 1
    for i in range(15):  # ... and new members (same hot group)
        new_rows.append((did, "template boilerplate page body shared verbatim")); did += 1
    for i in range(30):  # template B: ALL old — stars must not leak
        old_rows.append((did, "other template footer block repeated everywhere")); did += 1
    for i in range(20):  # near-dup stratum straddling crawls
        (old_rows if i % 2 else new_rows).append(
            (did, f"document number {i % 5} with mostly shared words")); did += 1
    for i in range(20):  # uniques
        (old_rows if i % 2 else new_rows).append(
            (did, f"totally unique text {i} {i*17} {i*29} xyz{i}")); did += 1

    def sigs(rows):
        return minhash_signatures(
            spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
        ).localCheckpoint()

    old_sigs, new_sigs = sigs(old_rows), sigs(new_rows)
    monkeypatch.setattr(dd, "_PAIR_CELLS", 3 * dd.N_HASHES)
    with _arrow_batch(spark, 7):
        got = sorted(map(tuple, dd.incremental_minhash_pairs(
            new_sigs, old_sigs, threshold=0.5, max_bucket_size=8).collect()))
    new_ids = {r[0] for r in new_rows}
    want = {
        (a, b) for a, b in _minhash_twin_pairs(old_rows + new_rows, cap=8)
        if a in new_ids or b in new_ids
    }
    assert {(a, b) for a, b, _ in got} == want
    assert len(got) == len(want) > 0
    _assert_est_exact(got, old_sigs.unionByName(new_sigs))


def test_simhash_kernel_equals_duckdb_twin(spark, monkeypatch):
    """simhash_near_pairs at cap 8 equals the DuckDB twin at cap 8,
    hamming included; batches of 7 rows and 3-pair scoring slices. The
    registered oracle is the twin at its default cap, byte for byte."""
    import hashlib

    import ferrobus_spark.operators.dedup as dd
    from ferrobus_spark.registry import ORACLES
    from ferrobus_spark.registry_ext import _simhash_oracle

    assert ORACLES["simhash_near_pairs"] is _simhash_oracle
    # the registered oracle text; it may change only with a stated reason
    assert hashlib.sha256(_simhash_oracle().encode()).hexdigest() == (
        "3a56fb8c9c0e28e2b7cac252688853a322f8dd8c77e17d28f475caf06c1f0df6"
    )
    rows = _strata_rows()
    sim = simhash_col(
        spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    ).localCheckpoint()
    monkeypatch.setattr(dd, "_PAIR_CELLS", 3)
    with _arrow_batch(spark, 7):
        got = sorted(map(tuple, simhash_near_pairs(
            sim, max_hamming=3, max_bucket_size=8).collect()))
    assert got == sorted(_twin(_simhash_oracle(cap=8), rows))
    assert len(got) > 0


@pytest.mark.parametrize("op", ["minhash", "incremental", "simhash"])
def test_hot_bucket_spanning_batches(spark, op):
    """One hot bucket over several Arrow batches: 300 identical docs in
    batches of 50 still give exactly one star from the min id (299 edges;
    incremental: the 100 new copies onto the old keeper). At cap 100 the
    bucket turns hot at 150 rows, and from then on only the run's leader
    rides from batch to batch: a kernel that forgot the carried bucket
    was hot would score its last 50-row slice as a cold bucket."""
    import ferrobus_spark.operators.dedup as dd

    rng = np.random.default_rng(3)
    ids = rng.permutation(np.arange(1000, 1300))
    pdf = pd.DataFrame({"doc_id": ids, "text": "one hot template body " * 8})
    df = spark.createDataFrame(pdf).repartition(3)
    with _arrow_batch(spark, 50):
        if op == "minhash":
            got = dd.minhash_lsh_pairs(
                minhash_signatures(df), max_bucket_size=100).collect()
        elif op == "simhash":
            got = dd.simhash_near_pairs(simhash_col(df), max_bucket_size=100).collect()
        else:
            got = dd.incremental_minhash_pairs(
                minhash_signatures(df.filter(F.col("doc_id") >= 1200)),
                minhash_signatures(df.filter(F.col("doc_id") < 1200)),
                max_bucket_size=100,
            ).collect()
    lo = 1200 if op == "incremental" else 1001
    assert sorted((r[0], r[1]) for r in got) == [(1000, i) for i in range(lo, 1300)]
    assert {r[2] for r in got} == ({0} if op == "simhash" else {1.0})
