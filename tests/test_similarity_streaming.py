"""Similarity search operators (top-k, near-duplicate pairs)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ferrobus_spark.operators.similarity import brute_force_topk, lsh_topk


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_bruteforce_topk_matches_numpy(spark, embeddings):
    got = brute_force_topk(spark, embeddings, embeddings, k=3).toPandas()
    pdf = embeddings.toPandas()
    ids = pdf["vec_id"].to_numpy(np.int64)
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    scores = mat @ mat.T
    for qi in range(min(50, len(ids))):
        s = scores[qi].copy()
        order = np.lexsort((ids, -s))
        exp = [int(ids[j]) for j in order if ids[j] != ids[qi]][:3]
        sub = got[got["query_id"] == ids[qi]].sort_values("rank")
        assert sub["neighbor_id"].tolist() == exp, ids[qi]


def test_bruteforce_gate_falls_back_to_ivf(spark, embeddings):
    """Above the broadcast cap the exact path must not driver-collect:
    it falls back to the distributed IVF path."""
    out = brute_force_topk(spark, embeddings, embeddings, k=1, max_corpus_rows=10)
    # fallback produced a full per-query result set via IVF
    assert out.select("query_id").distinct().count() == embeddings.count()


def test_lsh_topk_recall(spark, embeddings):
    exact = brute_force_topk(spark, embeddings, embeddings, k=1).toPandas()
    approx = lsh_topk(spark, embeddings, embeddings, k=1,
                      n_tables=16, bits_per_table=4).toPandas()
    e1 = dict(zip(exact["query_id"], exact["neighbor_id"]))
    a1 = dict(zip(approx["query_id"], approx["neighbor_id"]))
    hits = sum(1 for q, n in e1.items() if a1.get(q) == n)
    recall = hits / len(e1)
    assert recall >= 0.7, f"LSH 1-NN recall too low: {recall:.2f}"


def test_ivf_topk_recall(spark, embeddings):
    from ferrobus_spark.operators.similarity import ivf_topk

    exact = brute_force_topk(spark, embeddings, embeddings, k=1).toPandas()
    approx = ivf_topk(spark, embeddings, embeddings, k=1,
                      n_lists=16, n_probe=8).toPandas()
    e1 = dict(zip(exact["query_id"], exact["neighbor_id"]))
    a1 = dict(zip(approx["query_id"], approx["neighbor_id"]))
    hits = sum(1 for q, n in e1.items() if a1.get(q) == n)
    recall = hits / len(e1)
    assert recall >= 0.8, f"IVF 1-NN recall too low: {recall:.2f}"
    # every query must get k results (no empty probe sets)
    assert len(a1) == len(e1)


def test_ivf_twin_quantizer_bit_identical():
    """The oracle's independent k-means restatement and the engine
    trainer must produce bit-identical centroids under the shared
    determinism contract — if either drifts, this fails before the
    driver gate does."""
    import numpy as np

    from ferrobus_spark.operators.similarity import train_ivf_centroids
    from ferrobus_spark.registry_ext import _ivf_centroids_twin

    rng = np.random.default_rng(99)
    X = rng.normal(size=(500, 32))
    X[7] = 0.0  # zero-norm row exercises the norm guard
    a = train_ivf_centroids(X, n_lists=8)
    b = _ivf_centroids_twin(X, n_lists=8)
    assert np.array_equal(a, b)


def test_incremental_cosine_neardup_equals_full_restricted(spark, embeddings):
    """Crawl-N embedding near-dup ≡ the full-union pair set restricted to
    new-touching pairs (planted identical copies guarantee ≥0.95 hits)."""
    from ferrobus_spark.operators.similarity import (
        cosine_neardup_pairs,
        incremental_cosine_neardup_pairs,
    )

    old = embeddings.select("vec_id", "embedding")
    new = old.filter(F.col("vec_id") % 7 == 0).withColumn(
        "vec_id", F.col("vec_id") + 500000
    )
    inc = incremental_cosine_neardup_pairs(spark, new, old, threshold=0.95).toPandas()
    full = cosine_neardup_pairs(
        spark, old.unionByName(new), threshold=0.95
    ).toPandas()
    want = {
        (r.id_a, r.id_b)
        for r in full.itertuples(index=False)
        if r.id_a >= 500000 or r.id_b >= 500000
    }
    got = {(r.id_a, r.id_b) for r in inc.itertuples(index=False)}
    assert got == want
    assert len(got) > 0
    assert all(b >= 500000 for _a, b in got)  # no old-only pair leaked


def _plan_str(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_group_topk_shape(plan, python_nodes):
    """One sorted-group mapInPandas kernel scores the groups: no cogroup,
    no join of any kind (no per-candidate vector join-back, no group-size
    join) and exactly ``python_nodes`` Python operators."""
    assert "FlatMapCoGroupsInPandas" not in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("MapInPandas") == python_nodes


def test_lsh_topk_plan_shape(spark, embeddings):
    """A self-search signs once: the sign pass feeds both sides, so the
    plan holds two Python nodes (sign, group kernel). With dim supplied,
    no driver probe job is needed to build the plan."""
    from pyspark.sql import functions as F

    dim = embeddings.select(F.size("embedding")).first()[0]
    res = lsh_topk(spark, embeddings, embeddings, k=3, dim=dim)
    _assert_group_topk_shape(_plan_str(res), python_nodes=2)


def test_ivf_topk_plan_shape(spark, embeddings):
    """Two assignment passes (queries probe n_probe lists, corpus rows
    live in one) feed the list_id group kernel — not a candidate
    equi-join carrying both vectors per pair, which moved ~200 GB at
    sf1.0."""
    from ferrobus_spark.operators.similarity import ivf_topk

    res = ivf_topk(spark, embeddings, embeddings, k=3, n_lists=8, n_probe=2)
    _assert_group_topk_shape(_plan_str(res), python_nodes=3)


def test_block_topk_chunked_merge_is_exact(spark, embeddings, monkeypatch):
    """Force the bounded-memory merge path (the round-7 OOM fix): with
    _Q_CHUNK/_C_CHUNK shrunk to single digits every group's scoring must
    run dozens of merge rounds, and the (ids, ranks) must be IDENTICAL
    to the default wide-matmul blocks — the running top-k merge is
    exact, not approximate. Cosines compare at 1e-12: chunked BLAS may
    differ in the last ulp."""
    from ferrobus_spark.operators import similarity as sim

    base_lsh = lsh_topk(spark, embeddings, embeddings, k=3, dim=64).toPandas()
    base_ivf = sim.ivf_topk(
        spark, embeddings, embeddings, k=3, n_lists=4, n_probe=4
    ).toPandas()

    monkeypatch.setattr(sim, "_Q_CHUNK", 7)
    monkeypatch.setattr(sim, "_C_CHUNK", 11)
    tiny_lsh = sim.lsh_topk(spark, embeddings, embeddings, k=3, dim=64).toPandas()
    tiny_ivf = sim.ivf_topk(
        spark, embeddings, embeddings, k=3, n_lists=4, n_probe=4
    ).toPandas()

    for base, tiny in ((base_lsh, tiny_lsh), (base_ivf, tiny_ivf)):
        b = base.sort_values(["query_id", "rank"]).reset_index(drop=True)
        t = tiny.sort_values(["query_id", "rank"]).reset_index(drop=True)
        assert b[["query_id", "neighbor_id", "rank"]].equals(
            t[["query_id", "neighbor_id", "rank"]]
        )
        assert (b["cosine"] - t["cosine"]).abs().max() < 1e-12


def test_ivf_forced_giant_list_matches_exact(spark, embeddings, monkeypatch):
    """The advisor's 100 TB hazard in miniature: n_lists=2 makes each
    inverted list ≈ corpus/2 — far wider than the (tiny, patched) chunk
    bounds — and n_probe=2 probes everything, so IVF must equal the
    brute-force exact top-k while never allocating a sims block larger
    than q_chunk × c_chunk."""
    from ferrobus_spark.operators import similarity as sim

    monkeypatch.setattr(sim, "_Q_CHUNK", 13)
    monkeypatch.setattr(sim, "_C_CHUNK", 17)
    got = (
        sim.ivf_topk(spark, embeddings, embeddings, k=3, n_lists=2, n_probe=2)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    exact = (
        brute_force_topk(spark, embeddings, embeddings, k=3)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert got[["query_id", "neighbor_id", "rank"]].equals(
        exact[["query_id", "neighbor_id", "rank"]]
    )


def test_group_slices_spanning_batches_are_exact(spark, embeddings, monkeypatch):
    """Force _group_topk to slice every LSH bucket and IVF list into
    3-row corpus slices, with 5-row Arrow batches so each group's queries
    and corpus span many batches: the per-slice top-k union must
    reproduce the default results exactly on (ids, ranks) —
    top-k(group) ⊆ ∪ top-k(slice)."""
    from ferrobus_spark.operators import similarity as sim

    def key(df):
        return (
            df.sort_values(["query_id", "rank"])
            .reset_index(drop=True)[["query_id", "neighbor_id", "rank"]]
        )

    def run():
        return (
            sim.lsh_topk(spark, embeddings, embeddings, k=3, dim=64).toPandas(),
            sim.ivf_topk(spark, embeddings, embeddings, k=3, n_lists=4,
                         n_probe=4).toPandas(),
        )

    base = run()
    monkeypatch.setattr(sim, "_MAX_GROUP_ROWS", 3)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "5")
    try:
        sliced = run()
    finally:
        spark.conf.set(conf, old)
    for b, s in zip(base, sliced):
        assert len(b) > 0
        assert key(b).equals(key(s))


def test_ivf_auto_n_lists(spark, embeddings):
    """n_lists=None sizes the quantizer from a corpus count (≈√N,
    clamped to [16, max_train//39]) instead of a fixed 16 — the
    brute_force_topk overflow fallback exercises exactly this default."""
    from ferrobus_spark.operators.similarity import ivf_topk

    n = embeddings.count()
    res = ivf_topk(spark, embeddings, embeddings, k=1, n_probe=4).toPandas()
    # every query answered, no empties from over-partitioned lists
    assert res["query_id"].nunique() == n
    assert (res["rank"] == 1).all()


def test_float64_scoring_breaks_float32_ties(spark, tmp_path):
    """Regression pin for the sf3.0 sweep finding (round 7): two corpus
    vectors one float32 ulp apart can be EXACTLY tied under float32
    cosine arithmetic (DuckDB's list_cosine_similarity on a raw
    FLOAT[] column) while float64 orders them — at sf3.0 one such
    rank-boundary pair (query 26199) made the float32 twin pick the
    wrong neighbor. The engine scores in float64 throughout
    (brute_force_topk casts via .astype(np.float64)); this test pins
    that, and pins the oracle convention that every twin scoring raw
    embeddings must CAST to DOUBLE[] first (registry_ext._knn_bf_oracle
    and siblings)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(1234)
    dim = 16
    q = rng.standard_normal(dim).astype(np.float32)
    a = rng.standard_normal(dim).astype(np.float32)
    b = a.copy()
    b[0] = np.nextafter(a[0], np.float32(np.sign(a[0]) * 1e9),
                        dtype=np.float32)
    # far-away filler so k=2 ranks are decided purely by the tie pair
    filler = -q + rng.standard_normal(dim).astype(np.float32) * 0.01

    def cos64(v):
        q64, v64 = q.astype(np.float64), v.astype(np.float64)
        return float(q64 @ v64 / (np.linalg.norm(q64) * np.linalg.norm(v64)))

    # the construction really is a float64-orderable sub-float32 tie
    assert cos64(a) != cos64(b)
    assert abs(cos64(a) - cos64(b)) < 1e-7
    winner = 1 if cos64(a) > cos64(b) else 2

    path = str(tmp_path / "tie.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array([0, 1, 2, 3], pa.int64()),
        "embedding": pa.array(
            [q.tolist(), a.tolist(), b.tolist(), filler.tolist()],
            pa.list_(pa.float32())),
    }), path)

    # engine: float64 ordering, rank 1 = the float64 winner
    df = spark.read.parquet(path)
    res = brute_force_topk(
        spark, df.filter(F.col("vec_id") == 0), df, k=2,
        max_corpus_rows=None,
    ).toPandas().sort_values("rank")
    assert res["neighbor_id"].tolist()[:2] == [winner, 3 - winner]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    # raw FLOAT[] scoring is degenerate: exactly tied, cannot order
    raw = dict(con.execute("""
        SELECT c.vec_id, list_cosine_similarity(q.embedding, c.embedding)
        FROM embeddings q JOIN embeddings c
          ON q.vec_id = 0 AND c.vec_id IN (1, 2)
    """).fetchall())
    assert raw[1] == raw[2]
    # the oracle convention (CAST to DOUBLE[]) agrees with the engine
    cast = dict(con.execute("""
        SELECT c.vec_id,
               list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[]))
        FROM embeddings q JOIN embeddings c
          ON q.vec_id = 0 AND c.vec_id IN (1, 2)
    """).fetchall())
    assert (cast[1] > cast[2]) == (winner == 1)
    con.close()
