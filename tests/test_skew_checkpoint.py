"""Skew salting equivalence + checkpoint/resume semantics."""

import json
import os

import pytest
from pyspark.sql import functions as F

from ferrobus_spark.operators.skew import heavy_hitters, salted_count, salted_join
from ferrobus_spark.plans.checkpoint import (
    pipeline_metrics,
    read_parquet,
    run_pipeline,
    write_stage,
)
import ferrobus_spark.plans.iterative as it
from ferrobus_spark.plans.iterative import connected_components, materialize
from ferrobus_spark.registry import CELL_REF_SQL
from ferrobus_spark.sources.pages import pages_table


@pytest.fixture(scope="module")
def tiles(spark, sf_dir):
    df = pages_table(spark, sf_dir).withColumn("cell", F.expr(CELL_REF_SQL))
    df.cache().count()
    return df


def test_heavy_hitters_finds_hot_cells(tiles):
    hot = heavy_hitters(tiles, "cell", threshold=0.05, sample_fraction=1.0)
    assert len(hot) >= 1  # the downtown cluster concentrates into few cells
    counts = tiles.groupBy("cell").count().toPandas()
    top_cell = counts.sort_values("count", ascending=False).iloc[0]["cell"]
    assert top_cell in hot


def test_salted_count_equals_plain(tiles):
    hot = heavy_hitters(tiles, "cell", threshold=0.05, sample_fraction=1.0)
    plain = {
        r["cell"]: r["count"] for r in tiles.groupBy("cell").count().collect()
    }
    salted = {
        r["cell"]: r["n"] for r in salted_count(tiles, "cell", hot, n_salt=8).collect()
    }
    assert salted == plain


def test_salted_join_equals_plain(spark, tiles):
    dim = (
        tiles.select("cell").distinct()
        .withColumn("zone", F.pmod(F.col("cell"), F.lit(7)))
    )
    hot = heavy_hitters(tiles, "cell", threshold=0.05, sample_fraction=1.0)
    plain = (
        tiles.join(dim, "cell").groupBy("zone").count().orderBy("zone").collect()
    )
    salted = (
        salted_join(tiles, dim, "cell", hot, n_salt=8)
        .groupBy("zone").count().orderBy("zone").collect()
    )
    assert [r.asDict() for r in plain] == [r.asDict() for r in salted]


def test_checkpoint_resume(spark, sf_dir, tmp_path):
    root = str(tmp_path / "ckpt")
    calls = {"a": 0, "b": 0}

    def s_a(spark_, env):
        calls["a"] += 1
        return spark_.range(100).withColumnRenamed("id", "k")

    def s_b(spark_, env):
        calls["b"] += 1
        return env["a"].withColumn("v", F.col("k") * 2)

    stages = [("a", s_a, []), ("b", s_b, ["a"])]
    env1 = run_pipeline(spark, root, stages)
    assert env1["b"].count() == 100
    assert calls == {"a": 1, "b": 1}

    # full resume: nothing recomputes
    run_pipeline(spark, root, stages)
    assert calls == {"a": 1, "b": 1}

    # mid-pipeline resume: drop stage b's checkpoint → only b recomputes
    import shutil

    shutil.rmtree(os.path.join(root, "b"))
    env3 = run_pipeline(spark, root, stages)
    assert calls == {"a": 1, "b": 2}
    assert env3["b"].count() == 100

    # metrics + per-partition lineage exist and are consistent
    metrics = {m["stage"]: m for m in pipeline_metrics(root)}
    assert metrics["a"]["rows"] == 100
    with open(os.path.join(root, "b", "_LINEAGE.json")) as f:
        lineage = json.load(f)
    assert lineage["upstreams"] == ["a"]
    assert sum(int(v) for v in lineage["partition_rows"].values()) == 100


def test_checkpoint_resume_after_midwrite_crash(spark, tmp_path):
    """Chaos case (round-7 verdict item 6): a stage killed MID-WRITE
    leaves exactly 'data dir present, metrics absent' — write_stage
    writes _METRICS.json strictly after the data write returns. Resume
    must treat the stage as incomplete, never read the partial data,
    and produce the same final artifact as an uninterrupted run."""
    import shutil

    def s_a(spark_, env):
        return spark_.range(50).withColumnRenamed("id", "k")

    def s_b(spark_, env):
        return env["a"].withColumn("v", F.col("k") * 3)

    stages = [("a", s_a, []), ("b", s_b, ["a"])]

    clean_root = str(tmp_path / "clean")
    want = sorted(
        run_pipeline(spark, clean_root, stages)["b"].collect(),
        key=lambda r: r.k,
    )

    # crashed run: stage a completed, stage b died mid-write — its data
    # dir holds garbage (not even parquet) and no metrics file exists
    crash_root = str(tmp_path / "crash")
    env = run_pipeline(spark, crash_root, [stages[0]])
    assert env["a"].count() == 50
    bdir = os.path.join(crash_root, "b", "data")
    os.makedirs(bdir)
    with open(os.path.join(bdir, "part-00000.parquet"), "w") as f:
        f.write("TRUNCATED GARBAGE FROM A KILLED WRITER")

    got = sorted(
        run_pipeline(spark, crash_root, stages)["b"].collect(),
        key=lambda r: r.k,
    )
    assert got == want
    # and the recovered checkpoint is now complete + consistent
    metrics = {m["stage"]: m for m in pipeline_metrics(crash_root)}
    assert metrics["b"]["rows"] == 50
    shutil.rmtree(crash_root)


def test_write_stage_job_budget_and_lineage(spark, tmp_path, jobs_in_group):
    """write_stage counts rows from the part files' footers: it starts no
    job beyond the write itself, and its lineage is per write task."""
    df = spark.range(0, 100, 1, 4)
    root = str(tmp_path / "ckpt")
    plain = jobs_in_group(lambda: df.write.parquet(str(tmp_path / "plain")))
    staged = jobs_in_group(lambda: write_stage(spark, root, "s", df, []))
    assert staged <= plain
    with open(os.path.join(root, "s", "_LINEAGE.json")) as f:
        assert json.load(f)["partition_rows"] == {"0": 25, "1": 25, "2": 25, "3": 25}
    (metrics,) = pipeline_metrics(root)
    assert (metrics["rows"], metrics["partitions"]) == (100, 4)


def test_read_parquet_infers_once_per_unchanged_path(spark, tmp_path, jobs_in_group):
    """read_parquet infers a path's schema with a job once; later reads of
    the unchanged files bind it and start none; a rewrite re-infers."""
    path = str(tmp_path / "t")
    spark.range(0, 10, 1, 2).selectExpr("id", "CAST(id AS STRING) AS s").write.parquet(path)
    first: list = []
    assert jobs_in_group(lambda: first.append(read_parquet(spark, path))) >= 1
    again: list = []
    assert jobs_in_group(lambda: again.append(read_parquet(spark, path))) == 0
    inferred = spark.read.parquet(path).schema
    assert first[0].schema == again[0].schema == inferred
    assert sorted(again[0].collect()) == sorted(first[0].collect())

    spark.range(0, 5, 1, 1).selectExpr("id", "id * 2 AS x").write.mode("overwrite").parquet(path)
    fresh: list = []
    assert jobs_in_group(lambda: fresh.append(read_parquet(spark, path))) >= 1
    assert fresh[0].schema == spark.read.parquet(path).schema
    assert fresh[0].columns == ["id", "x"]


def test_reread_schema_equals_inferred(spark, tmp_path):
    """materialize and write_stage re-open their output with the written
    schema; it must equal what parquet schema inference returns."""
    df = spark.range(0, 10, 1, 2).select(
        "id",  # non-null bigint
        F.col("id").cast("int").alias("i"),
        (F.col("id") / 3).alias("d"),
        F.col("id").cast("string").alias("s"),
        F.col("id").cast("string").cast("binary").alias("b"),
        F.timestamp_seconds("id").alias("ts"),
        F.array("id", F.lit(7).cast("long")).alias("arr"),
        F.struct("id", F.col("id").cast("string").alias("t")).alias("st"),
    )
    got = materialize(df)
    assert got.schema == spark.read.parquet(it._ROUNDS[got]).schema
    it._drop(got)
    root = str(tmp_path / "ckpt")
    got = write_stage(spark, root, "s", df, [])
    assert got.schema == spark.read.parquet(os.path.join(root, "s", "data")).schema
    assert sorted(got.collect()) == sorted(df.collect())


@pytest.fixture
def ckpt(spark, tmp_path):
    """``spark.ferrobus.ckpt.dir`` pointed at a fresh directory."""
    path = str(tmp_path / "ckpt")
    prev = spark.conf.get("spark.ferrobus.ckpt.dir", None)
    spark.conf.set("spark.ferrobus.ckpt.dir", path)
    yield path
    if prev is None:
        spark.conf.unset("spark.ferrobus.ckpt.dir")
    else:
        spark.conf.set("spark.ferrobus.ckpt.dir", prev)


def test_connected_components_self_loops_only(spark, ckpt):
    """A graph of only self-loops has no component and leaves no round
    directory behind."""
    cc = connected_components(
        spark.createDataFrame([(1, 1), (2, 2)], "src BIGINT, dst BIGINT")
    )
    assert cc.count() == 0
    assert cc.schema.simpleString() == "struct<node:bigint,component:bigint>"
    assert os.listdir(ckpt) == []


def _random_graphs(n_graphs: int = 200, seed: int = 7) -> list[tuple[int, int]]:
    """Edges of ``n_graphs`` seeded random graphs on disjoint id ranges:
    sparse and dense, with self-loops, duplicates and both directions."""
    import random

    rng = random.Random(seed)
    edges = []
    for g in range(n_graphs):
        base, n = 1000 * g, rng.randint(1, 40)
        for _ in range(rng.randint(1, 2 * n)):
            edges.append((base + rng.randrange(n), base + rng.randrange(n)))
    return edges


def test_connected_components_driver_equals_distributed(spark, monkeypatch):
    """The round-8 driver union-find gate must label identically to the
    distributed large-star/small-star loop (component = min node id),
    on a graph with chains, a cycle, isolated pairs, and singletons-in-
    edges, and on 200 random graphs in one edge frame. Equal labels also
    show the distributed loop's fixpoint edges hold every node."""
    handmade = [
        (1, 2), (2, 3), (3, 4),          # chain -> comp 1
        (10, 11), (11, 10), (11, 12),    # dup + cycle -> comp 10
        (20, 21),                        # pair -> comp 20
        (30, 31), (31, 32), (32, 30),    # triangle -> comp 30
        (40, 5), (5, 1),                 # bridges into comp 1
    ]
    frames = [
        spark.createDataFrame(edges, "src BIGINT, dst BIGINT")
        for edges in (handmade, _random_graphs())
    ]

    def run():
        return [
            sorted(map(tuple, it.connected_components(df).collect()))
            for df in frames
        ]

    fast = run()
    monkeypatch.setattr(it, "_MAX_DRIVER_CC_EDGES", 0)
    slow = run()
    assert fast == slow
    comp = dict(fast[0])
    assert comp[4] == 1 and comp[40] == 1 and comp[12] == 10
    assert comp[21] == 20 and comp[32] == 30


def test_loop_rounds_cleaned_up(spark, ckpt, monkeypatch):
    """Each loop leaves exactly the one round directory that backs its
    returned frame, and the exit hook deletes those."""
    from ferrobus_spark.operators.linkgraph import pagerank
    from ferrobus_spark.plans.curation import assign_doc_ids

    monkeypatch.setattr(it, "_ROUNDS", {})  # the hook sees this test's rounds only
    monkeypatch.setattr(it, "_MAX_DRIVER_CC_EDGES", 0)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (7, 1)], "src BIGINT, dst BIGINT"
    )
    pages = spark.createDataFrame(
        [(f"https://h{i}.example/", f"2024-01-0{i}") for i in range(1, 9)],
        "url string, warc_ts string",
    )
    out = []
    for build in (
        lambda: pagerank(edges, n_iter=3),
        lambda: connected_components(edges),
        # every key hashes to one of 2 primary ids: a rehash round runs
        lambda: assign_doc_ids(
            pages,
            _hash=lambda cols, salt: (
                F.pmod(F.xxhash64(*cols), F.lit(2)) if salt == 0
                else F.xxhash64(*cols, F.lit(salt))
            ),
        ),
    ):
        out.append(build())
        assert len(os.listdir(ckpt)) == len(out)
    assert [df.count() for df in out] == [7, 7, 8]
    it._drop_all()
    assert os.listdir(ckpt) == []
