"""Building a registered query starts no Spark job beyond its budget.

Each query is built twice; the first build fills the per-session memos
(the transit model, its point tables and the isochrone grid), and the
second must start at most ``BUDGET[name]`` jobs, 0 for every query not
named. A named budget covers work that has to run before the plan
exists, with its reason. The table may only shrink.
"""

import pytest

from ferrobus_spark import registry

BUDGET = {
    "host_pagerank": (83, "PageRank rounds materialize eagerly (ROADMAP item 4)"),
    "curation_curated": (18, "dedup-input pin plus connected components' edge materialize"),
    "knn_embeddings_ivf": (1, "IVF quantizer training"),
    "knn_ivf_planted": (1, "IVF quantizer training"),
    "knn_embeddings_bruteforce": (1, "the corpus-size gate's corpus.count()"),
    "minhash_guard_planted_template": (
        1,
        "spread_for_kernel's .rdd probe runs the planted cross join's "
        "range(300) broadcast (ROADMAP item 5)",
    ),
}


@pytest.mark.parametrize("name", sorted(registry.queries()))
def test_second_build_within_budget(spark, sf_dir, jobs_in_group, tmp_path, name):
    query = registry.queries()[name]
    # PageRank's eager rounds land in tmp_path, not the shared ckpt dir
    prev = spark.conf.get("spark.ferrobus.ckpt.dir", None)
    spark.conf.set("spark.ferrobus.ckpt.dir", str(tmp_path))
    try:
        query(spark, sf_dir)
        jobs = jobs_in_group(lambda: query(spark, sf_dir))
    finally:
        if prev is None:
            spark.conf.unset("spark.ferrobus.ckpt.dir")
        else:
            spark.conf.set("spark.ferrobus.ckpt.dir", prev)
    budget, reason = BUDGET.get(name, (0, "a build starts no job"))
    assert jobs <= budget, f"{name}: {jobs} build jobs > {budget} ({reason})"
