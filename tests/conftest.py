from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from ferrobus_spark.session import get_spark

    s = get_spark("ferrobus-tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def jobs_in_group(spark):
    """``count(fn)``: the Spark jobs ``fn()`` starts, counted under a
    fresh job group."""
    import uuid

    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"budget-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts are posted async
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_model():
    from ferrobus_spark.sources.transit import MAX_TRANSFER_TIME, QUERY_DATE, transit_fixture
    from tests.oracle import transit_oracle as O

    return O.build_model(transit_fixture(), QUERY_DATE, MAX_TRANSFER_TIME)


@pytest.fixture(scope="session")
def spark_model(spark):
    # parquet-cached across sessions; first run builds and writes it
    from ferrobus_spark.model.cache import load_or_build_model

    return load_or_build_model(spark)


@pytest.fixture(scope="session")
def timetable(spark_model):
    from ferrobus_spark.routing.timetable import build_timetable_csr

    return build_timetable_csr(spark_model.tables)
