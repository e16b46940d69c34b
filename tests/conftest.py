import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from end_to_end_data_lakehouse_pipeline_spark.session import get_spark

    spark = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from diffcheck import load_oracle

    con = duckdb.connect()
    load_oracle(con, sf_dir)
    yield con


@pytest.fixture()
def jobs_launched(spark):
    """``jobs_launched(fn)`` runs ``fn()`` under a fresh job group and
    returns the ids of the Spark jobs it launched. The listener bus is
    drained first, so a job that ran is never missed."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = uuid.uuid4().hex
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group))

    return run
