from __future__ import annotations

import os
import sys
import uuid

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Dynamic oracles (parquet footer paths, IVF codebook literals — see
# registry.oracle_sql) must describe the SAME sf dir the tests run the
# queries at; conftest imports before any test module builds the registry.
os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF_DIR


@pytest.fixture(scope="session")
def spark():
    from build_pipeline_with_apache_beam_spark.session import get_spark

    # fewer threads/partitions for unit tests: tiny data, JVM startup dominates
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    from build_pipeline_with_apache_beam_spark.oracle import duck_connect

    return duck_connect(sf_dir)


@pytest.fixture(scope="session")
def calling_thread_jobs(spark):
    """``count(run)``: how many Spark jobs ``run()`` starts on the calling
    thread (a status-tracker job group; a stream's batches run on the
    query's own thread and are not counted)."""
    sc = spark.sparkContext

    def count(run) -> int:
        group = f"calling-thread-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "counted")
        try:
            run()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
