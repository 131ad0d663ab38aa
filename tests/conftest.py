from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from kafkastreaming_spark.session import get_session

    s = get_session("tests", master="local[8]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def oracle_con():
    """One DuckDB connection with the fixture views over ``SF_SMOKE``,
    shared by every oracle comparison in the session."""
    from tools.verify_local import oracle_connection

    con = oracle_connection(SF_SMOKE)
    yield con
    con.close()


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` returns ``(fn(), n)``, where ``n`` is the number
    of Spark jobs ``fn`` launched on the calling thread, counted under a
    fresh job group through the status tracker."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store is fed by the listener bus; let it catch up
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
