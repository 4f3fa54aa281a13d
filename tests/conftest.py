import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from mistocksync_spark.session import get_spark

    s = get_spark("tests", cpus=8)
    s.conf.set("spark.sql.shuffle.partitions", "8")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture()
def job_group(spark):
    """``with job_group(name) as ids:`` runs the block in the Spark job
    group ``name``; on exit, once the listener bus has drained, ``ids``
    holds the ids of the jobs Spark recorded in that group."""
    sc = spark.sparkContext

    @contextmanager
    def run(name):
        ids = []
        sc.setJobGroup(name, name)
        try:
            yield ids
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            ids.extend(sorted(sc.statusTracker().getJobIdsForGroup(name)))

    return run
