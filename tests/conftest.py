from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from dystonse_gtfs_importer_spark.session import get_spark

    spark = get_spark(app_name="tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture
def jobs(spark):
    """``with jobs() as n:`` — after the block, ``n == [number of Spark
    jobs the block ran]``, counted through a job group of its own."""
    import contextlib
    import uuid

    sc = spark.sparkContext
    key = "spark.jobGroup.id"

    @contextlib.contextmanager
    def count():
        group, out, prev = uuid.uuid4().hex, [], sc.getLocalProperty(key)
        sc.setLocalProperty(key, group)
        try:
            yield out
        finally:
            sc.setLocalProperty(key, prev)
            out.append(len(sc.statusTracker().getJobIdsForGroup(group)))

    return count


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct() -> str:
    return SF_CORRECT
