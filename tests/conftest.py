from __future__ import annotations

import sys
import uuid
from contextlib import contextmanager
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from iceberg_tools_spark.session import get_spark

    s = get_spark("iceberg_tools_spark_tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    from iceberg_tools_spark.parity import duck_connection

    con = duck_connection(SF_ORACLE)
    yield con
    con.close()


@contextmanager
def spark_job_ids(spark):
    """The ids of the Spark jobs submitted inside the block."""
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count pin")
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))
