from __future__ import annotations

import contextlib
import sys
import uuid
from pathlib import Path
from types import SimpleNamespace

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from procurement_data_pipeline_spark.session import get_session


@pytest.fixture(scope="session")
def spark():
    spark = get_session("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture
def spark_jobs(spark):
    """``with spark_jobs() as jobs: ...`` runs the block under its own job
    group; afterwards ``jobs.n`` is the number of Spark jobs it launched
    (job groups are thread-local, so other threads' jobs do not count)."""
    sc = spark.sparkContext

    @contextlib.contextmanager
    def group():
        name = f"test-{uuid.uuid4().hex}"
        jobs = SimpleNamespace(n=0)
        sc.setJobGroup(name, name)
        try:
            yield jobs
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
            jobs.n = len(sc.statusTracker().getJobIdsForGroup(name))

    return group
