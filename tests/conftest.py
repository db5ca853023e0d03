import contextlib
import itertools
import os
import sys

import duckdb
import pytest

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

from delta_lake_play_spark.session import get_spark  # noqa: E402
from delta_lake_play_spark.sources.catalog import TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


_job_groups = itertools.count()


@contextlib.contextmanager
def spark_jobs(spark):
    """Collect the ids of the Spark jobs the block runs: yields a list
    that holds them once the block exits. The block runs under a fresh
    job group, which the threads Spark starts for a query (broadcasts,
    adaptive query stages) inherit."""
    sc = spark.sparkContext
    group = f"job-budget-{next(_job_groups)}"
    jobs: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc.setJobGroup("", "")
    jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def job_tasks(spark, jobs):
    """Tasks of each job in ``jobs`` (ids from ``spark_jobs``), in
    job-id order: the sum of its stages' task counts."""
    tracker = spark.sparkContext.statusTracker()
    return [
        sum(tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(j).stageIds)
        for j in sorted(jobs)
    ]


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running sweep tests (several minutes)"
    )


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("delta_lake_play_spark-tests", cpus=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the same views the driver pre-registers."""
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()
