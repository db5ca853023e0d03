"""A small copy-on-write stage runs as one partition: the touched-file
probe and the rewrite of a MERGE with a driver-held source. Small means
under ``spark.sql.files.openCostInBytes`` (capped at one scan split,
``spark.sql.files.maxPartitionBytes``) in no more files than the
session has cores. Above either bound, Spark's own partitioning stays,
so a large table keeps its parallelism."""

import os

import pytest
from pyspark.sql import functions as F

from delta_lake_play_spark.functions.local import local_df
from delta_lake_play_spark.table.versioned import VersionedTable, temp_table_path
from .conftest import job_tasks, spark_jobs

SPLIT = "spark.sql.files.maxPartitionBytes"
OPEN_COST = "spark.sql.files.openCostInBytes"


def _table(spark, files=4):
    """40 rows in ``files`` files."""
    df = spark.range(0, 40, 1, files).select(
        "id", (F.col("id") * 10).alias("v"), F.col("id").cast("string").alias("name")
    )
    return VersionedTable.create(spark, temp_table_path("one-split"), df)


def _size(t):
    return sum(os.path.getsize(t._abs(f["path"])) for f in t._read_log(0)["files"])


def _conf_bytes(spark, name):
    return int(spark.conf.get(name).rstrip("b"))


VERBS = {
    "merge": lambda t, s: t.merge(
        local_df(s, [(3, -3, "x"), (12, -12, "y"), (100, 0, "z")], "id long, v long, name string"),
        key="id",
    ),
    "delete": lambda t, s: t.delete(F.col("id").isin(3, 12)),
}


@pytest.mark.parametrize("verb", sorted(VERBS))
def test_small_stage_runs_one_task_per_job(spark, verb):
    t = _table(spark)
    assert _size(t) < min(_conf_bytes(spark, SPLIT), _conf_bytes(spark, OPEN_COST))
    with spark_jobs(spark) as jobs:
        v = VERBS[verb](t, spark)
    # one-task probe; the MERGE's rewrite is one partition, a DELETE's
    # keeps one per touched file
    rewrite = 1 if verb == "merge" else 2
    assert job_tasks(spark, jobs) == [1, rewrite]
    new = [f for f in t._read_log(v)["files"] if f["path"].startswith(f"c-{v}-")]
    assert len(new) == rewrite


def _assert_parallel(spark, t, verb, rewrite=True):
    """The probe (with its exchange, now that it spans partitions)
    runs more than one task, and so does the rewrite when ``rewrite``."""
    with spark_jobs(spark) as jobs:
        v = VERBS[verb](t, spark)
    tasks = job_tasks(spark, jobs)
    assert len(tasks) > 2 and max(tasks[:-1]) > 1, tasks
    assert (tasks[-1] > 1) == rewrite, tasks
    assert sorted(r["id"] for r in t.to_df().filter("id in (3, 12, 100)").collect()) == (
        [3, 12, 100] if verb == "merge" else []
    )
    assert t.latest_version() == v == 1


@pytest.mark.parametrize("conf", [SPLIT, OPEN_COST])
@pytest.mark.parametrize("verb", sorted(VERBS))
def test_above_the_byte_bound_keeps_parallelism(spark, verb, conf):
    t = _table(spark)
    old = spark.conf.get(conf)
    spark.conf.set(conf, str(_size(t) // 2))
    try:
        _assert_parallel(spark, t, verb)
    finally:
        spark.conf.set(conf, old)


@pytest.mark.parametrize("verb", sorted(VERBS))
def test_more_files_than_cores_keeps_parallelism(spark, verb):
    cores = spark.sparkContext.defaultParallelism
    t = _table(spark, files=2 * cores)
    assert _size(t) < _conf_bytes(spark, OPEN_COST)
    # the MERGE rewrite reads only the 2 touched files: one partition;
    # a DELETE rewrite keeps Spark's partitioning, one task per file
    _assert_parallel(spark, t, verb, rewrite=verb == "delete")
