"""Spark job budget of every DML verb.

Each verb runs on a fresh 40-row table of 4 files (10 rows each), with
a predicate or key set that touches 2 of the 4 files (the no-match
cases touch none). A change that
moves a count changes the verb's plan and has to say so. With
``enable_cdf=True`` every row-changing verb also writes its change
rows.
"""

import pytest
from pyspark.sql import functions as F

from delta_lake_play_spark.functions.local import local_df
from delta_lake_play_spark.table.versioned import (
    _KEY_LITERALS_MAX,
    VersionedTable,
    temp_table_path,
)
from .conftest import spark_jobs

HIT = "id < 15"  # rows of the first two files
MISS = "id > 1000"


def _table(spark, cdf):
    df = spark.range(0, 40, 1, 4).select(
        "id", (F.col("id") * 10).alias("v"), F.col("id").cast("string").alias("name")
    )
    return VersionedTable.create(
        spark, temp_table_path("job-budget"), df, enable_cdf=cdf
    )


def _rows(spark, ids):
    return local_df(
        spark, [(i, -i, f"n{i}") for i in ids], "id long, v long, name string"
    )


VERBS = {
    "delete": lambda t, s: t.delete(HIT),
    "update": lambda t, s: t.update({"v": F.col("v") + 1}, HIT),
    "delete_mor": lambda t, s: t.delete_mor(HIT),
    "update_mor": lambda t, s: t.update_mor({"v": F.col("v") + 1}, HIT),
    "overwrite_where": lambda t, s: t.overwrite_where(_rows(s, [1, 2]), HIT),
    "overwrite_for_keys": lambda t, s: t.overwrite_for_keys(_rows(s, [3, 12]), "id"),
    "overwrite_for_keys (keys_df)": lambda t, s: t.overwrite_for_keys(
        _rows(s, [3, 12]), "id", keys_df=_rows(s, [3, 12, 13])
    ),
    "merge": lambda t, s: t.merge(_rows(s, [3, 12, 100]), key="id"),
    # above the key-literal size: broadcast joins on the key
    "merge (large local source)": lambda t, s: t.merge(
        _rows(s, [3, 12, 100] + list(range(200, 200 + _KEY_LITERALS_MAX))), key="id"
    ),
    "merge (distributed source)": lambda t, s: t.merge(
        s.createDataFrame(_rows(s, [3, 12, 100]).collect()), key="id"
    ),
    "delete (no match)": lambda t, s: t.delete(MISS),
    "delete_mor (no match)": lambda t, s: t.delete_mor(MISS),
}

# verb -> (jobs, jobs with enable_cdf=True)
BUDGET = {
    "delete": (2, 3),
    "update": (2, 3),
    "delete_mor": (6, 8),
    "update_mor": (7, 8),
    "overwrite_where": (2, 3),
    "overwrite_for_keys": (6, 8),
    "overwrite_for_keys (keys_df)": (7, 9),
    "merge": (2, 4),
    "merge (large local source)": (4, 7),
    "merge (distributed source)": (12, 17),
    "delete (no match)": (1, 1),
    "delete_mor (no match)": (3, 3),
}


@pytest.mark.parametrize("cdf", [False, True], ids=["plain", "cdf"])
@pytest.mark.parametrize("verb", sorted(VERBS))
def test_dml_job_budget(spark, verb, cdf):
    t = _table(spark, cdf)
    assert len(t._read_log(0)["files"]) == 4
    with spark_jobs(spark) as jobs:
        VERBS[verb](t, spark)
    assert len(jobs) == BUDGET[verb][cdf], jobs
    assert t.latest_version() == 1


# (jobs, jobs with enable_cdf=True): CREATE writes the 4-file frame,
# APPEND a 2-row local_df. Both keep Spark's partitioning (no
# one-split rule): the append writes one file per source partition.
CREATE_BUDGET = (1, 1)
APPEND_BUDGET = (1, 1)


@pytest.mark.parametrize("cdf", [False, True], ids=["plain", "cdf"])
def test_create_and_append_job_budget(spark, cdf):
    with spark_jobs(spark) as jobs:
        t = _table(spark, cdf)
    assert len(jobs) == CREATE_BUDGET[cdf], jobs
    with spark_jobs(spark) as jobs:
        t.append(_rows(spark, [40, 41]))
    assert len(jobs) == APPEND_BUDGET[cdf], jobs
    assert [len(t._read_log(v)["files"]) for v in (0, 1)] == [4, 6]
